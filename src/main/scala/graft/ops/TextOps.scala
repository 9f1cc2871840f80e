package graft.ops

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, LongType}
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline text operators over the `documents` table
  * (builder-prompt extension surface; graded alongside SURVEY.md §2).
  * All per-document metrics are narrow projections over a single scan —
  * no shuffle except the final presentation sort; at 100 TB these run
  * map-only and pipeline into whole-stage codegen.
  *
  * String parity notes: only `split`/`contains`/`translate`/`regexp_*`
  * (no collation-aware lower/ilike — see Relational.asciiLower).
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "or", "to", "in")
  private def stopList = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Exact dedup: hash-groupBy on md5(text) keeping min doc_id.
    * At scale: map-side partial agg on the hash → one shuffle of
    * (hash, min_id, count) — never the texts themselves. */
  private val q20 = Q(
    "q20_dedup_exact",
    (s, dir) =>
      T(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(asc_nulls_first("text_hash")),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents GROUP BY 1 ORDER BY text_hash ASC NULLS FIRST"""),
    "exact dedup via hash-groupBy (builder-prompt dedup surface)")

  /** Token counting + stopword ratio + average token length (quality
    * features). size() cast to BIGINT to match DuckDB len(). */
  private val q21 = Q(
    "q21_text_stats",
    (s, dir) =>
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
          expr(s"cast(size(filter(split(text, ' '), x -> x in $stopList)) as bigint)").as("n_stop"),
          // BPE-ish pre-tokenizer: letter runs | digit runs | single punct
          size(expr("""regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"""))
            .cast(LongType).as("n_bpe_tokens"),
          length(col("text")).cast(LongType).as("n_chars_calc"))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_tokens"), 4))
        .orderBy(asc_nulls_first("doc_id")),
    Some(s"""SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      len(list_filter(string_split(text, ' '), x -> x IN $stopList)) AS n_stop,
      len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
      CAST(length(text) AS BIGINT) AS n_chars_calc,
      round(len(list_filter(string_split(text, ' '), x -> x IN $stopList)) / len(string_split(text, ' ')), 4) AS stop_ratio
      FROM documents ORDER BY doc_id ASC NULLS FIRST"""),
    "token counting + stopword ratio (builder-prompt text-analysis surface)")

  /** Composite quality score + threshold filter: the keep/drop decision of
    * a training-data pipeline, fully codegen'd (no UDF). */
  private val q22 = Q(
    "q22_quality_filter",
    (s, dir) => {
      val toks = size(split(col("text"), " ")).cast(DoubleType)
      val stop = expr(s"cast(size(filter(split(text, ' '), x -> x in $stopList)) as double)")
      val score = round(
        lit(0.5) * least(lit(1.0), toks / lit(60.0)) + lit(0.5) * (lit(1.0) - stop / toks), 4)
      T(s, dir, "documents")
        .select(col("doc_id"), score.as("quality"))
        .filter(col("quality") > 0.7)
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some(s"""WITH f AS (SELECT doc_id,
        len(string_split(text, ' ')) * 1.0 AS toks,
        len(list_filter(string_split(text, ' '), x -> x IN $stopList)) * 1.0 AS stop
      FROM documents)
      SELECT doc_id, round(0.5 * least(1.0, toks / 60.0) + 0.5 * (1.0 - stop / toks), 4) AS quality
      FROM f WHERE round(0.5 * least(1.0, toks / 60.0) + 0.5 * (1.0 - stop / toks), 4) > 0.7
      ORDER BY doc_id ASC NULLS FIRST"""),
    "quality scoring + filter (builder-prompt text-analysis surface)")

  /** Language-ID by function-word evidence (n-gram-heuristic family,
    * expressed SQL-side so the DuckDB oracle can check it exactly). */
  private val q23 = Q(
    "q23_langid_stopwords",
    (s, dir) => {
      def hits(words: Seq[String]) =
        expr(s"cast(size(filter(split(text, ' '), x -> x in ${words.map(w => s"'$w'").mkString("(", ", ", ")")})) as bigint)")
      val en = hits(Seq("the", "and", "of", "to"))
      val es = hits(Seq("el", "la", "de", "que"))
      val de = hits(Seq("der", "die", "und", "das"))
      T(s, dir, "documents")
        .select(col("doc_id"), en.as("en_score"), es.as("es_score"), de.as("de_score"))
        .withColumn("pred_lang",
          when(col("en_score") >= col("es_score") && col("en_score") >= col("de_score") && col("en_score") > 0, "en")
            .when(col("es_score") >= col("de_score") && col("es_score") > 0, "es")
            .when(col("de_score") > 0, "de")
            .otherwise("und"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH f AS (SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> x IN ('the', 'and', 'of', 'to'))) AS en_score,
        len(list_filter(string_split(text, ' '), x -> x IN ('el', 'la', 'de', 'que'))) AS es_score,
        len(list_filter(string_split(text, ' '), x -> x IN ('der', 'die', 'und', 'das'))) AS de_score
      FROM documents)
      SELECT doc_id, en_score, es_score, de_score,
        CASE WHEN en_score >= es_score AND en_score >= de_score AND en_score > 0 THEN 'en'
             WHEN es_score >= de_score AND es_score > 0 THEN 'es'
             WHEN de_score > 0 THEN 'de'
             ELSE 'und' END AS pred_lang
      FROM f ORDER BY doc_id ASC NULLS FIRST"""),
    "language-ID heuristic (builder-prompt text-analysis surface)")

  /** Brute-force cosine top-k over the embeddings table: the exact ANN
    * baseline. Query side (5 vectors) is broadcast; candidates stream
    * map-only; per-query top-k via window on ROUNDED score (both engines
    * rank identically). Dot products fold left-to-right in both engines —
    * computed by the native codegen'd [[graft.llm.VecDot]] kernel (the SQL
    * `aggregate(zip_with(...))` form interprets two lambdas per row). */
  private val q28 = Q(
    "q28_cosine_topk",
    (s, dir) => {
      import graft.geo.GeoExpressions.vecDot
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val withN = e.withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      val q = withN.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      val c = withN.select(col("vec_id").as("vid"), col("v").as("cv"), col("nrm").as("cn"))
      val dot = vecDot(col("qv"), col("cv"))
      val scored = c.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("vid"))
        .select(col("qid"), col("vid"), round(dot / (col("qn") * col("cn")), 4).as("score"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc_nulls_last("score"), asc_nulls_first("vid"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10).drop("rn")
        .orderBy(asc_nulls_first("qid"), asc_nulls_first("vid"))
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS score
            FROM n q, n c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      r AS (SELECT qid, vid, score,
                   row_number() OVER (PARTITION BY qid ORDER BY score DESC NULLS LAST, vid ASC NULLS FIRST) AS rn
            FROM s)
      SELECT qid, vid, score FROM r WHERE rn <= 10
      ORDER BY qid ASC NULLS FIRST, vid ASC NULLS FIRST"""),
    "brute-force cosine top-k, the exact-ANN baseline (builder-prompt similarity surface)")

  /** q95: per-document token-repetition signals — the Gopher-rules
    * (Rae et al. 2021, "massive text" quality heuristics) repetition
    * family: total/distinct token counts, duplicate-token fraction and
    * top-token share. A two-level aggregation (doc×token → doc), both
    * levels map-side combinable, so the corpus-sized shuffle carries
    * (doc_id, token, partial count) and the second exchange is doc-sized.
    * Filters docs a training pipeline would drop (dup_ratio high =
    * boilerplate/spam; top_share high = degenerate repetition). */
  private val q95 = Q(
    "q95_token_repetition",
    (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tok"),
          count(lit(1)).as("n_distinct"),
          round(lit(1.0) - count(lit(1)).cast(DoubleType) / sum(col("cnt")), 4)
            .as("dup_ratio"),
          round(max(col("cnt")).cast(DoubleType) / sum(col("cnt")), 4)
            .as("top_share"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok
             WHERE length(token) > 0 GROUP BY doc_id, token)
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 4) AS dup_ratio,
             round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top_share
      FROM tc GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST"""),
    "Gopher-style token-repetition quality signals (text-analysis surface; two-level map-combinable agg)")

  /** q96: PII scrubbing — the redaction pass every training-data pipeline
    * runs before tokenization. The corpus carries no real PII, so every
    * 20th document gets a deterministic synthetic email injected IN-QUERY
    * (both engines derive the same string from doc_id), then the scrub
    * counts and masks matches. Pure map-side (regexp per row, no shuffle
    * but the final sort); the regex class ([a-z0-9.]+@[a-z0-9.]+) behaves
    * identically under Java regex and RE2, and DuckDB needs the 'g' flag
    * to match Spark's replace-all semantics. */
  private val q96 = Q(
    "q96_pii_redact",
    (s, dir) => {
      val pat = "[a-z0-9.]+@[a-z0-9.]+"
      T(s, dir, "documents")
        .withColumn("text2",
          when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" reach me at user"), col("doc_id"),
              lit("@example.com or x"), col("doc_id"), lit("@mail.test thanks")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          regexp_count(col("text2"), lit(pat)).cast(LongType).as("n_pii"),
          md5(regexp_replace(col("text2"), pat, "<EMAIL>").cast("binary")).as("clean_hash"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
        CASE WHEN doc_id % 20 = 0 THEN
          concat(text, ' reach me at user', doc_id, '@example.com or x',
                 doc_id, '@mail.test thanks')
        ELSE text END AS text2 FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text2, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT) AS n_pii,
             md5(regexp_replace(text2, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g')) AS clean_hash
      FROM d ORDER BY doc_id ASC NULLS FIRST"""),
    "PII email redaction: count + mask, map-side regexp (training-pipeline scrub pass)")

  /** Per-(doc, token) counts — the shared first stage of every corpus
    * scorer here (q99 TF-IDF, q110 BM25). Persisted MEMORY_AND_DISK
    * because its consumers each derive differently-pruned branches (doc
    * lengths, document frequencies, global stats, the scored slice) that
    * defeat exchange reuse — without the cache the corpus would be
    * re-scanned and re-exploded once per branch (4× the dominant cost at
    * 100 TB; spills rather than OOMs beyond executor memory). Left
    * resident deliberately: Spark's cache manager keys on the canonical
    * plan, so q99/q110 on the same (session, dir) share ONE entry instead
    * of stacking copies. */
  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** q99: TF-IDF top-3 terms for the first 50 documents. DF and doc
    * lengths come from the WHOLE corpus (two map-combinable aggregations
    * over the token frame), the probe restriction applies only to the
    * scored side; N rides a broadcast 1-row frame (no driver collect).
    * Both engines round the score to 6 decimals BEFORE ranking so a
    * sub-ulp libm ln() difference cannot flip an ordering. */
  private val q99 = Q(
    "q99_tfidf",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val tc = tokenCounts(s, dir)
      val nd = tc.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_tok"))
      val dfreq = tc.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nn = docs.agg(count(lit(1)).as("nn"))
      val scored = tc.filter(col("doc_id") < 50)
        .join(nd, Seq("doc_id")).join(dfreq, Seq("token"))
        .crossJoin(broadcast(nn))
        .select(col("doc_id"), col("token"),
          round((col("cnt").cast(DoubleType) / col("n_tok")) *
            log(col("nn").cast(DoubleType) / col("df")), 6).as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc_nulls_last("tfidf"), asc_nulls_first("token"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
        .orderBy(asc_nulls_first("doc_id"), desc_nulls_last("tfidf"),
          asc_nulls_first("token"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok
             WHERE length(token) > 0 GROUP BY doc_id, token),
      nd AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tc GROUP BY doc_id),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tc GROUP BY token),
      n AS (SELECT COUNT(*) AS nn FROM documents),
      s AS (SELECT tc.doc_id, tc.token,
              round((CAST(cnt AS DOUBLE) / n_tok) * ln(CAST(nn AS DOUBLE) / df), 6) AS tfidf
            FROM tc JOIN nd USING (doc_id) JOIN dfreq USING (token) CROSS JOIN n
            WHERE tc.doc_id < 50),
      r AS (SELECT doc_id, token, tfidf,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC NULLS LAST, token ASC NULLS FIRST) AS rn
            FROM s)
      SELECT doc_id, token, tfidf FROM r WHERE rn <= 3
      ORDER BY doc_id ASC NULLS FIRST, tfidf DESC NULLS LAST, token ASC NULLS FIRST"""),
    "TF-IDF top-3 terms per probe doc; corpus-wide DF via map-combinable aggs, broadcast N (text-analysis surface)")

  /** q103: benchmark decontamination — the test-set-overlap removal pass a
    * training-data pipeline runs before training (word-8-gram match, the
    * GPT-3/PaLM style n-gram rule). The benchmark side is derived IN-QUERY
    * (words 4..11 of every 40th doc, id-capped) so overlap is guaranteed
    * and both engines build the identical set; the cap makes it bounded by
    * construction — a real benchmark set is a few thousand items however
    * big the corpus grows, which is why the broadcast hint is correct here
    * (contrast q92, where the probe side scaled with the corpus and the
    * hint had to go). Corpus grams explode map-side and probe the
    * broadcast hash set: no shuffle of corpus text at all; the only
    * exchange is the doc-sized hit aggregation. */
  private val q103 = Q(
    "q103_decontaminate",
    (s, dir) => {
      // corpus grams explode map-side against the broadcast set; the scan
      // of T's split copy runs them on every core (T.layout, SCALE.md)
      val withW = T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val bench = withW
        .filter(col("doc_id") % 40 === 0 && col("doc_id") < 10000 &&
          size(col("w")) >= 11)
        .select(col("doc_id").as("bench_id"),
          array_join(slice(col("w"), 4, 8), " ").as("gram"))
      val grams = withW.filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
          .as("gram"))
      grams.join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("bench_id")).as("n_bench_hits"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      b AS (SELECT doc_id AS bench_id, array_to_string(w[4:11], ' ') AS gram
            FROM w WHERE doc_id % 40 = 0 AND doc_id < 10000 AND len(w) >= 11),
      g AS (SELECT doc_id,
              unnest([array_to_string(w[i:i+7], ' ') FOR i IN generate_series(1, len(w)-7)]) AS gram
            FROM w WHERE len(w) >= 8)
      SELECT doc_id, CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_hits
      FROM g JOIN b USING (gram)
      GROUP BY doc_id ORDER BY doc_id ASC NULLS FIRST"""),
    "benchmark decontamination: word-8-gram overlap vs a bounded broadcast benchmark set (training-pipeline surface)")

  /** q104: sliding-window chunking — the context-packing prep step that
    * splits each document into 64-word chunks with 16-word overlap
    * (stride 48). Pure map-side (explode of a per-row transform, no
    * shuffle but the presentation sort); at 100 TB this pipelines inside
    * whole-stage codegen the way q21's stats do. The tail chunk is
    * shorter, never dropped; every word lands in ≥1 chunk. */
  private val q104 = Q(
    "q104_chunk_overlap",
    (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"), posexplode(expr(
          """transform(sequence(0, greatest(cast(ceil((size(w) - 64) / 48.0) as int), 0)),
             i -> array_join(slice(w, i * 48 + 1, 64), ' '))""")))
        .select(col("doc_id"), col("pos").cast(LongType).as("chunk_idx"),
          least(lit(64), size(col("w")) - col("pos") * 48).cast(LongType).as("n_words"),
          md5(col("col").cast("binary")).as("chunk_hash"))
        .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("chunk_idx")),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      c AS (SELECT doc_id, len(w) AS n,
              unnest(generate_series(0, greatest(CAST(ceil((len(w) - 64) / 48.0) AS INT), 0))) AS chunk_idx,
              unnest([array_to_string(w[i*48+1 : i*48+64], ' ')
                      FOR i IN generate_series(0, greatest(CAST(ceil((len(w) - 64) / 48.0) AS INT), 0))]) AS chunk
            FROM w)
      SELECT doc_id, chunk_idx, CAST(least(64, n - chunk_idx*48) AS BIGINT) AS n_words,
             md5(chunk) AS chunk_hash
      FROM c ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST"""),
    "sliding-window 64/16-overlap word chunking, map-only (context-packing prep surface)")

  /** Greedy first-fit sequence packing: fill bins of `cap` chars in doc_id
    * order, opening a new bin when the next doc would overflow (an
    * oversized doc gets its own bin). Inherently sequential WITHIN a
    * shard — each prefix decides the next bin — so the distribution unit
    * is the group key: state per group is one (bin, fill) pair and one
    * sorted buffer. At 100 TB the shard key is (source, day-bucket),
    * bounding both group size and packing locality; packing across shards
    * would serialize the whole corpus through one task, which no engine
    * does. */
  def packBySource(s: SparkSession, docs: DataFrame, cap: Long): DataFrame = {
    import s.implicits._
    docs.select(col("source"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (src: String, it: Iterator[(String, Long, Long)]) =>
        val sorted = it.map(t => (t._2, t._3)).toVector.sortBy(_._1)
        var bin = 1L
        var fill = 0L
        sorted.map { case (id, n) =>
          if (fill > 0 && fill + n > cap) { bin += 1; fill = n }
          else fill += n
          (src, id, bin, fill)
        }
      }
      .toDF("source", "doc_id", "bin", "bin_fill")
  }

  /** q106: packing under the oracle gate — DuckDB replays the identical
    * greedy recurrence as a recursive CTE (row_number chain per source),
    * so the driver hash-checks every (doc → bin, running fill) decision,
    * not just bin counts. */
  private val q106 = Q(
    "q106_pack_sequences",
    (s, dir) =>
      packBySource(s, T(s, dir, "documents"), 4096L)
        .orderBy(asc_nulls_first("source"), asc_nulls_first("doc_id")),
    Some("""WITH RECURSIVE d AS MATERIALIZED (
        -- MATERIALIZED: p's recursive term re-evaluates inlined CTEs per
        -- packing step in DuckDB; pinning d turns O(iters x window) into
        -- O(window) + O(iters) (the sf1 oracle-cost fix, round 10)
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
        FROM documents),
      p AS (
        SELECT source, rn, doc_id, CAST(1 AS BIGINT) AS bin, n_chars AS fill
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.source, d.rn, d.doc_id,
               CASE WHEN p.fill + d.n_chars > 4096 THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.fill + d.n_chars > 4096 THEN d.n_chars ELSE p.fill + d.n_chars END
        FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
      SELECT source, doc_id, bin, fill AS bin_fill FROM p
      ORDER BY source ASC NULLS FIRST, doc_id ASC NULLS FIRST"""),
    "greedy first-fit sequence packing per source shard (training-batch prep; DuckDB recursive-CTE oracle)")

  /** q110: Okapi BM25 (k1=1.2, b=0.75) top-3 terms per probe doc — the
    * retrieval scorer a RAG/dedup-audit pipeline runs where q99's TF-IDF
    * is too length-biased. Same scale shape as q99: corpus-wide df and
    * doc-length stats are two map-combinable aggregations over ONE token
    * frame; the 1-row (N, total-length) frame rides a broadcast; only the
    * probe slice is scored. Both engines round to 6 decimals BEFORE
    * ranking (ln() is the one sub-ulp-divergent operation; every other
    * term is the same IEEE arithmetic in the same order). */
  private val q110 = Q(
    "q110_bm25",
    (s, dir) => {
      val tc = tokenCounts(s, dir).withColumnRenamed("cnt", "tf")
      val nd = tc.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfreq = tc.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val stats = nd.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
      val scored = tc.filter(col("doc_id") < 50)
        .join(nd, Seq("doc_id")).join(dfreq, Seq("token"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("token"),
          round(
            log((col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
                (col("df") + lit(0.5)) + lit(1.0)) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) *
                  (col("dl").cast(DoubleType) /
                    (col("tot_dl").cast(DoubleType) / col("n_docs"))))),
            6).as("bm25"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc_nulls_last("bm25"), asc_nulls_first("token"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
        .orderBy(asc_nulls_first("doc_id"), desc_nulls_last("bm25"),
          asc_nulls_first("token"))
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      tc AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE length(token) > 0 GROUP BY doc_id, token),
      nd AS (SELECT doc_id, SUM(tf) AS dl FROM tc GROUP BY doc_id),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tc GROUP BY token),
      st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM nd),
      sc AS (SELECT tc.doc_id, tc.token,
              round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                * (tf * 2.2)
                / (tf + 1.2 * (0.25 + 0.75 *
                    (CAST(dl AS DOUBLE) / (CAST(tot_dl AS DOUBLE) / n_docs)))), 6) AS bm25
             FROM tc JOIN nd USING (doc_id) JOIN dfreq USING (token) CROSS JOIN st
             WHERE tc.doc_id < 50),
      r AS (SELECT doc_id, token, bm25,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY bm25 DESC NULLS LAST, token ASC NULLS FIRST) AS rn
            FROM sc)
      SELECT doc_id, token, bm25 FROM r WHERE rn <= 3
      ORDER BY doc_id ASC NULLS FIRST, bm25 DESC NULLS LAST, token ASC NULLS FIRST"""),
    "Okapi BM25 top-3 terms per probe doc; corpus stats via map-combinable aggs + broadcast (retrieval-scoring surface)")

  /** q111: domain-mixing stratified sample — the pass that re-weights a
    * raw crawl toward a target language/domain mixture before training
    * (e.g. upsample en, downsample the tail). Selection is deterministic
    * arithmetic hashing on doc_id (reproducible across engines, runs, and
    * partitionings — same idea as q91, per-stratum rate), so the sample is
    * a pure map-side filter: no shuffle until the per-language audit agg,
    * and at 100 TB the filter pipelines into the scan. The audit joins
    * kept counts against full-corpus counts (broadcast: |langs| rows) to
    * report the achieved rate next to the target. */
  private val q111 = Q(
    "q111_stratified_sample",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val rate = when(col("lang") === "en", lit(60L))
        .when(col("lang") === "de", lit(25L)).otherwise(lit(10L))
      val kept = docs
        .filter((col("doc_id") * 2654435761L) % 100 < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      val totals = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
      kept.join(broadcast(totals), Seq("lang"))
        .select(col("lang"), col("n_total"), col("n_kept"), col("chars_kept"),
          round(col("n_kept").cast(DoubleType) / col("n_total"), 6).as("achieved"))
        .orderBy(asc_nulls_first("lang"))
    },
    Some("""WITH kept AS (
        SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
        FROM documents
        WHERE (doc_id * 2654435761) % 100 <
          CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 25 ELSE 10 END
        GROUP BY lang),
      tot AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang)
      SELECT lang, n_total, n_kept, chars_kept,
             round(CAST(n_kept AS DOUBLE) / n_total, 6) AS achieved
      FROM kept JOIN tot USING (lang)
      ORDER BY lang ASC NULLS FIRST"""),
    "per-language deterministic-hash sampling to a target mixture + achieved-rate audit (domain-mixing surface)")

  /** q133: per-source cardinality cap — keep at most `k` docs per source,
    * chosen by deterministic hash order (the "cap any one domain" guard a
    * mixing pass runs before q111/q134-style reweighting). Exact top-k per
    * group, computed SKEW-SAFE as two bounded windows instead of one sort
    * per source: rank within (source, salt-of-doc_id) and keep ≤ k, then
    * rank the ≤ 32·k survivors per source. Top-k of a union is the top-k
    * of the per-salt top-ks, so the result is exact for ANY salt; no
    * partition ever sorts more than max(n/32, 32·k) rows — a one-window
    * version sorts an entire hot source on one task at 100 TB. The salt
    * never reaches the output, so the cross-engine oracle replays the
    * plain one-window definition. */
  /** Exact per-source top-`k` by deterministic hash order, via the salted
    * two-level window (see q133's scaladoc). Input needs (source, doc_id);
    * output is (source, doc_id, rk) with rk ∈ 1..k contiguous per source. */
  def sourceCap(docs: DataFrame, k: Int): DataFrame = {
    val h = (col("doc_id") * lit(2654435761L)) % lit(1000000007L)
    val salted = docs
      .select(col("source"), col("doc_id"), h.as("h"),
        pmod(xxhash64(col("doc_id")), lit(32)).as("salt"))
      .withColumn("rk1", row_number().over(
        Window.partitionBy(col("source"), col("salt"))
          .orderBy(asc("h"), asc("doc_id"))))
      .filter(col("rk1") <= k)
    salted
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(asc("h"), asc("doc_id"))).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy(asc_nulls_first("source"), asc_nulls_first("rk"))
  }

  private val q133 = Q(
    "q133_source_cap",
    (s, dir) => sourceCap(T(s, dir, "documents"), 15),
    Some("""SELECT source, doc_id, rk FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                 ORDER BY (doc_id * 2654435761) % 1000000007 ASC, doc_id ASC) AS rk
        FROM documents) t
      WHERE rk <= 15
      ORDER BY source ASC NULLS FIRST, rk ASC NULLS FIRST"""),
    "per-source doc cap: exact deterministic top-15 per source via salted two-level window (skew-safe group top-k)")

  /** q134: token-budget mixture application — given target mixture
    * weights per source (basis points) and a token budget of HALF the
    * corpus (chars as the token proxy), SOLVE the per-source sampling
    * rate and apply it: rate_s = min(1, weight_s·B / avail_s), i.e. an
    * over-represented source is downsampled toward its target share and
    * an under-represented one keeps everything (capped at 1 — static
    * mixture application, the degenerate-free part of DoReMi-style
    * reweighting). Distinct from q111, whose rates are GIVEN: here the
    * rates are computed from corpus statistics. All arithmetic is integer
    * (basis points, `div`) so the result is bit-stable across engines.
    * Scale shape: `avail` is a |sources|-row map-combinable agg; the
    * rate table broadcasts; selection is a pure map-side filter on the
    * scan; the audit agg is partial/final. One wide scan, no fact
    * shuffle. */
  private val q134 = Q(
    "q134_token_budget_mixture",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val weightBp = when(col("source") === "src0", lit(2500L))
        .when(col("source") === "src1", lit(1500L))
        .when(col("source") === "src2", lit(1000L))
        .otherwise(lit(294L))
      val avail = docs.groupBy(col("source"))
        .agg(sum(col("n_chars")).as("avail_chars"))
      val total = avail.agg(sum(col("avail_chars")).as("total"))
      val rates = avail.crossJoin(broadcast(total))
        .withColumn("weight_bp", weightBp)
        .withColumn("target_chars",
          expr("(weight_bp * (total div 2)) div 10000"))
        .withColumn("rate_bp",
          least(lit(10000L), expr("(10000 * target_chars) div avail_chars")))
      val kept = docs
        .join(broadcast(rates.select(col("source"), col("rate_bp"))), Seq("source"))
        .filter((col("doc_id") * lit(2654435761L)) % 10000 < col("rate_bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("avail_chars"), col("target_chars"),
          col("rate_bp"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""WITH avail AS (
        SELECT source, SUM(n_chars) AS avail_chars,
               CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 1500
                           WHEN 'src2' THEN 1000 ELSE 294 END AS weight_bp
        FROM documents GROUP BY source),
      tot AS (SELECT SUM(avail_chars) AS total FROM avail),
      rates AS (
        SELECT source, avail_chars, weight_bp,
               (weight_bp * (total // 2)) // 10000 AS target_chars,
               LEAST(10000, (10000 * ((weight_bp * (total // 2)) // 10000)) // avail_chars) AS rate_bp
        FROM avail, tot),
      kept AS (
        SELECT d.source, COUNT(*) AS n_kept, SUM(d.n_chars) AS chars_kept
        FROM documents d JOIN rates r USING (source)
        WHERE (d.doc_id * 2654435761) % 10000 < r.rate_bp
        GROUP BY d.source)
      SELECT source,
             CAST(avail_chars AS BIGINT) AS avail_chars,
             CAST(target_chars AS BIGINT) AS target_chars,
             CAST(rate_bp AS BIGINT) AS rate_bp,
             CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
             CAST(COALESCE(chars_kept, 0) AS BIGINT) AS chars_kept
      FROM rates LEFT JOIN kept USING (source)
      ORDER BY source ASC NULLS FIRST"""),
    "token-budget mixture: solve per-source rates from target weights + half-corpus budget, apply map-side, audit (computed-rate sibling of q111)")

  /** q137: group-wise winsorization — clip `n_chars` to each language's
    * exact [p05, p95] before computing corpus statistics, the standard
    * outlier-robust cleaning pass. Percentiles are RANK-BASED (the value
    * at row ceil(q·n) in (n_chars, doc_id) order), so every number here
    * is integer-exact across engines — no float percentile interpolation
    * to disagree on. Audit output per language: n, both thresholds, how
    * many rows clipped at each side, and the clipped sum.
    *
    * Scale shape: one window pass per group for (rank, count) — exact
    * percentiles need each group's total order, which is this operator's
    * honest cost; at 100 TB the approx sibling (q76's Greenwald-Khanna
    * sketch) replaces the sort when ±ε rank error is acceptable. The
    * threshold table is |langs| rows, broadcast back; the clip itself is
    * map-side. */
  private val q137 = Q(
    "q137_winsorize",
    (s, dir) => {
      val ranked = T(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(asc("n_chars"), asc("doc_id"))).cast(LongType))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("lang"))))
      val thr = ranked
        .withColumn("rlo", expr("(5 * cnt + 99) div 100"))
        .withColumn("rhi", expr("(95 * cnt + 99) div 100"))
        .groupBy(col("lang"))
        .agg(min(when(col("rn") === col("rlo"), col("n_chars"))).as("lo"),
          min(when(col("rn") === col("rhi"), col("n_chars"))).as("hi"))
      ranked.join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          min(col("lo")).as("p05"), min(col("hi")).as("p95"),
          sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(least(greatest(col("n_chars"), col("lo")), col("hi"))).as("sum_clipped"))
        .orderBy(asc_nulls_first("lang"))
    },
    Some("""WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS cnt
        FROM documents),
      thr AS (
        SELECT lang,
               MIN(CASE WHEN rn = (5 * cnt + 99) // 100 THEN n_chars END) AS lo,
               MIN(CASE WHEN rn = (95 * cnt + 99) // 100 THEN n_chars END) AS hi
        FROM ranked GROUP BY lang)
      SELECT lang, COUNT(*) AS n,
             CAST(MIN(lo) AS BIGINT) AS p05, CAST(MIN(hi) AS BIGINT) AS p95,
             CAST(SUM(CASE WHEN n_chars < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
             CAST(SUM(CASE WHEN n_chars > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
             CAST(SUM(LEAST(GREATEST(n_chars, lo), hi)) AS BIGINT) AS sum_clipped
      FROM ranked JOIN thr USING (lang)
      GROUP BY lang
      ORDER BY lang ASC NULLS FIRST"""),
    "group-wise winsorization: rank-based exact p05/p95 clip of n_chars per language + clipped-stats audit (outlier-robust cleaning)")

  /** q116: exact duplicated-substring detection — the bounded-window
    * variant of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * 40-char window at stride 10 is fingerprinted; windows whose text
    * occurs in ≥2 DISTINCT documents mark copied passages, and each doc
    * reports its duplicated-window fraction (basis points, floor —
    * integer-exact in both engines).
    *
    * Scale shape: windows explode map-side inside codegen (sequence +
    * substring, no UDF); the two aggregations and the back-join carry
    * xxhash64 FINGERPRINTS (8 bytes), never the 40-char window text —
    * the oracle groups the raw strings instead, which agrees unless
    * xxhash64 collides (≈n²/2⁶⁵ ≈ 1e-11 at sf0.01's 13k windows). The
    * window frame is persisted because the dup-set branch and the
    * per-doc branch would otherwise each re-scan and re-explode the
    * corpus (dominant cost at 100 TB; MEMORY_AND_DISK spills, not OOMs).
    * The dup set is corpus-sized in the worst case, so it is NOT
    * broadcast-hinted — AQE picks the join strategy. */
  private val q116 = Q(
    "q116_dup_substrings",
    (s, dir) => {
      val wins = T(s, dir, "documents")
        .filter(col("n_chars") >= 40)
        .select(col("doc_id"),
          explode(sequence(lit(1L), col("n_chars") - 39L, lit(10L))).as("i"),
          col("text"))
        .select(col("doc_id"),
          xxhash64(expr("substring(text, CAST(i AS INT), 40)")).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dup = wins.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") > 1)
          .select(col("h"), lit(1).as("isdup"))
        val out = wins.join(dup, Seq("h"), "left_outer")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_windows"),
            count(col("isdup")).as("n_dup_windows"))
          .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
            floor(lit(10000.0) * col("n_dup_windows") / col("n_windows"))
              .cast(LongType).as("dup_bp"))
          .orderBy(desc_nulls_last("dup_bp"), asc_nulls_first("doc_id"))
        out.localCheckpoint() // materialize before unpersist
      } finally { wins.unpersist(); () }
    },
    Some("""WITH w AS (
        SELECT doc_id, substr(text, CAST(i AS INT), 40) AS win
        FROM documents, unnest(generate_series(1, n_chars - 39, 10)) AS t(i)
        WHERE n_chars >= 40
      ), d AS (
        SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) > 1
      )
      SELECT w.doc_id,
        CAST(count(*) AS BIGINT) AS n_windows,
        CAST(count(d.win) AS BIGINT) AS n_dup_windows,
        CAST(floor(10000.0 * count(d.win) / count(*)) AS BIGINT) AS dup_bp
      FROM w LEFT JOIN d ON w.win = d.win
      GROUP BY w.doc_id
      ORDER BY dup_bp DESC NULLS LAST, doc_id ASC NULLS FIRST"""),
    "exact duplicated-substring windows (40-char/stride-10) per doc; bounded-window Lee et al. substring dedup")

  /** q170: overlapping-span coalescing — merge each document's redaction/
    * boilerplate character spans (q96's output shape) into disjoint
    * islands before stripping, the pass that prevents double-deletion
    * when PII, boilerplate, and dedup spans overlap. Spans are derived
    * deterministically in-query (3 per doc, overlapping by
    * construction); islands via the sort + running-max-end sweep:
    * a span opens a new island iff it starts strictly after every
    * earlier-starting span's max end (touching spans merge, half-open
    * [start, end)). Island coverage is contiguous by construction, so
    * covered chars = Σ (max end − min start) per island — all integer.
    *
    * Scale shape: spans explode map-side; ONE doc-keyed exchange feeds
    * the ordering window, the island window, and both aggregations
    * (hash(doc_id) satisfies every downstream distribution). The oracle
    * counts islands DECLARATIVELY (a span starts an island iff no
    * earlier-starting span reaches it — pairwise-witnessable because the
    * running max is a max) and covered chars by distinct-position
    * expansion, both algorithm-independent. */
  private val q170 = Q(
    "q170_span_coalesce",
    (s, dir) => {
      val spans = T(s, dir, "documents").select(col("doc_id"))
        .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("j"))
        .select(col("doc_id"),
          ((col("doc_id") * 7 + col("j") * 13) % 80).as("st"),
          ((col("doc_id") * 7 + col("j") * 13) % 80 + 5 + (col("doc_id") + col("j")) % 11).as("en"))
      val order = Window.partitionBy(col("doc_id")).orderBy(asc("st"))
      val prevMax = max(col("en")).over(order.rowsBetween(Window.unboundedPreceding, -1))
      val flagged = spans
        .withColumn("new_island",
          when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("new_island")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      flagged.groupBy(col("doc_id"), col("island"))
        .agg((max(col("en")) - min(col("st"))).as("len"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_islands"), sum(col("len")).as("covered_chars"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH s AS (
        SELECT doc_id,
               (doc_id*7 + j*13) % 80 AS st,
               (doc_id*7 + j*13) % 80 + 5 + (doc_id + j) % 11 AS en
        FROM documents, (SELECT unnest(generate_series(0, 2)) AS j)),
      isl AS (SELECT doc_id, COUNT(*) AS n_islands
              FROM s a
              WHERE NOT EXISTS (SELECT 1 FROM s b
                WHERE b.doc_id = a.doc_id AND b.st < a.st AND b.en >= a.st)
              GROUP BY doc_id),
      cov AS (SELECT doc_id, COUNT(DISTINCT pos) AS covered
              FROM (SELECT doc_id, unnest(generate_series(st, en - 1)) AS pos FROM s)
              GROUP BY doc_id)
      SELECT i.doc_id, CAST(i.n_islands AS BIGINT) AS n_islands,
             CAST(c.covered AS BIGINT) AS covered_chars
      FROM isl i JOIN cov c ON c.doc_id = i.doc_id
      ORDER BY i.doc_id ASC NULLS FIRST"""),
    "overlapping-span coalescing (sort + running-max-end sweep, one doc-keyed exchange); oracle counts islands declaratively and coverage by position expansion")

  val all: Seq[Q] =
    Seq(q20, q21, q22, q23, q28, q95, q96, q99, q103, q104, q106, q110, q111,
      q116, q133, q134, q137, q170)
}
