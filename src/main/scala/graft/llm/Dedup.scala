package graft.llm

import graft.{Q, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.apache.spark.sql.expressions.Window

/** Near-duplicate detection for training-data pipelines (builder-prompt
  * dedup surface): MinHash+LSH, SimHash, n-gram Jaccard, embedding LSH.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - every signature is computed per document in ONE map-side UDF pass
  *    (no shingle explode, no 64-wide aggregate): shuffle carries
  *    (doc_id, signature), never the text;
  *  - candidate generation shuffles on the band/bucket key only;
  *  - exact verification joins texts ONLY for surviving candidate pairs;
  *  - no all-pairs comparison anywhere.
  *
  * Design note: earlier versions expressed MinHash/SimHash as 64 generated
  * `min(xxhash64(...))`/`sum(when(...))` aggregates — semantically fine
  * but the generated code made Janino compilation the bottleneck (150–250 s
  * per fresh JVM). A single Scala UDF per signature is ~100× faster end to
  * end AND removes the explode shuffle.
  */
object Dedup {

  val NumHashes = 64
  val BandRows = 4 // → 16 bands

  /** Production MinHash kernel — SQL-replayable since r14: distinct
    * mod-p token-triple shingle values ([[polyShingles]]) through the
    * classic universal-hash permutation family h_s(x) = (a_s·x + b_s)
    * mod p (the construction MinHash's collision analysis assumes —
    * Broder et al. 1998 use exactly min-wise-independent linear
    * permutations), 64 seeded mins banded 16×4. The earlier 64-bit
    * splitmix mixes were DuckDB-opaque, which kept q25/q101/q135/q142
    * rows-only; this family is replayed term for term by the oracle
    * (every intermediate < 2⁶³ in both engines) at the same UDF cost —
    * one Horner pass per token, then 64 affine maps per shingle. */
  private val minhashUdf = udf((text: String) => modPMins(polyShingles(text), NumHashes))
  private val bandsUdf = udf((sig: Seq[Long]) => bandsFromMins(sig.toArray, BandRows))

  /** Production SimHash — SQL-replayable since r14: a 60-bit fingerprint
    * from TWO Horner token hashes (bases 257/263 mod 2³¹−1, 30 bits
    * each), per-occurrence ±1 bit votes (Charikar 2002), bucketed as
    * 4×15-bit chunks (pigeonhole-complete for the ham ≤ 3 radius, as
    * 4×16 was for 64 bits). Tokenless texts get the −1 sentinel and are
    * excluded from banding — they carry no vote evidence; identical
    * ones still collapse via the exact hash. */
  private val simhashUdf = udf((text: String) => simhashPoly60(text))
  private val fingerprintUdf = udf((text: String) => Hashing.fingerprint(text))

  /** Distinct word 3-shingles of column `c` (whole value when shorter
    * than 3 tokens) — exact verification of candidate pairs + the q94
    * n-gram-Jaccard kernel.
    *
    * The outer 1-element `transform` exists to BIND the split result
    * once per row: higher-order functions evaluate interpreted (no
    * codegen subexpression elimination), so writing `split(c)` inside
    * the shingle lambda re-tokenizes the document for every element_at —
    * O(words²) per doc vs O(words) bound. Measured NEUTRAL on the
    * driver corpus (~150-word docs: q94 warm ≈ 0.5 s either way) — the
    * binding is kept for the asymptotics, since real corpora carry
    * multi-thousand-word documents where the quadratic term dominates. */
  private[llm] def shingles(c: String): Column = expr(
    s"""element_at(transform(array(split($c, ' ')), ws ->
         case when size(ws) >= 3 then
           array_distinct(transform(sequence(0, size(ws) - 3),
             i -> concat_ws(' ',
               element_at(ws, i + 1),
               element_at(ws, i + 2),
               element_at(ws, i + 3))))
         else array($c) end), 1)""")

  private val shingleExpr = shingles("text")

  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), minhashUdf(col("text")).as("sig"))

  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhashUdf(col("text")).as("simhash"))

  /** One row per doc with every dedup signature (the row-bearing output;
    * pair queries below may legitimately be empty on a dup-free corpus).
    * The minhash signature is emitted as a comma-joined string, not an
    * `array<bigint>`: the driver's pandas hash-compare sorts rows and cannot
    * sort numpy-array cells, and a flat string is just as joinable for
    * downstream equality checks. */
  /** q24's oracle (direct since r14 — every signature kernel is now
    * replayable): md5, the min-Karp–Rabin-8-gram fingerprint (short
    * texts hash whole via the guarded Horner), the 60-bit SimHash vote
    * (tokenless → −1), and the 64 mod-p mins comma-joined. */
  private def q24OracleSql: String = {
    // one list literal, not a || chain — 64 nested binary concats blow
    // DuckDB's 128-deep binder recursion limit
    val sigCat = (0 until NumHashes).map(i => s"CAST(g.m$i AS VARCHAR)")
      .mkString("array_to_string([", ", ", "], ',')")
    s"""WITH ${simhash60Ctes("documents", "sh_")},
      ${modpSigCtes("documents", "mh_", NumHashes, BandRows)},
      fg AS (
        SELECT doc_id, MIN($hornerBigSql) AS fp FROM (
          SELECT doc_id, substr(text, pos, $KgramLen) AS g FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - ${KgramLen - 1})) AS pos
            FROM documents WHERE length(text) >= $KgramLen))
        GROUP BY doc_id)
      SELECT d.doc_id, md5(d.text) AS exact_hash,
             COALESCE(fg.fp, ${hornerShortSql("d.text")}) AS fingerprint,
             COALESCE(CAST(s.f AS BIGINT), CAST(-1 AS BIGINT)) AS simhash,
             $sigCat AS minhash_sig
      FROM documents d
      LEFT JOIN fg ON fg.doc_id = d.doc_id
      LEFT JOIN sh_fp s ON s.doc_id = d.doc_id
      JOIN mh_sigs g ON g.doc_id = d.doc_id
      ORDER BY d.doc_id ASC NULLS FIRST"""
  }

  private lazy val q24 = Q(
    "q24_dedup_signatures",
    (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("exact_hash"),
          fingerprintUdf(col("text")).as("fingerprint"),
          simhashUdf(col("text")).as("simhash"),
          concat_ws(",", minhashUdf(col("text"))
            .cast(ArrayType(org.apache.spark.sql.types.StringType))).as("minhash_sig"))
        .orderBy(asc_nulls_first("doc_id")),
    Some(q24OracleSql),
    "per-doc dedup signatures: md5, winnowing fingerprint, simhash, minhash (dedup surface); every kernel hash-gated")

  /** Default LSH bucket cap: a band/chunk bucket larger than this is
    * dropped from candidate generation. A degenerate bucket (boilerplate
    * sharing a band hash) otherwise produces O(n²) pairs inside one
    * bucket — the classic LSH skew killer. Oversized buckets are almost
    * entirely low-precision noise (a band collision among thousands of
    * docs carries little Jaccard evidence), so capping trades negligible
    * recall for a hard quadratic bound. */
  val MaxBucketSize = 10000

  /** Collapse exact duplicates BEFORE LSH: one representative (min doc_id)
    * per exact text hash. Returns (withRep, exact) where `withRep` adds
    * `h`/`rep_id` to each row and `exact` is the LINEAR (rep → member)
    * pair list — an exact-dup group of n docs emits n−1 pairs, never
    * n(n−1)/2. The single shuffle here carries (doc_id, h, sig) scalars;
    * the text itself never shuffles. */
  private def collapseExact(sigs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // Lazy local checkpoint: the signature frame feeds four consumers
    // (exact pairs, bucket sizes, both self-join sides) whose
    // AQE-replanned subtrees never hit ReusedExchange — without it the
    // signature UDF pass re-runs per consumer. Same shape at 100 TB:
    // signatures (~0.5 KB/doc, DISK-backed) materialize once, the raw
    // text is scanned once.
    val withRep = sigs.withColumn("rep_id",
      min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .localCheckpoint(false)
    val exact = withRep.filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"))
    (withRep, exact)
  }

  /** Drop oversized buckets (hot-bucket guard) and singleton buckets
    * (which cannot produce a pair) before the bucket self-join. */
  private def capBuckets(banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val sizes = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > 1 && col("bn") <= maxBucket)
      .select(keys.map(col): _*)
    banded.join(sizes, keys, "left_semi")
  }

  /** MinHash LSH: map-side signatures + exact-hash collapse → banded
    * representatives → capped bucket self-join → candidate pairs with
    * estimated (signature-agreement) and exact (shingle-set) Jaccard.
    * Exact-duplicate groups surface as linear (rep, member) pairs with
    * jaccard 1.0 rather than exploding quadratically inside a bucket. */
  def minhashPairs(s: SparkSession, docs: DataFrame,
      maxBucket: Int = MaxBucketSize): DataFrame =
    minhashPairsImpl(s, docs, maxBucket, requireBandAgreement = false)

  /** [[minhashPairs]] with `requireBandAgreement = true` — the form the
    * dedup PIPELINE (q101/q132 via [[dedupFlags]]) consumes. The band
    * key is a 4-min Horner fold mod P = 2³¹−1 ([[bandsFromMins]]), so two
    * UNRELATED docs collide in a band with probability ≈1/P: accidental
    * fold collisions add ≈16·n²/2P candidate pairs (≈3.7e5 at 10 M
    * docs), and every such pair pays the exact shingle verify. Requiring
    * the band's UNFOLDED 4-min tuple to agree (one 4-long slice compare
    * on the already-joined row — Broder/LSH's actual banding definition;
    * the fold is only a key compression) closes that channel while
    * keeping every true LSH candidate. At sf30 it removed 1.4% of the
    * candidates; the sf30 gate's super-linear q101 was the stacked scale
    * fixture, not the fold (OPTIMIZATION_r17.md, Change 6). NOT applied
    * to q25, whose declared output is the folded-hash candidate set
    * itself. A pair this filter drops reaches q101's output only if its
    * exact jaccard ≥ threshold AND no band tuple-agrees (probability
    * ≈ (1−j⁴)¹⁶ · 16/P per pair, ≈1.6e-12 at j=0.8) — hash-identical on
    * every gated fixture (sf0.001..sf30). */
  private def minhashPairsImpl(s: SparkSession, docs: DataFrame,
      maxBucket: Int, requireBandAgreement: Boolean): DataFrame = {
    // md5 (not xxhash64) for the exact collapse since r14: same content-
    // equality semantics, native codegen on both engines — which lets the
    // oracle replay the collapse (DuckDB has md5, not Spark's xxhash64)
    val sigs = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
      minhashUdf(col("text")).as("sig"))
    val (withRep, exact) = collapseExact(sigs)
    val exactPairs = exact
      .select(col("doc_a"), col("doc_b"),
        lit(1.0).as("est_jaccard"), lit(1.0).as("jaccard"))
    val banded = withRep.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("sig"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bh")))
    val pruned = capBuckets(banded, Seq("band", "bh"), maxBucket)
    val a = pruned.alias("a")
    val b = pruned.alias("b")
    // est_jaccard is computed MAP-SIDE on the joined row (both sigs are
    // already present), so the pair-dedup exchange carries one rounded
    // double per pair — not 2×64 longs of signatures (the prior shape).
    val joinCond = col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
      col("a.doc_id") < col("b.doc_id")
    val fullCond =
      if (!requireBandAgreement) joinCond
      else joinCond && expr(
        s"slice(a.sig, a.band * $BandRows + 1, $BandRows) = " +
        s"slice(b.sig, a.band * $BandRows + 1, $BandRows)")
    val cand = a.join(b, fullCond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(
          expr("aggregate(zip_with(a.sig, b.sig, (x, y) -> case when x = y then 1.0 else 0.0 end), 0D, (acc, x) -> acc + x)")
            / NumHashes, 4).as("est_jaccard"))
      .distinct()
    // exact verification: shingle-set Jaccard. Semi-join docs down to the
    // candidate id set FIRST — at 100 TB the shuffle must carry shingle
    // arrays only for surviving candidates, never the whole corpus.
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sh = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleExpr.as("shingles"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType)
          / size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
      .unionByName(exactPairs)
      .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
  }

  /** DIRECT oracle since r14 (the kernel switch above): DuckDB replays
    * the md5 exact collapse, the 64 seeded mins + 16 band keys, the
    * >1/≤cap bucket rule, the signature-agreement estimate, and the
    * string-shingle verify — every decision minhashPairs makes.
    * Lazy: the SQL builder reads seed/modulus state declared further
    * down the object (the q77 init-order lesson). */
  private lazy val q25 = Q(
    "q25_minhash_pairs",
    (s, dir) => minhashPairs(s, T(s, dir, "documents")),
    Some(q25OracleSql),
    "MinHash-LSH candidate pairs + exact n-gram Jaccard verify (dedup surface); mod-p kernel hash-gated")

  /** Incremental dedup: classify a DELTA batch against an EXISTING corpus
    * without re-running corpus×corpus — the daily-ingest shape of a
    * production pipeline. Per delta doc: `exact` (text hash already in
    * the corpus), `near` (best corpus match with shingle-Jaccard ≥
    * threshold via band-index probe), else `unique`.
    *
    * Scale shape (the asymmetric version of [[minhashPairs]]):
    *  - the corpus side contributes ONLY its maintained signature/band
    *    index — (band, bh, doc_id) plus an exact-hash set; at 100 TB both
    *    are standing tables updated per batch, and ONLY the delta (the
    *    small side) computes signatures at ingest time;
    *  - the probe is a bucket equi-join delta-bands × corpus-bands —
    *    never delta × corpus;
    *  - exact verification re-joins text only for surviving candidates,
    *    and only the best match per delta doc survives the final agg. */
  def incrementalDedup(s: SparkSession, corpus: DataFrame, delta: DataFrame,
      threshold: Double, maxBucket: Int = MaxBucketSize): DataFrame = {
    // the standing index: in production these two frames are tables
    // maintained across batches (append the delta after classifying it —
    // exactly what [[graft.streaming.Streams]]' q142 does); here they
    // materialize once per call (lazy checkpoint — the corpus scan must
    // not re-run per consumer)
    val corpusHashes = corpus.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .localCheckpoint(false)
    val corpusBands = corpus
      .select(col("doc_id"), posexplode(bandsUdf(minhashUdf(col("text")))).as(Seq("band", "bh")))
      .localCheckpoint(false)
    classifyAgainstIndex(delta, corpusHashes, corpusBands,
      corpus.select(col("doc_id"), col("text")), threshold, maxBucket)
  }

  /** One materialized (doc_id, h, sig) signature pass over a doc batch —
    * computed ONCE per ingested batch and shared by the probe
    * ([[classifyAgainstIndex]]) and the index append (streaming q142),
    * the way a production signature store works. */
  def deltaSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
      minhashUdf(col("text")).as("sig")).localCheckpoint(false)

  /** The (hash, band) index rows derived from [[deltaSignatures]] output —
    * what a standing signature store appends per ingested batch. */
  def indexFrames(sigs: DataFrame): (DataFrame, DataFrame) =
    (sigs.select(col("doc_id"), col("h")),
      sigs.select(col("doc_id"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bh"))))

  /** The probe kernel shared by [[incrementalDedup]] (index built from a
    * corpus frame) and the streaming ingest dedup (index read from the
    * standing tables it maintains per batch): classify each delta doc as
    * exact / near / unique against (idxHashes (doc_id, h),
    * idxBands (doc_id, band, bh), idxDocs (doc_id, text)). */
  def classifyAgainstIndex(delta: DataFrame, idxHashes: DataFrame,
      idxBands: DataFrame, idxDocs: DataFrame, threshold: Double,
      maxBucket: Int = MaxBucketSize,
      precomputedSigs: Option[DataFrame] = None,
      sorted: Boolean = true): DataFrame = {
    val deltaSigs = precomputedSigs.getOrElse(deltaSignatures(delta))
    // exact: delta hash already present in the index (earliest doc wins)
    val exactHit = deltaSigs.alias("d")
      .join(idxHashes.alias("c"), col("d.h") === col("c.h"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("c.doc_id")).as("dup_of"))
      .withColumn("kind", lit("exact")).withColumn("jaccard", lit(1.0))
    // near: band-probe the index with the not-exact delta remainder
    val probe = deltaSigs.join(exactHit.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), posexplode(bandsUdf(col("sig"))).as(Seq("band", "bh")))
    val hot = idxBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
      .select(col("band"), col("bh"))
    val cand = probe.alias("d")
      .join(hot, Seq("band", "bh"), "left_anti")
      .join(idxBands.alias("c"), Seq("band", "bh"))
      .select(col("d.doc_id").as("delta_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val candIdsD = cand.select(col("delta_id").as("doc_id")).distinct()
    val candIdsC = cand.select(col("corpus_id").as("doc_id")).distinct()
    val shD = delta.join(candIdsD, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("delta_id"), shingleExpr.as("sh_d"))
    val shC = idxDocs.join(candIdsC, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("corpus_id"), shingleExpr.as("sh_c"))
    val nearHit = cand.join(shD, Seq("delta_id")).join(shC, Seq("corpus_id"))
      .select(col("delta_id"), col("corpus_id"),
        round(size(array_intersect(col("sh_d"), col("sh_c"))).cast(DoubleType)
          / size(array_union(col("sh_d"), col("sh_c"))), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      // best match: highest jaccard, earliest corpus doc breaking ties
      .groupBy(col("delta_id").as("doc_id"))
      .agg(max(struct(col("jaccard"), (-col("corpus_id")).as("negid"))).as("best"))
      .select(col("doc_id"), (-col("best.negid")).as("dup_of"),
        lit("near").as("kind"), col("best.jaccard").as("jaccard"))
    val classified = exactHit.select(col("doc_id"), col("kind"), col("dup_of"), col("jaccard"))
      .unionByName(nearHit.select(col("doc_id"), col("kind"), col("dup_of"), col("jaccard")))
    val out = delta.select(col("doc_id"))
      .join(classified, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kind"), lit("unique")).as("kind"),
        col("dup_of"), col("jaccard"))
    // sorted=false: the streaming ingest path (q142) appends batches to
    // parquet and re-sorts ONCE at the final read — the per-batch range
    // exchange (plus its sampling pass) bought nothing (r17; guide §2.4
    // "an orderBy used only to make output deterministic"). The batch
    // query q135 keeps the sorted public shape.
    if (sorted) out.orderBy(asc_nulls_first("doc_id")) else out
  }

  /** q135: incremental dedup over a PLANTED delta (the driver corpus is
    * dup-free): delta = every 20th doc with 3 appended tokens (near,
    * shingle-Jaccard ≈ 0.9), every 50th verbatim (exact), and a
    * synthetic-unique doc per 100 ids (word-reversed text — shares no
    * 3-shingle with its source). Hash-gated directly since r14
    * ([[q135OracleSql]] replays the production probe), and DedupSpec pins
    * the exact planted expectation per kind. Its twin q210 runs the same
    * probe with an integer Jaccard, so its gate also pins the quantized
    * `jq` the best-match argmax ranks by. */
  private lazy val q135 = Q(
    "q135_incremental_dedup",
    (s, dir) => {
      val corpus = T(s, dir, "documents").select(col("doc_id"), col("text"))
      incrementalDedup(s, corpus, plantedDelta(corpus), 0.8)
    },
    Some(q135OracleSql),
    "incremental delta-vs-corpus dedup: exact-hash hit, band-index near probe, or unique (daily-ingest shape); probe decisions hash-gated")

  /** SimHash near-dup pairs: exact-hash collapse → 4×16-bit chunk
    * bucketing over representatives (a pair within Hamming distance 3
    * must agree on ≥1 chunk), capped buckets, exact bit_count verify.
    * Exact duplicates surface as linear (rep, member) hamming-0 pairs. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = MaxBucketSize): DataFrame = {
    val sigs = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
      simhashUdf(col("text")).as("simhash"))
    val (withRep, exact) = collapseExact(sigs)
    val exactPairs = exact.select(col("doc_a"), col("doc_b"),
      lit(0).cast("int").as("hamming"))
    // simhash >= 0: the −1 sentinel (tokenless text) never bands
    val chunks = withRep.filter(col("doc_id") === col("rep_id") && col("simhash") >= 0)
      .select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(c =>
          shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL))): _*))
          .as(Seq("chunk", "ch")))
    val pruned = capBuckets(chunks, Seq("chunk", "ch"), maxBucket)
    val a = pruned.alias("a")
    val b = pruned.alias("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // filter BEFORE the dedup exchange: hamming is functional on the
      // pair, and almost every chunk collision fails the ≤maxHamming test —
      // dedup-then-filter shuffled millions of doomed pairs at sf0.1.
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .unionByName(exactPairs)
      .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
  }

  /** q26's oracle (direct since r14): the 60-bit two-Horner fingerprint
    * vote, md5 collapse, rep-only 4×15-bit chunk buckets with the
    * >1/≤cap rule, and the bit_count hamming verify — all replayed. */
  /** The 60-bit production SimHash fingerprint as CTEs over `src`
    * (prefix `p`): token Horner pairs → per-bit occurrence votes →
    * `${p}fp(doc_id, f)`. Tokenless docs emit NO row (callers COALESCE
    * to the −1 sentinel). Shared by the q26 and q24 oracles. */
  private def simhash60Ctes(src: String, p: String): String = s"""${p}toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        FROM $src WHERE text IS NOT NULL),
      ${p}th AS (
        SELECT doc_id, ${horner16Sql("u.t")} AS h1, ${horner16Sql("u.t", 263)} AS h2
        FROM ${p}toks, unnest(ts) AS u(t)),
      ${p}bits AS (
        SELECT doc_id, j.j,
               CASE WHEN SUM(((CASE WHEN j.j < 30 THEN h1 >> CAST(j.j AS INTEGER)
                                    ELSE h2 >> CAST(j.j - 30 AS INTEGER) END) & 1)
                             * 2 - 1) > 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
        FROM ${p}th, (SELECT unnest(range(0, 60)) AS j) j
        GROUP BY doc_id, j.j),
      ${p}fp AS (
        SELECT doc_id, SUM(b * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS f
        FROM ${p}bits GROUP BY doc_id)"""

  private def q26OracleSql: String = s"""WITH ${simhash60Ctes("documents", "")},
      hx AS (SELECT doc_id, md5(text) AS h FROM documents),
      rep AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM hx),
      exactp AS (SELECT rep_id AS doc_a, doc_id AS doc_b FROM rep WHERE doc_id <> rep_id),
      chunks AS (
        SELECT f.doc_id, c.c, (f.f >> CAST(c.c * 15 AS INTEGER)) & 32767 AS cv
        FROM fp f JOIN rep r ON r.doc_id = f.doc_id AND r.doc_id = r.rep_id,
             (SELECT unnest(range(0, 4)) AS c) c),
      okb AS (SELECT c, cv FROM chunks GROUP BY c, cv
              HAVING COUNT(*) > 1 AND COUNT(*) <= $MaxBucketSize),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM chunks a JOIN okb o ON o.c = a.c AND o.cv = a.cv
        JOIN chunks b ON b.c = a.c AND b.cv = a.cv AND a.doc_id < b.doc_id)
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(fa.f, fb.f)) AS INTEGER) AS hamming
      FROM cand c
      JOIN fp fa ON fa.doc_id = c.doc_a
      JOIN fp fb ON fb.doc_id = c.doc_b
      WHERE bit_count(xor(fa.f, fb.f)) <= 3
      UNION ALL
      SELECT doc_a, doc_b, CAST(0 AS INTEGER) FROM exactp
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""

  private lazy val q26 = Q(
    "q26_simhash_pairs",
    (s, dir) => simhashPairs(T(s, dir, "documents")),
    Some(q26OracleSql),
    "SimHash chunk-bucketed near-dup pairs (dedup surface); 60-bit two-Horner fingerprint hash-gated")

  // ---- embedding near-dup / ANN via random-hyperplane LSH ---------------

  val Dim = 64
  val TablesL = 8
  val BitsPerTable = 12
  val MaxBits = 20

  /** Deterministic hyperplanes (seeded; generated once on the driver —
    * constants, not data). The first 12 planes per table are the
    * original family laid out exactly as before (t·12 + j), so the
    * 12-bit keys are bit-identical to every prior round; planesExt
    * holds the refinement planes for bits 13..MaxBits. */
  private lazy val planes: Array[Array[Double]] = {
    val r = new scala.util.Random(20260812L)
    Array.fill(TablesL * BitsPerTable)(Array.fill(Dim)(r.nextGaussian()))
  }
  private lazy val planesExt: Array[Array[Double]] = {
    val r = new scala.util.Random(20260813L)
    Array.fill(TablesL * (MaxBits - BitsPerTable))(Array.fill(Dim)(r.nextGaussian()))
  }

  /** Bucket-bit schedule: 2^bits buckets per table sized so the expected
    * bucket holds ~16 vectors — the standard LSH scaling knob (Indyk &
    * Motwani: key length grows with log n). With bits FIXED, bucket
    * density grows linearly in n and the candidate self-join
    * quadratically — measured 148 s at sf10 on a dup-free corpus whose
    * answer is 5 rows. Extra bits only REFINE the 12-bit buckets
    * (appended key bits), so every fixture at or below ~65 k vectors
    * (all specs, sf0.001..sf1) keeps the historical buckets
    * bit-for-bit. Per-table recall at a given cosine drops by ~(1−θ/π)
    * per added bit; near-identical dups (the planted family, cos
    * ≥ 0.999) stay ≥ 88 % per table and ≈ 1 across the 8-table union
    * even at MaxBits. */
  def bitsFor(n: Long): Int =
    math.max(BitsPerTable, math.min(MaxBits,
      math.ceil(math.log(math.max(n, 1L) / 16.0) / math.log(2.0)).toInt))

  /** All L bucket keys in one UDF pass (TablesL×bits plane dots —
    * a tight Scala loop, not 96 generated HOF expressions). */
  private def lshKeysUdf(bits: Int) = udf((v: Seq[Double]) => {
    val arr = v.toArray
    val keys = new Array[Long](TablesL)
    var t = 0
    while (t < TablesL) {
      var key = 0L
      var j = 0
      while (j < bits) {
        val p = if (j < BitsPerTable) planes(t * BitsPerTable + j)
          else planesExt(t * (MaxBits - BitsPerTable) + (j - BitsPerTable))
        var dot = 0.0
        var d = 0
        val n = math.min(arr.length, p.length)
        while (d < n) { dot += arr(d) * p(d); d += 1 }
        if (dot > 0) key |= (1L << j)
        j += 1
      }
      keys(t) = key
      t += 1
    }
    keys
  })

  /** Native cosine over array&lt;double&gt; columns ([[VecDot]] kernel). */
  private def cosine(a: Column, b: Column): Column = {
    import graft.geo.GeoExpressions.vecDot
    vecDot(a, b) / sqrt(vecDot(a, a) * vecDot(b, b))
  }

  /** L bucket keys per vector, exploded to (table, bucket) rows. The bit
    * count comes from ONE cheap count over the input (the bitsFor
    * schedule) — a metadata-cheap job next to the key-gen pass it sizes. */
  def lshBuckets(vecs: DataFrame, vecCol: String): DataFrame = {
    val bits = bitsFor(vecs.count())
    vecs.select(col("*"), posexplode(lshKeysUdf(bits)(col(vecCol))).as(Seq("table", "bucket")))
  }

  /** Embedding near-dup pairs above a cosine threshold, candidates from
    * multi-table LSH (≈74% recall per table config at cos 0.9), verified
    * exactly. */
  def embeddingNearDups(s: SparkSession, emb: DataFrame, threshold: Double): DataFrame = {
    // the LSH key UDF (L·12 plane dots per row) is compute-dense: a
    // one-task scan ran key-gen AND the bucket checkpoint write
    // single-threaded at sf10; T's split copy scans in one task per core
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    // candidate ids only through the bucket self-join + dedup shuffle;
    // vectors are re-joined for surviving pairs afterwards
    // materialized once — feeds both self-join sides (see collapseExact)
    val bucketed = lshBuckets(vecs.select(col("vec_id"), col("v")), "v")
      .select(col("vec_id"), col("table"), col("bucket"))
      .localCheckpoint(false)
    val a = bucketed.alias("a")
    val b = bucketed.alias("b")
    val pairIds = a.join(b,
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    pairIds
      .join(vecs.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy(asc_nulls_first("id_a"), asc_nulls_first("id_b"))
  }

  /** The driver corpus is dup-free (max pairwise cosine ≈0.4), so the raw
    * near-dup query legitimately returns 0 rows — zero signal. q27 therefore
    * PLANTS near-duplicates derived in-query from the driver vectors (ids
    * offset by the vec-id span, every coordinate shifted by a small constant) and
    * must recover exactly those planted pairs. */
  def plantedNearDups(s: SparkSession, emb: DataFrame, threshold: Double): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("embedding"))
    // SPAN-derived planted ids (the r14 q101 rule, vector side): the old
    // constant +100000 collided with REAL vec_ids once the fixture span
    // passed 100k (sf10 = 200k vectors) — two different vectors sharing
    // an id turns the verify re-join into a cross product
    val planted = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + lit(vecSpan(base))).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.02)).as("embedding"))
    embeddingNearDups(s, base.unionByName(planted), threshold)
  }

  /** max(vec_id)+1 — collision-free planted-vector offset at EVERY sf.
    * max() over zero rows is NULL; fail with a real message instead of
    * the opaque NPE `getLong` would throw on an empty embeddings frame. */
  private[graft] def vecSpan(emb: DataFrame): Long = {
    val row = emb.agg(max(col("vec_id"))).head()
    require(!row.isNullAt(0), "vecSpan: embeddings frame is empty (no vec_id to span)")
    row.getLong(0) + 1
  }

  private val q27 = Q(
    "q27_embedding_neardup",
    (s, dir) => plantedNearDups(s, T(s, dir, "embeddings"), 0.9),
    None,
    "embedding near-dup pairs via multi-table hyperplane LSH + exact cosine; planted perturbed copies recovered (dedup surface)")

  /** Approximate top-k neighbors for the first 5 vectors: LSH candidates
    * only (the scale path; q28_cosine_topk is the exact baseline).
    *
    * Scale shape: candidate vectors stream map-side through the broadcast
    * bucket join (query vectors ride the broadcast) and the score is
    * computed IMMEDIATELY, so the only shuffle carries (qid, vid, score)
    * scalars — no full vector ever shuffles. Round 1 shuffled both
    * vectors per pair through `groupBy().agg(first(v))`, which made the
    * approximate path slower than the exact twin. A pair colliding in
    * multiple tables recomputes one 64-dim dot per collision — cheaper
    * map-side than a dedup exchange of vectors. */
  /** All bucket keys within Hamming distance ≤ 2 of `key` over `bits`
    * key bits — multi-probe LSH (Lv et al., VLDB 2007): instead of more
    * tables, probe the neighbor buckets a near-miss vector most likely
    * fell into. Probe count 1 + bits + C(bits,2) (~106 at 14 bits) on
    * the QUERY side only, so the cost is independent of corpus size. */
  private[llm] def multiProbeKeys(bits: Int) = udf((key: Long) => {
    val out = new Array[Long](1 + bits + bits * (bits - 1) / 2)
    out(0) = key
    var w = 1
    var i = 0
    while (i < bits) {
      out(w) = key ^ (1L << i); w += 1
      var j = i + 1
      while (j < bits) { out(w) = key ^ (1L << i) ^ (1L << j); w += 1; j += 1 }
      i += 1
    }
    out
  })

  def annTopK(s: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // compute-dense like embeddingNearDups: needs T's one-task-per-core scan
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("v"))
    val bits = bitsFor(vecs.count())
    val bucketed = lshBuckets(vecs, "v")
    // r15 multi-probe: the adaptive bit schedule keeps the candidate
    // join linear but dropped mid-cosine recall@10 to 0.06 at sf1/sf10
    // (measured vs the exact DuckDB baseline — ~0.63 per-bit collision
    // at cos 0.4 compounds to ~0.2% per 14-bit table). Probing every
    // ≤2-flip neighbor bucket of the QUERY key multiplies only the
    // 5-row query side; the corpus side and its single shuffle are
    // untouched, so the scale shape is identical.
    val qside = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("table"),
        explode(multiProbeKeys(bits)(col("bucket"))).as("bucket"))
    val scored = bucketed.join(broadcast(qside), Seq("table", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("vid"),
        round(cosine(col("qv"), col("v")), 4).as("score"))
      .groupBy(col("qid"), col("vid")).agg(first(col("score")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc_nulls_last("score"), asc_nulls_first("vid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
      .orderBy(asc_nulls_first("qid"), asc_nulls_first("vid"))
  }

  private val q30 = Q(
    "q30_ann_lsh_topk",
    (s, dir) => annTopK(s, T(s, dir, "embeddings"), 10),
    None,
    "LSH-bucketed approximate top-k (similarity-search scale path; exact twin = q28)")

  // ---- MinHash-LSH under the ORACLE gate (q25's integer-exact twin) ----

  private val PlaneP = 2147483647L // 2^31 − 1

  /** `v % PlaneP` for v ≥ 0 without the hardware divide: 2³¹ ≡ 1
    * (mod 2³¹−1), so v ≡ (v >>> 31) + (v & P) — two shift-add folds bring
    * any 63-bit value to ≤ P+2, one conditional subtract finishes. Exact
    * same residue as `%` on every non-negative input (the oracle SQL keeps
    * plain `%`; only the engine-side instruction count changes). ~5 cheap
    * ALU ops vs a ~30-cycle 64-bit division — and this runs 64× per
    * shingle in [[modPMins]], the hottest loop of the dedup family. */
  @inline private def modP(v: Long): Long = {
    var r = (v & PlaneP) + (v >>> 31)
    r = (r & PlaneP) + (r >>> 31)
    if (r >= PlaneP) r - PlaneP else r
  }

  /** SQL-replayable plane weight for flat index (t·B + j)·D + d:
    * two multiplicative mixes with a squaring between, all mod p —
    * every intermediate < 2⁶³ so Spark's and DuckDB's BIGINT agree. */
  private[llm] def planeInt(idx: Long): Long = {
    val h0 = ((idx + 1L) * 2654435761L) % PlaneP
    val h1 = (h0 * h0) % PlaneP
    val h2 = (h1 * 1103515245L + 12345L) % PlaneP
    h2 - (PlaneP - 1) / 2
  }


  /** q206, q25's twin (q25 itself is hash-gated directly since r14, see
    * [[prodPairsCtes]]). (MinHash resemblance sketch: Broder 1997, "On
    * the resemblance and containment of documents"; banding analysis:
    * Leskovec/Rajaraman/Ullman, MMDS ch. 3.) q206 runs the identical
    * pipeline shape — shingle → k seeded mins → banded bucket self-join
    * → candidate dedup → semi-join verification — with k = 16 mins in
    * 4-row bands (q25: 64 mins, 16 bands), in the mod-p arithmetic both
    * engines replay exactly: tokens split on ' ', token
    * hash = 16-char unrolled Horner base 257 mod 2³¹−1 (absent chars
    * contribute 0 — `ascii(substr(t,j,1))` of an out-of-range position is
    * 0 in DuckDB, matching the padded loop here), shingle value combines
    * the token-triple hashes base 1000003 mod p, and seed s applies
    * (a_s·x + b_s) mod p with a_s/b_s derived from [[planeInt]]. Every
    * intermediate < 2⁶³. Emits ALL banded candidates with their exact
    * integer (inter, uni), where q25 publishes rounded double Jaccards —
    * the hash gate pins the k = 16 banding decisions AND the integer
    * verification arithmetic. 25 pairs at sf0.01 — the same planted
    * near-dup families q25 surfaces. */
  val MinhashK = 16
  val PolyBandRows = 4

  private def tokHashPolyBase(t: String, base: Long): Long = {
    var h = 0L
    var j = 0 // code-point index — DuckDB's substr/ascii are
    var i = 0 // character-based, so UTF-16 surrogate pairs must hash
    while (j < 16) { // as ONE code point here too (identical on ASCII)
      val c =
        if (i < t.length) {
          val cp = t.codePointAt(i); i += Character.charCount(cp); cp.toLong
        } else 0L
      h = modP(h * base + c)
      j += 1
    }
    h
  }

  private def tokHashPoly(t: String): Long = tokHashPolyBase(t, 257L)

  /** Per-token Horner hashes of `text` (tokens = maximal non-space runs,
    * i.e. split(' ') with empties dropped), each token hashed ONCE in an
    * allocation-light scan. The r14 kernel switch made this the hot
    * map-side loop at 100 TB, and the split-array form was measured 1.6×
    * on sf10 signing: it allocated a String per token AND re-hashed each
    * token up to three times across adjacent shingle windows. Values are
    * bit-identical to [[tokHashPolyBase]] on the token substring (the
    * 16-code-point pad loop stops at the token's trailing space). */
  private def tokenHashes(text: String, base: Long): Array[Long] = {
    val n = text.length
    var count = 0
    var i = 0
    var inTok = false
    while (i < n) {
      val sp = text.charAt(i) == ' '
      if (!sp && !inTok) count += 1
      inTok = !sp
      i += 1
    }
    val hs = new Array[Long](count)
    var t = 0
    i = 0
    while (i < n) {
      if (text.charAt(i) != ' ') {
        var h = 0L
        var j = 0
        var k = i
        while (j < 16) {
          val c =
            if (k < n && text.charAt(k) != ' ') {
              val cp = text.codePointAt(k); k += Character.charCount(cp); cp.toLong
            } else 0L
          h = modP(h * base + c)
          j += 1
        }
        hs(t) = h
        t += 1
        while (i < n && text.charAt(i) != ' ') i += 1
      } else i += 1
    }
    hs
  }

  /** Production SimHash fingerprint: 60 bits from two Horner token
    * hashes (30 low bits each of base 257 and base 263), ±1 votes per
    * token OCCURRENCE; −1 sentinel for tokenless text. */
  private[llm] def simhashPoly60(text: String): Long = {
    val h1s = tokenHashes(text, 257L)
    if (h1s.isEmpty) return -1L
    val h2s = tokenHashes(text, 263L)
    val sums = new Array[Int](60)
    var i = 0
    while (i < h1s.length) {
      val h1 = h1s(i)
      val h2 = h2s(i)
      var j = 0
      while (j < 30) {
        sums(j) += (((h1 >> j) & 1L).toInt * 2 - 1)
        sums(30 + j) += (((h2 >> j) & 1L).toInt * 2 - 1)
        j += 1
      }
      i += 1
    }
    var f = 0L
    var j = 0
    while (j < 60) { if (sums(j) > 0) f |= (1L << j); j += 1 }
    f
  }

  /** Distinct mod-p shingle values: token-triple hashes at positions
    * 0..max(0, n−3), absent tokens hashing as '' (value 0). An
    * empty/sub-3-token text still yields its one (possibly partial)
    * shingle, so every document signs. Returned SORTED — consumers only
    * take sizes, mins, and intersections, so the distinct-set order is
    * free and a primitive sort-dedup beats a boxed LinkedHashSet. */
  private[llm] def polyShingles(text: String): Array[Long] = {
    val hs = tokenHashes(text, 257L)
    val n = math.max(1, hs.length - 2)
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) {
      val a = if (i < hs.length) hs(i) else 0L
      val b = if (i + 1 < hs.length) hs(i + 1) else 0L
      val c = if (i + 2 < hs.length) hs(i + 2) else 0L
      buf(i) = modP(modP(a * 1000003L + b) * 1000003L + c)
      i += 1
    }
    java.util.Arrays.sort(buf)
    var w = 0
    var r = 0
    while (r < buf.length) {
      if (r == 0 || buf(r) != buf(r - 1)) { buf(w) = buf(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(buf, w)
  }

  /** Seed tables sized for the PRODUCTION k (64); the k=16 twins index
    * the same prefix, so every historical twin value is unchanged. */
  private lazy val seedsA: Array[Long] = Array.tabulate(NumHashes)(s =>
    (planeInt(1000L + s) + 1073741823L) % (PlaneP - 1) + 1)
  private lazy val seedsB: Array[Long] = Array.tabulate(NumHashes)(s =>
    (planeInt(2000L + s) + 1073741823L) % PlaneP)

  /** k seeded mins over a mod-p shingle-value set — the permutation-min
    * core shared by the production kernel (k=64) and the q206 twins
    * (k=16). */
  private[llm] def modPMins(xs: Array[Long], k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < xs.length) {
      var s = 0
      while (s < k) {
        val h = modP(seedsA(s) * xs(i) + seedsB(s))
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    mins
  }

  /** Band keys over a signature: mins folded `rows` at a time via a
    * base-31 Horner seeded with the band index (mod p — replayable). */
  private[llm] def bandsFromMins(mins: Array[Long], rows: Int): Array[Long] = {
    val nBands = mins.length / rows
    Array.tabulate(nBands) { b =>
      var acc = b.toLong
      var r = 0
      while (r < rows) { acc = modP(acc * 31 + mins(b * rows + r)); r += 1 }
      acc
    }
  }

  /** Band keys from a shingle set: k=16 seeded mins folded into
    * 16/4 = 4 keys via a base-31 Horner seeded with the band index. */
  private[llm] def polyBands(xs: Array[Long]): Array[Long] =
    bandsFromMins(modPMins(xs, MinhashK), PolyBandRows)

  private val polyShinglesUdf = udf((text: String) => polyShingles(text))
  private val polyBandsUdf = udf((xs: Seq[Long]) => polyBands(xs.toArray))

  /** q25's exact shape in replayable arithmetic: banded bucket self-join
    * for candidates (ids only through the shuffle), semi-join the corpus
    * down to surviving candidates, exact integer intersection/union. */
  def minhashPairsExact(s: SparkSession, docs0: DataFrame): DataFrame = {
    val docs = docs0.filter(col("text").isNotNull)
    val sh = docs.select(col("doc_id"), polyShinglesUdf(col("text")).as("xs"))
      .localCheckpoint(false)
    val banded = sh.select(col("doc_id"),
      posexplode(polyBandsUdf(col("xs"))).as(Seq("band", "bh")))
    val cand = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shc = sh.join(candIds, Seq("doc_id"), "left_semi")
    cand
      .join(shc.select(col("doc_id").as("doc_a"), col("xs").as("xa")), Seq("doc_a"))
      .join(shc.select(col("doc_id").as("doc_b"), col("xs").as("xb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("xa"), col("xb"))).cast("long").as("inter"),
        (size(col("xa")) + size(col("xb"))
          - size(array_intersect(col("xa"), col("xb")))).cast("long").as("uni"))
      .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
  }

  private def horner16Sql(col: String, base: Int = 257): String =
    (1 to 16).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * $base + ascii(substr($col, $j, 1))) % $PlaneP)"
    }

  /** The mod-p signature CTE family over relation `src`, CTE names
    * prefixed `p`: tokens → padded triples → distinct shingles → k
    * seeded mins → band keys → shingle counts. One instantiation per
    * signed relation lets the q210/q211 oracles sign a corpus AND a
    * delta with the identical arithmetic the q206 self-join signs
    * `documents` with. */
  private[graft] def modpSigCtes(src: String, p: String,
      k: Int = MinhashK, bandRows: Int = PolyBandRows): String = {
    val mins = (0 until k)
      .map(s => s"MIN((${seedsA(s)} * x + ${seedsB(s)}) % $PlaneP) AS m$s")
      .mkString(",\n          ")
    def bandKey(b: Int): String =
      (0 until bandRows).foldLeft(b.toString) { (acc, r) =>
        s"(($acc * 31 + m${b * bandRows + r}) % $PlaneP)"
      }
    val bands = (0 until k / bandRows)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKey(b)} AS bh FROM ${p}sigs")
      .mkString("\n        UNION ALL ")
    s"""${p}toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        FROM $src WHERE text IS NOT NULL),
      ${p}tok3 AS (
        SELECT doc_id,
               COALESCE(ts[CAST(i AS INTEGER)], '') AS t1,
               COALESCE(ts[CAST(i AS INTEGER) + 1], '') AS t2,
               COALESCE(ts[CAST(i AS INTEGER) + 2], '') AS t3
        FROM ${p}toks, unnest(range(1, greatest(2, len(ts) - 1))) AS u(i)),
      ${p}shing AS MATERIALIZED (
        SELECT DISTINCT doc_id,
          (((${horner16Sql("t1")} * 1000003 + ${horner16Sql("t2")}) % $PlaneP)
            * 1000003 + ${horner16Sql("t3")}) % $PlaneP AS x
        FROM ${p}tok3),
      ${p}sigs AS MATERIALIZED (
        SELECT doc_id,
          $mins
        FROM ${p}shing GROUP BY doc_id),
      ${p}banded AS (
        $bands),
      ${p}cnts AS (SELECT doc_id, COUNT(*) AS n FROM ${p}shing GROUP BY doc_id)"""
  }

  /** The q206 CTE chain (everything up to and incl. `inter`), shared by
    * the q206 final select and the q208 pipeline composition. */
  private def q206Ctes: String =
    s"""${modpSigCtes("documents", "")},
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        FROM cand c JOIN shing sa ON sa.doc_id = c.doc_a
        JOIN shing sb ON sb.doc_id = c.doc_b AND sb.x = sa.x
        GROUP BY c.doc_a, c.doc_b)"""

  private def q206OracleSql: String = s"""WITH ${q206Ctes}
      SELECT c.doc_a, c.doc_b,
             COALESCE(i.i, 0) AS inter,
             ca.n + cb.n - COALESCE(i.i, 0) AS uni
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN cnts ca ON ca.doc_id = c.doc_a
      JOIN cnts cb ON cb.doc_id = c.doc_b
      ORDER BY c.doc_a ASC NULLS FIRST, c.doc_b ASC NULLS FIRST"""

  private val q206 = Q(
    "q206_minhash_oracle",
    (s, dir) => minhashPairsExact(s, T(s, dir, "documents")),
    Some(q206OracleSql),
    "integer-exact MinHash-LSH twin: q25's shingle->seeded-mins->band-bucket-join->verify pipeline in mod-p arithmetic DuckDB replays; banding decisions and exact (inter, uni) both hash-gated")

  // ---- the PRODUCTION minhashPairs replay (q25/q101 direct oracles) ----

  /** CTE chain replaying [[minhashPairs]] decision for decision, ending
    * at `allpairs(doc_a, doc_b, est_jaccard, jaccard)`: md5 exact
    * collapse (linear rep→member pairs at 1.0/1.0), 64 seeded mins +
    * 16 band keys over representatives only, the >1/≤cap bucket rule,
    * signature-agreement estimate (integer count / 64.0 — exact binary
    * division, so the rounded doubles agree bit for bit), and the
    * string-shingle Jaccard verify in the q94 list form. Shared by the
    * q25 oracle and the q101 pipeline composition. */
  private[llm] def prodPairsCtes(src: String = "documents"): String = {
    val agree = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString("\n                 + ")
    s"""${modpSigCtes(src, "", NumHashes, BandRows)},
      hx AS (SELECT doc_id, md5(text) AS h FROM $src),
      rep AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS rep_id FROM hx),
      exactp AS (SELECT rep_id AS doc_a, doc_id AS doc_b FROM rep WHERE doc_id <> rep_id),
      rb AS MATERIALIZED (SELECT b.doc_id, b.band, b.bh FROM banded b
             JOIN rep r ON r.doc_id = b.doc_id WHERE r.doc_id = r.rep_id),
      okb AS (SELECT band, bh FROM rb GROUP BY band, bh
              HAVING COUNT(*) > 1 AND COUNT(*) <= $MaxBucketSize),
      cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM rb a JOIN okb oa ON oa.band = a.band AND oa.bh = a.bh
               JOIN rb b ON b.band = a.band AND b.bh = a.bh AND a.doc_id < b.doc_id),
      est AS (SELECT c.doc_a, c.doc_b,
                round(($agree) / 64.0, 4) AS est_jaccard
              FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
              JOIN sigs sb ON sb.doc_id = c.doc_b),
      cids AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
      ssh AS MATERIALIZED (SELECT d.doc_id,
               CASE WHEN len(d.ws) >= 3 THEN
                 list_distinct([array_to_string(d.ws[i:i+2], ' ')
                                FOR i IN generate_series(1, len(d.ws) - 2)])
               ELSE [d.text] END AS sh
              FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
                    FROM $src) d
              JOIN cids i ON i.doc_id = d.doc_id),
      allpairs AS (
        SELECT e.doc_a, e.doc_b, e.est_jaccard,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        FROM est e JOIN ssh a ON a.doc_id = e.doc_a
        JOIN ssh b ON b.doc_id = e.doc_b
        UNION ALL
        SELECT doc_a, doc_b, 1.0, 1.0 FROM exactp)"""
  }

  private[llm] def q25OracleSql: String = s"""WITH ${prodPairsCtes()}
      SELECT doc_a, doc_b, est_jaccard, jaccard FROM allpairs
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""

  /** String-shingle sets (the production [[shingles]] column) for every
    * doc of `src`, in DuckDB's q94 list form. */
  private def sshAllSql(src: String, name: String): String =
    s"""$name AS (SELECT d.doc_id,
          CASE WHEN len(d.ws) >= 3 THEN
            list_distinct([array_to_string(d.ws[i:i+2], ' ')
                           FOR i IN generate_series(1, len(d.ws) - 2)])
          ELSE [d.text] END AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM $src) d)"""

  /** [[classifyAgainstIndex]] replayed over (corpus `csrc`, delta CTE
    * `delta`): md5 exact precedence, 64-min/16-band probe with the
    * corpus-side hot-bucket cap, string-shingle jaccard ≥ `thrNum/10`
    * filter on identical rounded doubles, and the (jaccard DESC,
    * corpus_id ASC) best-match argmax. Shared by the q135 and q142
    * oracles (the latter adds arrival-wave prefix scoping). */
  private[graft] def classifyOracleCtes(csrc: String): String =
    s"""${modpSigCtes(csrc, "c_", NumHashes, BandRows)},
      ${modpSigCtes("delta", "d_", NumHashes, BandRows)},
      ch AS (SELECT doc_id, md5(text) AS h FROM $csrc),
      dh AS (SELECT doc_id, md5(text) AS h FROM delta),
      ex AS (SELECT d.doc_id, MIN(c.doc_id) AS dup_of
             FROM dh d JOIN ch c ON c.h = d.h GROUP BY d.doc_id),
      hot AS (SELECT band, bh FROM c_banded
              GROUP BY band, bh HAVING COUNT(*) > $MaxBucketSize),
      cand AS (
        SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
        FROM d_banded d
        JOIN c_banded c ON c.band = d.band AND c.bh = d.bh
        LEFT JOIN hot h ON h.band = d.band AND h.bh = d.bh
        LEFT JOIN ex ON ex.doc_id = d.doc_id
        WHERE h.band IS NULL AND ex.doc_id IS NULL),
      ${sshAllSql(csrc, "cssh")},
      ${sshAllSql("delta", "dssh")},
      nearq AS (
        SELECT c.delta_id, c.corpus_id,
               round(CAST(len(list_intersect(ds.sh, cs.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(ds.sh, cs.sh))), 4) AS jaccard
        FROM cand c JOIN dssh ds ON ds.doc_id = c.delta_id
        JOIN cssh cs ON cs.doc_id = c.corpus_id),
      near AS (
        SELECT delta_id AS doc_id, corpus_id AS dup_of, jaccard
        FROM (SELECT *, row_number() OVER (PARTITION BY delta_id
                ORDER BY jaccard DESC, corpus_id ASC) AS rk
              FROM nearq WHERE jaccard >= 0.8)
        WHERE rk = 1),
      cls AS (SELECT doc_id, 'exact' AS kind, dup_of, CAST(1.0 AS DOUBLE) AS jaccard FROM ex
              UNION ALL SELECT doc_id, 'near', dup_of, jaccard FROM near)"""

  /** q135's oracle (direct since r14): the production incremental probe
    * replayed end to end over the planted delta. */
  private def q135OracleSql: String = s"""WITH delta AS (
      ${plantedDeltaSql}),
      ${classifyOracleCtes("documents")}
      SELECT d.doc_id, COALESCE(c.kind, 'unique') AS kind, c.dup_of, c.jaccard
      FROM delta d LEFT JOIN cls c ON c.doc_id = d.doc_id
      ORDER BY d.doc_id ASC NULLS FIRST"""

  // ---- dedup pipeline capstone under the ORACLE gate -------------------

  /** q208: the FULL dedup pipeline — candidate pairs → threshold →
    * connected components → canonical keep flags — end-to-end under the
    * hash gate. q101 (the production capstone) is hash-gated directly
    * since r14 on its rounded double Jaccards; this twin chains the q206
    * pair kernel (k = 16 mins, same code path), the Jaccard ≥ 0.7 edge
    * test on the integer (inter, uni) (10·inter ≥ 7·uni), and the q82
    * large-star/small-star components
    * over the resulting edge set, emitting per document its cluster
    * representative and the keep flag a dedup system writes to the
    * catalog. The oracle replays pairs via the q206 SQL and the closure
    * via the q82 recursive CTE — so banding, verification arithmetic,
    * clustering, AND canonical selection are all pinned at once. */
  def dedupPipelineExact(s: SparkSession, docs0: DataFrame): DataFrame = {
    val pairs = minhashPairsExact(s, docs0)
    val edges = pairs
      .filter(lit(10L) * col("inter") >= lit(7L) * col("uni"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val nodes = docs0.select(col("doc_id").as("node"))
    graft.ops.Graph.connectedComponents(nodes, edges)
      .select(col("node").as("doc_id"), col("component"),
        (col("node") === col("component")).as("keep"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  /** q206's pair derivation plus the q82 reachability closure — the CTE
    * chain ending at `comp(doc_id, component)`. Shared by the q208 final
    * select and the q209 training-shards composition in [[Pipeline]]. */
  private[llm] def dedupCompCtes: String =
    s"""${q206Ctes},
      pairs AS (
        SELECT c.doc_a, c.doc_b,
               COALESCE(i.i, 0) AS inter, ca.n + cb.n - COALESCE(i.i, 0) AS uni
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN cnts ca ON ca.doc_id = c.doc_a
        JOIN cnts cb ON cb.doc_id = c.doc_b),
      edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE 10*inter >= 7*uni),
      -- MATERIALIZED: reach's recursive term re-evaluates inlined CTE
      -- references PER ITERATION in DuckDB — without this the whole
      -- pair-derivation chain re-runs every closure step
      ud AS MATERIALIZED (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      reach AS (SELECT doc_id AS src, doc_id AS dst FROM documents
                UNION
                SELECT r.src, ud.b FROM reach r JOIN ud ON ud.a = r.dst),
      comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)"""

  private def q208OracleSql: String = {
    // q206's pair derivation verbatim (shared CTE chain), then the q82
    // reachability closure over the thresholded edge set.
    s"""WITH RECURSIVE ${dedupCompCtes}
      SELECT doc_id, component, doc_id = component AS keep
      FROM comp ORDER BY doc_id ASC NULLS FIRST"""
  }

  private val q208 = Q(
    "q208_dedup_pipeline_oracle",
    (s, dir) => dedupPipelineExact(s, T(s, dir, "documents")),
    Some(q208OracleSql),
    "dedup pipeline capstone twin: q206 mod-p pairs -> integer Jaccard>=0.7 edges -> q82 components -> canonical keep flags, the whole chain hash-gated")

  // ---- incremental probe kernel under the ORACLE gate ------------------

  /** Twin of [[deltaSignatures]]: one materialized (doc_id, h = md5
    * text, xs = mod-p shingle set) pass per batch. Production keeps the
    * 64 mins (16 bands); this keeps the shingle set, from which
    * [[indexFramesExact]] derives q206's k = 16 bands and the verify step
    * of q210/q211 its integer Jaccard, published as `jq`. */
  def deltaSignaturesExact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
      polyShinglesUdf(col("text")).as("xs")).localCheckpoint(false)

  /** The (hash, band) index rows from [[deltaSignaturesExact]] output —
    * the mod-p sibling of [[indexFrames]]. */
  def indexFramesExact(sigs: DataFrame): (DataFrame, DataFrame) =
    (sigs.select(col("doc_id"), col("h")),
      sigs.select(col("doc_id"), posexplode(polyBandsUdf(col("xs"))).as(Seq("band", "bh"))))

  /** [[classifyAgainstIndex]]'s decision sequence — exact-hash
    * precedence, hot-bucket-capped band probe, best-match selection —
    * in arithmetic DuckDB replays: md5 for the exact hit, the q206
    * mod-p banding for candidates, integer (inter, uni) with the
    * threshold 0.8 as 5·inter ≥ 4·uni, and the match quality quantized
    * to jq = (10⁶·inter) div uni so the argmax (jq desc, corpus_id
    * asc) is float-free on both engines. The index is three standing
    * frames — (doc_id, h), (doc_id, band, bh), (doc_id, xs) — exactly
    * the signature-store shape [[classifyAgainstIndex]] probes. */
  def classifyAgainstIndexExact(delta: DataFrame, idxHashes: DataFrame,
      idxBands: DataFrame, idxShingles: DataFrame,
      maxBucket: Int = MaxBucketSize,
      precomputedSigs: Option[DataFrame] = None,
      sorted: Boolean = true): DataFrame = {
    val sigs = precomputedSigs.getOrElse(deltaSignaturesExact(delta))
    val exactHit = sigs.alias("d").join(idxHashes.alias("c"), col("d.h") === col("c.h"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(min(col("c.doc_id")).as("dup_of"))
      .withColumn("kind", lit("exact")).withColumn("jq", lit(1000000L))
    val probe = sigs.join(exactHit.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), posexplode(polyBandsUdf(col("xs"))).as(Seq("band", "bh")))
    val hot = idxBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
      .select(col("band"), col("bh"))
    val cand = probe.alias("d")
      .join(hot, Seq("band", "bh"), "left_anti")
      .join(idxBands.alias("c"), Seq("band", "bh"))
      .select(col("d.doc_id").as("delta_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val shD = sigs.select(col("doc_id").as("delta_id"), col("xs").as("sh_d"))
    val shC = idxShingles.select(col("doc_id").as("corpus_id"), col("xs").as("sh_c"))
    val nearHit = cand.join(shD, Seq("delta_id")).join(shC, Seq("corpus_id"))
      .select(col("delta_id"), col("corpus_id"),
        size(array_intersect(col("sh_d"), col("sh_c"))).cast("long").as("inter"),
        (size(col("sh_d")) + size(col("sh_c"))
          - size(array_intersect(col("sh_d"), col("sh_c")))).cast("long").as("uni"))
      .filter(lit(5L) * col("inter") >= lit(4L) * col("uni"))
      .select(col("delta_id"), col("corpus_id"),
        expr("(1000000 * inter) div uni").as("jq"))
      .groupBy(col("delta_id").as("doc_id"))
      .agg(max(struct(col("jq"), (-col("corpus_id")).as("negid"))).as("best"))
      .select(col("doc_id"), (-col("best.negid")).as("dup_of"),
        lit("near").as("kind"), col("best.jq").as("jq"))
    val classified = exactHit.select(col("doc_id"), col("kind"), col("dup_of"), col("jq"))
      .unionByName(nearHit.select(col("doc_id"), col("kind"), col("dup_of"), col("jq")))
    val out = delta.select(col("doc_id"))
      .join(classified, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("kind"), lit("unique")).as("kind"),
        col("dup_of"), col("jq"))
    // sorted=false: see classifyAgainstIndex — q211's streaming path
    // re-sorts once at the final read; the per-batch sort was pure cost
    if (sorted) out.orderBy(asc_nulls_first("doc_id")) else out
  }

  /** [[incrementalDedup]]'s shape with the exact kernel: the standing
    * index is built from the corpus frame once (checkpointed), the
    * delta probes it. */
  def incrementalDedupExact(s: SparkSession, corpus: DataFrame,
      delta: DataFrame): DataFrame = {
    val corpusSigs = deltaSignaturesExact(corpus)
    val (ch, cb) = indexFramesExact(corpusSigs)
    classifyAgainstIndexExact(delta, ch, cb.localCheckpoint(false),
      corpusSigs.select(col("doc_id"), col("xs")))
  }

  /** Planted-family id offsets are SPAN-DERIVED (r14): family k lives
    * at [(k+1)·span, (k+2)·span) where span = max(doc_id)+1. The earlier
    * CONSTANT offsets (+500000/+600000/+700000) silently collided once
    * the corpus span passed 100k — at sf10 the near and exact families
    * overlapped each other (and q101's +300000 family overlapped the
    * corpus itself), planting duplicate doc_ids that the sf10 law gate
    * caught. Span-multiples are collision-free at EVERY scale. */
  private[graft] def docSpan(docs: DataFrame): Long = {
    val row = docs.agg(max(col("doc_id"))).head()
    require(!row.isNullAt(0), "docSpan: documents frame is empty (no doc_id to span)")
    row.getLong(0) + 1
  }

  /** The span scalar of [[docSpan]] as a broadcastable ONE-ROW frame
    * (`_span` = max(doc_id)+1) — planted-family derivations cross-join
    * it instead of calling docSpan(), which was a separate driver action
    * (agg + head) per query invocation (r17; guide §1.2 action folding).
    * Same arithmetic, same span-multiple offsets; on an EMPTY corpus the
    * planted branches are empty either way (docSpan's require() used to
    * throw there — a dev guard, not a declared behavior). */
  private[graft] def spanFrame(docs: DataFrame): DataFrame =
    broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("_span")))

  /** `(k+1)·span` as a SQL scalar over `documents` (the oracle's form
    * of the same offset rule). */
  private def spanOffSql(k: Int): String =
    s"($k + 1) * (SELECT MAX(doc_id) + 1 FROM documents)"

  /** The q135 planted delta (near / exact / reversed-unique families)
    * as SQL over `documents` — byte-identical text construction on both
    * engines. */
  private[llm] def plantedDeltaSql: String =
    s"""SELECT doc_id + ${spanOffSql(1)} AS doc_id,
             text || ' appended near dup suffix' AS text
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + ${spanOffSql(2)}, text FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + ${spanOffSql(3)},
             array_to_string(list_reverse(string_split(text, ' ')), ' ')
      FROM documents WHERE doc_id % 100 = 0"""

  /** The same planted delta as a frame (q135's construction verbatim). */
  private[llm] def plantedDelta(corpus: DataFrame): DataFrame = {
    val span = spanFrame(corpus)
    val near = corpus.filter(col("doc_id") % 20 === 0).crossJoin(span)
      .select((col("doc_id") + lit(2L) * col("_span")).as("doc_id"),
        concat(col("text"), lit(" appended near dup suffix")).as("text"))
    val exact = corpus.filter(col("doc_id") % 50 === 0).crossJoin(span)
      .select((col("doc_id") + lit(3L) * col("_span")).as("doc_id"), col("text"))
    val fresh = corpus.filter(col("doc_id") % 100 === 0).crossJoin(span)
      .select((col("doc_id") + lit(4L) * col("_span")).as("doc_id"),
        array_join(reverse(split(col("text"), " ")), " ").as("text"))
    near.unionByName(exact).unionByName(fresh)
  }

  /** q210: q135's incremental probe under the hash gate — the same
    * planted delta, classified against the corpus index by
    * [[classifyAgainstIndexExact]], with DuckDB replaying every
    * decision: the md5 exact hit (earliest corpus doc), the hot-bucket
    * cap, the band-probe candidate set, the integer Jaccard threshold,
    * and the quantized best-match argmax. */
  private def q210OracleSql: String = s"""WITH delta AS (
      ${plantedDeltaSql}),
      ${modpSigCtes("documents", "c_")},
      ${modpSigCtes("delta", "d_")},
      ch AS (SELECT doc_id, md5(text) AS h FROM documents),
      dh AS (SELECT doc_id, md5(text) AS h FROM delta),
      ex AS (SELECT d.doc_id, MIN(c.doc_id) AS dup_of
             FROM dh d JOIN ch c ON c.h = d.h GROUP BY d.doc_id),
      hot AS (SELECT band, bh FROM c_banded
              GROUP BY band, bh HAVING COUNT(*) > $MaxBucketSize),
      cand AS (
        SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
        FROM d_banded d
        JOIN c_banded c ON c.band = d.band AND c.bh = d.bh
        LEFT JOIN hot h ON h.band = d.band AND h.bh = d.bh
        LEFT JOIN ex ON ex.doc_id = d.doc_id
        WHERE h.band IS NULL AND ex.doc_id IS NULL),
      iw AS (SELECT c.delta_id, c.corpus_id, COUNT(*) AS i
             FROM cand c JOIN d_shing sd ON sd.doc_id = c.delta_id
             JOIN c_shing sc ON sc.doc_id = c.corpus_id AND sc.x = sd.x
             GROUP BY c.delta_id, c.corpus_id),
      nearq AS (
        SELECT c.delta_id, c.corpus_id,
               COALESCE(iw.i, 0) AS i, dn.n + cn.n - COALESCE(iw.i, 0) AS u
        FROM cand c
        LEFT JOIN iw ON iw.delta_id = c.delta_id AND iw.corpus_id = c.corpus_id
        JOIN d_cnts dn ON dn.doc_id = c.delta_id
        JOIN c_cnts cn ON cn.doc_id = c.corpus_id),
      near AS (
        SELECT delta_id AS doc_id, corpus_id AS dup_of, (1000000 * i) // u AS jq
        FROM (SELECT *, row_number() OVER (PARTITION BY delta_id
                ORDER BY (1000000 * i) // u DESC, corpus_id ASC) AS rk
              FROM nearq WHERE 5 * i >= 4 * u)
        WHERE rk = 1),
      cls AS (SELECT doc_id, 'exact' AS kind, dup_of, CAST(1000000 AS BIGINT) AS jq FROM ex
              UNION ALL SELECT doc_id, 'near', dup_of, jq FROM near)
      SELECT d.doc_id, COALESCE(c.kind, 'unique') AS kind, c.dup_of, c.jq
      FROM delta d LEFT JOIN cls c ON c.doc_id = d.doc_id
      ORDER BY d.doc_id ASC NULLS FIRST"""

  private val q210 = Q(
    "q210_incremental_dedup_oracle",
    (s, dir) => {
      val corpus = T(s, dir, "documents").select(col("doc_id"), col("text"))
      incrementalDedupExact(s, corpus, plantedDelta(corpus))
    },
    Some(q210OracleSql),
    "incremental dedup twin: q135's planted delta classified vs the corpus index — md5 exact precedence, mod-p band probe, hot-bucket cap, integer Jaccard + quantized argmax, all hash-gated")

  // ---- SimHash under the ORACLE gate (q26's integer-exact twin) --------

  /** q207, q26's twin (q26's 60-bit two-Horner SimHash is hash-gated
    * directly since r14; Charikar 2002 random-hyperplane rounding;
    * chunk-bucket search: Manku et al. 2007, "Detecting near-duplicates
    * for web crawling"): the same pipeline — per-token fingerprint vote,
    * chunk-bucketed self-join, hamming verify — over the 30-bit mod-p
    * fingerprint (one Horner base) both engines
    * compute identically: token hash = the q206 16-char Horner, bit j
    * votes Σ(±1) over token OCCURRENCES (multiplicity counts, ties → 0),
    * three 10-bit chunks bucket candidates, and the emitted radius is
    * ham ≤ 2 — exactly the radius 3 chunks make pigeonhole-COMPLETE, so
    * the output is a closed-form set, not a recall sample. ham is
    * bit_count(xor) — pure integer — and rides the map-side joined row
    * (q25's trick: only (doc_a, doc_b, ham) scalars shuffle). */
  private[llm] def simhashPoly(text: String): Long = {
    val ts = text.split(" ").filter(_.nonEmpty)
    if (ts.isEmpty) return -1L
    val sums = new Array[Int](30)
    var i = 0
    while (i < ts.length) {
      val h = tokHashPoly(ts(i))
      var j = 0
      while (j < 30) { sums(j) += (((h >> j) & 1L).toInt * 2 - 1); j += 1 }
      i += 1
    }
    var f = 0L
    var j = 0
    while (j < 30) { if (sums(j) > 0) f |= (1L << j); j += 1 }
    f
  }

  private val simhashPolyUdf = udf((text: String) => simhashPoly(text))

  def simhashPairsExact(s: SparkSession, docs0: DataFrame): DataFrame = {
    val docs = docs0.filter(col("text").isNotNull)
    // -1 sentinel = tokenless doc (the oracle's no-tokens group-by drop)
    val fp = docs.select(col("doc_id"), simhashPolyUdf(col("text")).as("f"))
      .filter(col("f") >= 0)
      .localCheckpoint(false)
    val chunks = fp.select(col("doc_id"), col("f"), posexplode(expr(
      "array(f & 1023, shiftright(f, 10) & 1023, shiftright(f, 20) & 1023)"))
      .as(Seq("c", "cv")))
    chunks.alias("a").join(chunks.alias("b"),
        col("a.c") === col("b.c") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("cast(bit_count(a.f ^ b.f) AS bigint)").as("ham"))
      .filter(col("ham") <= 2)
      .distinct()
      .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
  }

  private def q207OracleSql: String = s"""WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        FROM documents WHERE text IS NOT NULL),
      th AS (
        SELECT doc_id, ${horner16Sql("u.t")} AS h
        FROM toks, unnest(ts) AS u(t)),
      bits AS (
        SELECT doc_id, j.j,
               CASE WHEN SUM(((h >> CAST(j.j AS INTEGER)) & 1) * 2 - 1) > 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
        FROM th, (SELECT unnest(range(0, 30)) AS j) j
        GROUP BY doc_id, j.j),
      fp AS (
        SELECT doc_id, SUM(b * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS f
        FROM bits GROUP BY doc_id),
      chunks AS (
        SELECT doc_id, c.c, (f >> CAST(c.c * 10 AS INTEGER)) & 1023 AS cv
        FROM fp, (SELECT unnest(range(0, 3)) AS c) c),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM chunks a JOIN chunks b
          ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(fa.f, fb.f)) AS BIGINT) AS ham
      FROM cand c
      JOIN fp fa ON fa.doc_id = c.doc_a
      JOIN fp fb ON fb.doc_id = c.doc_b
      WHERE bit_count(xor(fa.f, fb.f)) <= 2
      ORDER BY c.doc_a ASC NULLS FIRST, c.doc_b ASC NULLS FIRST"""

  private val q207 = Q(
    "q207_simhash_oracle",
    (s, dir) => simhashPairsExact(s, T(s, dir, "documents")),
    Some(q207OracleSql),
    "integer-exact SimHash twin: 30-bit mod-p fingerprint vote, 3x10-bit chunk buckets, pigeonhole-complete ham<=2 pairs — bucketing and hamming verify both hash-gated")

  // ---- LSH near-dup under the ORACLE gate (q27's integer-exact twin) ----

  /** q27/q30 are rows-only because both the Gaussian hyperplanes (seeded
    * driver RNG) and the float cosine are engine-specific (sign-random
    * -projection LSH: Charikar 2002; multi-table amplification:
    * Indyk & Motwani 1998). q205 (pairs) and q234 (top-k readout) run the
    * IDENTICAL pipeline shape — plant, bucket (posexplode + table/bucket
    * self-join), verify — in arithmetic DuckDB replays bit-for-bit:
    * vectors floor-quantized to integers, hyperplane weights from a
    * squared-LCG mix mod 2³¹−1 (pure BIGINT ops; measured near-uniform:
    * max bucket 5 at sf0.01 vs the affine LCG's 10× skew), and the
    * cos ≥ 0.9 predicate cleared of floats entirely:
    * 100·dot² ≥ 81·|a|²·|b|² ∧ dot > 0 in int64 (max term ~3e16 < 2⁶³).
    * All 5 planted pairs are recovered at the q205 table config
    * (6×12 ≈ 62% recall/pair at cos .999 — each planted pair must
    * collide in ≥1 of 6 tables; both engines agree on WHICH collide). */
  val TablesExact = 6
  val BitsExact = 12
  private lazy val planesInt: Array[Array[Long]] =
    Array.tabulate(TablesExact * BitsExact)(tj =>
      Array.tabulate(Dim)(d => planeInt(tj.toLong * Dim + d)))

  private val lshKeysIntUdf = udf((v: Seq[Long]) => {
    val arr = v.toArray
    val keys = new Array[Long](TablesExact)
    var t = 0
    while (t < TablesExact) {
      var key = 0L
      var j = 0
      while (j < BitsExact) {
        val pl = planesInt(t * BitsExact + j)
        var dot = 0L
        var d = 0
        val n = math.min(arr.length, pl.length)
        while (d < n) { dot += arr(d) * pl(d); d += 1 }
        if (dot > 0) key |= (1L << j)
        j += 1
      }
      keys(t) = key
      t += 1
    }
    keys
  })

  /** [[plantedNearDups]] in integer-exact arithmetic: same planting
    * (vec_id < 5 copies shifted +0.02, ids +span), same bucket
    * self-join shape, verification by the float-free threshold. Output
    * carries the raw integer dot so the hash gate pins the verification
    * arithmetic, not just the surviving ids.
    *
    * Both engines quantize into a FIXED [[Dim]]-slot layout (missing
    * dims as 0, extras dropped), so a ragged-length fixture perturbs
    * neither engine and every downstream dot is over equal-length
    * lists. Quantized norms are guarded below [[MaxNorm2]] — the bound
    * under which 100·dot² and 81·na²·nb² both fit in int64 (Cauchy-
    * Schwarz: |dot| ≤ √(na²·nb²)) — so an out-of-range fixture fails
    * LOUDLY on the Spark side the way DuckDB's BIGINT overflow does,
    * instead of wrapping silently into wrong pairs. */
  val MaxNorm2 = 300000000L // 100·(3e8)² = 9e18 < Long.Max
  def embeddingNearDupsExact(s: SparkSession, emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val un = base.unionByName(
      base.filter(col("vec_id") < 5)
        .select((col("vec_id") + lit(vecSpan(base))).as("vec_id"),
          transform(col("e"), x => x + lit(0.02)).as("e")))
    val iv = un.select(col("vec_id"),
      expr(s"transform(sequence(1, $Dim), i -> cast(floor(coalesce(try_element_at(e, i), 0d) * 1000d) AS bigint))").as("v"))
    val bucketed = iv
      .select(col("vec_id"), posexplode(lshKeysIntUdf(col("v"))).as(Seq("table", "bucket")))
      .localCheckpoint(false)
    val pairIds = bucketed.alias("a").join(bucketed.alias("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val dotL = "aggregate(zip_with(%s, %s, (x, y) -> x * y), 0L, (acc, z) -> acc + z)"
    pairIds
      .join(iv.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(iv.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr(dotL.format("va", "vb")).as("dot"),
        expr(dotL.format("va", "va")).as("na2"),
        expr(dotL.format("vb", "vb")).as("nb2"))
      // overflow guard inside the filter (not a dropped column Catalyst
      // could prune): assert_true is NULL when the bound holds, raises
      // when it doesn't — mirroring DuckDB's loud BIGINT overflow
      .filter(assert_true(col("na2") <= MaxNorm2 && col("nb2") <= MaxNorm2,
          lit(s"quantized norm exceeds MaxNorm2=$MaxNorm2: int64 threshold would overflow")).isNull &&
        col("dot") > 0 &&
        lit(100L) * col("dot") * col("dot") >= lit(81L) * col("na2") * col("nb2"))
      .select(col("id_a"), col("id_b"), col("dot"))
      .orderBy(asc_nulls_first("id_a"), asc_nulls_first("id_b"))
  }

  private val q205 = Q(
    "q205_lsh_neardup_oracle",
    (s, dir) => embeddingNearDupsExact(s, T(s, dir, "embeddings")),
    Some(s"""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      un AS (
        SELECT vec_id, e FROM base
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
               list_transform(e, x -> x + CAST(0.02 AS DOUBLE))
        FROM base WHERE vec_id < 5),
      -- fixed $Dim-slot quantization (missing dims 0, extras dropped),
      -- identical to the Spark side's sequence(1, $Dim) layout — every
      -- downstream dot is over equal-length lists on BOTH engines even
      -- on a ragged-length fixture
      iv AS (SELECT vec_id,
               list_transform(range(1, ${Dim + 1}),
                 i -> floor(coalesce(e[CAST(i AS INTEGER)], 0) * 1000)) AS v
             FROM un),
      -- plane weights at FLAT index tj*$Dim + d (the Spark side's fixed
      -- $Dim-slot layout)
      pl AS (
        SELECT tjs.tj, ds.d,
          (((((tjs.tj * $Dim + ds.d + 1) * 2654435761) % $PlaneP)
              * (((tjs.tj * $Dim + ds.d + 1) * 2654435761) % $PlaneP) % $PlaneP)
            * 1103515245 + 12345) % $PlaneP - ${(PlaneP - 1) / 2} AS w
        FROM (SELECT unnest(range(0, ${TablesExact * BitsExact})) AS tj) tjs,
             (SELECT unnest(range(0, $Dim)) AS d) ds),
      pls AS (
        SELECT tj, list(CAST(w AS DOUBLE) ORDER BY d) AS pw
        FROM pl GROUP BY tj),
      bits AS (
        SELECT iv.vec_id, pls.tj // $BitsExact AS t, pls.tj % $BitsExact AS j,
               CASE WHEN list_dot_product(iv.v, pls.pw) > 0 THEN 1 ELSE 0 END AS bit
        FROM iv CROSS JOIN pls),
      keys AS (
        SELECT vec_id, t, SUM(bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS bucket
        FROM bits GROUP BY vec_id, t),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM keys a JOIN keys b
          ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      sc AS (
        SELECT c.id_a, c.id_b,
               CAST(list_dot_product(va.v, vb.v) AS BIGINT) AS dot,
               CAST(list_dot_product(va.v, va.v) AS BIGINT) AS na2,
               CAST(list_dot_product(vb.v, vb.v) AS BIGINT) AS nb2
        FROM cand c
        JOIN iv va ON va.vec_id = c.id_a
        JOIN iv vb ON vb.vec_id = c.id_b)
      SELECT id_a, id_b, dot FROM sc
      WHERE dot > 0 AND 100 * dot * dot >= 81 * na2 * nb2
      ORDER BY id_a ASC NULLS FIRST, id_b ASC NULLS FIRST"""),
    "integer-exact LSH near-dup twin: q27's plant+bucket+verify pipeline with SQL-replayable squared-LCG hyperplanes and a float-free cosine threshold (100 dot^2 >= 81 |a|^2 |b|^2)")

  /** q234: q30's LSH ANN top-k under the ORACLE gate — q205 gated the
    * hyperplane bucketing; this composes the SAME integer-exact buckets
    * with the top-k READOUT (candidate gathering across tables, ranked
    * scoring, per-query row_number cut), so the whole q30 pipeline shape
    * is hash-checked, not just its kernel. The rank key is a float-free
    * quantized cosine: signed (10000·dot²) div (|a|²·|b|²) — basis
    * points of cos², monotone in cosine for dot ≥ 0, sign-corrected for
    * negatives; pure int64 in both engines (guarded below
    * [[MaxNormTopk2]], the bound under which 10000·dot² fits). Ties
    * break on vid. Zero-norm vectors are unscoreable and excluded.
    *
    * Scale shape: identical to q30 — candidates come only from bucket
    * collisions (never all-pairs), the query side (5 vectors × tables)
    * rides a broadcast, and the shuffles carry (qid, vid) ids plus
    * scalar scores. */
  val MaxNormTopk2 = 30000000L // 10000·(3e7)² = 9e18 < Long.Max
  def annTopKExact(s: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = emb.select(col("vec_id"),
      col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val iv = base.select(col("vec_id"),
      expr(s"transform(sequence(1, $Dim), i -> cast(floor(coalesce(try_element_at(e, i), 0d) * 1000d) AS bigint))").as("v"))
    val bucketed = iv
      .select(col("vec_id"), posexplode(lshKeysIntUdf(col("v"))).as(Seq("table", "bucket")))
      .localCheckpoint(false)
    val qb = bucketed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("table"), col("bucket"))
    val candIds = bucketed.join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("vid"))
      .distinct()
    val dotL = "aggregate(zip_with(%s, %s, (x, y) -> x * y), 0L, (acc, z) -> acc + z)"
    val scored = candIds
      .join(iv.select(col("vec_id").as("qid"), col("v").as("va")), Seq("qid"))
      .join(iv.select(col("vec_id").as("vid"), col("v").as("vb")), Seq("vid"))
      .select(col("qid"), col("vid"),
        expr(dotL.format("va", "vb")).as("dot"),
        expr(dotL.format("va", "va")).as("na2"),
        expr(dotL.format("vb", "vb")).as("nb2"))
      .filter(assert_true(col("na2") <= MaxNormTopk2 && col("nb2") <= MaxNormTopk2,
          lit(s"quantized norm exceeds MaxNormTopk2=$MaxNormTopk2: int64 score would overflow")).isNull &&
        col("na2") > 0 && col("nb2") > 0)
      .select(col("qid"), col("vid"),
        (when(col("dot") >= 0, lit(1L)).otherwise(lit(-1L)) *
          expr("(10000 * dot * dot) div (na2 * nb2)")).as("score_bp"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc("score_bp"), asc_nulls_first("vid"))
    // rnk cast to BIGINT: Spark row_number is int32, DuckDB's is int64
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy(asc_nulls_first("qid"), asc("rnk"))
  }

  private val q234 = Q(
    "q234_lsh_topk_oracle",
    (s, dir) => annTopKExact(s, T(s, dir, "embeddings"), 10),
    Some(s"""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      iv AS (SELECT vec_id,
               list_transform(range(1, ${Dim + 1}),
                 i -> floor(coalesce(e[CAST(i AS INTEGER)], 0) * 1000)) AS v
             FROM base),
      pl AS (
        SELECT tjs.tj, ds.d,
          (((((tjs.tj * $Dim + ds.d + 1) * 2654435761) % $PlaneP)
              * (((tjs.tj * $Dim + ds.d + 1) * 2654435761) % $PlaneP) % $PlaneP)
            * 1103515245 + 12345) % $PlaneP - ${(PlaneP - 1) / 2} AS w
        FROM (SELECT unnest(range(0, ${TablesExact * BitsExact})) AS tj) tjs,
             (SELECT unnest(range(0, $Dim)) AS d) ds),
      pls AS (
        SELECT tj, list(CAST(w AS DOUBLE) ORDER BY d) AS pw
        FROM pl GROUP BY tj),
      bits AS (
        SELECT iv.vec_id, pls.tj // $BitsExact AS t, pls.tj % $BitsExact AS j,
               CASE WHEN list_dot_product(iv.v, pls.pw) > 0 THEN 1 ELSE 0 END AS bit
        FROM iv CROSS JOIN pls),
      keys AS (
        SELECT vec_id, t, SUM(bit * (CAST(1 AS BIGINT) << CAST(j AS INTEGER))) AS bucket
        FROM bits GROUP BY vec_id, t),
      cand AS (
        SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
        FROM keys q JOIN keys c
          ON q.t = c.t AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      sc AS (
        SELECT cand.qid, cand.vid,
               CAST(list_dot_product(va.v, vb.v) AS BIGINT) AS dot,
               CAST(list_dot_product(va.v, va.v) AS BIGINT) AS na2,
               CAST(list_dot_product(vb.v, vb.v) AS BIGINT) AS nb2
        FROM cand
        JOIN iv va ON va.vec_id = cand.qid
        JOIN iv vb ON vb.vec_id = cand.vid
        WHERE CAST(list_dot_product(va.v, va.v) AS BIGINT) > 0
          AND CAST(list_dot_product(vb.v, vb.v) AS BIGINT) > 0),
      scb AS (
        SELECT qid, vid,
               CASE WHEN dot >= 0 THEN (10000 * dot * dot) // (na2 * nb2)
                    ELSE -((10000 * dot * dot) // (na2 * nb2)) END AS score_bp
        FROM sc),
      rk AS (
        SELECT qid, vid, score_bp,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score_bp DESC, vid ASC NULLS FIRST) AS rnk
        FROM scb)
      SELECT qid, vid, score_bp, rnk FROM rk WHERE rnk <= 10
      ORDER BY qid ASC NULLS FIRST, rnk ASC"""),
    "LSH ANN top-k under the oracle gate: q205's integer-exact hyperplane buckets + candidate gather + float-free quantized-cos^2 ranking — the whole q30 pipeline shape hash-checked")

  // ---- containment detection via winnowing fingerprints -----------------

  private val winnowUdf = udf((text: String) => Hashing.winnow(text, WinnowK, WinnowW))
  val WinnowK = 8 // char k-gram size
  val WinnowW = 16 // winnowing window (guarantee: shared substrings ≥ w+k-1 chars)
  /** FLOOR of the corpus document-frequency cap above which a
    * fingerprint is treated as boilerplate and ignored (MOSS's
    * common-fingerprint suppression). The effective cap is
    * max(this, n_docs/512) — scale-relative, because 8-char grams of
    * common words are legitimately frequent in a large corpus (measured
    * at sf10: a FIXED 128 cap starved 90% of probes of every
    * fingerprint, while a ~1024 cap keeps 98.5% of probes and still
    * cuts the fp join from 335 M to 38 M rows; the 1024 floor also
    * keeps sf1-scale corpora un-starved, where n/512 alone would fall
    * back to a starving 128). Never binds below 1024 docs, so the
    * small-sf oracle fixtures see pre-cap semantics unchanged. */
  val WinnowDfCap = 1024L

  /** Containment (doc-inside-doc) detection — the near-dup case MinHash
    * misses when lengths differ a lot (an excerpt's Jaccard vs its source
    * is tiny, but its fingerprint CONTAINMENT is ~1). Each side computes
    * its winnowing fingerprint set map-side ([[Hashing.winnow]]); the join
    * is an equi-join on the fingerprint value.
    *
    * `probesBounded` is the caller's assertion that the probe set has a
    * FIXED size (a handful of query documents, not a corpus fraction):
    * only then is the exploded probe side broadcast-hinted so the corpus
    * side never shuffles. By default the hint is absent — the fp equi-join
    * plans as a co-partitioned shuffle (the correct shape when probes grow
    * with the corpus, e.g. q92's every-50th-doc derivation, where a forced
    * broadcast would grow linearly and OOM executors) and AQE is still
    * free to pick a broadcast at runtime from the ACTUAL probe size.
    *
    * Corpus-ubiquitous fingerprints are IGNORED (r15): a fingerprint in
    * more than [[WinnowDfCap]] corpus documents is boilerplate with zero
    * containment signal, exactly the MOSS rule (Schleimer et al. §5
    * suppress overly common fingerprints at query time) with a
    * scale-relative cap max([[WinnowDfCap]], n_docs/512). This is also
    * the scale bound — without it the fp equi-join is quadratic-ish in
    * practice (measured at sf10: 335 M (probe, doc) intermediate pairs,
    * 56 s of q92's 73 s, with hot grams like common word boundaries
    * matching ~1 755 docs each); with it a probe fp contributes at most
    * DfCap candidates, so candidates/probe ≤ n_fp·DfCap independent of
    * corpus size — the hot-bucket-cap pattern the LSH banding path uses.
    * The cap prunes BOTH sides (index and probe denominator), so
    * containment reads "fraction of informative probe fps shared".
    *
    * Returns, for each probe doc, the best-containment corpus doc:
    * (probe_id, matched_id, containment = |shared fps| / |probe fps|). */
  def winnowBestContainment(probes: DataFrame, corpus: DataFrame,
      probesBounded: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base0 = corpus.select(col("doc_id"), explode(winnowUdf(col("text"))).as("fp"))
      // feeds the hot-fp count AND the pruned index — one signing pass
      .localCheckpoint(false)
    // fps over the df cap: ≤ |corpus fps| / cap rows by construction,
    // always broadcastable. The scale-relative cap max(WinnowDfCap,
    // n_docs/512) is computed IN-PLAN (broadcast one-row aggregate +
    // cross join) rather than via corpus.count() on the driver — same
    // arithmetic (integer division on a non-negative count), one fewer
    // action and one fewer scheduled pass per invocation (r17; guide
    // §1.2 action folding)
    val nDocs = corpus.agg(count(lit(1)).as("_n_docs"))
    val hot = base0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > greatest(lit(WinnowDfCap.toLong),
        floor(col("_n_docs") / 512).cast("long")))
      .select(col("fp"))
    val base = base0.join(broadcast(hot), Seq("fp"), "left_anti")
    val ex = probes
      .select(col("probe_id"), explode(winnowUdf(col("text"))).as("fp"))
      .join(broadcast(hot), Seq("fp"), "left_anti")
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy(col("probe_id"))))
    val scored = base.join(if (probesBounded) broadcast(ex) else ex, Seq("fp"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"), first(col("n_fp")).as("n_fp"))
      .select(col("probe_id"), col("doc_id").as("matched_id"),
        round(col("shared").cast(DoubleType) / col("n_fp"), 4).as("containment"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc_nulls_last("containment"), asc_nulls_first("matched_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .orderBy(asc_nulls_first("probe_id"))
  }

  /** q92: derive excerpt probes in-query (a 240-char slice of every 50th
    * document, ids offset by the SPAN-derived max(doc_id)+1 — the r14/r15
    * rule; the earlier +200000 constant overlapped real doc_ids once the
    * corpus span passed it) and recover each excerpt's source via
    * fingerprint containment. The probe set is corpus/50 — it GROWS with
    * the corpus, so `probesBounded` stays false (no broadcast hint).
    * WinnowSpec asserts the w+k−1 shared-substring guarantee and that
    * every excerpt's top match IS its source. */
  def excerptContainment(docs: DataFrame): DataFrame = {
    val probes = docs.filter(col("doc_id") % 50 === 0)
      .crossJoin(spanFrame(docs))
      .select((col("doc_id") + col("_span")).as("probe_id"),
        substring(col("text"), 11, 240).as("text"))
    winnowBestContainment(probes, docs)
  }

  /** q92's oracle (direct since r14, the [[Hashing.winnow]] Karp–Rabin
    * switch): q215's windowed-MIN selection replay at the PRODUCTION
    * modulus, plus the short-text branch (texts under one k-gram
    * fingerprint as their whole-text hash — replayed as 7 guarded
    * Horner steps). */
  private def q92OracleSql: String = s"""WITH probes AS (
        SELECT doc_id + ${spanOffSql(0)} AS probe_id, substr(text, 11, 240) AS text
        FROM documents WHERE doc_id % 50 = 0),
      pgrams AS (${winnowGramSql("probes", "probe_id", hornerBigSql)}),
      cgrams AS (${winnowGramSql("documents", "doc_id", hornerBigSql)}),
      pfp AS (${winnowFpSql("pgrams")}
              UNION SELECT probe_id AS id, ${hornerShortSql("text")} AS fp
                    FROM probes WHERE length(text) < $KgramLen),
      cfp AS (${winnowFpSql("cgrams")}
              UNION SELECT doc_id AS id, ${hornerShortSql("text")} AS fp
                    FROM documents WHERE length(text) < $KgramLen),
      -- MOSS common-fingerprint suppression, mirrored from the engine:
      -- fps in more than max($WinnowDfCap, n_docs/512) corpus docs carry
      -- no containment signal
      hot AS (SELECT fp FROM cfp GROUP BY fp
              HAVING COUNT(*) > GREATEST($WinnowDfCap,
                (SELECT COUNT(*) FROM documents) // 512)),
      cfpk AS (SELECT cfp.* FROM cfp ANTI JOIN hot USING (fp)),
      pfpk AS (SELECT pfp.* FROM pfp ANTI JOIN hot USING (fp)),
      nf AS (SELECT id AS probe_id, COUNT(*) AS n_fp FROM pfpk GROUP BY id),
      sc AS (SELECT pfpk.id AS probe_id, cfpk.id AS doc_id, COUNT(*) AS shared
             FROM cfpk JOIN pfpk USING (fp) GROUP BY pfpk.id, cfpk.id),
      r AS (SELECT sc.probe_id, sc.doc_id AS matched_id,
                   round(CAST(shared AS DOUBLE) / n_fp, 4) AS containment,
                   row_number() OVER (PARTITION BY sc.probe_id
                     ORDER BY round(CAST(shared AS DOUBLE) / n_fp, 4) DESC NULLS LAST,
                              sc.doc_id ASC NULLS FIRST) AS rn
            FROM sc JOIN nf ON sc.probe_id = nf.probe_id)
      SELECT probe_id, matched_id, containment FROM r WHERE rn = 1
      ORDER BY probe_id ASC NULLS FIRST"""

  private lazy val q92 = Q(
    "q92_winnow_containment",
    (s, dir) => excerptContainment(T(s, dir, "documents")),
    Some(q92OracleSql),
    "winnowing-fingerprint containment: excerpt probes recover their source docs (SWA 2003 local guarantee); Karp-Rabin selection hash-gated")

  // ---- containment under the ORACLE gate (q92's SQL-expressible twin) ---

  /** Horner-form polynomial hash of the 8-char gram in column `g`
    * (base 257 mod 1000003) as a SQL string both engines evaluate
    * identically: `ascii`/`substring`/`%` are pure int32 arithmetic in
    * Spark AND DuckDB (max intermediate 1000002·257+127 < 2³¹), so the
    * same grams are selected on both sides. */
  private val KgramLen = 8
  private val hornerSql: String =
    (1 to KgramLen).foldLeft("0") { (acc, j) =>
      s"(($acc * 257 + ascii(substring(g, $j, 1))) % 1000003)"
    }

  /** The same selection computed per document in ONE map-side pass: the
    * Spark side must only match the oracle's RESULT, not its mechanism,
    * and the SQL form (explode all positions → 8 nested substring/ascii
    * per gram → filter → distinct) measured 10.5 s at sf0.1 where this
    * UDF runs in ~1 s — the round-1 MinHash lesson again (one Scala pass
    * per row beats a generated-expression explode). Distinctness comes
    * free from the set, so neither side of the join needs a distinct
    * shuffle. ASCII corpus ⇒ charAt == DuckDB's ascii() codepoint. */
  private val modPGramsUdf = udf((text: String) => {
    if (text == null || text.length < KgramLen) Array.empty[String]
    else {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      val n = text.length - KgramLen + 1
      while (i < n) {
        var h = 0L
        var j = 0
        while (j < KgramLen) { h = (h * 257 + text.charAt(i + j).toInt) % 1000003; j += 1 }
        if (h % 17 == 0) seen += text.substring(i, i + KgramLen)
        i += 1
      }
      seen.toArray
    }
  })

  /** q93: the containment JOIN + argmax shape of [[winnowBestContainment]]
    * with a SQL-expressible k-gram selection — mod-p sampling (keep grams
    * whose polynomial hash ≡ 0 mod 17, Broder's "mod p" sketch from the
    * resemblance/containment paper) instead of the winnow hash, so DuckDB
    * can recompute the whole pipeline and the driver hash-gates it the way
    * q58/q68 gate the spatial/NDVI cores. Same probe derivation as q92
    * (240-char slice of every 50th doc); same scale shape (map-side gram
    * selection, fp equi-join with no broadcast hint, count/containment
    * agg, per-probe argmax). */
  def kgramContainment(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = docs.filter(col("doc_id") % 50 === 0)
      .crossJoin(spanFrame(docs))
      .select((col("doc_id") + col("_span")).as("probe_id"),
        substring(col("text"), 11, 240).as("text"))
    // q92's exact shape: gram sets map-side (already distinct), n_fp
    // rides the probe explode, fp equi-join with no broadcast hint
    val pg = probes
      .select(col("probe_id"), modPGramsUdf(col("text")).as("fps"))
      .withColumn("n_fp", size(col("fps")))
      .select(col("probe_id"), col("n_fp"), explode(col("fps")).as("g"))
    val cg = docs.select(col("doc_id"), explode(modPGramsUdf(col("text"))).as("g"))
    val scored = cg.join(pg, Seq("g"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"), first(col("n_fp")).as("n_fp"))
      .select(col("probe_id"), col("doc_id").as("matched_id"),
        round(col("shared").cast(DoubleType) / col("n_fp"), 4).as("containment"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc_nulls_last("containment"), asc_nulls_first("matched_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .orderBy(asc_nulls_first("probe_id"))
  }

  private val q93 = Q(
    "q93_kgram_containment",
    (s, dir) => kgramContainment(T(s, dir, "documents")),
    Some(s"""WITH probes AS (
        SELECT doc_id + ${spanOffSql(0)} AS probe_id, substr(text, 11, 240) AS text
        FROM documents WHERE doc_id % 50 = 0),
      pg AS (
        SELECT DISTINCT probe_id, g FROM (
          SELECT probe_id, substr(text, pos, $KgramLen) AS g FROM (
            SELECT probe_id, text,
                   unnest(generate_series(1, length(text) - ${KgramLen - 1})) AS pos
            FROM probes WHERE length(text) >= $KgramLen))
        WHERE $hornerSql % 17 = 0),
      cg AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, substr(text, pos, $KgramLen) AS g FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - ${KgramLen - 1})) AS pos
            FROM documents WHERE length(text) >= $KgramLen))
        WHERE $hornerSql % 17 = 0),
      nf AS (SELECT probe_id, COUNT(*) AS n_fp FROM pg GROUP BY probe_id),
      sc AS (SELECT pg.probe_id, cg.doc_id, COUNT(*) AS shared
             FROM cg JOIN pg USING (g) GROUP BY pg.probe_id, cg.doc_id),
      r AS (SELECT sc.probe_id, sc.doc_id AS matched_id,
                   round(CAST(shared AS DOUBLE) / n_fp, 4) AS containment,
                   row_number() OVER (PARTITION BY sc.probe_id
                     ORDER BY round(CAST(shared AS DOUBLE) / n_fp, 4) DESC NULLS LAST,
                              sc.doc_id ASC NULLS FIRST) AS rn
            FROM sc JOIN nf ON sc.probe_id = nf.probe_id)
      SELECT probe_id, matched_id, containment FROM r WHERE rn = 1
      ORDER BY probe_id ASC NULLS FIRST"""),
    "k-gram mod-p containment (Broder 1997 sampling): q92's JOIN+argmax shape under the DuckDB hash gate")

  // ---- winnow SELECTION under the ORACLE gate (q92's second twin) -------

  /** q93 gates q92's containment JOIN+argmax but swaps the gram SELECTION
    * for mod-p sampling — the winnowing selection itself (window minimum,
    * Schleimer–Wilkerson–Aiken 2003 §2.2, the reference dedup literature's
    * fingerprinting guarantee) stayed outside the gate because the
    * production hash is a 64-bit avalanche mix no SQL replays. q215
    * closes that: the SAME sliding-window-minimum selection over q93's
    * SQL-expressible Horner gram hash (base 257 mod 1000003, pure int32
    * arithmetic in both engines). A document's fingerprint is the SET of
    * window-minimum hash VALUES, so DuckDB replays the selection as
    * `min(h) OVER (PARTITION BY doc ORDER BY pos ROWS BETWEEN CURRENT ROW
    * AND w-1 FOLLOWING)` restricted to full-window start positions, then
    * DISTINCT — which position attains a tied minimum never affects the
    * value set, and the algorithm's adjacent-window dedupe is subsumed by
    * the DISTINCT. Texts shorter than k gram-ify to the empty set on both
    * sides (empty generate_series ↔ empty UDF array) and drop out of the
    * containment join identically. Downstream: q92's exact containment
    * pipeline shape (map-side fingerprint sets, fp equi-join with no
    * broadcast hint, count/containment agg, per-probe argmax). */
  private val modPWinnowUdf = udf((text: String) => {
    val k = KgramLen
    val w = WinnowW
    if (text == null || text.length < k) Array.empty[Long]
    else {
      val n = text.length - k + 1
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        var h = 0L
        var j = 0
        while (j < k) { h = (h * 257 + text.charAt(i + j).toInt) % 1000003; j += 1 }
        hs(i) = h
        i += 1
      }
      val out = new java.util.LinkedHashSet[java.lang.Long]()
      var j = 0
      val lastWin = math.max(0, n - w)
      while (j <= lastWin) {
        var m = hs(j)
        var t = j + 1
        val end = math.min(j + w, n)
        while (t < end) { if (hs(t) < m) m = hs(t); t += 1 }
        out.add(m)
        j += 1
      }
      val arr = new Array[Long](out.size)
      val it = out.iterator()
      var a = 0
      while (it.hasNext) { arr(a) = it.next(); a += 1 }
      arr
    }
  })

  /** q92's pipeline with the SQL-replayable winnow: same probe derivation
    * (240-char slice of every 50th doc), same scale shape. */
  def winnowContainmentExact(docs: DataFrame): DataFrame = {
    val probes = docs.filter(col("doc_id") % 50 === 0)
      .crossJoin(spanFrame(docs))
      .select((col("doc_id") + col("_span")).as("probe_id"),
        substring(col("text"), 11, 240).as("text"))
    val pg = probes
      .select(col("probe_id"), modPWinnowUdf(col("text")).as("fps"))
      .withColumn("n_fp", size(col("fps")))
      .select(col("probe_id"), col("n_fp"), explode(col("fps")).as("fp"))
    val cg = docs.select(col("doc_id"), explode(modPWinnowUdf(col("text"))).as("fp"))
    val scored = cg.join(pg, Seq("fp"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"), first(col("n_fp")).as("n_fp"))
      .select(col("probe_id"), col("doc_id").as("matched_id"),
        round(col("shared").cast(DoubleType) / col("n_fp"), 4).as("containment"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(desc_nulls_last("containment"), asc_nulls_first("matched_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .orderBy(asc_nulls_first("probe_id"))
  }

  /** Gram table (doc id, 1-based pos, Horner hash) for `src`; `idCol` is
    * emitted as `id`. `horner` defaults to the q215 twin's 10⁶ modulus;
    * the q92 production oracle passes the [[Hashing.BigP]] form. */
  private def winnowGramSql(src: String, idCol: String,
      horner: String = hornerSql): String =
    s"""SELECT id, pos, n_gram, $horner AS h FROM (
          SELECT $idCol AS id, length(text) - ${KgramLen - 1} AS n_gram, pos,
                 substr(text, pos, $KgramLen) AS g FROM (
            SELECT $idCol, text,
                   unnest(generate_series(1, length(text) - ${KgramLen - 1})) AS pos
            FROM $src WHERE length(text) >= $KgramLen))"""

  /** The production winnow gram hash (Karp–Rabin base 257 mod
    * [[Hashing.BigP]]) as SQL — every intermediate < 2⁶³ (seeded from a
    * BIGINT so DuckDB binds the whole chain 64-bit). */
  private def hornerBigSql: String =
    (1 to KgramLen).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * 257 + ascii(substr(g, $j, 1))) % ${Hashing.BigP})"
    }

  /** [[Hashing.polyModP]] of a whole sub-8-char text as SQL: 7 guarded
    * Horner steps (position j contributes only when the text reaches it)
    * — the short-text fingerprint branch `winnow` takes. */
  private def hornerShortSql(textCol: String): String =
    (1 to KgramLen - 1).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"""(CASE WHEN length($textCol) >= $j
           THEN ($acc * 257 + ascii(substr($textCol, $j, 1))) % ${Hashing.BigP}
           ELSE $acc END)"""
    }

  /** DISTINCT window-minimum fingerprint set over a gram table. */
  private def winnowFpSql(grams: String): String =
    s"""SELECT DISTINCT id, mh AS fp FROM (
          SELECT id, pos, n_gram,
                 min(h) OVER (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS mh
          FROM $grams)
        WHERE pos <= greatest(1, n_gram - ${WinnowW - 1})"""

  private val q215 = Q(
    "q215_winnow_selection_oracle",
    (s, dir) => winnowContainmentExact(T(s, dir, "documents")),
    Some(s"""WITH probes AS (
        SELECT doc_id + ${spanOffSql(0)} AS probe_id, substr(text, 11, 240) AS text
        FROM documents WHERE doc_id % 50 = 0),
      pgrams AS (${winnowGramSql("probes", "probe_id")}),
      cgrams AS (${winnowGramSql("documents", "doc_id")}),
      pfp AS (${winnowFpSql("pgrams")}),
      cfp AS (${winnowFpSql("cgrams")}),
      nf AS (SELECT id AS probe_id, COUNT(*) AS n_fp FROM pfp GROUP BY id),
      sc AS (SELECT pfp.id AS probe_id, cfp.id AS doc_id, COUNT(*) AS shared
             FROM cfp JOIN pfp USING (fp) GROUP BY pfp.id, cfp.id),
      r AS (SELECT sc.probe_id, sc.doc_id AS matched_id,
                   round(CAST(shared AS DOUBLE) / n_fp, 4) AS containment,
                   row_number() OVER (PARTITION BY sc.probe_id
                     ORDER BY round(CAST(shared AS DOUBLE) / n_fp, 4) DESC NULLS LAST,
                              sc.doc_id ASC NULLS FIRST) AS rn
            FROM sc JOIN nf ON sc.probe_id = nf.probe_id)
      SELECT probe_id, matched_id, containment FROM r WHERE rn = 1
      ORDER BY probe_id ASC NULLS FIRST"""),
    "winnowing window-minimum selection (SWA 2003) under the DuckDB hash gate: mod-p gram hash, windowed-MIN replay, q92's containment pipeline")

  /** q94: the exact n-gram (3-shingle) Jaccard kernel — the verification
    * arithmetic inside [[minhashPairs]] — under the DuckDB oracle gate on
    * its own. Pairs are derived in-query so overlap is non-trivial: each
    * 25th document vs a MIXED excerpt (its own first 150 chars ++ the next
    * document's first 150 chars), giving mid-range Jaccards instead of
    * the ~0 a random-pair compare degenerates to.
    *
    * Scale shape: pair derivation is a doc_id equi-join (co-partitioned,
    * no broadcast hint needed — AQE decides); shingle sets are computed
    * AFTER the join on the pair row (map-side, no explode, no shuffle of
    * shingle arrays); output is pair-count-sized. */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    val a = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("doc_a"), col("text").as("ta"))
    val b = docs.filter((col("doc_id") - 1) % 25 === 0)
      .select((col("doc_id") - 1).as("doc_a"), col("text").as("tb"))
    a.join(b, Seq("doc_a"))
      .withColumn("tm",
        concat(substring(col("ta"), 1, 150), lit(" "), substring(col("tb"), 1, 150)))
      .select(col("doc_a"), shingles("ta").as("sa"), shingles("tm").as("sm"))
      .select(col("doc_a"),
        size(array_intersect(col("sa"), col("sm"))).cast("long").as("n_shared"),
        round(size(array_intersect(col("sa"), col("sm"))).cast(DoubleType) /
          size(array_union(col("sa"), col("sm"))), 4).as("jaccard"))
      .orderBy(asc_nulls_first("doc_a"))
  }

  private val q94 = Q(
    "q94_ngram_jaccard",
    (s, dir) => ngramJaccardPairs(T(s, dir, "documents")),
    Some("""WITH pairs AS (
        SELECT a.doc_id AS doc_a, a.text AS ta,
               concat(substr(a.text, 1, 150), ' ', substr(b.text, 1, 150)) AS tm
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 25 = 0),
      sh AS (SELECT doc_a,
               CASE WHEN len(string_split(ta, ' ')) >= 3 THEN
                 list_distinct([array_to_string(string_split(ta, ' ')[i:i+2], ' ')
                                FOR i IN generate_series(1, len(string_split(ta, ' '))-2)])
               ELSE [ta] END AS sa,
               CASE WHEN len(string_split(tm, ' ')) >= 3 THEN
                 list_distinct([array_to_string(string_split(tm, ' ')[i:i+2], ' ')
                                FOR i IN generate_series(1, len(string_split(tm, ' '))-2)])
               ELSE [tm] END AS sm
             FROM pairs)
      SELECT doc_a,
             CAST(len(list_intersect(sa, sm)) AS BIGINT) AS n_shared,
             round(CAST(len(list_intersect(sa, sm)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa, sm))), 4) AS jaccard
      FROM sh ORDER BY doc_a ASC NULLS FIRST"""),
    "exact 3-shingle n-gram Jaccard on in-query mixed-excerpt pairs (dedup verification kernel under the oracle gate)")

  /** The end-to-end near-dup REMOVAL pipeline a training-data run
    * actually executes — the capstone composing the repo's kernels:
    * [[minhashPairs]] (signatures → LSH candidates → exact verify) →
    * threshold filter → [[graft.ops.Graph.connectedComponents]]
    * (pairs → clusters, O(log n) rounds) → canonical selection (min
    * doc_id per cluster survives). Returns one row per input doc:
    * (doc_id, cluster, keep). Every stage is the already-plan-audited
    * scale shape; the composition adds no new shuffle beyond the CC
    * rounds. */
  /** [[dedupPipeline]] without the presentation sort — the form an
    * internal consumer (Pipeline.trainingShards) materializes. Catalyst's
    * EliminateSorts drops a sort under filter/join/groupBy consumers, but
    * a localCheckpoint materializes the physical plan as-is, so the
    * sorted public shape forced a range exchange + sort into the
    * capstone's checkpoint (r16; guide §2.4 "orderBy used only to make
    * output deterministic"). */
  private[graft] def dedupFlags(s: SparkSession, docs: DataFrame,
      threshold: Double): DataFrame = {
    // requireBandAgreement: the pipeline only consumes pairs at
    // jaccard ≥ threshold, so the folded-hash collision candidates are
    // pure verify cost here — see [[minhashPairsImpl]] for their count
    // and the recall argument
    val pairs = minhashPairsImpl(s, docs, MaxBucketSize,
        requireBandAgreement = true)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.ops.Graph.connectedComponents(docs.select(col("doc_id").as("node")), pairs)
      .select(col("node").as("doc_id"), col("component").as("cluster"),
        (col("node") === col("component")).as("keep"))
  }

  def dedupPipeline(s: SparkSession, docs: DataFrame, threshold: Double): DataFrame =
    dedupFlags(s, docs, threshold).orderBy(asc_nulls_first("doc_id"))

  /** q101: dedupPipeline over the corpus with duplicates planted
    * IN-QUERY (the driver corpus is dup-free): every 25th doc gets a
    * near-clone (3 appended tokens, shingle-Jaccard ≈ 0.9) and every
    * 40th an exact clone. Deterministic end to end (hash signatures,
    * banding, CC), so DedupSpec pins the exact expectation: planted ids
    * cluster with their source and only the source keeps. */
  /** q101's oracle (direct since r14): the production pair replay
    * ([[prodPairsCtes]]) over the planted corpus, the jaccard ≥ 0.8
    * edge filter on the SAME rounded doubles both engines compute, and
    * the q82 reachability closure with min-id canonical selection. */
  private def q101OracleSql: String = s"""WITH RECURSIVE docs101 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + ${spanOffSql(1)}, text || ' appended near dup suffix'
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + ${spanOffSql(2)}, text FROM documents WHERE doc_id % 40 = 0),
      ${prodPairsCtes("docs101")},
      edges AS (SELECT doc_a AS a, doc_b AS b FROM allpairs WHERE jaccard >= 0.8),
      -- MATERIALIZED: DuckDB re-evaluates inlined CTEs per recursive step
      ud AS MATERIALIZED (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      reach AS (SELECT doc_id AS src, doc_id AS dst FROM docs101
                UNION
                SELECT r.src, ud.b FROM reach r JOIN ud ON ud.a = r.dst),
      comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
      SELECT doc_id, component AS cluster, doc_id = component AS keep
      FROM comp ORDER BY doc_id ASC NULLS FIRST"""

  private lazy val q101 = Q(
    "q101_dedup_pipeline",
    (s, dir) => {
      // the minhash signature UDF downstream is compute-dense; T's split
      // copy scans in one task per core (T.layout)
      val base = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val span = spanFrame(base)
      val near = base.filter(col("doc_id") % 25 === 0).crossJoin(span)
        .select((col("doc_id") + lit(2L) * col("_span")).as("doc_id"),
          concat(col("text"), lit(" appended near dup suffix")).as("text"))
      val exact = base.filter(col("doc_id") % 40 === 0).crossJoin(span)
        .select((col("doc_id") + lit(3L) * col("_span")).as("doc_id"), col("text"))
      dedupPipeline(s, base.unionByName(near).unionByName(exact), 0.8)
    },
    Some(q101OracleSql),
    "capstone dedup: MinHash-LSH pairs -> connected components -> canonical doc per cluster (keep flags); full chain hash-gated")

  /** q163: sorted-neighborhood dedup (Hernández & Stolfo 1995) — the
    * third candidate-generation family next to LSH banding (q25) and
    * SimHash (q26): sort the corpus by a blocking key (text prefix),
    * compare each record only to its w−1 successors in the sort order,
    * verify candidates with exact shingle Jaccard. Near-clones that
    * share a prefix are adjacent after the sort, so a window of 4 finds
    * them with ZERO pairwise blow-up — the candidate count is exactly
    * (w−1)·n regardless of cluster sizes, which is the property LSH
    * can't give when a banding key gets hot.
    *
    * Scale shape: the global sort ORDER materializes as positions via
    * the q112 two-level pattern keyed on the sort key's own 2-char
    * prefix (bucket order == sort order, offsets broadcast, row_number
    * windows per bucket); neighbor pairing is an equi-join on the
    * position's band index (each row joins its own and the next band —
    * bands of w−1 rows, so fan-out ≤ 2 and every window pair lands in
    * exactly one band pairing). Shuffled payloads carry xxhash64 shingle
    * arrays, never text (q116's fingerprint rule); the oracle verifies
    * the identical set cardinalities over raw strings. */
  private val q163 = Q(
    "q163_sorted_neighborhood",
    (s, dir) => {
      val w = 4
      // the 1-element transform binds the filtered word array ONCE per
      // row (HOFs run interpreted — an inline filter(split(...)) would
      // re-tokenize per shingle element, O(words²) per doc; same fix as
      // shingles())
      val corpus = Pipeline.plantedCorpus(s, dir)
        .select(col("doc_id"), col("text"), substring(col("text"), 1, 24).as("skey"),
          // size guard: the oracle's generate_series(1, len-2) is empty for
          // <3-token docs, while Spark's sequence(1, 0) steps DOWN to
          // [1, 0] and element_at(ws, 0) throws — the slice truncates the
          // index list to max(size-2, 0) entries, so short docs yield an
          // empty shingle set on both sides (q146's guard, slice form)
          expr("element_at(transform(array(filter(split(text, ' '), x -> x <> '')), " +
            "ws -> array_sort(array_distinct(transform(" +
            "slice(sequence(1, greatest(size(ws) - 2, 1)), 1, greatest(size(ws) - 2, 0)), " +
            "i -> xxhash64(concat_ws(' ', " +
            "element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))))), 1)")
            .as("sh"))
        .withColumn("bucket", substring(col("skey"), 1, 2))
      val offs = corpus.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("off",
          coalesce(sum(col("cnt")).over(
            org.apache.spark.sql.expressions.Window.orderBy(asc("bucket"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
            lit(0L)))
      val pw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(asc("skey"), asc("doc_id"))
      // materialized once: lhs AND rhs consume it, and the shingle
      // arrays are the expensive column (re-deriving them twice doubled
      // the query). The LAZY checkpoint demands the frame be
      // DETERMINISTIC: in cluster mode two stages of the same join job
      // can compute a partition on different executors before the cache
      // dedupes — correct here only because row_number orders by the
      // unique (skey, doc_id); a nondeterministic frame on a real-cluster
      // path must keep this checkpoint eager.
      val pos = corpus.join(broadcast(offs.select(col("bucket"), col("off"))), Seq("bucket"))
        .withColumn("pos", col("off") + row_number().over(pw) - 1)
        .select(col("doc_id"), col("pos"), col("sh"))
        .localCheckpoint(false) // lazy since r16: lhs/rhs join materializes it
      val lhs = pos.select(col("doc_id").as("id_a"), col("pos").as("pos_a"),
        col("sh").as("sh_a"), expr(s"pos div ${w - 1}").as("band"))
      val rhs = pos.select(col("doc_id").as("id_b"), col("pos").as("pos_b"),
        col("sh").as("sh_b"), expr(s"pos div ${w - 1}").as("band0"))
        .select(col("id_b"), col("pos_b"), col("sh_b"),
          explode(array(col("band0"), col("band0") - 1)).as("band"))
      lhs.join(rhs, Seq("band"))
        .filter(col("pos_b") > col("pos_a") && col("pos_b") - col("pos_a") <= w - 1)
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"),
          expr("size(array_intersect(sh_a, sh_b))").as("inter"),
          (expr("size(sh_a)") + expr("size(sh_b)")).as("tot"))
        .filter(col("tot") - col("inter") > 0)
        .select(col("doc_a"), col("doc_b"),
          expr("(10000 * inter) div (tot - inter)").cast("long").as("jacc_bp"))
        .filter(col("jacc_bp") >= 5000)
        .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
    },
    Some(s"""WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + ${spanOffSql(1)}, text || ' appended near dup suffix'
        FROM documents WHERE doc_id % 25 = 0
        UNION ALL
        SELECT doc_id + ${spanOffSql(2)}, text FROM documents WHERE doc_id % 40 = 0),
      t AS MATERIALIZED (SELECT doc_id, substr(text, 1, 24) AS skey,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM corpus),
      sh AS MATERIALIZED (SELECT doc_id, skey,
                    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                   FOR i IN generate_series(1, len(ws) - 2)]) AS sh
             FROM t),
      p AS MATERIALIZED (SELECT doc_id, sh,
                   ROW_NUMBER() OVER (ORDER BY skey ASC, doc_id ASC) - 1 AS pos
            FROM sh),
      -- window offsets as an EQUI-join (b.pos = a.pos + k, k in 1..w-1):
      -- the b.pos - a.pos BETWEEN form planned as a nested loop in DuckDB
      -- and ran 85+ min at sf1; the hashable form replays in 12 s
      pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                       len(list_intersect(a.sh, b.sh)) AS inter,
                       len(a.sh) + len(b.sh) AS tot
                FROM p a
                JOIN (VALUES (1), (2), (3)) ks(k) ON TRUE
                JOIN p b ON b.pos = a.pos + ks.k)
      SELECT least(ida, idb) AS doc_a, greatest(ida, idb) AS doc_b,
             CAST((10000 * inter) // (tot - inter) AS BIGINT) AS jacc_bp
      FROM pairs WHERE tot - inter > 0 AND (10000 * inter) // (tot - inter) >= 5000
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""),
    "sorted-neighborhood candidate generation (blocking-sort-window ER family; bounded (w-1)*n candidates) + exact shingle-Jaccard verify under the oracle")

  /** q179: prefix-filtering set-similarity join (the PPJoin/AllPairs
    * family — Bayardo et al. 2007, Xiao et al. 2008) — the FOURTH
    * candidate-generation scheme beside MinHash-LSH (q24), SimHash (q26)
    * and sorted-neighborhood (q163), and unlike those it is EXACT: if
    * J(A,B) ≥ t, the two docs' prefixes provably share a shingle, so
    * the candidate set is a lossless superset and the verified output is
    * the complete answer (no recall knob). Shingle sets are ordered
    * rarest-first by (document frequency, shingle); each doc keeps only
    * its first |d| − ⌈t·|d|⌉ + 1 shingles (t = 0.6), and candidates come
    * from ONE equi-join on prefix shingles — the rarest-first order is
    * what keeps stopword-grade shingles out of prefixes, bounding the
    * join fan-out.
    *
    * Scale shape: every shuffle (df count, prefix selection, candidate
    * join, intersection count) carries (doc_id, xxhash64(shingle)) — 16
    * bytes — never shingle text (q163's convention). The per-doc prefix
    * window partitions by doc_id; exact verification joins only the
    * candidate pair set. The oracle answers all-pairs declaratively from
    * raw text — completeness of the filter is therefore under the hash
    * gate, not just the similarity arithmetic. */
  /** PPJoin candidate generation: rarest-first prefix selection + prefix
    * equi-join + the standard LENGTH FILTER. Both pruning rules are
    * lossless at t = 0.6:
    *  - prefix filter: if J(A,B) ≥ t the two prefixes (first
    *    |d| − ⌈t·|d|⌉ + 1 shingles in global (df, hash) order) provably
    *    share a shingle;
    *  - length filter: J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|)
    *    and |A∩B| ≤ min(|A|,|B|), so min ≥ t·max — integer-exact as
    *    10·min ≥ 6·max.
    * The length filter is what bounds fan-out on mixed-size clone
    * families (truncation dups, template-heavy pages): the prefix rule
    * alone relies on the global df order separating a cluster's
    * shingles, but inside a near-clone cluster global dfs tie and the
    * hash tie-break scatters prefixes across the whole position range —
    * every pair collides and the candidate set degrades toward
    * O(cluster²). The size predicate restores the O(cluster·window)
    * bound (`PpjoinSpec` plants exactly this adversarial fixture).
    * `lengthFilter = false` exists only so the spec can measure the
    * unfiltered fan-out. */
  private[graft] def ppjoinCandidates(sh: DataFrame, sizes: DataFrame,
      lengthFilter: Boolean = true, positionalFilter: Boolean = true): DataFrame = {
    val df = sh.groupBy(col("sgh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(asc("df"), asc("sgh"))
    val prefix = sh.join(df, Seq("sgh")).join(sizes, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - expr("(6 * n + 9) div 10") + 1)
      .select(col("doc_id"), col("sgh"), col("n"), col("rn"))
    // NOT checkpointed (r17, measured): a lazy checkpoint here A/B'd
    // NEUTRAL on min (0.99x) and worse on median — the self-join's two
    // prefix branches already share work at runtime (the sh checkpoint
    // bounds the duplicated part to the df join + window over
    // prefix-sized rows), and the materialization write costs more than
    // the dedupe saves.
    val lenOk =
      if (lengthFilter) col("a.n") * 6 <= col("b.n") * 10 &&
        col("b.n") * 6 <= col("a.n") * 10
      else lit(true)
    // POSITIONAL filter (Xiao et al. 2008, ppjoin proper): both prefixes
    // are sorted by the same global (df, sgh) order, so a token matching
    // at positions (rnA, rnB) bounds the overlap by
    // 1 + min(nA − rnA, nB − rnB); Jaccard ≥ 0.6 needs overlap ≥
    // ⌈3(nA+nB)/8⌉ (t/(1+t) = 3/8), i.e. 8·ubound ≥ 3(nA+nB) in
    // integers. LOSSLESS per matched token, and the pair-level distinct
    // keeps a pair if ANY of its prefix matches passes — a superset of
    // ppjoin's accumulated test, so still exact. Prunes candidates
    // BEFORE the distinct exchange and the verification joins.
    val posOk =
      if (positionalFilter)
        lit(8) * (lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) >=
          lit(3) * (col("a.n") + col("b.n"))
      else lit(true)
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.sgh") === col("b.sgh") && col("a.doc_id") < col("b.doc_id") &&
          lenOk && posOk)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private val q179 = Q(
    "q179_prefix_filter_join",
    (s, dir) => {
      // materialize the (doc_id, shingle-hash) frame ONCE — three
      // consumers (df counts, doc aggregation, prefix selection) would
      // otherwise each re-run the shingle explode over the text scan
      // (measured 11 s → 6 s warm at sf0.1)
      val sh = T(s, dir, "documents")
        .select(col("doc_id"), explode(shingles("text")).as("sg"))
        .select(col("doc_id"), xxhash64(col("sg")).as("sgh"))
        .localCheckpoint(false) // lazy since r16: the df count materializes it
      // ONE doc-level aggregation serves prefix sizes AND both sides of
      // the verification: (doc_id, shingle-set array, n). Verification
      // joins candidate PAIRS to the two doc arrays and intersects
      // map-side (array_intersect = hash-set O(|a|+|b|) per pair) — the
      // prior shape exploded every pair against doc_a's full shingle
      // list and re-joined on (doc_b, sgh), pushing 3 exchanges of
      // |cands|·|doc| skinny rows (~580 M at sf10, 40 GB) where this
      // ships |cands| array-pair rows once (~6 GB at sf10): measured
      // 182 → 75 s at sf10, answer hash-identical (set semantics equal:
      // per-doc sgh is distinct, so count-of-matching-rows ==
      // |array_intersect|).
      val docs = sh.groupBy(col("doc_id"))
        .agg(collect_list(col("sgh")).as("arr"), count(lit(1)).as("n"))
        .localCheckpoint(false) // lazy since r16: prefix selection materializes it
      val cands = ppjoinCandidates(sh, docs.select(col("doc_id"), col("n")))
      cands
        .join(docs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"),
          col("n").as("na")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"),
          col("n").as("nb")), Seq("doc_b"))
        .withColumn("inter",
          size(array_intersect(col("arr_a"), col("arr_b"))).cast(LongType))
        .withColumn("un", col("na") + col("nb") - col("inter"))
        .filter(col("inter") * 10 >= col("un") * 6)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("un"),
          expr("(10000 * inter) div un").as("jac_bp"))
        .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
    },
    Some("""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id, sg FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(ws) >= 3
                      THEN [array_to_string(ws[i:i+2], ' ')
                            FOR i IN generate_series(1, len(ws) - 2)]
                      ELSE [text] END) AS sg
        FROM w)),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
                FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT da AS doc_a, db AS doc_b, CAST(i AS BIGINT) AS inter,
             CAST(sa.n + sb.n - i AS BIGINT) AS un,
             CAST((10000 * i) // (sa.n + sb.n - i) AS BIGINT) AS jac_bp
      FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      WHERE 10 * i >= 6 * (sa.n + sb.n - i)
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""),
    "prefix-filtering set-similarity join (PPJoin family): EXACT candidate generation (lossless-superset theorem), rarest-first prefixes bound the join; oracle answers all-pairs declaratively")

  val all: Seq[Q] = Seq(q24, q25, q26, q27, q30, q205, q206, q207, q208, q210, q234, q92, q93, q94, q101, q135, q163,
    q179, q215)
}
