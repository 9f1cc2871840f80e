package graft.tools

import graft.Parquet
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: build an sf1-shaped stress fixture from sf0.1 — `copies`
  * key-shifted unions per table, following TESTDATA.md's generator
  * conventions (same schemas, NTZ timestamps). The scale rehearsal
  * (BENCH_sf1.json) runs graft.Bench against the output.
  *
  * Scaling model: MORE keys, not heavier keys — every foreign/primary key
  * is shifted by copy×span so per-key cardinalities (orders per customer,
  * events per user, lineitems per order) stay exactly sf0.1's, which is
  * what makes per-query sf1/sf0.1 time ratios interpretable against each
  * query's documented complexity.
  *
  * ONE application per fixture (r17): always build a target SF directly
  * from the SOURCE fixture (sf0.1 → sf30 with copies=300), never by
  * stacking applications (sf0.1 → sf1 → sf10 → sf30). Stacking appends a
  * salt per generation, and by the third generation the newest copy salt
  * falls past the 16-char token prefix the production token hash reads
  * ([[graft.llm.Dedup]].tokenHashes): cross-copy documents then carry
  * IDENTICAL minhash signatures (true shingle Jaccard still 0), and
  * every candidate-pair query goes super-linear BY FIXTURE CONSTRUCTION
  * — the r16 sf30 gate's q101 4.4× flag was exactly this artifact
  * (OPTIMIZATION_r17.md, Change 6: 499k of 522k natural sf30 candidates
  * were cross-copy est=1.0/jaccard=0.0 pairs, ids exactly one stacked
  * span apart). nation/region stay fixed (25/5-row broadcast dims).
  * Document text is word-salted per copy (every token suffixed `c<k>`)
  * so cross-copy Jaccard is 0 and dedup outputs scale linearly — ×10
  * verbatim text would plant 10-clone clusters and inflate
  * every pair query quadratically by construction, hiding real
  * regressions. Embeddings get a tiny deterministic per-copy perturbation
  * so ANN top-k has no 10-way ties.
  *
  * Usage: runMain graft.tools.MakeSf [srcDir] [outDir] [copies]
  */
object MakeSf {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val s = graft.Sessions.build(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", 32)

    def rd(t: String): DataFrame = Parquet.read(s, s"$src/$t.parquet")
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    // single FILE per table (driver convention, TESTDATA.md): the file
    // streaming sources glob for leaf files named <table>.parquet, so a
    // directory layout would silently feed them nothing. repartition(1)
    // keeps the generation transforms parallel map-side and funnels only
    // the write through one task; `files` is unused but kept for callers.
    def write(t: String, df: DataFrame, files: Int): Unit = {
      val stage = s"$out/_stage_$t"
      df.repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part.toPath, dest)
      graft.Scratch.rm(new java.io.File(stage))
      println(s"[makesf] $t: ${Parquet.rowCount(s, dest.toString)} rows")
    }

    // replicate df with per-copy key shifts; extra transforms per copy
    def replicate(df: DataFrame, shifts: Map[String, Long])(
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { k =>
        val shifted = shifts.foldLeft(df) { case (d, (c, sp)) =>
          d.withColumn(c, col(c) + lit(k * sp))
        }
        perCopy(shifted, k)
      }.reduce(_ unionAll _)

    // fixed broadcast dims
    write("region", rd("region"), 1)
    write("nation", rd("nation"), 1)

    val cust = rd("customer"); val ck = span(cust, "c_custkey")
    write("customer", replicate(cust, Map("c_custkey" -> ck))(), 8)

    val supp = rd("supplier"); val sk = span(supp, "s_suppkey")
    write("supplier", replicate(supp, Map("s_suppkey" -> sk))(), 4)

    // p_name is salted per copy for the same reason document text is:
    // TPC-H names come from a bounded vocabulary, so ×N verbatim copies
    // would grow every (brand, name) cell N× and inflate the name-pair
    // queries (q89/q125) quadratically BY CONSTRUCTION — the generator's
    // own "MORE keys, not heavier keys" model requires per-cell
    // cardinality to stay at the source fixture's. The salt token uses a
    // repeated digit (" k333") so any two distinct salts are ≥3 edits
    // apart (q89's dist ≤ 2 predicate can never cross copies) and JW
    // similarity drops on a suffix (prefix-weighted), while ILIKE
    // substring predicates (q02) are unaffected.
    //
    // GENERATION-AWARE (same lesson as the embedding sign-flip seed
    // below): copy 0 is unchanged at every application, so a
    // generation-CONSTANT salt makes (gen1 copy k → gen2 copy 0) and
    // (gen1 copy 0 → gen2 copy k) IDENTICAL strings — measured 45 000
    // planted exact-clone doc pairs at sf10 (9 per base doc, the {0,k}
    // copy-pair family), turning every pair query super-linear by
    // construction. The salt embeds the SOURCE span VALUE with every
    // digit tripled: post-replication span = copies × source span, so
    // spans provably differ at every application for ANY copies ≥ 2
    // (the earlier digit-COUNT letter only changed when the span gained
    // a decimal digit — true for copies=10, silently false for 2..9),
    // and two distinct tripled-digit strings are ≥3 edits apart (every
    // digit occupies a homogeneous 3-block, so any difference perturbs
    // a whole block), keeping q89's dist ≤ 2 predicate copy-local.
    val part = rd("part"); val pk = span(part, "p_partkey")
    def salt3(sp: Long): String = sp.toString.flatMap(c => s"$c$c$c")
    val pg = salt3(pk)
    write("part", replicate(part, Map("p_partkey" -> pk)) { (d, k) =>
      if (k == 0) d
      else d.withColumn("p_name", concat(col("p_name"), lit(s" $pg$k$k$k")))
    }, 8)

    val ord = rd("orders"); val ok = span(ord, "o_orderkey")
    write("orders", replicate(ord, Map("o_orderkey" -> ok, "o_custkey" -> ck))(), 16)

    val li = rd("lineitem")
    write("lineitem", replicate(li,
      Map("l_orderkey" -> ok, "l_partkey" -> pk, "l_suppkey" -> sk))(), 32)

    val ev = rd("events")
    val ek = span(ev, "event_id"); val uk = span(ev, "user_id")
    write("events", replicate(ev, Map("event_id" -> ek, "user_id" -> uk))(), 32)

    // The salt is span-derived (see p_name note): a fixed "c" collided
    // across generations on the {0,k} copy pairs. Shingle sets only need
    // cross-copy DISTINCTNESS (no edit-distance floor like p_name), so a
    // compact base-36 encoding of the span value suffices — and unlike
    // the earlier digit-count letter it differs at EVERY application for
    // any copies ≥ 2, since post-replication span = copies × source span.
    val docs = rd("documents"); val dk = span(docs, "doc_id")
    val dg = java.lang.Long.toString(dk, 36)
    write("documents", replicate(docs, Map("doc_id" -> dk)) { (d, k) =>
      if (k == 0) d
      else d
        // "_" separates span tag from copy index: base-36 may end in a
        // digit, so "$dg$k" alone could collide across generations
        // (e.g. span "x2" copy 13 vs span "x21" copy 3)
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1${dg}_$k"))
        .withColumn("n_chars", length(col("text")))
    }, 32)

    // Per-copy deterministic SIGN FLIPS (norm-preserving), not the old
    // coordinate-0 scale: a 1.001× scale left cross-copy cosine ≈ 0.9999,
    // planting 100-member near-dup clusters at sf10 that inflated every
    // embedding pair query (q27 candidates, LSH buckets) quadratically by
    // construction — the exact failure mode the document salt avoids.
    // Random-sign copies have |cosine| ~ 1/√64 ≈ 0.13 ≪ the 0.9 near-dup
    // threshold, keep every coordinate's magnitude distribution, and
    // still break ANN top-k ties (no two copies are equal). xxhash64 is
    // evaluated HERE at generation time — the fixture is plain data to
    // both engines afterwards. The hash seed MUST include the source span
    // ($vk, which differs per application): sign patterns compose by XOR
    // across repeated MakeSf runs, so a span-free seed reuses the same
    // pattern set both times and copies (k1, k2) and (k2, k1) of one base
    // XOR to IDENTICAL vectors — measured 180 050 planted clone pairs at
    // sf10 before the seed.
    val emb = rd("embeddings"); val vk = span(emb, "vec_id")
    write("embeddings", replicate(emb, Map("vec_id" -> vk)) { (d, k) =>
      if (k == 0) d
      else d.withColumn("embedding",
        expr(s"transform(embedding, (x, i) -> CASE WHEN pmod(xxhash64(i * 131 + $k * 1000003 + $vk), 2) = 0 THEN x ELSE float(-x) END)"))
    }, 16)

    s.stop()
  }
}
