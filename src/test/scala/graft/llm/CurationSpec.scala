package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form checks for the curation operators — each test pins the
  * semantics on inputs where the right answer is computable by hand,
  * complementing the DuckDB oracles (which pin engine parity, not
  * intent):
  *   - q145 SemDeDup: planted near-identical vectors at high τ — exactly
  *     the larger id of each planted pair drops, orthogonal vectors keep;
  *   - q144 DSIR: when target == raw, every smoothed ratio is exactly 1
  *     (10⁶ ppm) — the no-signal fixed point;
  *   - q146 bigram LM: a deterministic alternating text has continuation
  *     probability 1 everywhere ⇒ avg_ppm == 10⁶; a never-repeated
  *     bigram stream scores the uniform floor. */
class CurationSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("semDedup drops exactly the larger id of each planted near-dup pair at tau=0.95") {
    import spark.implicits._
    val dim = 16
    // 12 mutually-orthogonal one-hot vectors (ids 0..11) — centroids are
    // ids 0..7 — plus two planted near-dups: 20 ≈ copy of 9, 21 ≈ copy
    // of 10 (tiny perturbation, cosine ≈ 0.9999 > 0.95).
    val base = (0 until 12).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1.0 else 0.0))
    }
    // both perturbations lean toward e0 so the dups land in cluster 0 —
    // the same cell every pure one-hot tie-breaks into (min cid rule)
    val dups = Seq(
      (20L, Array.tabulate(dim)(j => if (j == 9) 1.0 else if (j == 0) 0.001 else 0.0)),
      (21L, Array.tabulate(dim)(j => if (j == 10) 1.0 else if (j == 0) 0.001 else 0.0)))
    val emb = (base ++ dups).toDF("vec_id", "v")
    val out = Curation.semDedup(emb, tauNum = 19L, tauDen = 20L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.size === 14)
    assert(out(20L) === 0L, "planted near-dup of id 9 must drop")
    assert(out(21L) === 0L, "planted near-dup of id 10 must drop")
    assert(out.filter(_._2 == 0L).keySet === Set(20L, 21L),
      "orthogonal vectors must all keep")
  }

  test("semDedup pairs only within clusters: cross-cluster near-dups are not compared") {
    import spark.implicits._
    val dim = 16
    // ids 0..7 seed 8 distinct centroids; 30 sits in cluster 2's cell,
    // 31 in cluster 3's cell (each nearest a different centroid), yet
    // 30 and 31 are near-identical to EACH OTHER along dim 15. SemDeDup
    // by construction must keep both — the quadratic step never crosses
    // cluster boundaries (the approximation the paper accepts for scale).
    val cents = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 10.0 else 0.0))
    }
    // small e2/e3 lean decides the cluster by L2; the shared large e15
    // component makes 30·31 cosine ≈ 400/401, while each point's cosine
    // to its own centroid is ≈ 0.05 (so nothing in-cluster drops)
    val pair = Seq(
      (30L, Array.tabulate(dim)(j => if (j == 2) 1.0 else if (j == 15) 20.0 else 0.0)),
      (31L, Array.tabulate(dim)(j => if (j == 3) 1.0 else if (j == 15) 20.0 else 0.0)))
    val emb = (cents ++ pair).toDF("vec_id", "v")
    val out = Curation.semDedup(emb, tauNum = 2L, tauDen = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(30L)._2 === 2L && byId(31L)._2 === 3L,
      "planted points must land in different clusters")
    assert(byId(30L)._3 === 1L && byId(31L)._3 === 1L,
      "cross-cluster pairs are never candidates")
  }

  test("DSIR weights are exactly 1e6 ppm when target == raw") {
    val dir = graft.Scratch.dir("curation_dsir").toString
    import spark.implicits._
    // every doc is lang=en ⇒ n_tgt == n_raw and tgt_total == raw_total
    // for every token ⇒ each smoothed ratio is exactly 1.
    Seq(
      (1L, "alpha beta gamma", "en", "s0", 16L),
      (2L, "beta gamma delta alpha", "en", "s1", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q144_dsir_weights")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 3L, 1000000L), (2L, 4L, 1000000L)))
  }

  test("bigram LM scores a deterministic alternating text at exactly 1e6 ppm") {
    val dir = graft.Scratch.dir("curation_bigram").toString
    import spark.implicits._
    // doc 1: a b a b a — bigrams ab, ba, ab, ba; c(a,b)=2=c(a), so every
    // continuation has probability exactly 1.
    // doc 2: x y z — bigrams xy, yz, each the unique continuation of a
    // head seen once ⇒ also probability 1. Corpus stats stay per-head.
    Seq(
      (1L, "a b a b a", "en", "s0", 9L),
      (2L, "x y z", "en", "s1", 5L),
      (3L, "solo", "en", "s2", 4L)) // 1 token: zero bigrams, must not
      .toDF("doc_id", "text", "lang", "source", "n_chars") // pollute counts
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("q146_bigram_lm")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 4L, 1000000L), (2L, 2L, 1000000L)),
      "the 1-token doc contributes no bigram rows and no head counts")
  }

  test("bigramPairsUdf matches the old Catalyst HOF form on an exhaustive edge-case corpus") {
    import spark.implicits._
    // The r15 rewrite (one-pass Scala UDF, Curation.scala) replaced the
    // interpreted HOF chain filter(split)→transform(sequence) for speed;
    // this differential pins the TOKENIZATION unchanged — same rule as
    // HashingRollSpec pinned the Mersenne/Barrett kernel rewrites.
    // Corpus: every string over {'a','b',' '} up to length 5 (covers
    // leading/trailing/multiple spaces, empty, 1-token), a few longer
    // multi-space shapes, and null.
    val alpha = Seq('a', 'b', ' ')
    val exhaustive = (0 to 5).flatMap { n =>
      (0 until math.pow(3, n).toInt).map { k =>
        var (x, s) = (k, new StringBuilder)
        (0 until n).foreach { _ => s += alpha(x % 3); x /= 3 }
        s.toString
      }
    }
    val extras = Seq("  leading two", "trailing two  ", "a  b   c    d",
      " ", "     ", "one", "pair of tokens", null)
    val docs = (exhaustive ++ extras).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val newForm = docs
      .select(col("doc_id"), explode(Curation.bigramPairsUdf(col("text"))).as("b"))
      .select(col("doc_id"), col("b._1").as("w1"), col("b._2").as("w2"))
    val oldForm = docs
      .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), " +
          "i -> struct(ws[i - 1] AS w1, ws[i] AS w2)) ELSE array() END")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val a = newForm.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    val b = oldForm.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(a === b, "UDF and Catalyst HOF bigram streams must be identical")
    assert(a.nonEmpty, "differential corpus must actually produce bigrams")
  }

  test("hard negatives never return a same-label vector and rank by cosine") {
    import spark.implicits._
    val dir = graft.Scratch.dir("curation_hardneg").toString
    // anchor id 0 (label 0): id 3 is its exact duplicate but SAME label
    // (excluded); ids 1, 2 have different labels with cosines 0.8, 0.6.
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (3L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.8f, 0.6f), 1),
      (2L, Array(0.6f, 0.8f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q147_hard_negatives")(spark, dir).collect()
    val forAnchor0 = out.filter(_.getLong(0) == 0L).map(r => (r.getLong(1), r.getDouble(2)))
    assert(forAnchor0.map(_._1).toSet === Set(1L, 2L), "same-label dup must be excluded")
    assert(forAnchor0.toMap.apply(1L) === 0.8 && forAnchor0.toMap.apply(2L) === 0.6)
  }

  test("boilerplateStrip drops exactly the cross-doc segments, preserving order") {
    import spark.implicits._
    // segLen=2 segments: doc 1 = ["nav bar","real text","more real"],
    // doc 2 = ["nav bar","other words"], doc 3 = ["unique only"].
    // "nav bar" recurs in 2 distinct docs → stripped everywhere; the
    // trailing odd word forms its own (shorter) segment and survives.
    val docs = Seq(
      (1L, "nav bar real text more real"),
      (2L, "nav bar other words"),
      (3L, "unique only"),
      (4L, "nav bar nav bar")) // all segments boilerplate → empty doc
      .toDF("doc_id", "text")
    val out = Curation.boilerplateStrip(docs, segLen = 2, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 1L, "real text more real"),
      (2L, 2L, 1L, "other words"),
      (3L, 1L, 0L, "unique only"),
      (4L, 2L, 2L, "")))
  }
}
