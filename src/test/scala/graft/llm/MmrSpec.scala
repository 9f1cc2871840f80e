package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form checks for MMR re-ranking: the planted case where pure
  * relevance returns a duplicate pair and MMR provably swaps the
  * duplicate for the diverse hit, plus tie-break and kernel edge rules. */
class MmrSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("mmrSelect drops the near-duplicate in favor of the diverse candidate") {
    // anchor = e0. v1 and v2 are IDENTICAL (rel .8, mutual sim 1.0);
    // v3 has the same relevance but low sim to v1 (.28). Pure relevance
    // top-2 = {1, 2}; MMR(λ=.7) second step scores v2 at
    // .7*.8 - .3*1 = .26 and v3 at .7*.8 - .3*.28 = .476 → {1, 3}.
    val cands = Array(
      (1L, 0.8, Array(0.8, 0.6, 0.0)),
      (2L, 0.8, Array(0.8, 0.6, 0.0)),
      (3L, 0.8, Array(0.8, -0.6, 0.0)))
    val out = Mmr.mmrSelect(cands, k = 2, lam = 0.7)
    assert(out.map(_._2).toSeq === Seq(1L, 3L))
    assert(math.abs(out(0)._3 - 0.56) < 1e-9)   // first pick: λ·rel
    assert(math.abs(out(1)._3 - 0.476) < 1e-9)
  }

  test("ties break toward the smaller vid; k caps at candidate count") {
    val cands = Array(
      (7L, 0.5, Array(1.0, 0.0)),
      (3L, 0.5, Array(0.0, 1.0)))
    val out = Mmr.mmrSelect(cands, k = 5, lam = 1.0)
    assert(out.map(_._2).toSeq === Seq(3L, 7L), "equal rel → smaller vid first")
    assert(out.length === 2)
  }

  test("mmrSelectExact mirrors the greedy on integer arithmetic") {
    // Quantized version of the duplicate-swap case: anchor (1000,0,0);
    // rel(11)=rel(12)=rel(13)=800000; sim(12,11)=800²+600²=1e6,
    // sim(13,11)=800²−600²=280000. Rank 2: 7·8e5−3·1e6 = 2.6e6 for the
    // duplicate vs 7·8e5−3·2.8e5 = 4.76e6 for the diverse hit → swap.
    val cands = Array(
      (11L, 800000L, Array(800L, 600L, 0L)),
      (12L, 800000L, Array(800L, 600L, 0L)),
      (13L, 800000L, Array(800L, -600L, 0L)))
    val out = Mmr.mmrSelectExact(cands, k = 3)
    assert(out.map(_._2).toSeq === Seq(11L, 13L, 12L))
    assert(out(0)._3 === 7L * 800000L)
    assert(out(1)._3 === 7L * 800000L - 3L * 280000L)
    assert(out(2)._3 === 7L * 800000L - 3L * 1000000L)
  }

  test("q204 end-to-end: quantized twin swaps the duplicate too") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.8f, 0.6f, 0.0f)),
      (12L, Array(0.8f, 0.6f, 0.0f)),
      (13L, Array(0.8f, -0.6f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Mmr.diversifiedTopKExact(spark, emb, k = 2, topn = 10)
      .collect().filter(_.getLong(0) == 0L).map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 11L), (2L, 13L)))
  }

  test("q233 Gonzalez greedy picks the hand-computed maximin chain") {
    import spark.implicits._
    // 8 points on a line (x, quantized to x·1000): start = min vec_id
    // (id1, x=0), then k−1 farthest-point steps with the smallest-id
    // tie-break at step 6 (id7 and id8 both at maximin distance 2).
    val dir = graft.Scratch.dir("mmr_kcenter").toString
    Seq((1L, 0f), (2L, 16f), (3L, 7f), (4L, 3f),
      (5L, 11f), (6L, 1f), (7L, 14f), (8L, 5f))
      .map { case (id, x) => (id, Array(x)) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.SparkEntry.queries("q233_kcenter_coreset")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def d2(x: Long) = x * x * 1000000L
    assert(out.toSeq === Seq(
      (1L, 1L, 0L), (2L, 2L, d2(16)), (3L, 3L, d2(7)), (4L, 5L, d2(4)),
      (5L, 4L, d2(3)), (6L, 7L, d2(2)), (7L, 8L, d2(2)), (8L, 6L, d2(1))))
  }

  test("q160 over a planted table diversifies end-to-end") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),  // anchor (vec_id < 5)
      (11L, Array(0.8f, 0.6f, 0.0f)),
      (12L, Array(0.8f, 0.6f, 0.0f)), // duplicate of 11
      (13L, Array(0.8f, -0.6f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Mmr.diversifiedTopK(spark, emb, k = 2, topn = 10, lam = 0.7)
      .collect().filter(_.getLong(0) == 0L).map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 11L), (2L, 13L)),
      "rank 1 = first duplicate, rank 2 = the diverse vector, never vid 12")
  }
}
