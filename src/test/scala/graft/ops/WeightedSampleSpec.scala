package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form checks for q157's PPS systematic sampler: exact output
  * size, the ≥W/k inclusion guarantee, proportionality on a planted
  * heavy document, and determinism across runs. */
class WeightedSampleSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def sample(weights: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val df = weights.toDF("doc_id", "n_chars")
    Analytics.weightedSystematicSample(df, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("returns exactly k samples, one doc per probe") {
    val ws = (0L until 100L).map(i => i -> (1L + i % 7))
    val out = sample(ws, 13)
    assert(out.size === 13)
    assert(out.map(_._1).toSeq === (0L until 13L))
  }

  test("a document holding >= W/k weight is always included, ~proportionally") {
    // 50 docs of weight 1 plus one elephant of weight 50: W = 100, k = 10,
    // stride 10 — the elephant spans half the line so it must catch ~5 probes.
    val ws = (0L until 50L).map(_ -> 1L) :+ (99L -> 50L)
    val hits = sample(ws, 10).filter(_._2 == 99L)
    assert(hits.size === 5, s"elephant caught ${hits.size} probes, want 5")
  }

  test("deterministic: same input, same sample, any partitioning") {
    import spark.implicits._
    val ws = (0L until 200L).map(i => i -> (10L + (i * 37) % 91))
    val a = sample(ws, 17)
    val b = Analytics.weightedSystematicSample(
        ws.toDF("doc_id", "n_chars").repartition(7), 17)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a === b)
  }
}
