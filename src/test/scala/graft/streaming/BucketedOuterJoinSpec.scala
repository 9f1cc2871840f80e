package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Width-invariance of the (user, time-bucket)-sharded interval joins:
  * every bucket width must produce the identical answer, because the
  * interval predicate is unchanged and each qualifying pair
  * materializes in exactly the quote's own bucket. The widths chosen
  * exercise the probe arithmetic: 24 h (2 probe buckets — the
  * default), 12 h (3), and 7 h (ceil(24/7)+1 = 5 — a NON-divisor of
  * the 24 h lookback, so the last probe bucket only partially overlaps
  * the window and the interval predicate must do the trimming).
  * The outer joins additionally pin their reconciliation laws: an
  * exploded trade emits a spurious null row per matchless bucket —
  * more of them at narrower widths — and the published aggregates must
  * absorb every one (left join via null-skipping count/sum, full join
  * via trade-keyed "total matches = 0" orphan detection). The fixture
  * exercises all three trade shapes (matched in several buckets,
  * matched in one, matched in none — sf0.001 has 46 matchless trades). */
class BucketedOuterJoinSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("inner interval join is bucket-width-invariant (24h vs 7h)") {
    val w24 = Streams.streamIntervalJoin(spark, dir).collect()
    val w7 = Streams.streamIntervalJoin(spark, dir, bucketHours = 7).collect()
    assert(w7.length == w24.length)
    val want = w24.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = w7.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("left-outer join is width-invariant and absorbs per-bucket null rows") {
    val w24 = Streams.streamLeftOuterJoin(spark, dir).collect()
    val w12 = Streams.streamLeftOuterJoin(spark, dir, bucketHours = 12).collect()
    assert(w12.length == w24.length)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    val want = key(w24)
    val got = key(w12)
    assert(got == want)
    // the fixture exercises the unmatched shape: some (0, NULL) trades
    assert(got.exists(t => t._2 == 0L && t._3.isEmpty))
    // and the matched shape
    assert(got.exists(_._2 > 0L))
  }

  test("full-outer reconciliation summary is width-invariant (24h vs 12h)") {
    val w24 = Streams.streamFullOuterJoin(spark, dir).collect()(0)
    val w12 = Streams.streamFullOuterJoin(spark, dir, bucketHours = 12).collect()(0)
    for (i <- 0 until 5)
      assert(w12.get(i) == w24.get(i), s"col $i: ${w12.get(i)} vs ${w24.get(i)}")
    // sanity: both orphan classes are non-empty on the fixture, so the
    // trade-keyed zero-match detection and the quote-orphan pass both ran
    assert(w24.getLong(1) > 0L, "no unmatched trades in fixture")
    assert(w24.getLong(2) > 0L, "no unmatched quotes in fixture")
  }

  test("bucketHours outside [1, 24] is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      Streams.streamIntervalJoin(spark, dir, bucketHours = 0).collect()
    }
    assert(e.getMessage.contains("bucketHours"))
  }
}
