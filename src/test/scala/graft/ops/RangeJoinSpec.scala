package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("bucketized range join equals brute-force BETWEEN join") {
    val pts = spark.range(5000).select(
      ((col("id") * 37) % 1000).as("p"), col("id").as("pid"))
    val ranges = spark.range(80).select(
      col("id").as("rid"),
      ((col("id") * 13) % 900).as("lo"))
      .withColumn("hi", col("lo") + 5 + (col("rid") * 11) % 90)
    val fast = Relational.rangeJoin(pts, ranges, "p", "lo", "hi", 128L)
      .select(col("pid"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val brute = pts.join(ranges, col("p") >= col("lo") && col("p") < col("hi"))
      .select(col("pid"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(fast.nonEmpty)
    assert(fast.toSeq === brute.toSeq)
  }

  test("empty and inverted ranges match nothing") {
    import spark.implicits._
    val pts = spark.range(100).select(col("id").as("p"))
    val ranges = Seq((1L, 10L, 10L), (2L, 50L, 40L), (3L, 20L, 22L))
      .toDF("rid", "lo", "hi")
    val got = Relational.rangeJoin(pts, ranges, "p", "lo", "hi", 64L)
      .select(col("rid"), col("p")).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq((3L, 20L), (3L, 21L)))
  }

  test("approx percentile within sketch accuracy of exact") {
    val df = graft.T(spark, "/root/testdata/sf0.001", "lineitem")
    val approx = df.agg(
      expr("percentile_approx(l_extendedprice, 0.5, 1000)")).collect().head.getDouble(0)
    val exact = df.agg(
      expr("percentile(l_extendedprice, 0.5)")).collect().head.getDouble(0)
    // GK sketch with accuracy 1000 → rank error ≤ n/1000; translate to a
    // loose value bound via the exact p45..p55 envelope
    val lo = df.agg(expr("percentile(l_extendedprice, 0.45)")).collect().head.getDouble(0)
    val hi = df.agg(expr("percentile(l_extendedprice, 0.55)")).collect().head.getDouble(0)
    assert(approx >= lo && approx <= hi,
      s"approx median $approx outside p45..p55 [$lo, $hi] (exact $exact)")
  }

  test("q219: sub-rank accuracy makes percentile_approx an exact column element") {
    // the discrete-quantile property the oracle twin relies on: at
    // accuracy >= n the sketch's permitted rank error is < 1, so every
    // returned quantile is an ACTUAL element of the column (quantile_disc
    // semantics), not an interpolation
    val df = graft.T(spark, "/root/testdata/sf0.001", "lineitem")
    val values = df.select(col("l_extendedprice")).collect().map(_.getDouble(0)).toSet
    for (p <- Seq(0.25, 0.5, 0.95)) {
      val v = df.agg(expr(s"percentile_approx(l_extendedprice, $p, 10000000)"))
        .collect().head.getDouble(0)
      assert(values.contains(v), s"p=$p: $v is not an element of the column")
    }
  }
}
