package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("salted two-phase agg equals direct agg on a skewed distribution") {
    import spark.implicits._
    // 90% of rows share one key — the classic hot-key shape
    val df = spark.range(100000)
      .select((when(col("id") % 10 =!= 0, lit(7)).otherwise(col("id") % 100)).as("k"),
        (col("id") % 13).cast("double").as("v"))
    val direct = df.groupBy("k")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val salted = Skew.saltedSumCount(df, "k", col("v"), 16, "s", "c")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(salted === direct)
  }

  test("salted join equals plain join and shuffles on (key, salt)") {
    import spark.implicits._
    val fact = spark.range(50000)
      .select((when(col("id") % 10 =!= 0, lit(7)).otherwise(col("id") % 100)).as("k"),
        col("id").as("fid"))
    val build = (0L until 100L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = fact.join(build, Seq("k"))
      .collect().map(r => (r.getLong(1), r.getString(2))).sorted
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the salt actually governs the shuffle layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val saltedDf = Skew.saltedJoin(fact, build, "k", 16)
      val p = saltedDf.queryExecution.executedPlan.toString
      assert(p.contains("__salt"), "salt column must reach the join keys")
      assert(!p.contains("BroadcastHashJoin"))
      val salted = saltedDf.collect().map(r => (r.getLong(1), r.getString(2))).sorted
      assert(salted === plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("approx count-distinct stays within 5% of exact per group (q67 vs q55)") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("q55_count_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.SparkEntry.queries("q67_approx_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      val relErr = math.abs(ap - ex).toDouble / math.max(1L, ex)
      assert(relErr < 0.05, s"group $k: approx $ap vs exact $ex (err $relErr)")
    }
  }
}
