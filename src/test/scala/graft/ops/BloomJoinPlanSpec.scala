package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Plan gate for q118: with broadcast off (the cluster-scale case) and the
  * runtime bloom filter enabled, Catalyst must plant a bloom-filter
  * `might_contain` predicate on the application (lineitem) side — the
  * scan-level pruning that removes the dominant shuffle for selective
  * fact⋈fact joins. Guards against a silent regression to an unfiltered
  * shuffle join (e.g. confs restored before execution, rule preconditions
  * drifting across Spark upgrades). */
class BloomJoinPlanSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q118 optimized plan contains a bloom might_contain runtime filter") {
    val plan = Bucketed.bloomPlanText(spark, sf)
    assert(plan.contains("might_contain"), s"no bloom runtime filter in:\n$plan")
  }

  test("q118 result matches the plain (broadcastable) join") {
    val pruned = Bucketed.bloomPrunedJoin(spark, sf).collect()
    val plain = graft.T(spark, sf, "lineitem")
      .join(graft.T(spark, sf, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .count()
    assert(pruned.map(_.getLong(1)).sum === plain)
  }
}
