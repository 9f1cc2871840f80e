package graft.ops

import graft.T
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The protocol properties the q173 oracle cannot see: a rejected
  * publish leaves the pointer untouched (old version stays visible), and
  * a subsequent clean publish flips it atomically. */
class WapSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("dirty refresh is rejected, pointer stays on the prior version, clean publish flips it") {
    val root = graft.Scratch.fresh("wap_spec")
    val clean = T(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    assert(Ingest.Wap.publish(spark, root, "v1", clean))
    assert(Ingest.Wap.resolve(root) == "v1")
    val v1Rows = spark.read.parquet(s"$root/v1").count()

    val dirty = clean.withColumn("o_custkey",
      when(col("o_orderkey") % 50 === 0, lit(null)).otherwise(col("o_custkey")))
    assert(!Ingest.Wap.publish(spark, root, "v2", dirty), "null-FK refresh must fail audit")
    assert(Ingest.Wap.resolve(root) == "v1", "rejected publish moved the pointer")
    // staged files remain for debugging, but the resolved read is v1
    assert(spark.read.parquet(s"$root/${Ingest.Wap.resolve(root)}").count() == v1Rows)

    val v3 = clean.filter(col("o_orderkey") % 2 === 0)
    assert(Ingest.Wap.publish(spark, root, "v3", v3))
    assert(Ingest.Wap.resolve(root) == "v3", "clean publish must flip the pointer")
  }

  test("audit rejects duplicate primary keys specifically") {
    val clean = T(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    assert(Ingest.Wap.audit(clean))
    assert(!Ingest.Wap.audit(clean.unionByName(clean.limit(1))))
  }
}
