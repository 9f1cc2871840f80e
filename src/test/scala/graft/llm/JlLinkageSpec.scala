package graft.llm

import graft.SparkEntry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic (not arithmetic — the q230/q231 oracles gate that) properties
  * of the JL projection and the record-linkage decision on driver data. */
class JlLinkageSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.01"

  test("q230: JL projection preserves pairwise distance in expectation (ratio_ppm ~ 1e6)") {
    val df = SparkEntry.queries("q230_jl_projection")(spark, dir)
    val r = df.agg(
      avg(col("ratio_ppm")).as("mean"),
      expr("percentile(ratio_ppm, 0.5)").as("med"),
      count(lit(1)).as("n")).head()
    val (mean, med, n) = (r.getDouble(0), r.getDouble(1), r.getLong(2))
    assert(n >= 400)
    // K=16 gives ~35% per-pair sigma; the MEAN over ~500 pairs must sit
    // tight around the JL expectation, the median a bit below (right skew)
    assert(mean > 700000 && mean < 1400000, s"mean ratio_ppm = $mean")
    assert(med > 600000 && med < 1400000, s"median ratio_ppm = $med")
  }

  test("q231: every typo-damaged probe links back to its source record at sf0.01") {
    val df = SparkEntry.queries("q231_record_linkage")(spark, dir)
    val r = df.agg(count(lit(1)), sum(col("correct")), min(col("jw_bp"))).head()
    assert(r.getLong(0) === 150L) // custkey % 10 = 7 of 1500
    assert(r.getLong(1) === 150L, "a probe matched a foreign record")
    assert(r.getLong(2) >= 9000L) // floored basis points (r12 quantization)
  }
}
