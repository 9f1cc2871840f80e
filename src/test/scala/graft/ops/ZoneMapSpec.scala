package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two properties the q164 oracle alone cannot see: the prune
  * actually FIRES (the oracle would also pass if every file were read),
  * and the skipped files hold no qualifying row (losslessness from first
  * principles, independent of the aggregate downstream). */
class ZoneMapSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val fromUs = 788918400000000L // 1995-01-01T00:00:00Z
  private val toUs = 820368000000000L   // 1995-12-31T00:00:00Z

  test("range-clustered layout yields one zone per file, zones cover the table") {
    val path = ZoneMap.ensureClustered(spark, dir)
    val zones = ZoneMap.manifest(spark, path)
    assert(zones.length > 1 && zones.length <= ZoneMap.NumFiles)
    assert(zones.forall { case (_, lo, hi) => lo <= hi })
    val n = spark.read.parquet(path).count()
    val full = graft.T(spark, dir, "orders").count()
    assert(n == full, "clustered copy lost rows")
  }

  test("the 1995 range predicate skips most files") {
    val path = ZoneMap.ensureClustered(spark, dir)
    val zones = ZoneMap.manifest(spark, path)
    val kept = ZoneMap.prunedFiles(zones, fromUs, toUs)
    // orders span 1995–2001; one year overlaps ~1/7 of range-disjoint
    // files (rounding up at both edges)
    assert(kept.size < zones.length / 2,
      s"prune did not fire: kept ${kept.size} of ${zones.length}")
    assert(kept.nonEmpty)
  }

  test("skipped files hold zero qualifying rows (losslessness at file level)") {
    val path = ZoneMap.ensureClustered(spark, dir)
    val zones = ZoneMap.manifest(spark, path)
    val kept = ZoneMap.prunedFiles(zones, fromUs, toUs).toSet
    val skipped = zones.map(_._1).filterNot(kept)
    assert(skipped.nonEmpty)
    val qualifying = spark.read.parquet(skipped: _*)
      .filter(unix_micros(col("o_orderdate").cast("timestamp"))
        .between(fromUs, toUs))
      .count()
    assert(qualifying == 0L, s"$qualifying qualifying rows in skipped files")
  }
}
