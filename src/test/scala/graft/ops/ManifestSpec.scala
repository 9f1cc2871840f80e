package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared manifest kernel (one copy of collect-a-manifest, consumed by
  * ZoneMap, ZOrder q174, and retention): correctness of zones/prune plus
  * the row-count guard — the collect is limit-capped BEFORE it reaches the
  * driver and fails fast past the cap instead of OOMing. */
class ManifestSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def layout(nFiles: Int): String = {
    import spark.implicits._
    val path = graft.Scratch.fresh("manifest_spec")
    (0L until 400L).map(i => (i, i / (400 / nFiles)))
      .toDF("v", "b")
      .repartitionByRange(nFiles, col("b")).sortWithinPartitions(col("v"))
      .write.mode("overwrite").parquet(path)
    path
  }

  test("zones are per-file min/max and prune keeps exactly the overlapping files") {
    val path = layout(8)
    val zones = Manifest.zones(spark, path, col("v"))
    assert(zones.length === 8)
    // zones tile [0, 400) in 50-wide ranges; a [120, 180] probe overlaps
    // files [100,150), [150,200) — exactly 2 of 8
    val kept = Manifest.prune(zones, 120L, 180L)
    assert(kept.length === 2)
    // losslessness: rows from kept files == rows from the full scan
    val full = spark.read.parquet(path)
      .filter(col("v") >= 120 && col("v") <= 180).count()
    val pruned = spark.read.parquet(kept: _*)
      .filter(col("v") >= 120 && col("v") <= 180).count()
    assert(pruned === full)
  }

  test("guard fails fast past the cap; the collect itself stays capped") {
    val path = layout(8)
    val e = intercept[IllegalArgumentException] {
      Manifest.zones(spark, path, col("v"), cap = 3)
    }
    assert(e.getMessage.contains("exceeds 3 entries"))
    // at or under the cap: fine
    assert(Manifest.zones(spark, path, col("v"), cap = 8).length === 8)
  }

  test("partitionValues lists a partitioned layout without reading data pages") {
    import spark.implicits._
    val path = graft.Scratch.fresh("manifest_parts")
    (0 until 100).map(i => (i, s"d${i % 5}")).toDF("v", "day")
      .write.partitionBy("day").mode("overwrite").parquet(path)
    val vals = Manifest.partitionValues(spark, path, col("day"))
    assert(vals.sorted.toSeq === (0 until 5).map(i => s"d$i"))
    intercept[IllegalArgumentException] {
      Manifest.partitionValues(spark, path, col("day"), cap = 2)
    }
  }
}
