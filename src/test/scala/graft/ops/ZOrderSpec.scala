package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("morton code interleaves bits (known values)") {
    import spark.implicits._
    // quantized on [0,65536): x=3 (011), y=5 (101) → z = 100111b = 39
    val got = Seq((3.0, 5.0)).toDF("x", "y")
      .select(ZOrder.mortonCode(col("x"), 0, 65536, col("y"), 0, 65536))
      .collect().head.getLong(0)
    assert(got === 39L)
    // locality: neighbors in (x,y) are near in z
    val codes = Seq((100.0, 100.0), (101.0, 100.0), (100.0, 101.0), (30000.0, 100.0))
      .toDF("x", "y")
      .select(ZOrder.mortonCode(col("x"), 0, 65536, col("y"), 0, 65536))
      .collect().map(_.getLong(0))
    assert(math.abs(codes(1) - codes(0)) < 10)
    assert(math.abs(codes(2) - codes(0)) < 10)
    assert(math.abs(codes(3) - codes(0)) > 100000)
  }

  test("clustering shrinks per-partition bounding boxes vs hash layout") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(20000)((rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
      .toDF("x", "y")
    def partitionBboxArea(df: org.apache.spark.sql.DataFrame): Double =
      df.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg((max("x") - min("x")).as("w"), (max("y") - min("y")).as("h"))
        .agg(sum(col("w") * col("h"))).collect().head.getDouble(0)
    val clustered = ZOrder.cluster(pts, "x", 0, 1000, "y", 0, 1000, 16)
    val hashed = pts.repartition(16)
    val aC = partitionBboxArea(clustered)
    val aH = partitionBboxArea(hashed)
    // hash layout: every partition spans ~the whole domain (16 × 1e6);
    // z-order partitions cover locality-contiguous curve segments
    assert(aC < aH / 3, s"clustered bbox area $aC not << hashed $aH")
  }

  test("q174 bbox prune fires: the aligned tile reads a strict minority of files") {
    val dir = "/root/testdata/sf0.001"
    val path = ZOrder.ensureZLayout(spark, dir)
    val zones = spark.read.parquet(path)
      .groupBy(col("_metadata.file_path")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val (zLo, zHi) = (ZOrder.mortonOf(256L, 512L), ZOrder.mortonOf(319L, 575L))
    val kept = zones.count { case (lo, hi) => hi >= zLo && lo <= zHi }
    assert(kept > 0 && kept < zones.length / 2,
      s"prune did not fire: kept $kept of ${zones.length} files")
    // driver-side morton mirrors the column arithmetic exactly
    import spark.implicits._
    val colCode = Seq((256.0, 512.0)).toDF("x", "y")
      .select(ZOrder.mortonCode(col("x"), 0, 1024, col("y"), 0, 1024))
      .collect().head.getLong(0)
    assert(colCode == zLo, s"driver morton $zLo != column morton $colCode")
  }
}
