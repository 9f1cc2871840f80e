package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout guarantees of the q115 compaction pass — the properties the
  * DuckDB oracle (which only fingerprints content) cannot check: bounded
  * file count, range-DISJOINT files (footer min/max prunes time scans),
  * and in-file ordering. */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("compaction: ≤4 files, per-file ts ranges disjoint, rows preserved") {
    val src = spark.read.parquet(s"$sf/events.parquet")
    val dir = graft.Scratch.fresh("spec_compact")
    Ingest.compact(src, 4, "ts").write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir)
    assert(out.count() === src.count())
    // ts as epoch micros regardless of the driver generation's storage type
    val files = out
      .withColumn("us", graft.Ts.microsCol(out.schema))
      .groupBy(input_file_name().as("f"))
      .agg(min(col("us")).as("lo"), max(col("us")).as("hi"), count(lit(1)).as("n"))
      .collect()
    assert(files.length <= 4 && files.length >= 2)
    // disjoint: sorted by lo, each file's hi < next file's lo
    val ranges = files.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ => ()
    }
  }

  test("compaction: rows inside each file are sorted by ts") {
    val src = spark.read.parquet(s"$sf/events.parquet")
    val dir = graft.Scratch.fresh("spec_compact_sorted")
    Ingest.compact(src, 3, "ts").write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      // tiny spec files read as one partition, so collect order = row order
      val df = spark.read.parquet(f.getAbsolutePath)
      val ts = df.select(graft.Ts.microsCol(df.schema).as("us"))
        .collect().map(_.getLong(0))
      assert(ts.sameElements(ts.sorted), s"unsorted rows in ${f.getName}")
    }
  }
}
