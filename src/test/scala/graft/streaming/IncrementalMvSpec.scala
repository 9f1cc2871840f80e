package graft.streaming

import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** q117's oracle proves the FINAL MV equals the batch aggregate; this
  * spec proves the path there was actually INCREMENTAL — multiple
  * micro-batch merges into a day-partitioned MV, with untouched day
  * partitions physically untouched and replayed batches skipped — and
  * that q121's retention really removed the expired partition
  * directories (facts the content-only oracle cannot see). */
class IncrementalMvSpec extends AnyFunSuite {

  private lazy val spark = Sessions.build("local[4]", 4)
  private val sf = "/root/testdata/sf0.001"

  private def batchDf(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("event_type", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts")))
  }

  /** (fileName → (mtime, length)) for every data file under a day dir. */
  private def fileState(root: String, day: String): Map[String, (Long, Long)] = {
    val d = new java.io.File(root, s"day=$day")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => f.getName -> (f.lastModified(), f.length())).toMap
  }

  test("merge is partition-pruned: untouched day keeps its exact files") {
    val mvRoot = graft.Scratch.fresh("mv_spec_prune")
    Streams.mvMergeBatch(spark, mvRoot,
      batchDf(Seq(("click", "2024-01-01 10:00:00", 1.5),
                  ("view",  "2024-01-02 11:00:00", 2.0))), 0L)
    val day1Before = fileState(mvRoot, "2024-01-01")
    assert(day1Before.nonEmpty)
    // second batch touches ONLY 2024-01-02
    Streams.mvMergeBatch(spark, mvRoot,
      batchDf(Seq(("click", "2024-01-02 12:00:00", 3.0))), 1L)
    assert(fileState(mvRoot, "2024-01-01") === day1Before,
      "untouched day=2024-01-01 partition must keep path+mtime identity")
    val day2 = spark.read.parquet(s"$mvRoot/day=2024-01-02")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(day2 === Map("view" -> 1L, "click" -> 1L))
  }

  test("replayed micro-batch (same batchId) is a no-op") {
    val mvRoot = graft.Scratch.fresh("mv_spec_retry")
    val b = batchDf(Seq(("click", "2024-01-01 10:00:00", 1.5)))
    Streams.mvMergeBatch(spark, mvRoot, b, 0L)
    val before = fileState(mvRoot, "2024-01-01")
    Streams.mvMergeBatch(spark, mvRoot, b, 0L) // foreachBatch retry
    assert(fileState(mvRoot, "2024-01-01") === before,
      "replaying an applied batchId must not touch the MV")
    val n = spark.read.parquet(s"$mvRoot/day=2024-01-01")
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect()(0).getLong(0)
    assert(n === 1L, "a replayed batch must not double-count")
  }

  test("incremental MV: several micro-batches merged, not one big batch") {
    val out = Streams.incrementalMv(spark, sf)
    assert(out.count() > 0)
    // the stage dir holds 8 files, maxFilesPerTrigger=2 → ≥4 batches,
    // each leaving an applied-batch marker; the MV lives in the shared
    // per-JVM scratch under the stable name the operator uses
    val mvRoot = new java.io.File(graft.Scratch.dir("mv_state"))
    val applied = Option(new java.io.File(mvRoot, "_applied").listFiles())
      .getOrElse(Array.empty).map(_.getName)
    assert(applied.length >= 4, s"expected ≥4 applied batches, got ${applied.mkString(",")}")
    val dayDirs = mvRoot.listFiles().filter(_.getName.startsWith("day="))
    assert(dayDirs.nonEmpty, "MV must be physically partitioned by day")
  }

  test("retention: expired day partitions are gone from the table layout") {
    val out = graft.SparkEntry.queries("q121_retention")(spark, sf)
    val days = out.collect().map(_.getString(0)).sorted
    assert(days.nonEmpty)
    val tbl = new java.io.File(graft.ops.Ingest.retainedTable(spark, sf))
    val dirs = tbl.listFiles().filter(_.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted
    assert(dirs.length === days.length, s"layout ${dirs.length} dirs vs ${days.length} result days")
    assert(dirs.head === days.head, "oldest surviving partition must be the cutoff day")
  }
}
