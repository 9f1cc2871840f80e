package graft.streaming

import graft.T
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Watermark + append-mode semantics (SURVEY §2.9): windows finalize and
  * emit only once the watermark passes them, and finalized results equal
  * the batch computation for those windows. */
class WatermarkSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("append mode with watermark emits only finalized windows, equal to batch") {
    val dir = "/root/testdata/sf0.001"
    val ev = T(spark, dir, "events").select(col("ts"), col("value"))
    val mid = ev.agg(expr("timestamp_micros(cast(avg(unix_micros(ts)) as long))"))
      .collect()(0).getTimestamp(0)
    val tmp = graft.Scratch.fresh("spec_wm")
    // two files = two triggers; the second advances the watermark past the
    // first file's windows so they finalize
    ev.filter(col("ts") < lit(mid))
      .coalesce(1).write.parquet(s"$tmp/a")
    Thread.sleep(1100) // distinct mtimes → deterministic file order
    ev.filter(col("ts") >= lit(mid))
      .coalesce(1).write.parquet(s"$tmp/b")
    val schema = ev.schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/*")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("n"))
    val name = "wm_test"
    val q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table(name).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = ev.groupBy(window(col("ts"), "1 hour").as("w")).agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(emitted.nonEmpty, "watermark advance must finalize at least one window")
    assert(emitted.size < batch.size, "open windows must NOT be emitted in append mode")
    emitted.foreach { case (h, n) =>
      assert(batch(h) === n, s"finalized window $h disagrees with batch")
    }
  }

  test("streaming dedup equals batch dedup on a corpus with planted duplicates") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.T(spark, dir, "documents")
    // plant exact duplicates: 10 docs re-appear under shifted ids
    val planted = docs.limit(10)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val tmp = graft.Scratch.fresh("spec_dedup_stream")
    // the driver's documents.parquet is a single FILE (the source glob
    // matches files) — stage the planted corpus the same way
    docs.unionByName(planted).coalesce(1).write.parquet(s"$tmp/stage")
    val part = new java.io.File(s"$tmp/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/documents.parquet"))
    val streamed = graft.streaming.Streams.streamDedup(spark, tmp).collect()
    val batch = docs.unionByName(planted)
      .select(md5(col("text").cast("binary")).as("hash")).distinct().count()
    assert(streamed.length === batch,
      s"stream kept ${streamed.length} docs, batch distinct hashes = $batch")
    // exactly one survivor per planted duplicate pair
    val hashes = streamed.map(_.getString(1))
    assert(hashes.distinct.length === hashes.length, "stream emitted a duplicate hash")
  }
}
