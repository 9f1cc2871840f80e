package graft.streaming

import java.io.{File, RandomAccessFile}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The stateful-stream partition count: [[Streams.stateParts]] is the only
  * thing that chooses it, from the staged source's size, and a streaming
  * query leaves the session conf it overrides as it found it. Sizes come
  * from sparse files (`RandomAccessFile.setLength`), so no real hundreds
  * of MB are written. */
class StatePartsSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private val MB = 1L << 20

  private def sparse(f: File, bytes: Long): Unit = {
    f.getParentFile.mkdirs()
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  private def withDir[A](body: File => A): A = {
    val d = Files.createTempDirectory("stateparts_spec_").toFile
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    try body(d) finally rm(d)
  }

  /** stateParts over a dir holding one single-file `<table>.parquet`. */
  private def partsFor(table: String, bytes: Long, base: Int): Int =
    withDir { d =>
      sparse(new File(d, s"$table.parquet"), bytes)
      Streams.stateParts(d.getPath, base)
    }

  test("stateParts steps: base up to 32 MB, max(base,16) above, max(base,32) above 256 MB") {
    assert(partsFor("events", 0L, 8) === 8)
    assert(partsFor("events", 32 * MB, 8) === 8)
    assert(partsFor("events", 32 * MB, 4) === 4)
    assert(partsFor("events", 33 * MB, 8) === 16)
    assert(partsFor("events", 33 * MB, 4) === 16)
    assert(partsFor("events", 33 * MB, 20) === 20)
    assert(partsFor("events", 256 * MB, 8) === 16)
    assert(partsFor("events", 257 * MB, 8) === 32)
    assert(partsFor("events", 257 * MB, 40) === 40)
    // documents is sized too; the larger of the two staged sources decides
    assert(partsFor("documents", 257 * MB, 4) === 32)
    withDir { d =>
      sparse(new File(d, "events.parquet"), 1 * MB)
      sparse(new File(d, "documents.parquet"), 40 * MB)
      assert(Streams.stateParts(d.getPath, 8) === 16)
    }
  }

  test("stateParts sizes a directory-style events.parquet recursively") {
    withDir { d =>
      val ds = new File(d, "events.parquet")
      sparse(new File(ds, "part-00000.parquet"), 150 * MB)
      sparse(new File(ds, "day=2024-01-02/part-00001.parquet"), 150 * MB)
      sparse(new File(ds, "day=2024-01-03/hour=07/part-00002.parquet"), 10 * MB)
      assert(Streams.stateParts(d.getPath, 8) === 32)
    }
    withDir { d =>
      val ds = new File(d, "events.parquet")
      sparse(new File(ds, "part-00000.parquet"), 20 * MB)
      sparse(new File(ds, "day=2024-01-02/part-00001.parquet"), 20 * MB)
      assert(Streams.stateParts(d.getPath, 8) === 16)
    }
  }

  test("a streaming query restores the session's partition, no-data-batch and checkpoint conf") {
    // every registered streaming query, each stopped when it returns
    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.checkpointLocation")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def snapshot = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try withDir { ck =>
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
      spark.conf.set("spark.sql.streaming.checkpointLocation", ck.getPath)
      val before = snapshot
      for (q <- Streams.all) {
        assert(q.fn(spark, "/root/testdata/sf0.001").collect().nonEmpty, q.name)
        assert(snapshot === before, q.name)
        assert(spark.streams.active.isEmpty, q.name)
      }

      // an unset checkpoint root stays unset
      spark.conf.unset("spark.sql.streaming.checkpointLocation")
      Streams.streamTumblingHour(spark, "/root/testdata/sf0.001").collect()
      assert(snapshot === before.updated("spark.sql.streaming.checkpointLocation", None))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
