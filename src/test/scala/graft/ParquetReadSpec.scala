package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Parquet]]: the schema `spark.read.parquet` infers and the row count
  * `count()` returns, from footers read on the driver, with no Spark job;
  * and no engine source reads parquet any other way. */
class ParquetReadSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val fixtures = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def withDir[A](body: File => A): A = {
    val d = Files.createTempDirectory("parquet_read_spec_").toFile
    def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    try body(d) finally rm(d)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("schema equals spark.read.parquet's for every sf0.001 driver table") {
    val dir = fixtures.head
    tables.foreach { t =>
      val p = s"$dir/$t.parquet"
      assert(Parquet.read(spark, p).schema === spark.read.parquet(p).schema, t)
    }
  }

  test("a TIMESTAMP(NANOS) events.ts stays a long under nanosAsLong") {
    withDir { d =>
      val file = new File(d, "events.parquet").getPath
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
      val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
        .withConf(spark.sparkContext.hadoopConfiguration).build()
      val rows = new SimpleGroupFactory(schema)
      try (0 until 5).foreach { i =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", 1000000000L * i))
      } finally w.close()
      val mine = Parquet.read(spark, file)
      assert(mine.schema === spark.read.parquet(file).schema)
      assert(mine.schema("ts").dataType === LongType)
      assert(mine.orderBy("event_id").collect().map(_.getLong(1)).toSeq ===
        (0 until 5).map(1000000000L * _))
    }
  }

  test("multi-file, file-list and yr=-partitioned reads: same schema, rows and count") {
    withDir { d =>
      val multi = new File(d, "multi").getPath
      T(spark, fixtures.head, "orders").repartition(3).write.parquet(multi)
      assert(new File(multi).list().count(_.endsWith(".parquet")) === 3)
      val parted = new File(d, "parted").getPath
      spark.range(40).select(col("id"), (col("id") * 2).as("v"),
        (lit(2000) + col("id") % 3).cast(IntegerType).as("yr"))
        .write.partitionBy("yr").parquet(parted)
      Seq(multi, parted).foreach { p =>
        val mine = Parquet.read(spark, p)
        val spark0 = spark.read.parquet(p)
        assert(mine.schema === spark0.schema, p)
        assert(mine.collect().map(_.toString).sorted === spark0.collect().map(_.toString).sorted, p)
        assert(Parquet.rowCount(spark, p) === spark0.count(), p)
      }
      val files = new File(multi).listFiles.map(_.getPath).filter(_.endsWith(".parquet")).reverse
      assert(Parquet.read(spark, files.toIndexedSeq: _*).schema ===
        spark.read.parquet(files.toIndexedSeq: _*).schema)
      assert(Parquet.rowCount(spark, files.toIndexedSeq: _*) === Parquet.rowCount(spark, multi))
      val yr = Parquet.read(spark, parted).schema("yr")
      assert(yr.dataType === IntegerType)
      assert(Parquet.read(spark, parted).columns.toSeq === Seq("id", "v", "yr"))
    }
  }

  test("footer row counts equal count() on sf0.001 and sf0.01") {
    for (dir <- fixtures; t <- tables) {
      val p = s"$dir/$t.parquet"
      assert(Parquet.rowCount(spark, p) === spark.read.parquet(p).count(), p)
    }
  }

  test("the schema and the row count launch no Spark job") {
    val events = s"${fixtures.head}/events.parquet"
    assert(jobsDuring(spark.read.parquet(events).schema) >= 1,
      "the listener must see spark.read.parquet's schema job")
    assert(jobsDuring(Parquet.read(spark, events).schema) === 0)
    assert(jobsDuring(Parquet.rowCount(spark, events)) === 0)
  }

  test("an empty directory throws what spark.read.parquet throws") {
    withDir { d =>
      val theirs = intercept[Exception](spark.read.parquet(d.getPath))
      val mine = intercept[Exception](Parquet.read(spark, d.getPath))
      assert(mine.getClass === theirs.getClass)
      assert(mine.getMessage === theirs.getMessage)
    }
  }

  test("no engine source outside graft.Parquet calls read.parquet(") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val walk = Files.walk(root.toPath)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/Parquet.scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("read.parquet(") => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
