package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, min}
import org.scalatest.funsuite.AnyFunSuite

/** [[T.layout]]: a driver table with too few row groups is scanned through
  * a per-JVM copy split into one file of consecutive rows per core; every
  * other table is read in place. `k` is read from the session the spec
  * gets, which is whichever session the test JVM built first. */
class TableLayoutSpec extends AnyFunSuite {

  private lazy val spark = Sessions.build("local[4]", 4)
  private def k = spark.sparkContext.defaultParallelism
  private def wide = math.min(8, k)
  private val fixtures = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  private def withDir[A](body: File => A): A = {
    val d = Files.createTempDirectory("table_layout_spec_").toFile
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

  /** `n` rows of `id` 0 until n as ONE parquet file with one row group,
    * at `<d>/<name>.parquet`. */
  private def oneFile(d: File, name: String, n: Long): String = {
    val tmp = new File(Files.createTempDirectory(d.toPath, "tmp").toFile, "out").getPath
    spark.range(n).coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles.filter(_.getName.endsWith(".parquet")).head
    val file = new File(d, s"$name.parquet")
    Files.move(part.toPath, file.toPath)
    file.getPath
  }

  /** Rows per scan task of `df`, in partition order. */
  private def taskRows(df: DataFrame): Seq[Int] =
    df.queryExecution.toRdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  test("every sf0.001 and sf0.01 table: same schema and the same rows as the file") {
    for (dir <- fixtures; t <- tables) {
      val p = s"$dir/$t.parquet"
      val orig = Ts.norm(Parquet.read(spark, p))
      val mine = T(spark, dir, t)
      assert(mine.schema === orig.schema, p)
      assert(mine.count() === orig.count(), p)
      assert(mine.exceptAll(orig).isEmpty && orig.exceptAll(mine).isEmpty, p)
      if (k > 1 && orig.count() >= k)
        assert(mine.inputFiles.length > 1 && !mine.inputFiles.exists(_.contains(dir)), p)
    }
  }

  test("a single-row-group table with at least k rows scans in k tasks of consecutive rows") {
    withDir { d =>
      val n = 1000L * k + 1
      val p = oneFile(d, "t", n)
      assert(Parquet.rowGroups(spark, Parquet.files(spark, p)) === ((1, n)))
      val df = T(spark, d.getPath, "t")
      assert(df.inputFiles.length === k)
      assert(taskRows(df).length === k && taskRows(df).forall(_ > 0))
      val ranges = df.groupBy(org.apache.spark.sql.functions.spark_partition_id().as("task"))
        .agg(min(col("id")).as("lo"), max(col("id")).as("hi"),
          org.apache.spark.sql.functions.count(col("id")).as("n")).collect()
      assert(ranges.map(_.getLong(3)).sum === n)
      ranges.foreach(r => assert(r.getLong(2) - r.getLong(1) + 1 === r.getLong(3), r))
      // the driver fixture: events at sf0.01 is one 10,000-row row group
      assert(taskRows(T(spark, fixtures(1), "events")).count(_ > 0) === k)
    }
  }

  test("a table in at least min(8, k) row groups or files, or under k rows, is read in place") {
    withDir { d =>
      val many = new File(d, "many.parquet").getPath
      spark.range(1000).repartition(wide).write.parquet(many)
      val groups = new File(d, "groups.parquet").getPath
      spark.range(20000).coalesce(1).write.option("parquet.block.size", 1024).parquet(groups)
      assert(Parquet.files(spark, groups).length === 1)
      assert(Parquet.rowGroups(spark, Parquet.files(spark, groups))._1 >= wide)
      val tiny = oneFile(d, "tiny", (k - 1).toLong)
      for ((name, p) <- Seq("many" -> many, "groups" -> groups, "tiny" -> tiny)) {
        var df: DataFrame = null
        assert(jobsDuring { df = T(spark, d.getPath, name) } === 0, name)
        assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains(p)), name)
      }
    }
  }

  test("the split is written once: a second T call launches no job") {
    withDir { d =>
      oneFile(d, "once", 100L * k)
      var first: DataFrame = null
      var second: DataFrame = null
      assert(jobsDuring { first = T(spark, d.getPath, "once") } === 1)
      assert(jobsDuring { second = T(spark, d.getPath, "once") } === 0)
      assert(first.inputFiles.toSeq === second.inputFiles.toSeq)
    }
  }

  test("a rewritten source (new length or mtime) gets a fresh split") {
    withDir { d =>
      val p = oneFile(d, "src", 100L * k)
      val a = T(spark, d.getPath, "src").inputFiles.toSet
      val f = new File(p)
      assert(f.setLastModified(f.lastModified() + 5000))
      val b = T(spark, d.getPath, "src")
      assert((b.inputFiles.toSet & a).isEmpty)
      assert(b.count() === 100L * k)
      f.delete()
      oneFile(d, "src", 200L * k)
      val c = T(spark, d.getPath, "src")
      assert((c.inputFiles.toSet & (a ++ b.inputFiles)).isEmpty)
      assert(c.count() === 200L * k)
      // the earlier copies are still whole
      assert(Parquet.read(spark, a.toSeq: _*).count() === 100L * k)
    }
  }

  test("two values of k in one JVM keep separate, whole copies") {
    withDir { d =>
      val p = oneFile(d, "kk", 600L)
      val two = T.layout(spark, p, 2)
      val three = T.layout(spark, p, 3)
      assert(two !== three)
      assert(T.layout(spark, p, 2) === two)
      for ((dir, n) <- Seq(two -> 2, three -> 3)) {
        assert(Parquet.files(spark, dir).length === n, dir)
        assert(Parquet.read(spark, dir).count() === 600L, dir)
      }
    }
  }
}
