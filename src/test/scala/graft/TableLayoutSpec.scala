package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, min}
import org.scalatest.funsuite.AnyFunSuite

/** [[T.layout]]: a driver table with too few row groups is scanned through
  * a per-JVM copy split into one file of consecutive rows per core; every
  * other table is read in place. The copy is a [[Scratch.derived]] table,
  * so the memo tests here also cover that helper and the derived tables
  * of ZoneMap, q115 and q119. `k` is read from the session the spec gets,
  * which is whichever session the test JVM built first. */
class TableLayoutSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
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
  private def oneFile(d: File, name: String, n: Long): String =
    writeOne(spark.range(n).toDF(), d, name)

  /** `df` as ONE parquet file at `<d>/<name>.parquet`. */
  private def writeOne(df: DataFrame, d: File, name: String): String = {
    val tmp = new File(Files.createTempDirectory(d.toPath, "tmp").toFile, "out").getPath
    df.coalesce(1).write.parquet(tmp)
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

  private def rowsOf(q: String, dir: String): Set[org.apache.spark.sql.Row] =
    SparkEntry.queries(q)(spark, dir).collect().toSet

  private def copyTo(from: String, d: File, name: String): Unit = {
    Files.copy(new File(from).toPath, new File(d, s"$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING); ()
  }

  test("fixture copies whose paths differ only in punctuation or share a hashCode get separate derived tables") {
    assert("/x/Aa".hashCode === "/x/BB".hashCode)
    withDir { root =>
      for ((a, b) <- Seq("sf0.001" -> "sf0_001", "Aa" -> "BB")) {
        // a: the sf0.001 tables; b: sf0.01's orders and events, and half
        // of the documents (both fixtures hold the same 500 doc ids)
        val (da, db) = (new File(root, a), new File(root, b))
        da.mkdir(); db.mkdir()
        for (t <- Seq("orders", "events", "documents")) copyTo(s"${fixtures(0)}/$t.parquet", da, t)
        for (t <- Seq("orders", "events")) copyTo(s"${fixtures(1)}/$t.parquet", db, t)
        writeOne(Parquet.read(spark, s"${fixtures(0)}/documents.parquet")
          .filter(col("doc_id") < 250), db, "documents")
        val (za, zb) = (ops.ZoneMap.ensureClustered(spark, da.getPath),
          ops.ZoneMap.ensureClustered(spark, db.getPath))
        assert(za !== zb, s"$a $b")
        assert(Parquet.rowCount(spark, za) === 1500L && Parquet.rowCount(spark, zb) === 15000L, s"$a $b")
        assert(rowsOf("q115_compaction", da.getPath) === rowsOf("q115_compaction", fixtures(0)), a)
        assert(rowsOf("q115_compaction", db.getPath) === rowsOf("q115_compaction", fixtures(1)), b)
        val docs = Seq(da, db).map(d =>
          rowsOf("q119_leakage_safe_split", d.getPath).toSeq.map(_.getLong(1)).sum)
        assert(docs === Seq(500L, 250L), s"$a $b")
      }
    }
  }

  test("q97's bucketed tables follow the source files: punctuation twins and a rewrite") {
    withDir { root =>
      val (da, db) = (new File(root, "sf0.001"), new File(root, "sf0_001"))
      da.mkdir(); db.mkdir()
      for (t <- Seq("orders", "lineitem")) {
        copyTo(s"${fixtures(0)}/$t.parquet", da, t)
        copyTo(s"${fixtures(1)}/$t.parquet", db, t)
      }
      val q97 = "q97_bucketed_join"
      val (small, large) = (rowsOf(q97, fixtures(0)), rowsOf(q97, fixtures(1)))
      assert(small !== large)
      assert(rowsOf(q97, da.getPath) === small)
      assert(rowsOf(q97, db.getPath) === large)
      for (t <- Seq("orders", "lineitem")) copyTo(s"${fixtures(1)}/$t.parquet", da, t)
      assert(rowsOf(q97, da.getPath) === large)
    }
  }

  test("a rewritten source gets a fresh derived table: ZoneMap's clustered orders") {
    withDir { d =>
      copyTo(s"${fixtures(0)}/orders.parquet", d, "orders")
      val first = ops.ZoneMap.ensureClustered(spark, d.getPath)
      assert(Parquet.rowCount(spark, first) === 1500L)
      copyTo(s"${fixtures(1)}/orders.parquet", d, "orders")
      val second = ops.ZoneMap.ensureClustered(spark, d.getPath)
      assert(second !== first)
      assert(Parquet.rowCount(spark, second) === 15000L)
      assert(ops.ZoneMap.ensureClustered(spark, d.getPath) === second)
    }
  }

  test("a build that throws is rebuilt on the next call, in an emptied dir") {
    intercept[IllegalStateException] {
      Scratch.derived(spark, "spec_throw", Nil) { d =>
        assert(new File(d, "partial").createNewFile())
        throw new IllegalStateException("build failed")
      }
    }
    val built = Scratch.derived(spark, "spec_throw", Nil) { d =>
      assert(new File(d).list().isEmpty, "a failed build's output must not be read")
      "rebuilt"
    }
    assert(built === "rebuilt")
    assert(Scratch.derived(spark, "spec_throw", Nil)(_ => "third") === "rebuilt")
  }

  test("a nested build neither deadlocks nor throws") {
    withDir { d =>
      val p = oneFile(d, "nest", 100L * k)
      // the outer build scans T (whose split copy is itself derived) and
      // adds enough entries to grow the memo's table while it runs
      val run = Future {
        Scratch.derived(spark, "spec_outer", Seq(p)) { _ =>
          val inner = (1 to 64).map(i => Scratch.derived(spark, "spec_inner", Nil, i)(_ => i))
          (T(spark, d.getPath, "nest").count(), inner.sum)
        }
      }(ExecutionContext.global)
      assert(Await.result(run, 5.minutes) === ((100L * k, (1 to 64).sum)))
      assert(Scratch.derived(spark, "spec_inner", Nil, 7)(_ => -1) === 7)
    }
  }

  test("no engine source outside graft.Scratch makes a temp file or names a dir by hashCode") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    val banned =
      """createTemp(Directory|File)\(|java\.io\.tmpdir|hashCode\.toHexString|toHexString\([^)]*hashCode""".r
    val walk = Files.walk(root.toPath)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && !p.endsWith("graft/Scratch.scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.findFirstIn(line).nonEmpty => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
