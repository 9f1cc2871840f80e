package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("csv scan infers the reference dim schema (1 row)") {
    val dim = Ingest.readCsv(spark, graft.Reference.file("data/lu.csv"))
    assert(dim.columns.toSeq === Seq("TEMA", "JENIS", "SUMBER"))
    assert(dim.count() === 1)
    assert(dim.collect().head.getString(0) === "Hutan")
  }

  test("id column: 1-based, contiguous, id first") {
    import spark.implicits._
    val df = Seq("c", "a", "b").toDF("v")
    val out = Ingest.addIdColumn(df, "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sortBy(_._1).toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("reference linked view: 31 enriched rows (view_linked_data.sql)") {
    val v = graft.SparkEntry.queries("q51_reference_linked_view")(spark, "unused")
    val rows = v.collect()
    assert(rows.length === 31)
    assert(rows.map(_.getAs[String]("JENIS")).distinct.toSeq === Seq("Hutan Rimba"))
    assert(rows.map(_.getLong(0)).toSeq === (1L to 31L))
  }

  test("overwrite sinks round-trip (parquet + csv)") {
    import spark.implicits._
    val dir = graft.Scratch.fresh("spec_sink")
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    Ingest.overwriteParquet(df, s"$dir/p")
    Ingest.overwriteParquet(df, s"$dir/p") // idempotent replace
    assert(spark.read.parquet(s"$dir/p").count() === 2)
    Ingest.writeCsv(df, s"$dir/c")
    val back = Ingest.readCsv(spark, s"$dir/c")
    assert(back.orderBy("k").collect().map(_.getString(1)).toSeq === Seq("x", "y"))
  }

  test("staging namespace registration") {
    import spark.implicits._
    Ingest.registerStaging(Seq(1, 2).toDF("x"), "t1")
    assert(spark.sql("select count(*) from staging_t1").collect().head.getLong(0) === 2)
  }

  test("S3 jdbc integration surface: option plumbing + partitioned-read shape") {
    // offline boundary for the one declared-missing capability (no JDBC
    // driver jar): the options a live deployment feeds
    // spark.read.format("jdbc") are constructed here and pinned — url
    // and table plumbing, fetch sizing, the three pushdown flags, and
    // the 4-tuple partitioned-read config that parallelizes the scan
    val plain = Ingest.jdbcOptions("jdbc:postgresql://db:5432/gis", "staging.lu")
    assert(plain("url") === "jdbc:postgresql://db:5432/gis")
    assert(plain("dbtable") === "staging.lu")
    assert(plain("fetchsize") === "10000")
    assert(Seq("pushDownPredicate", "pushDownAggregate", "pushDownLimit")
      .forall(plain(_) === "true"))
    assert(!plain.contains("partitionColumn"))
    val part = Ingest.jdbcOptions("jdbc:postgresql://db:5432/gis", "staging.lu",
      partitionColumn = Some(("id", 1L, 1000000L, 64)))
    assert(part("partitionColumn") === "id")
    assert(part("lowerBound") === "1" && part("upperBound") === "1000000")
    assert(part("numPartitions") === "64")
    // every key is one Spark's JDBC source actually reads (JDBCOptions
    // would throw on load() for a typo'd name; cross-check the names
    // against the shipped constants so the spec fails at build time,
    // not in a deployment)
    import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions._
    val known = Set(JDBC_URL, JDBC_TABLE_NAME, JDBC_BATCH_FETCH_SIZE,
      JDBC_PUSHDOWN_PREDICATE, JDBC_PUSHDOWN_AGGREGATE, JDBC_PUSHDOWN_LIMIT,
      JDBC_PARTITION_COLUMN, JDBC_LOWER_BOUND, JDBC_UPPER_BOUND,
      JDBC_NUM_PARTITIONS)
    assert(part.keySet.subsetOf(known),
      s"unknown jdbc option keys: ${part.keySet -- known}")
  }
}
