package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallSort]]: a global sort over a small aggregate result is one
  * single-partition exchange, with no range-bounds sampling job. */
class SmallSortSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark
  private val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** A few hundred rows of aggregates over 20,000 input rows in four
    * scan tasks, sorted on a nullable key with ties and a second key. */
  private def small: DataFrame = agg.orderBy(asc_nulls_last("g"), desc("k"))

  private def agg: DataFrame =
    spark.range(0, 20000, 1, 4)
      .select(when(col("id") % 41 =!= 0, col("id") % 7).as("g"),
        (col("id") % 53).as("k"), col("id").as("v"))
      .groupBy(col("g"), col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))

  /** Every node of the final AQE plan, through its query stages. */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => q +: finalNodes(q.plan)
    case other => other +: other.children.flatMap(finalNodes)
  }

  private def exchanges(df: DataFrame): Seq[Partitioning] =
    finalNodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e.outputPartitioning }

  private def ranged(df: DataFrame): Boolean =
    exchanges(df).exists(_.isInstanceOf[RangePartitioning])

  /** Rows of `df` and the Spark jobs its collect started. */
  private def collectCounting(df: DataFrame): (Seq[Row], Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val rows = df.collect().toSeq
      ListenerBusDrain(spark.sparkContext)
      (rows, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withMinSize[A](v: String)(body: => A): A = {
    val saved = spark.conf.get(minSize)
    spark.conf.set(minSize, v)
    try body finally spark.conf.set(minSize, saved)
  }

  test("a small groupBy/orderBy sorts one partition and skips the sampling job") {
    val df = small
    val (rows, jobs) = collectCounting(df)
    assert(!ranged(df), exchanges(df))
    assert(exchanges(df).contains(SinglePartition), exchanges(df))
    val (rangedRows, rangedJobs) = withMinSize("1b") {
      val r = small
      val out = collectCounting(r)
      assert(ranged(r), exchanges(r))
      out
    }
    assert(jobs === rangedJobs - 1)
    assert(rows === rangedRows)
  }

  test("rows and their order equal a collect sorted on the driver") {
    val (rows, _) = collectCounting(small)
    val unsorted = agg.collect().toSeq
    val key = (r: Row) => (if (r.isNullAt(0)) Long.MaxValue else r.getLong(0), -r.getLong(1))
    assert(rows.length === 7 * 53 + 53)
    assert(rows === unsorted.sortBy(key))
  }

  test("a stage larger than minPartitionSize keeps its range exchange") {
    withMinSize("1b") {
      val df = small
      df.collect()
      assert(ranged(df), exchanges(df))
    }
  }

  test("a sort over a join keeps its range exchange") {
    val dim = spark.range(0, 53, 1, 2).select(col("id").as("k"), (col("id") * 3).as("w"))
    val df = agg.join(dim, Seq("k")).orderBy(asc("k"), asc_nulls_last("g"))
    df.collect()
    assert(ranged(df), exchanges(df))
  }

  test("an explicit repartitionByRange is untouched") {
    val df = agg.repartitionByRange(3, col("k")).orderBy(col("k"))
    val rows = df.collect()
    assert(ranged(df), exchanges(df))
    assert(df.queryExecution.toRdd.getNumPartitions === 3)
    assert(rows.map(_.getLong(1)).toSeq === rows.map(_.getLong(1)).toSeq.sorted)
  }
}
