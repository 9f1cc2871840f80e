package graft.ops

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Bucketed physical layout (SURVEY §4 scale story #3, next to the
  * year-partitioned scenes and the Z-order layout): both sides of a
  * fact⋈fact join written `bucketBy(16, key)` + `sortBy(key)`, so the
  * join plans WITHOUT a shuffle on either side — at 100 TB this is the
  * difference between re-exchanging two fact tables on every join and
  * paying the layout cost once at ingest. The bucket count would be
  * sized to cluster width in production (16 here ≈ 2× local cores /
  * shuffle partitions, the same ratio a 1000-executor cluster would
  * pick at ~2000 buckets).
  *
  * Tables are external (explicit `path` under [[graft.Scratch]], removed
  * at JVM exit) registered in the session's in-memory catalog; written
  * once per session and source files — repeated invocations (bench reps)
  * pay only the exchange-free read. Reference surface: the engine-side
  * join of load_report.py's parcel×scene enrichment at warehouse scale. */
object Bucketed {

  val NumBuckets = 16

  /** Write orders + lineitem as bucketed-by-orderkey tables (idempotent
    * per session: skipped when the catalog already has them). Tables and
    * dir are named by [[graft.Scratch.digest]] of the two source files,
    * so another data dir or a rewritten source gets tables of its own. */
  def ensureTables(s: SparkSession, sfDir: String): (String, String) = {
    val t = graft.Scratch.digest(s,
      Seq("orders", "lineitem").map(n => s"$sfDir/$n.parquet"), NumBuckets)
    val (ot, lt) = (s"orders_bkt_$t", s"lineitem_bkt_$t")
    if (!s.catalog.tableExists(ot)) {
      val base = graft.Scratch.dir(s"bucketed_$t")
      T(s, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode(SaveMode.Overwrite).option("path", s"$base/orders")
        .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
      T(s, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode(SaveMode.Overwrite).option("path", s"$base/lineitem")
        .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
    }
    (ot, lt)
  }

  /** The co-located join itself, exposed for the plan spec: with
    * broadcasting out of the picture this must plan as a SortMergeJoin
    * with ZERO exchanges (both scans are bucketed on the join key). */
  def join(s: SparkSession, sfDir: String): DataFrame = {
    val (ot, lt) = ensureTables(s, sfDir)
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
  }

  private val q97 = Q(
    "q97_bucketed_join",
    (s, dir) =>
      join(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          // inputs decimal-cast BEFORE the multiply (exact — ≤2 decimals
          // in the data), so neither engine rounds per row
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
            .cast(DoubleType).as("revenue"))
        .orderBy(asc_nulls_first("o_orderpriority")),
    Some("""SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority ASC NULLS FIRST"""),
    "bucketed fact-to-fact join: bucketBy(16, orderkey) both sides -> shuffle-free SortMergeJoin (physical-layout scale story)")

  private def withConf[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach { case (k, ov) =>
      ov.fold(s.conf.unset(k))(v => s.conf.set(k, v))
    }
  }

  /** Bloom-filter runtime join pruning — the shuffle-join complement to
    * the bucketed layout: when the build side of a fact⋈fact join carries
    * a selective predicate, Catalyst's InjectRuntimeFilter plants a
    * bloom-filter aggregate on it and pushes `might_contain(hash(key))`
    * into the APPLICATION side's scan, so non-joining fact rows die at
    * the scan instead of being shuffled — at 100 TB that removes the
    * dominant exchange for selective joins. Broadcast is disabled in the
    * query's conf scope to model the cluster case where the filtered
    * build side exceeds the broadcast threshold (at local sf it would
    * otherwise BHJ and need no filter); the application-side scan-size
    * threshold is dropped to zero because the trigger is sized for
    * clusters (10 GB), not local fixtures. BloomJoinPlanSpec asserts the
    * `might_contain` scan filter is actually planted. */
  private def bloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")

  private def bloomJoinFrame(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val l = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
          .cast(DoubleType).as("revenue"))
      .orderBy(asc_nulls_first("l_returnflag"))
  }

  /** Result of the pruned join, EXECUTED inside the conf scope (an eager
    * localCheckpoint) — a lazily-returned frame would re-optimize at
    * action time, after the `finally` restored the session confs, and
    * silently lose the runtime filter. */
  def bloomPrunedJoin(s: SparkSession, dir: String): DataFrame =
    withConf(s, bloomConfs: _*) { bloomJoinFrame(s, dir).localCheckpoint() }

  /** Optimized plan text inside the conf scope, for the plan spec. */
  def bloomPlanText(s: SparkSession, dir: String): String =
    withConf(s, bloomConfs: _*) {
      bloomJoinFrame(s, dir).queryExecution.optimizedPlan.toString
    }

  private val q118 = Q(
    "q118_bloom_join_prune",
    (s, dir) => bloomPrunedJoin(s, dir),
    Some("""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY l_returnflag ORDER BY l_returnflag ASC NULLS FIRST"""),
    "runtime bloom-filter join pruning: might_contain pushed into the fact scan on a selective shuffle join")

  val all: Seq[Q] = Seq(q97, q118)
}
