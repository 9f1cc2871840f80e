package graft

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort of a small aggregate result runs in one task, with no
  * range bounds.
  *
  * A global `orderBy` plans a range exchange. Building its
  * `RangePartitioner` runs a sampling job over the exchange's child, and
  * the exchange's map stage then runs that child again: a query ending in
  * `groupBy(...).orderBy(...)` computes its final aggregate twice. When
  * the child reaches one materialized shuffle stage through projections,
  * filters and aggregates only (a sort aggregate's local sort included),
  * and that stage wrote at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes, AQE
  * would coalesce the range exchange into one partition anyway. This rule
  * plans it as a single-partition exchange instead, so the sampling job
  * never runs; one sorted partition is still a global sort.
  *
  * Registered as an AQE query-stage preparation rule (`GraftExtensions`),
  * so it sees the plan again each time a stage materializes, and never
  * fires before the stage below has runtime statistics. Joins and scans
  * stop the walk, streaming plans run without AQE, and a user
  * `repartitionByRange` is not an `ENSURE_REQUIREMENTS` exchange: all
  * three keep their range exchange. */
object SmallSort extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transform {
      case s @ SortExec(_, true,
          ex @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if smallStageBelow(child) =>
        val one = ex.copy(outputPartitioning = SinglePartition)
        one.copyTagsFrom(ex)
        s.withNewChildren(Seq(one))
    }

  @scala.annotation.tailrec
  private def smallStageBelow(p: SparkPlan): Boolean = p match {
    case q: ShuffleQueryStageExec =>
      q.isMaterialized && q.mapStats.forall(_.bytesByPartitionId.sum <=
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    case _: ProjectExec | _: FilterExec | _: HashAggregateExec | _: ObjectHashAggregateExec |
        _: SortAggregateExec | _: AQEShuffleReadExec => smallStageBelow(p.children.head)
    case s: SortExec if !s.global => smallStageBelow(s.child)
    case _ => false
  }
}
