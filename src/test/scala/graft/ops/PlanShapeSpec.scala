package graft.ops

import graft.SparkEntry
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the scale properties the engine
  * promises (broadcasts on dimension sides, shuffle-join degradation for
  * big polygon sets, column pruning, filter pushdown) are checked against
  * the ACTUAL planned query, so a regression that silently flips a join
  * strategy or widens a scan fails the build — not just the bench. */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q04 star join: every dimension side is a broadcast hash join") {
    val p = planOf("q04_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("SortMergeJoin"), "fact-side shuffle join crept into the star join")
  }

  test("q01 scan prunes to the 5 referenced lineitem columns") {
    val p = planOf("q01_pricing_summary")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_partkey") && !read.contains("l_shipdate"),
      s"unpruned scan: $read")
  }

  test("q02 pushes the not-null predicate into the parquet scan") {
    val p = planOf("q02_ilike_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), "no pushed filters on the part scan")
  }

  test("spatial join: broadcast polygon side plans as BHJ on bucket keys") {
    val p = planOf("q45_parcel_scene_count")
    assert(p.contains("BroadcastHashJoin"), "parcel side should broadcast")
    assert(p.contains("st_contains_point"), "exact predicate must ride the join")
  }

  test("spatial join: unhinted polygon side degrades to a shuffle join at scale") {
    // fixture polys sit under the auto-broadcast threshold; disabling it
    // simulates a polygon side too big to broadcast — the promised
    // degradation is a co-partitioned shuffle join on the bucket keys
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pts = Spatial.elevation(spark, dir).filter(col("elev").isNotNull)
      val polys = Spatial.admin(spark, dir) // deliberately NOT broadcast
      val p = Spatial.spatialJoin(pts, polys, "cell_lon", "cell_lat", "geom", 0.01)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "unhinted spatial join must co-partition on bucket keys, not broadcast-or-die")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q30 ANN shuffle carries scalars, not vectors") {
    val p = planOf("q30_ann_lsh_topk")
    // the aggregate after scoring groups (qid, vid) with a first(score):
    // its exchange must not carry the embedding array column
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(!exchangeLines.exists(_.contains("embedding")),
      "vector column found in a shuffle of the approximate path")
  }

  test("q31 IVF probe prunes index partitions at the file source") {
    val p = planOf("q31_ann_ivf_topk")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters: [")).getOrElse("")
    assert(scanLine.contains("list_id"),
      s"IVF probe scan carries no list_id partition filter: $scanLine")
  }

  test("IVF readIndex prunes to exactly the probed partitions") {
    import graft.llm.Ivf
    val emb = spark.range(64).selectExpr("id as vec_id",
      "transform(sequence(1, 8), i -> cast(pmod(id * i, 17) as double)) as embedding")
    val path = graft.Scratch.fresh("spec_ivf_prune")
    Ivf.writeIndex(emb, Ivf.centroidArrays(emb), path)
    val pruned = Ivf.readIndex(spark, path, Seq(0, 1))
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.isDefined, "no file scan under the pruned read")
    val nParts = scan.get.selectedPartitions.partitionCount
    assert(nParts <= 2, s"expected <=2 selected partitions, got $nParts")
  }

  /** Subtrees of every broadcast hint in the analyzed plan. The r15
    * hot-fingerprint prune legitimately hints its df-capped fp set
    * (bounded by construction: ≤ |corpus fps| / cap rows), so the
    * invariant is no longer "zero hints" but "no hint wraps the
    * corpus-fraction PROBE side". */
  private def hintSubtrees(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.child.toString
    }

  test("q92 winnow containment: unbounded probe side carries NO broadcast hint") {
    // probes are corpus/50 (grow with the corpus): a forced broadcast of
    // the exploded probe fingerprints OOMs at scale. The plan must leave
    // that strategy to AQE — every hint present must be the bounded
    // hot-fp prune (its subtree aggregates fps into the df column),
    // never the probe relation.
    val hints = hintSubtrees(SparkEntry.queries("q92_winnow_containment")(spark, dir))
    assert(hints.nonEmpty, "expected the hot-fp prune's broadcast hints")
    hints.foreach { h =>
      // bounded-by-construction hints: the df-capped hot-fp set and the
      // ONE-ROW in-plan scalars (corpus count `_n_docs`, span `_span` —
      // r17's action folds); the invariant stays "never the probe side"
      assert((h.contains("AS df#") || h.contains("AS _n_docs#") ||
          h.contains("AS _span#")) && !h.contains("probe_id"),
        s"q92 hint must wrap only bounded frames (hot-fp set / one-row scalars), got:\n$h")
    }
  }

  test("winnowBestContainment broadcasts only on the caller's bounded-probes assertion") {
    import graft.llm.Dedup
    val docs = spark.range(40).selectExpr("id as doc_id",
      "repeat(concat('doc', cast(id as string), ' body text '), 20) as text")
    val probes = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("probe_id"), col("text"))
    val bounded = Dedup.winnowBestContainment(probes, docs, probesBounded = true)
    assert(hintSubtrees(bounded).exists(_.contains("probe_id")),
      "bounded probe set should carry the broadcast hint")
    val unbounded = Dedup.winnowBestContainment(probes, docs)
    assert(!hintSubtrees(unbounded).exists(_.contains("probe_id")),
      "unbounded probe set must not be broadcast-hinted")
  }

  test("q43 scene scan prunes to the one filtered year partition") {
    // sparkPlan, not executedPlan: AQE wraps the executed plan in an
    // AdaptiveSparkPlanExec whose leaves are not traversable pre-execution
    val scan = SparkEntry.queries("q43_ndvi_monthly")(spark, dir)
      .queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .find(_.metadata.getOrElse("Location", "").contains("scenes_"))
    assert(scan.isDefined, "q43 should read scenes through the materialized year-partitioned layout")
    val nParts = scan.get.selectedPartitions.partitionCount
    assert(nParts == 1, s"2023 filter should keep exactly 1 of 6 year partitions, got $nParts")
  }

  /** Every node of an executed plan, through the final AQE plan and its
    * query stages (TreeNode.collect stops at both). */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
    case q: QueryStageExec => q +: finalNodes(q.plan)
    case other => other +: other.children.flatMap(finalNodes)
  }

  /** Every node under `p`, through query stages (pre- and final AQE plans). */
  private def below(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: QueryStageExec => q +: below(q.plan)
    case other => other +: other.children.flatMap(below)
  }

  test("q68/q74 NDVI median: one (category, month) exchange, no buffer shuffle") {
    // the joined rows cross one hash exchange into k tasks, where the
    // percentile's partial and final steps both run: no exchange carries
    // a percentile buffer, and no task merges them all. q74 runs the
    // composite inside its builder (reportFrom's collect), so the plans
    // come from a listener that sees every action.
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val k = spark.sparkContext.defaultParallelism
    for (q <- Seq("q68_ndvi_monthly_oracle", "q74_flagship_oracle")) {
      plans.synchronized(plans.clear())
      spark.listenerManager.register(listener)
      try {
        SparkEntry.queries(q)(spark, dir).collect()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val nodes = plans.synchronized(plans.toList).flatMap(finalNodes)
      val aggs = nodes.collect { case a: ObjectHashAggregateExec => a }
      val medians = aggs.filter(a => a.toString.contains("percentile") &&
        a.aggregateExpressions.exists(_.mode == Final))
      assert(medians.nonEmpty, s"$q: no final percentile aggregate executed")
      medians.foreach { m =>
        val shuffles = below(m).collect { case e: ShuffleExchangeLike => e.outputPartitioning }
        assert(shuffles.size == 1, s"$q: expected one exchange under the median, got $shuffles")
        shuffles.head match {
          case h: HashPartitioning =>
            assert(h.numPartitions == k &&
              h.expressions.map(_.asInstanceOf[AttributeReference].name) ==
                Seq("keterangan", "month_ts"), s"$q: $h")
          case other => fail(s"$q: expected hashpartitioning(keterangan, month_ts, $k), got $other")
        }
      }
      nodes.collect { case e: ShuffleExchangeLike => e.child }.foreach {
        case a: ObjectHashAggregateExec if a.toString.contains("percentile") =>
          assert(!a.aggregateExpressions.exists(_.mode == Partial),
            s"$q: an exchange carries percentile buffers of ${a.simpleString(200)}")
        case _ =>
      }
      aggs.foreach { a =>
        assert(a.metrics("numTasksFallBacked").value == 0,
          s"$q: sort-based fallback in ${a.simpleString(200)}")
      }
    }
  }

  test("IVF index is built once per input and reused across invocations") {
    import graft.llm.Ivf
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val first = Ivf.builtIndex(emb)
    val second = Ivf.builtIndex(emb)
    assert(second eq first, "second invocation must hit the per-JVM index cache")
  }

  test("q97 bucketed fact join plans with ZERO exchanges") {
    // broadcast disabled: the co-location must come from the bucketed
    // layout, not from one side being small enough to ship
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Bucketed.join(spark, dir).queryExecution.sparkPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n${p.take(500)}")
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q75 range join is a bucket equi-join, not a nested-loop BETWEEN") {
    val p = planOf("q75_range_join_oracle")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must not plan a quadratic join")
    assert(p.contains("BroadcastHashJoin"), "broadcast range side should hash-join on the bucket")
  }

  test("q62 as-of join is one window over one exchange (no range join)") {
    val p = planOf("q62_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of join must not plan a quadratic join")
    assert(p.contains("Window"), "missing the ignoreNulls last() window")
  }

  test("q103 decontamination broadcasts the bounded benchmark side only") {
    val p = planOf("q103_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "benchmark gram set is bounded by construction and must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus grams must probe the broadcast map-side, never shuffle to a join")
  }

  // AdaptiveSparkPlanExec hides its input plan from TreeNode.collect, so
  // exchange-shape assertions read the formatted plan string instead.
  private def exchangeLines(name: String): List[String] =
    planOf(name).linesIterator.filter(_.contains("Exchange")).toList

  test("q104 chunking is map-only: the only exchange is the presentation sort") {
    val ex = exchangeLines("q104_chunk_overlap")
    assert(ex.size == 1, s"expected only the sort exchange, got:\n${ex.mkString("\n")}")
    assert(ex.head.contains("rangepartitioning"),
      "the single exchange must be the presentation sort, not a join/agg shuffle")
  }

  test("q107 quantization is map-only: no agg/join shuffle, vectors never move") {
    val ex = exchangeLines("q107_scalar_quant")
    assert(ex.size == 1, s"expected only the sort exchange, got:\n${ex.mkString("\n")}")
    assert(ex.head.contains("rangepartitioning"),
      "quantization must reduce map-side; a hash exchange would carry vectors")
  }

  test("q108 merge plans a single co-partitioned join on the key") {
    val p = planOf("q108_merge_upsert")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "merge must be a key equi-join")
  }

  test("q112 global shuffle: the corpus row_number window is PARTITIONED") {
    // the whole point of q112 is that the permutation never funnels the
    // corpus through one partition: the only unpartitioned window allowed
    // is the 64-row bucket-offset prefix sum. A partitioned WindowExec
    // prints THREE bracket groups (exprs, partitionSpec, orderSpec); an
    // unpartitioned one prints two.
    val rowNumLines = planOf("q112_global_shuffle").linesIterator
      .filter(l => l.contains("Window [") && l.contains("row_number"))
      .toList
    assert(rowNumLines.nonEmpty, "expected a row_number Window in the q112 plan")
    rowNumLines.foreach { l =>
      assert("\\], \\[[^\\]]+\\], \\[".r.findFirstIn(l).isDefined,
        s"corpus row_number window must be bucket-partitioned: $l")
    }
  }

  test("q110 BM25 reuses one token-frame aggregation across df/dl/score") {
    // tf, dl and df all hang off the SAME (doc_id, token) groupBy — the
    // planner must reuse that exchange, not scan+explode the corpus thrice.
    val p = planOf("q110_bm25")
    assert(p.contains("InMemoryTableScan") || p.contains("ReusedExchange"),
      "token-frame aggregation should be computed once (cached) and reused")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row (N, total-length) stats frame must ride a broadcast")
  }

  test("q113 Matryoshka audit is map-only: the only exchange is the sort") {
    val ex = exchangeLines("q113_matryoshka")
    assert(ex.size == 1, s"expected only the sort exchange, got:\n${ex.mkString("\n")}")
    assert(ex.head.contains("rangepartitioning"),
      "energy audit must reduce map-side; a hash exchange would carry vectors")
  }

  test("q120 k-means assignment: centroids broadcast, vectors never shuffle") {
    // the 8-row centroid frame must ride a broadcast (distances compute
    // map-side in the fan-out join); the only hash exchanges carry the
    // per-vector argmin and the 8-row final agg — if an exchange mentions
    // the quantized vector column `q`, corpus vectors are being shuffled
    val p = planOf("q120_kmeans_assign")
    assert(p.contains("BroadcastExchange"), "centroid side must broadcast")
    val ex = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toList
    assert(ex.nonEmpty, "expected the argmin/agg hash exchanges")
    ex.foreach(l => assert(!"\\bq#".r.findFirstIn(l).isDefined,
      s"quantized vectors must not cross an exchange: $l"))
  }

  test("q139 SCD-2 join: hash join on the dim key, interval as residual — no nested loop") {
    // equality on c_custkey must anchor the join; a regression that loses
    // it (e.g. folding the key compare into the interval predicate) plans
    // BroadcastNestedLoopJoin, which is corpus × dim-versions at scale
    val p = planOf("q139_scd2_join")
    assert(p.contains("BroadcastHashJoin"), "dim side should broadcast-hash on c_custkey")
    assert(!p.contains("NestedLoop"), "interval predicate degraded the join to a nested loop")
  }

  test("q133 source cap: two bounded windows, first salted — no whole-source sort") {
    val p = planOf("q133_source_cap")
    val windows = p.linesIterator.filter(_.matches(""".*[\s\[(]Window \[.*""")).toList
    assert(windows.size == 2, s"expected the salted two-level window, got: $windows")
    assert(windows.exists(w => w.contains("salt")),
      s"first window must partition by (source, salt): $windows")
  }

  test("q158 SCD2 build: one entity-keyed exchange feeds all three window functions") {
    // lag (change detect) + row_number (version) + lead (interval close)
    // share PARTITION BY user_id ORDER BY ts, event_id — a regression
    // that splits the window specs re-shuffles the change log per pass
    val p = planOf("q158_scd2_build")
    val userExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning(user_id")).size
    assert(userExchanges == 1,
      s"expected exactly one user_id exchange, got $userExchanges:\n${p.take(800)}")
  }

  test("q161 rendezvous sharding is map-side: no explode, no join, one small agg") {
    val p = planOf("q161_rendezvous_reshard")
    assert(!p.contains("Generate"), "shard argmax must not explode the 17-way sequence")
    assert(!p.contains("Join"), "assignment must be a pure projection")
  }

  test("q165 inverted-index lookup prunes to the query terms' buckets") {
    val p = planOf("q165_inverted_index")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("bucket"),
      s"postings scan has no bucket partition filter: $scanLine")
    // the token residual must also reach the parquet reader (row-group
    // pruning inside the kept buckets — files are token-sorted)
    assert(p.contains("PushedFilters: [In(token"),
      "token IN filter not pushed to the postings scan")
  }

  test("q167 NOT IN plans as a broadcast NULL-AWARE anti join") {
    // AQE hides the join nodes from executedPlan.collect, so assert on
    // the plan text: the NAAJ prints a trailing `true` (its
    // isNullAwareAntiJoin arg); the NOT EXISTS branch must stay plain.
    val anti = planOf("q167_null_aware_anti")
      .linesIterator.filter(_.contains("LeftAnti")).toList
    assert(anti.size == 2, s"expected two anti joins, got: $anti")
    assert(anti.count(_.trim.endsWith("true")) == 1,
      s"expected exactly one NULL-AWARE anti join (the NOT IN branch): $anti")
  }

  test("q172 OR-join rewrite plans hash joins only — no nested loop, no cartesian") {
    val p = planOf("q172_or_join_rewrite")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "OR-expansion regressed to a nested-loop plan")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("q170 span coalescing: one doc-keyed exchange feeds windows and both aggregations") {
    val p = planOf("q170_span_coalesce")
    val docExchanges = p.linesIterator.count(_.contains("hashpartitioning(doc_id"))
    assert(docExchanges == 1,
      s"expected exactly one doc_id exchange, got $docExchanges")
  }

  test("q186 evolved layouts prune partitions on BOTH specs") {
    val p = planOf("q186_partition_evolution")
    val filters = p.linesIterator.filter(_.contains("PartitionFilters")).toList
    assert(filters.exists(_.contains("o_year")),
      s"year-spec scan not pruned: $filters")
    assert(filters.exists(_.contains("o_month")),
      s"month-spec scan not pruned: $filters")
  }

  test("q189 equi-depth histogram: the row_number window is PARTITIONED (no global sort)") {
    val p = planOf("q189_equidepth_histogram")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("vb#")),
      s"rank window lost its value-bucket partitioning: $windows")
  }

  test("q184 TWAP: one user-keyed exchange feeds the lead window and the aggregate") {
    val p = planOf("q184_twap")
    val userExchanges = p.linesIterator
      .count(_.contains("hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected exactly one user_id exchange, got $userExchanges")
  }

  test("q191 kNN grid join is a hash equi-join on cells — no nested loop") {
    val p = planOf("q191_knn_grid_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "radius join regressed to an all-pairs plan")
  }

  test("q183 multi-distinct plans without an Expand node") {
    val p = planOf("q183_multi_distinct")
    assert(!p.contains("Expand"),
      "multi-distinct regressed to the row-replicating Expand plan")
  }

  test("q166 skyline window is partitioned by event_type (no global sort)") {
    val p = planOf("q166_skyline")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("event_type")),
      s"skyline window lost its partitioning: $windows")
  }
}
