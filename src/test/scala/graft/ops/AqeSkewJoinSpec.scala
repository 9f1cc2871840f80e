package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Evidence that AQE's runtime skew-join split — the engine's first line
  * of defense against hot join keys at 100 TB ([[Skew]] documents the
  * complementary manual salting) — actually fires under this session's
  * configuration. A join with one pathologically hot key is executed
  * with the split thresholds lowered to local-fixture sizes (production
  * keeps the defaults; the MECHANISM is what is under test), and the
  * final adaptive plan must mark the sort-merge join as skew-handled. */
class AqeSkewJoinSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("AQE splits the hot partition of a skewed sort-merge join") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // the downstream aggregate makes the split introduce one extra
      // shuffle, which AQE declines by default — at fixture scale we
      // force it; at 100 TB the hot partition dwarfs the extra exchange
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      // coalescing first would merge the small partitions and mask the skew
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 50k rows on ONE key + 100 rows spread over 100 keys; the payload
      // is consumed by the aggregate so column pruning cannot drop it and
      // the hot partition stays bytes-heavy even after shuffle
      // compression (MapOutputStatistics reports COMPRESSED sizes — a
      // pruned constant-key partition compresses under any threshold)
      val fact = spark.range(0, 50100).select(
        when(col("id") < 50000, lit(7L)).otherwise(pmod(col("id"), lit(100L))).as("k"),
        concat(lit("payload-"), md5(col("id").cast("string"))).as("payload"))
      val dim = spark.range(0, 100).select(col("id").as("k"), lit(1L).as("w"))
      val joined = fact.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("s"))
      val row = joined.collect().head
      assert(row.getLong(0) === 50100L)
      // the FINAL adaptive plan (post-execution) must mark the SMJ skew-split
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not fire:\n${plan.take(1500)}")
    } finally old.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
    }
  }

  test("AQE splits a planted hot shingle in q179's candidate self-join") {
    import spark.implicits._
    // q179's candidate generation equi-joins prefix frames on the shingle
    // hash — the repo's join most exposed to a hot key (a boilerplate
    // shingle shared by a huge clone cluster lands every cluster member
    // in ONE shuffle partition on BOTH sides). Plant exactly that: 2500
    // single-shingle docs sharing one hash (their 1-element prefixes are
    // all that shingle) over a cold background; the sort-merge join's hot
    // partition must be marked skew-split in the final adaptive plan.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(0, 2500)
        .select(col("id").as("doc_id"), lit(777L).as("sgh"))
      val cold = spark.range(10000, 10200)
        .select(col("id").as("doc_id"), xxhash64(col("id")).as("sgh"))
      val sh = hot.unionAll(cold)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cands = graft.llm.Dedup.ppjoinCandidates(sh, sizes)
      // drive THIS dataframe's own query execution (count() would plan a
      // separate aggregate and leave cands' adaptive plan unexecuted)
      val qe = cands.queryExecution
      val n = qe.toRdd.count()
      // every hot-cluster pair is a candidate (equal sizes pass the
      // length filter); cold docs have unique shingles → no pairs
      assert(n === 2500L * 2499L / 2)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not fire on the candidate join:\n${plan.take(2000)}")
    } finally old.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
    }
  }

  test("AQE splits a planted hot basket in q176's co-occurrence self-join") {
    // q176 self-joins the (order, part) frame on the ORDER key — the
    // other hot-key-exposed join next to q179 (VERDICT r8 #6): one
    // pathological basket (an order with thousands of parts) lands its
    // entire quadratic pair fan-out in ONE shuffle partition on BOTH
    // sides. Plant exactly that: two identical 1000-part baskets (so the
    // pairs survive the n_orders >= 2 support filter) over a cold
    // background of 3-part orders; the final adaptive plan must mark the
    // sort-merge join skew-split.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(0, 2000).select(
        (lit(42L) + expr("id div 1000")).as("ok"),     // orders 42 and 43
        pmod(col("id"), lit(1000L)).as("pk"))          // identical 1000-part baskets
      val cold = spark.range(0, 600).select(
        (lit(1000L) + expr("id div 3")).as("ok"),      // 200 orders x 3 parts
        (lit(100000L) + col("id")).as("pk"))           // unique parts -> no pairs
      val baskets = hot.unionAll(cold)
      // cap disabled here: this test proves the AQE runtime defense in
      // isolation; the basket-cap defense has its own test below
      val res = graft.ops.Analytics.cooccurrencePairs(baskets, maxBasket = Int.MaxValue)
      val qe = res.queryExecution
      val n = qe.toRdd.count()
      // both hot baskets hold the same 1000 parts, so every canonical
      // pair has support 2; cold parts are unique corpus-wide
      assert(n === 1000L * 999L / 2)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not fire on the co-occurrence join:\n${plan.take(2000)}")
    } finally old.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
    }
  }

  test("q176 basket cap bounds a pathological basket and is a no-op below the cap") {
    // the 100 TB defense the scaladoc prescribes (q133 row_number ≤ K):
    // a planted 1000-part basket must contribute at most K(K−1)/2 pairs,
    // and the cap keeps the lowest-pk items, deterministically
    val hot = spark.range(0, 2000).select(
      (lit(42L) + expr("id div 1000")).as("ok"),     // orders 42 and 43
      pmod(col("id"), lit(1000L)).as("pk"))          // identical 1000-part baskets
    val cold = spark.range(0, 600).select(
      (lit(1000L) + expr("id div 3")).as("ok"),      // 200 orders x 3 parts
      (lit(100000L) + col("id")).as("pk"))
    val capped = graft.ops.Analytics.cooccurrencePairs(hot.unionAll(cold), maxBasket = 16)
      .collect()
    // both hot baskets keep parts 0..15 (lowest pk win) -> every canonical
    // pair among them has support 2; cold parts unique -> no pairs
    assert(capped.length === 16 * 15 / 2)
    assert(capped.forall(r => r.getLong(0) < 16 && r.getLong(1) < 16))
    // no-op equivalence when every basket is at or below the cap
    val small = spark.range(0, 900).select(
      (col("id") % 300).as("ok"), (col("id") * 7 % 10000).as("pk")).distinct()
    val withCap = graft.ops.Analytics.cooccurrencePairs(small, maxBasket = 16).collect()
    val noCap = graft.ops.Analytics.cooccurrencePairs(small, maxBasket = Int.MaxValue).collect()
    assert(withCap.toSeq === noCap.toSeq)
  }
}
