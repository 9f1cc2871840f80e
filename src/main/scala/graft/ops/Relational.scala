package graft.ops

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, LongType}
import org.apache.spark.sql.expressions.Window

/** Pure-relational operator inventory from SURVEY.md §2.2–§2.5 and §2.8,
  * re-expressed on the driver's star schema (FIXTURES.md §B) so each op has
  * a DuckDB oracle. Operator IDs (P*, J*, A*, W*, F*) cite SURVEY.md §2.
  *
  * Scale notes (100 TB design intent, verified via .explain on local[32]):
  *  - dim joins (nation/region/part/supplier) are explicit `broadcast()`;
  *  - aggregations are plain groupBy → Catalyst partial/final hash agg
  *    (map-side combine) — no driver-side collects anywhere;
  *  - filters/projections sit directly over the parquet scan so pushdown
  *    and column pruning reach the reader (PushedFilters / ReadSchema);
  *  - the one global-window op (W1 row_number) is documented as such and
  *    bounded with LIMIT — at cluster scale you'd zipWithIndex per
  *    partition instead.
  */
object Relational {

  private def dec(c: String): org.apache.spark.sql.Column =
    col(c).cast(DecimalType(18, 2))

  /** ASCII lowercase via translate: identical to lower()/ILIKE semantics on
    * ASCII data, but avoids Spark 4.1's collation-aware string path, whose
    * one-time ICU init costs ~2 min in this environment (measured:
    * lower()=117s, ilike=61s first call; translate=2s). */
  def asciiLower(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    translate(c, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** A2/A3/A6 + W2-ish: TPC-H Q1-flavor pricing summary.
    * groupBy two low-cardinality keys → partial agg map-side, tiny shuffle. */
  private val q01 = Q(
    "q01_pricing_summary",
    (s, dir) => {
      val li = T(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec("l_quantity")).cast(DoubleType).as("sum_qty"),
          sum(dec("l_extendedprice")).cast(DoubleType).as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          (sum(dec("l_quantity")).cast(DoubleType) / count(lit(1))).as("avg_qty"),
          (sum(dec("l_extendedprice")).cast(DoubleType) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    "A2 sum, A3 mean, A6 count over lineitem (ref load_report.py:380,79-85,139)")

  /** P1/P4: projection + aliasing + case-insensitive contains (ILIKE).
    * Filter is parquet-pushable (`Contains` on lowercased col stays above the
    * scan, but p_type/p_brand pruning reaches ReadSchema). */
  private val q02 = Q(
    "q02_ilike_filter",
    (s, dir) =>
      T(s, dir, "part")
        .filter(asciiLower(col("p_type")).contains("econ"))
        .select(col("p_partkey"), col("p_name").as("part_name"), col("p_type"),
          col("p_retailprice"))
        .orderBy(asc_nulls_first("p_partkey")),
    Some("""SELECT p_partkey, p_name AS part_name, p_type, p_retailprice
      FROM part WHERE p_type ILIKE '%econ%'
      ORDER BY p_partkey ASC NULLS FIRST"""),
    "P1 projection/alias + P4 ILIKE (ref view_linked_data.sql:3-10, load_report.py:474)")

  /** J1: inner equi-join enrich through two broadcast dims (the
    * linked_data_view shape: fact ⋈ dim ⋈ dim). */
  private val q03 = Q(
    "q03_join_enrich",
    (s, dir) => {
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
          col("r_name").as("region"))
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, n_name AS nation, r_name AS region
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      ORDER BY c_custkey ASC NULLS FIRST"""),
    "J1 inner equi-join enrich (ref view_linked_data.sql:11-13)")

  /** J1 at fact scale: lineitem ⋈ orders ⋈ customer ⋈ nation revenue rollup.
    * orders/customer co-shuffle on keys; nation broadcast. */
  private val q04 = Q(
    "q04_revenue_by_nation",
    (s, dir) => {
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(
          sum(dec("l_extendedprice") * (lit(1).cast(DecimalType(18, 2)) - dec("l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(asc_nulls_first("nation"))
    },
    Some("""SELECT n_name AS nation,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY nation ASC NULLS FIRST"""),
    "J1 multi-join + A2 (scaled-up view_linked_data.sql shape)")

  /** J4: month-spine LEFT JOIN — missing months surface as nulls
    * (the reference's loop at load_report.py:128-167 inverted set-wise). */
  private val q05 = Q(
    "q05_month_spine",
    (s, dir) => {
      val o = T(s, dir, "orders")
      val bounds = o.agg(
        date_trunc("month", min(col("o_orderdate"))).as("lo"),
        date_trunc("month", max(col("o_orderdate"))).as("hi"))
      val spine = bounds.select(
        explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("month_ts"))
      val monthly = o
        .groupBy(date_trunc("month", col("o_orderdate")).as("month_ts"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec("o_totalprice")).cast(DoubleType).as("revenue"))
      spine.join(monthly, Seq("month_ts"), "left")
        .select(date_format(col("month_ts"), "yyyy-MM-dd").as("month"),
          col("n_orders"), col("revenue"))
        .orderBy(asc_nulls_first("month"))
    },
    Some("""WITH b AS (SELECT date_trunc('month', min(o_orderdate)) lo,
                              date_trunc('month', max(o_orderdate)) hi FROM orders),
      spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month_ts FROM b),
      m AS (SELECT date_trunc('month', o_orderdate) AS month_ts, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders GROUP BY 1)
      SELECT strftime(spine.month_ts, '%Y-%m-%d') AS month, m.n_orders, m.revenue
      FROM spine LEFT JOIN m USING (month_ts)
      ORDER BY month ASC NULLS FIRST"""),
    "J4 month spine left join, W2 calendar window (ref load_report.py:68-88,128-167)")

  /** W3/W5: top-k by measure with deterministic tie-break (TakeOrderedAndProject
    * — no full sort at scale). */
  private val q06 = Q(
    "q06_topk_orders",
    (s, dir) =>
      T(s, dir, "orders")
        .orderBy(desc_nulls_last("o_totalprice"), asc_nulls_first("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST LIMIT 10"""),
    "W3 top-k + W5 ordering (ref load_report.py:414)")

  /** A5: sample variance per group (var_samp null for n<=1 matches the
    * reference's len>1 guard). Rounded — inherently FP. */
  private val q07 = Q(
    "q07_variance_by_type",
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(var_samp(col("value")), 6).as("var_value"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("event_type")),
    Some("""SELECT event_type, round(var_samp(value), 6) AS var_value, COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type ASC NULLS FIRST"""),
    "A5 var_samp with n>1 guard (ref load_report.py:383-402)")

  /** A9: argmax — highest-variance group, deterministic via sort+limit. */
  private val q08 = Q(
    "q08_argmax_variance",
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(var_samp(col("value")), 6).as("var_value"))
        .orderBy(desc_nulls_last("var_value"), asc_nulls_first("event_type"))
        .limit(1),
    Some("""SELECT event_type, round(var_samp(value), 6) AS var_value
      FROM events GROUP BY event_type
      ORDER BY var_value DESC NULLS LAST, event_type ASC NULLS FIRST LIMIT 1"""),
    "A9 argmax/max_by (ref load_report.py:414-416)")

  /** A7/A8/F5: min/max domain bounds + fixed-width binned frequency
    * (the R histogram, `cut(..., right=FALSE)` left-closed bins). */
  private val q09 = Q(
    "q09_histogram",
    (s, dir) => {
      val o = T(s, dir, "orders")
      val mn = o.agg(min(col("o_totalprice")).as("minp"))
      o.crossJoin(broadcast(mn))
        .select((floor((col("o_totalprice") - col("minp")) / lit(20000.0))).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("freq"))
        .orderBy(asc_nulls_first("bin"))
    },
    Some("""WITH mn AS (SELECT min(o_totalprice) AS minp FROM orders)
      SELECT CAST(floor((o_totalprice - minp) / 20000.0) AS BIGINT) AS bin, COUNT(*) AS freq
      FROM orders, mn GROUP BY 1 ORDER BY bin ASC NULLS FIRST"""),
    "A7 min/max + A8 histogram binning (ref spatial_analysis_indonesia.r:58-66)")

  /** W1: deterministic 1-based sequential id. NOTE: a global window is a
    * single-partition sort — fine bounded here; at 100 TB use per-partition
    * zipWithIndex + offset instead. */
  private val q10 = Q(
    "q10_rownum_seq",
    (s, dir) =>
      T(s, dir, "orders")
        .select(col("o_orderkey"))
        .orderBy(asc_nulls_first("o_orderkey"))
        .limit(1000)
        .withColumn("rn", row_number().over(Window.orderBy(asc_nulls_first("o_orderkey")))),
    Some("""SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey ASC NULLS FIRST) AS INT) AS rn
      FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey ASC NULLS FIRST LIMIT 1000)
      ORDER BY o_orderkey ASC NULLS FIRST"""),
    "W1 sequential 1-based id (ref load_data.py:70-79)")

  /** A4: exact interpolated median per group (the reference's median
    * composite, load_report.py:77). */
  private val q11 = Q(
    "q11_median",
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag")),
    Some("""SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      COUNT(*) AS n FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST"""),
    "A4 median composite (ref load_report.py:77,157)")

  /** W4: distinct + deterministic order (legend dedup). */
  private val q12 = Q(
    "q12_distinct",
    (s, dir) =>
      T(s, dir, "customer").select(col("c_mktsegment")).distinct()
        .orderBy(asc_nulls_first("c_mktsegment")),
    Some("""SELECT DISTINCT c_mktsegment FROM customer
      ORDER BY c_mktsegment ASC NULLS FIRST"""),
    "W4 legend dedup (ref load_report.py:340-343)")

  /** Semi-join: customers having orders (extension surface, SURVEY §2.3 note). */
  private val q13 = Q(
    "q13_semi_join",
    (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey ASC NULLS FIRST"""),
    "left_semi EXISTS (SURVEY §2.3 extension)")

  /** Anti-join: customers with no orders (empty at small sf — still compared). */
  private val q14 = Q(
    "q14_anti_join",
    (s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(asc_nulls_first("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey ASC NULLS FIRST"""),
    "left_anti NOT EXISTS (SURVEY §2.3 extension)")

  /** R5/F6: threshold CASE classification then frequency. */
  private val q15 = Q(
    "q15_case_threshold",
    (s, dir) =>
      T(s, dir, "customer")
        .select(
          when(col("c_acctbal") > 7500, lit("high balance"))
            .when(col("c_acctbal") > 2500, lit("moderate balance"))
            .otherwise(lit("low balance")).as("klass"))
        .groupBy(col("klass")).agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("klass")),
    Some("""SELECT CASE WHEN c_acctbal > 7500 THEN 'high balance'
                        WHEN c_acctbal > 2500 THEN 'moderate balance'
                        ELSE 'low balance' END AS klass, COUNT(*) AS n
      FROM customer GROUP BY 1 ORDER BY klass ASC NULLS FIRST"""),
    "R5 variance-threshold CASE (ref load_report.py:419-426)")

  /** R6: long Metric/Value report via UNION ALL of literal rows; numeric
    * values canonicalized through DECIMAL→STRING (same text both engines). */
  private val q16 = Q(
    "q16_union_report",
    (s, dir) => {
      val o = T(s, dir, "orders")
      val agg = o.agg(
        count(lit(1)).as("n"),
        sum(dec("o_totalprice")).cast(DecimalType(18, 2)).as("rev"),
        max(col("o_orderdate")).as("maxd"))
      val nRow = agg.select(lit("Total Orders").as("Metric"), col("n").cast("string").as("Value"))
      val rRow = agg.select(lit("Total Revenue").as("Metric"), col("rev").cast("string").as("Value"))
      val dRow = agg.select(lit("Last Order Date").as("Metric"),
        date_format(col("maxd"), "yyyy-MM-dd").as("Value"))
      val tRow = agg.select(lit("Report Team").as("Metric"), lit("graft").as("Value"))
      nRow.unionAll(rRow).unionAll(dRow).unionAll(tRow)
        .orderBy(asc_nulls_first("Metric"))
    },
    Some("""WITH a AS (SELECT COUNT(*) n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) rev,
                              max(o_orderdate) maxd FROM orders)
      SELECT Metric, Value FROM (
        SELECT 'Total Orders' AS Metric, CAST(n AS VARCHAR) AS Value FROM a
        UNION ALL SELECT 'Total Revenue', CAST(rev AS VARCHAR) FROM a
        UNION ALL SELECT 'Last Order Date', strftime(maxd, '%Y-%m-%d') FROM a
        UNION ALL SELECT 'Report Team', 'graft' FROM a)
      ORDER BY Metric ASC NULLS FIRST"""),
    "R6 Metric/Value pivot report (ref load_report.py:428-448)")

  /** W2: tumbling 1-hour calendar window over the events stream table
    * (batch form; streaming twin in graft.streaming). */
  private val q17 = Q(
    "q17_tumbling_hour",
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("hour")),
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY hour ASC NULLS FIRST"""),
    "W2 tumbling calendar window (ref load_report.py:68-88; SURVEY §2.9)")

  /** Sliding 1h/30m window (each event lands in 2 windows) — Spark's
    * epoch-aligned window() vs an explicit two-shift UNION in the oracle. */
  private val q18 = Q(
    "q18_sliding_window",
    (s, dir) =>
      T(s, dir, "events")
        .select(window(col("ts"), "1 hour", "30 minutes").as("w"), col("value"))
        .groupBy(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("win_start")),
    Some("""WITH shifted AS (
        SELECT make_timestamp((CAST(floor(epoch(ts)/1800) AS BIGINT)*1800 - k*1800)*1000000) AS wst, value
        FROM events, (SELECT unnest([0,1]) AS k))
      SELECT strftime(wst, '%Y-%m-%d %H:%M:%S') AS win_start, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM shifted GROUP BY 1 ORDER BY win_start ASC NULLS FIRST"""),
    "sliding window extension (SURVEY §2.9)")

  /** F-series: regexp extraction from the JSON-ish props string + modulo
    * bucketing (JSON parsing without relying on a JSON extension). */
  private val q19 = Q(
    "q19_props_extract",
    (s, dir) =>
      T(s, dir, "events")
        .select(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"),
          col("value"))
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("bucket")),
    Some("""SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) % 10 AS bucket,
      COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY bucket ASC NULLS FIRST"""),
    "F-series string extraction (ref load_report.py f-string parsing analog)")

  /** Exact distinct-count per group (extension beyond the reference's
    * surface; the approx HLL twin is approx_count_distinct, kept out of the
    * oracle because sketches differ across engines). */
  private val q55 = Q(
    "q55_count_distinct",
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(asc_nulls_first("event_type")),
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type ASC NULLS FIRST"""),
    "exact count-distinct (OLAP extension)")

  /** ROLLUP hierarchy totals: (region, nation) subtotals + grand total —
    * Spark rollup vs DuckDB GROUP BY ROLLUP. */
  private val q56 = Q(
    "q56_rollup",
    (s, dir) => {
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec("c_acctbal")).cast(DoubleType).as("sum_bal"))
        .orderBy(asc_nulls_first("region"), asc_nulls_first("nation"))
    },
    Some("""SELECT r_name AS region, n_name AS nation, COUNT(*) AS n_customers,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST"""),
    "ROLLUP subtotals/grand total (OLAP extension)")

  /** Real JSON-path extraction from the props column (q19 is the
    * regexp fallback twin): get_json_object vs DuckDB json_extract_string. */
  private val q57 = Q(
    "q57_json_extract",
    (s, dir) =>
      T(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("k")),
    Some("""SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY k ORDER BY k ASC NULLS FIRST"""),
    "JSON-path extraction (F-series extension; regexp twin = q19)")

  /** As-of join (the classic operator Spark lacks as a built-in): for each
    * "trade" event, the latest "quote" value at-or-before its timestamp,
    * per user. Spark-first shape: union both sides tagged, ONE shuffle on
    * the partition key, then `last(_, ignoreNulls)` over a rows-window —
    * no range explosion, no per-row probe; at 100 TB this is a single
    * sort-within-partitions pass. DuckDB oracle uses its native ASOF JOIN.
    * Timestamps are second-truncated on both sides: events.ts carries
    * sub-microsecond precision that Spark floors to µs on read (see [[graft.T]]),
    * so the join key must sit at a granularity both engines agree on.
    * Quotes are deduped to one per (user, second) by max event_id so the
    * as-of pick is deterministic in both engines. */
  private val q62 = Q(
    "q62_asof_join",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("tss"), col("value"))
      val trades = ev.filter(pmod(col("event_id"), lit(5)) === 0)
        .select(col("user_id"), col("tss"), col("event_id"), col("value").as("tval"))
      val quotes = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
        .groupBy(col("user_id"), col("tss"))
        .agg(max_by(col("value"), col("event_id")).as("qv"))
      val tagged = trades
        .withColumn("is_trade", lit(1))
        .withColumn("qv", lit(null).cast(DoubleType))
        .unionByName(quotes.select(col("user_id"), col("tss"),
          lit(null).cast(LongType).as("event_id"),
          lit(null).cast(DoubleType).as("tval"),
          lit(0).as("is_trade"), col("qv")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(asc("tss"), asc("is_trade"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("asof_qval", last(col("qv"), ignoreNulls = true).over(w))
        .filter(col("is_trade") === 1)
        .select(col("event_id"), col("user_id"),
          date_format(col("tss"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          col("tval"), col("asof_qval"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS tss, value FROM events),
      t AS (SELECT user_id, tss, event_id, value AS tval FROM e WHERE event_id % 5 = 0),
      q AS (SELECT user_id, tss, max_by(value, event_id) AS qv
            FROM e WHERE event_id % 5 <> 0 GROUP BY user_id, tss)
      SELECT t.event_id, t.user_id, strftime(t.tss, '%Y-%m-%d %H:%M:%S') AS ts_str,
             t.tval, q.qv AS asof_qval
      FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.tss >= q.tss
      ORDER BY event_id ASC NULLS FIRST"""),
    "as-of join via tagged union + ignoreNulls last() window (custom-operator extension; DuckDB native ASOF oracle)")

  /** CUBE over (region, nation): all grouping-set combinations (q56's
    * ROLLUP sibling, completing the grouping-sets surface). */
  private val q63 = Q(
    "q63_cube",
    (s, dir) => {
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .cube(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec("c_acctbal")).cast(DoubleType).as("sum_bal"))
        .orderBy(asc_nulls_first("region"), asc_nulls_first("nation"))
    },
    Some("""SELECT r_name AS region, n_name AS nation, COUNT(*) AS n_customers,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE (r_name, n_name)
      ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST"""),
    "CUBE grouping sets (OLAP extension; ROLLUP twin = q56)")

  /** Ranking + frame-navigation windows (lag/lead/row_number): first 3
    * orders per customer with previous/next order prices. */
  private val q64 = Q(
    "q64_window_nav",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // both engines rank on the SAME truncated date string (zero-padded
      // yyyy-MM-dd sorts chronologically), so any time-of-day component in
      // o_orderdate cannot skew the tie-break differently per engine
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("od"), asc("o_orderkey"))
      T(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .filter(col("rn") <= 3)
        .orderBy(asc_nulls_first("o_custkey"), asc_nulls_first("rn"))
    },
    Some("""WITH b AS (SELECT o_custkey, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS od, o_totalprice FROM orders),
      w AS (SELECT o_custkey, o_orderkey, od, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC) AS rn,
        lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC) AS prev_price,
        lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY od ASC, o_orderkey ASC) AS next_price
      FROM b)
      SELECT o_custkey, o_orderkey, od, o_totalprice, rn, prev_price, next_price
      FROM w WHERE rn <= 3
      ORDER BY o_custkey ASC NULLS FIRST, rn ASC NULLS FIRST"""),
    "lag/lead/row_number navigation windows (W-series extension)")

  /** HLL scale-path twin of q55: at 100 TB, countDistinct's exact
    * distinct-shuffle is the bottleneck and the HyperLogLog++ sketch
    * (fixed-size per group, map-side mergeable) is the path. No DuckDB
    * oracle — sketch implementations differ across engines — so the
    * error bound vs the exact twin is pinned by spec instead
    * (ApproxSpec: relative error < 5% at rsd 0.02). */
  private val q67 = Q(
    "q67_approx_distinct",
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          count(lit(1)).as("n_events"))
        .orderBy(asc_nulls_first("event_type")),
    None,
    "HLL++ approximate count-distinct, the q55 scale path (error-bound spec vs exact)")

  /** Generic RANGE JOIN (builder-prompt custom operator, next to the
    * as-of join): points(pCol) ⋈ ranges[loCol, hiCol) — the 1-D sibling of
    * Spatial.spatialJoin's envelope-bucket pattern.
    *
    * Scale shape: ranges explode to covering fixed-width buckets, points
    * key to their single bucket, the join is a plain EQUI-join on the
    * bucket followed by the exact interval test — never a nested-loop
    * BETWEEN. A point matches a range in exactly one bucket (its own), so
    * no dedup pass is needed. Both sides shuffle-partition (or broadcast)
    * on the bucket key; bucket width should be ≥ the widest range so each
    * range covers ≤2 buckets. */
  def rangeJoin(points: DataFrame, ranges: DataFrame, pCol: String,
      loCol: String, hiCol: String, bucket: Long): DataFrame = {
    val pb = points.withColumn("__rb", expr(s"$pCol div $bucket"))
    val rb = ranges
      .filter(col(loCol) < col(hiCol)) // empty ranges match nothing
      .withColumn("__rb", explode(sequence(
        expr(s"$loCol div $bucket"), expr(s"($hiCol - 1) div $bucket"))))
    pb.join(rb, Seq("__rb"))
      .filter(col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("__rb")
  }

  /** Range join, ORACLE-CHECKED: events-derived integer points against
    * 1000 variable-width overlapping ranges, vs a DuckDB BETWEEN join.
    * Bucket width 256 ≥ max range width 159 → ≤2 buckets per range. */
  private val q75 = Q(
    "q75_range_join_oracle",
    (s, dir) => {
      val pts = T(s, dir, "events")
        .select((col("event_id") % 100000).as("p"), col("value"))
      val ranges = s.range(1000).select(
        col("id").as("rid"),
        (col("id") * 100 + (col("id") * 7) % 50).as("lo"))
        .withColumn("hi", col("lo") + 40 + (col("rid") * 13) % 120)
      rangeJoin(pts, broadcast(ranges), "p", "lo", "hi", 256L)
        .groupBy(col("rid"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("rid"))
    },
    Some("""WITH p AS (SELECT event_id % 100000 AS p, value FROM events),
      r AS (SELECT g AS rid, g * 100 + (g * 7) % 50 AS lo,
                   g * 100 + (g * 7) % 50 + 40 + (g * 13) % 120 AS hi
            FROM generate_series(0, 999) t(g))
      SELECT rid, COUNT(*) AS n_points,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM p JOIN r ON p >= lo AND p < hi
      GROUP BY rid ORDER BY rid ASC NULLS FIRST"""),
    "bucketized range join (equi-join on covering buckets + exact filter), DuckDB-oracle-checked vs BETWEEN join")

  /** Approximate percentile (Greenwald-Khanna sketch) — q11's scale path,
    * the same twin pattern as q55→q67: mergeable per-partition sketches
    * instead of a full sort per group. No oracle (sketches differ across
    * engines by design); the accuracy-vs-exact bound is spec-checked.
    * Its rows depend on the scan's partitioning: each scan task builds a
    * partial sketch and the final aggregate merges them, so since T reads
    * a one-file-per-core split copy of `lineitem` (T.layout) the sketch
    * merges `k` partials and its p25/p50/p95 may move within the sketch's
    * error bound from the one-partial values of a one-task scan. */
  private val q76 = Q(
    "q76_approx_percentile",
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_extendedprice, 0.25, 1000)").as("p25"),
          expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("p50"),
          expr("percentile_approx(l_extendedprice, 0.95, 1000)").as("p95"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag")),
    None,
    "approximate percentile sketch, q11's scale path (accuracy-bound spec vs exact)")

  /** q219: the Greenwald–Khanna sketch itself under the DuckDB hash gate.
    * GK guarantees rank error ≤ n/accuracy; at accuracy 10⁷ ≥ n (true
    * through sf1's ~6·10⁶-row lineitem) the permitted
    * error is < 1 rank, so the sketch MUST return the exact discrete
    * lower quantile — the same element DuckDB's quantile_disc selects
    * (verified identical across both fixtures, all flags, all three
    * quantiles, including an exact p·n integer boundary). q76 stays
    * rows-only for the genuinely-approximate configuration; this row
    * pins the sketch's insert/compress/merge/query path end to end —
    * a rank slip of even one element anywhere breaks the hash. */
  private val q219 = Q(
    "q219_gk_exact_quantile_oracle",
    (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile_approx(l_extendedprice, 0.25, 10000000)").as("p25"),
          expr("percentile_approx(l_extendedprice, 0.5, 10000000)").as("p50"),
          expr("percentile_approx(l_extendedprice, 0.95, 10000000)").as("p95"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag")),
    Some("""SELECT l_returnflag,
        quantile_disc(l_extendedprice, 0.25) AS p25,
        quantile_disc(l_extendedprice, 0.5) AS p50,
        quantile_disc(l_extendedprice, 0.95) AS p95,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST"""),
    "Greenwald-Khanna sketch at sub-rank accuracy equals the exact discrete quantile (q76's hash-gated twin)")

  /** q98: sliding TIME-RANGE window — per-user rolling 1-hour count/sum
    * (the rate/velocity feature a feature-engineering pipeline computes
    * per event). RANGE frames (all rows within the interval, peers
    * included) not ROWS frames, so duplicate timestamps aggregate
    * identically in both engines; evaluated incrementally per partition
    * after ONE exchange on user_id — no self-join, no per-row re-scan. */
  private val q98 = Q(
    "q98_sliding_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      T(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", sum(dec("value")).over(w).cast(DoubleType))
        .drop("value")
        .orderBy(asc_nulls_first("user_id"), asc_nulls_first("ts_us"),
          asc_nulls_first("n_1h"))
    },
    Some("""SELECT user_id, ts_us,
        COUNT(*) OVER w AS n_1h,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      FROM (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY user_id ASC NULLS FIRST, ts_us ASC NULLS FIRST, n_1h ASC NULLS FIRST"""),
    "rolling 1-hour per-user window (RANGE frame): event-rate features, one exchange, incremental frame eval")

  /** q102: HOPPING (sliding) window aggregation — `window(ts, 1h, 15m)`,
    * q17's tumbling sibling from SURVEY §7.2 v5. Each event lands in
    * exactly 4 overlapping windows (duration/slide); Spark's generator
    * explodes the assignment map-side, so the shuffle carries 4× rows of
    * (window, partials) — never a self-join against a window spine. The
    * oracle reproduces Spark's epoch-aligned window starts with integer
    * µs arithmetic (floor to slide, back-step k slides). */
  private val q102 = Q(
    "q102_hopping_window",
    (s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("n_events"), col("sum_value"))
        .orderBy(asc_nulls_first("wstart")),
    Some("""SELECT strftime(make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000),
               '%Y-%m-%d %H:%M:%S') AS wstart,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM (SELECT ts, value, unnest([0,1,2,3]) AS k FROM events)
      GROUP BY 1 ORDER BY wstart ASC NULLS FIRST"""),
    "hopping-window agg (1h window, 15m slide): map-side window explosion, epoch-aligned starts (SURVEY §7.2 v5)")

  /** q129: correlated scalar subquery — "orders that are their
    * customer's most expensive order". Catalyst DECORRELATES the inner
    * max into one per-customer aggregate joined back (RewriteCorrelated
    * ScalarSubquery): what executes is two customer-keyed shuffles, not
    * a per-row subquery — the transformation that makes correlated SQL
    * viable at 100 TB. Equality on the stored double is exact (no
    * arithmetic), ties count in both engines identically. */
  private val q129 = Q(
    "q129_correlated_subquery",
    (s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders_cs")
      s.sql("""SELECT o_orderpriority, count(*) AS n_top
        FROM orders_cs o
        WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders_cs o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority ASC NULLS FIRST""")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_top
      FROM orders o
      WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority ASC NULLS FIRST"""),
    "correlated scalar subquery, decorrelated by Catalyst into joined aggregates (same SQL runs in both engines)")

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q55, q56, q57, q62, q63,
    q64, q67, q75, q76, q98, q102, q129, q219)
}
