package graft.ops

import graft.{Parquet, Q, T}
import graft.sources.Gpkg
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Ingest surface (S-series, SURVEY.md §2.1): scans, id generation,
  * idempotent sinks, namespace convention — the load_data.py pipeline
  * re-expressed as one Spark job (SURVEY.md §3.1). */
object Ingest {

  /** S2: headered CSV scan with schema inference (load_data.py:60-68). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** W1: deterministic 1-based id column, id first (load_data.py:70-79).
    * Exact sequential ids need a global ordering — a single-partition
    * window. Fine for dimension-sized inputs; for fact-scale data use
    * [[distributedId]] instead. */
  def addIdColumn(df: DataFrame, orderBy: String): DataFrame = {
    val withId = df.withColumn("id",
      row_number().over(Window.orderBy(asc_nulls_first(orderBy))).cast("long"))
    withId.select(col("id") +: df.columns.map(col).toIndexedSeq: _*)
  }

  /** W1 at scale: unique (non-contiguous) ids without any shuffle —
    * partition-local counters offset by partition id. */
  def distributedId(df: DataFrame): DataFrame =
    df.withColumn("id", monotonically_increasing_id())

  /** S8/S9: idempotent overwrite sink (if_exists='replace',
    * load_data.py:89,102). */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S11: single-file headered CSV sink (load_report.py:446-448). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** S7: namespace convention — temp views prefixed `staging_`
    * (CREATE SCHEMA IF NOT EXISTS staging, load_data.py:22-30). */
  def registerStaging(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(s"staging_$name")

  /** S3 integration surface (reference: load_report.py:35-42 reads over
    * a live PostGIS socket). Offline there is no JDBC driver jar, so the
    * ONE declared-missing capability is the socket itself; everything a
    * deployment configures — url/dbtable plumbing, fetch sizing,
    * predicate/aggregate/limit pushdown flags, partitioned parallel
    * reads (the thing that makes a 100 TB JDBC ingest not a single
    * connection) — is built here and pinned by IngestSpec. A live
    * deployment runs `spark.read.format("jdbc").options(jdbcOptions(...))
    * .load()` verbatim. */
  def jdbcOptions(url: String, table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      fetchSize: Int = 10000): Map[String, String] = {
    val base = Map(
      "url" -> url,
      "dbtable" -> table,
      "fetchsize" -> fetchSize.toString,
      // Spark's JDBC source pushes filters/aggregates/LIMIT to the
      // database when these are on — the moral equivalent of parquet
      // PushedFilters for the S3 path
      "pushDownPredicate" -> "true",
      "pushDownAggregate" -> "true",
      "pushDownLimit" -> "true")
    partitionColumn.fold(base) { case (c, lo, hi, n) =>
      base ++ Map(
        "partitionColumn" -> c,
        "lowerBound" -> lo.toString,
        "upperBound" -> hi.toString,
        "numPartitions" -> n.toString)
    }
  }

  /** S12 + the reference's ACTUAL view on its ACTUAL data:
    * lu.gpkg ⋈ lu.csv on TEMA projecting id/TEMA/LUSE/KETERANGAN/JENIS/
    * SUMBER (query/view_linked_data.sql:1-13) — runnable end-to-end from
    * the reference's own files. */
  private val q51 = Q(
    "q51_reference_linked_view",
    (s, _) => {
      val lu = addIdColumn(
        Gpkg.readLayer(s, graft.Reference.file("data/lu.gpkg"), "lu").drop("fid"), "KETERANGAN")
      val dim = readCsv(s, graft.Reference.file("data/lu.csv"))
      lu.join(broadcast(dim), Seq("TEMA"))
        .select(col("id").as("ID"), col("TEMA"), col("LUSE"), col("KETERANGAN"),
          col("JENIS"), col("SUMBER"))
        .orderBy(asc_nulls_first("ID"))
    },
    None,
    "S2 CSV scan + S12 view + J1 join + W1 id on the reference's own data")

  /** S-series extension: ORC sink + source round trip. Spark's ORC support
    * is built-in (vectorized reader, predicate pushdown, column pruning —
    * same scan machinery as parquet); a real warehouse has both formats.
    * The query writes a lineitem projection to ORC, reads it back, and
    * aggregates; the oracle computes the same aggregate straight from the
    * parquet table — any ORC encode/decode infidelity breaks the hash.
    * Timestamps stay off the ORC path (string-formatted before the write):
    * ORC's timestamp epoch/TZ semantics differ from parquet's and the
    * round trip should test the ENGINE, not calendar trivia. */
  /** One ORC scratch dir per JVM, reused across bench reps / repeated
    * correctness runs with Overwrite (a fresh createTempDirectory per
    * invocation accumulated orphaned copies on disk); [[graft.Scratch]]
    * removes it on exit. */
  private lazy val orcScratch: String = graft.Scratch.dir("orc")

  private val q88 = Q(
    "q88_orc_roundtrip",
    (s, dir) => {
      val tmp = orcScratch
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
        .write.mode(SaveMode.Overwrite).orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
          min(col("ship_day")).as("first_day"), max(col("ship_day")).as("last_day"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      min(strftime(l_shipdate, '%Y-%m-%d')) AS first_day,
      max(strftime(l_shipdate, '%Y-%m-%d')) AS last_day
      FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST"""),
    "ORC sink + source round trip; oracle aggregates the parquet original")

  /** MERGE INTO (upsert) as a read-side join — the table-maintenance
    * operation the S8 replace-table sink generalizes to when only part of
    * the table changes. Target FULL OUTER JOIN staged batch on the key;
    * matched rows take the staged values (UPDATE), unmatched staged rows
    * append (INSERT), the rest keep. The join is co-partitioned on the
    * key (both sides shuffle once; AQE picks the strategy) — at 100 TB
    * with a date/key-partitioned target the staged keys prune the merge
    * to touched partitions and the rewrite is dynamic partition
    * overwrite, which is exactly the merge-on-read shape lakehouse
    * formats execute. */
  def mergeUpsert(target: DataFrame, staged: DataFrame, key: String): DataFrame = {
    val cols = target.columns.filterNot(_ == key)
    val merged = target.join(
      staged.select(col(key) +: cols.map(c => col(c).as(s"__s_$c")): _*),
      Seq(key), "full_outer")
    val action =
      when(col(s"__s_${cols.head}").isNotNull && col(cols.head).isNotNull, "update")
        .when(col(cols.head).isNull, "insert").otherwise("keep")
    merged.select(
      col(key) +: cols.map(c => coalesce(col(s"__s_$c"), col(c)).as(c))
        :+ action.as("merge_action"): _*)
  }

  /** q108: the merge under the oracle gate. The staged batch is derived
    * IN-QUERY (every 10th order re-priced +1.00 and re-prioritized; one
    * synthetic insert per 100th key, offset out of the key range), and
    * the result is fingerprinted per (action, final priority) with
    * decimal-exact sums, so the hash pins every UPDATE/INSERT/KEEP
    * decision and every merged value. */
  private val q108 = Q(
    "q108_merge_upsert",
    (s, dir) => {
      val t = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val upd = t.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U-UPDATED").as("o_orderpriority"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      val ins = t.filter(col("o_orderkey") % 100 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N-NEW").as("o_orderpriority"),
          lit(1000.0).as("o_totalprice"))
      mergeUpsert(t, upd.unionByName(ins), "o_orderkey")
        .groupBy(col("merge_action"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
        .orderBy(asc_nulls_first("merge_action"), asc_nulls_first("o_orderpriority"))
    },
    Some("""WITH t AS (SELECT o_orderkey AS k, o_orderpriority AS tp, o_totalprice AS tv
               FROM orders),
      u AS (SELECT k, 'U-UPDATED' AS sp, tv + 1.0 AS sv FROM t WHERE k % 10 = 0),
      i AS (SELECT k + 10000000 AS k, 'N-NEW' AS sp, CAST(1000.0 AS DOUBLE) AS sv
            FROM t WHERE k % 100 = 0),
      sgd AS (SELECT * FROM u UNION ALL SELECT * FROM i),
      m AS (SELECT coalesce(sp, tp) AS p, coalesce(sv, tv) AS v,
                   CASE WHEN sp IS NOT NULL AND tp IS NOT NULL THEN 'update'
                        WHEN tp IS NULL THEN 'insert' ELSE 'keep' END AS merge_action
            FROM t FULL OUTER JOIN sgd ON t.k = sgd.k)
      SELECT merge_action, p AS o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM m GROUP BY merge_action, p
      ORDER BY merge_action ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
    "MERGE INTO via full-outer read-side join: update/insert/keep decisions fingerprinted per action+priority")

  /** Small-file compaction — the table-maintenance pass every streaming
    * ingest needs (micro-batches leave thousands of KB-sized files; scan
    * cost at 100 TB is dominated by file-open overhead until they are
    * rewritten). Strategy: `repartitionByRange` on the layout key (ts) →
    * in-file sort → bounded file count with range-DISJOINT files, so
    * min/max footer stats prune time-predicate scans afterwards. At
    * cluster scale the same pass runs per table partition with
    * `maxRecordsPerFile` bounding file size; AQE coalesces the range
    * exchange. */
  def compact(df: DataFrame, targetFiles: Int, sortCol: String): DataFrame =
    df.repartitionByRange(targetFiles, col(sortCol))
      .sortWithinPartitions(asc_nulls_first(sortCol))

  /** q115: compaction under the oracle gate. A 64-file fragmented copy of
    * events is staged once per JVM (Scratch-cached), compacted to 4
    * range-disjoint ts-sorted files, and the COMPACTED copy is
    * fingerprinted per hour-of-day (count + decimal-exact sum) — the
    * oracle recomputes from the original events table, so the hash pins
    * byte-level content preservation across the rewrite. Layout facts
    * (file count, per-file range disjointness, in-file ordering) are
    * asserted in CompactionSpec, which the oracle cannot see. */
  private val q115 = Q(
    "q115_compaction",
    (s, dir) => {
      val frag = graft.Scratch.dir(s"frag_events_${dir.hashCode.toHexString}")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(frag, "_SUCCESS")))
        Parquet.read(s, s"$dir/events.parquet")
          .repartition(64).write.mode(SaveMode.Overwrite).parquet(frag)
      val out = graft.Scratch.dir(s"compact_events_${dir.hashCode.toHexString}")
      compact(Parquet.read(s, frag), 4, "ts")
        .write.mode(SaveMode.Overwrite).parquet(out)
      val compacted = Parquet.read(s, out)
        .transform(graft.Ts.norm)
      compacted
        .groupBy(hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("hr"))
    },
    Some("""SELECT CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY hr ASC NULLS FIRST"""),
    "small-file compaction: 64 fragments -> 4 range-disjoint sorted files; content fingerprint vs original")

  /** q121: retention/vacuum by partition — the delete-old-data pass that
    * pairs with compaction (q115) in every ingest pipeline. The events
    * table is laid out day-partitioned once per JVM; retention then
    * DELETES whole expired partitions (here: keep day >= the table's
    * 11th distinct day): each expired `day=` directory is removed
    * outright, surviving partitions are untouched bytes — no data is
    * read or rewritten. At 100 TB partition-aligned retention is a
    * metadata operation per expired partition, never a full-table
    * rewrite (the in-place UPDATE sibling is q108's merge + dynamic
    * partition overwrite); the oracle re-derives the surviving content
    * from the original table, pinning that nothing else changed. */
  private val q121 = Q(
    "q121_retention",
    (s, dir) => {
      val t = T(s, dir, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val base = graft.Scratch.dir(s"retained_events_${dir.hashCode.toHexString}")
      val tbl = s"$base/by_day"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tbl)))
        t.write.partitionBy("day").mode(SaveMode.Overwrite).parquet(tbl)
      val cutoff = t.select(col("day")).distinct()
        .orderBy(asc_nulls_first("day")).limit(11)
        .agg(max(col("day"))).head().getString(0)
      // partition values come from the catalog listing (directory names),
      // no data files are opened to find what expires; partition-type
      // inference reads day= back as DATE, so re-stringify for compare.
      // Shared guarded Manifest kernel (one copy of collect-a-manifest).
      val expired = Manifest
        .partitionValues(s, tbl, date_format(col("day"), "yyyy-MM-dd"))
        .filter(_ < cutoff)
      expired.foreach { d =>
        val p = java.nio.file.Paths.get(tbl, s"day=$d")
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => { java.nio.file.Files.delete(f); () })
          finally walk.close()
        }
      }
      Parquet.read(s, tbl)
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("day"))
    },
    Some("""WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
               FROM events),
      cut AS (SELECT max(day) AS c FROM (
               SELECT DISTINCT day FROM d ORDER BY day ASC LIMIT 11))
      SELECT day, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM d, cut WHERE day >= c
      GROUP BY day ORDER BY day ASC NULLS FIRST"""),
    "partition-aligned retention: expired day partitions dropped as directory deletes, survivors untouched")

  /** q122: schema evolution — the ingest reality that upstream producers
    * ADD columns mid-stream. Batch 1 writes (event_id, value); batch 2
    * adds a `source` column; `mergeSchema` unifies the footers at read
    * time and back-fills NULL for pre-evolution rows. At 100 TB schema
    * merge reads footers (not data) and the unified scan stays
    * column-pruned; the oracle replays the same union semantics. */
  private val q122 = Q(
    "q122_schema_evolution",
    (s, dir) => {
      val base = graft.Scratch.dir(s"evolve_${dir.hashCode.toHexString}")
      val ev = T(s, dir, "events")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "b1", "_SUCCESS"))) {
        ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("value"))
          .write.mode(SaveMode.Overwrite).parquet(s"$base/b1")
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("value"), col("event_type").as("source"))
          .write.mode(SaveMode.Overwrite).parquet(s"$base/b2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$base/b1", s"$base/b2")
        .groupBy(coalesce(col("source"), lit("<pre-evolution>")).as("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""WITH u AS (
        SELECT event_id, value, NULL AS source FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, value, event_type AS source FROM events WHERE event_id % 2 = 1)
      SELECT coalesce(source, '<pre-evolution>') AS source, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM u GROUP BY 1 ORDER BY source ASC NULLS FIRST"""),
    "mergeSchema read across an added column: NULL back-fill for pre-evolution rows, column-pruned unified scan")

  /** q126: table-statistics collection — the ANALYZE pass that feeds a
    * cost-based optimizer (and partition-pruning min/max manifests) at
    * warehouse scale. ONE scan computes min/max/exact-NDV/null-count for
    * every profiled column simultaneously (partial/final map-combinable
    * aggs), then unpivots to one row per column; the naive form scans
    * the table once PER column. Exact NDV keeps the oracle exact — a
    * production pass swaps in approx_count_distinct (q67's HLL path) per
    * column at 100 TB. */
  private val q126 = Q(
    "q126_table_stats",
    (s, dir) => {
      // the multi-distinct agg EXPANDs every row 4× and partial-aggregates
      // in the scan stage — a 3-task 1.6 s job on the single-row-group file
      // (JobProf r17); T's split copy gives that stage one task per core
      val l = T(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val stats = l.agg(
        min(col("l_quantity")).as("min1"), max(col("l_quantity")).as("max1"),
        countDistinct(col("l_quantity")).as("ndv1"),
        sum(col("l_quantity").isNull.cast(LongType)).as("null1"),
        min(col("l_extendedprice")).as("min2"), max(col("l_extendedprice")).as("max2"),
        countDistinct(col("l_extendedprice")).as("ndv2"),
        sum(col("l_extendedprice").isNull.cast(LongType)).as("null2"),
        min(col("l_discount")).as("min3"), max(col("l_discount")).as("max3"),
        countDistinct(col("l_discount")).as("ndv3"),
        sum(col("l_discount").isNull.cast(LongType)).as("null3"))
      stats.select(expr(
        """stack(3,
           'l_quantity', min1, max1, ndv1, null1,
           'l_extendedprice', min2, max2, ndv2, null2,
           'l_discount', min3, max3, ndv3, null3)
           AS (col_name, vmin, vmax, ndv, n_nulls)"""))
        .orderBy(asc_nulls_first("col_name"))
    },
    Some("""SELECT 'l_quantity' AS col_name, min(l_quantity) AS vmin,
             max(l_quantity) AS vmax,
             CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', min(l_extendedprice), max(l_extendedprice),
             CAST(count(DISTINCT l_extendedprice) AS BIGINT),
             CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', min(l_discount), max(l_discount),
             CAST(count(DISTINCT l_discount) AS BIGINT),
             CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      ORDER BY col_name ASC NULLS FIRST"""),
    "single-scan ANALYZE: min/max/exact-NDV/null-count per column, unpivoted (CBO/pruning-manifest stats)")

  /** HLL readout constant α₁₀₂₄·m²·2²² (m = 1024 — 4× q217's gate
    * registers for CBO-grade accuracy; the 2²² clears the scaled
    * harmonic numerator), emitted as ONE shortest-round-trip
    * double literal into BOTH plans so raw = LIT / S is a single
    * identical IEEE division — bit-equal across engines by construction. */
  private val HllReadoutLit: Double =
    (0.7213 / (1.0 + 1.079 / 1024.0)) * 1048576.0 * 4194304.0

  /** q131: the 100 TB sibling of q126 — approximate ANALYZE in one
    * map-combinable pass (the exact form's multi-column DISTINCT expands
    * every row once PER profiled column; the register pass partial-
    * aggregates to ≤ 3·256 rows per partition before one narrow
    * shuffle). DIRECT oracle since r14: NDV comes from q217/q220's
    * SQL-replayable HLL registers with the published readout — raw
    * α·m²·2²⁴/S, linear counting m·ln(m/V) when raw ≤ 2.5m and empty
    * registers remain (Flajolet et al. 2007) — rounded to integer
    * counts. Cross-engine float safety: the raw branch is one shared-
    * literal division (bit-identical by construction) and the ln branch
    * has a FINITE input domain (V ∈ 1..255) that SketchesSpec
    * enumerates, proving every possible value sits ≥ 10⁻⁶ from a
    * rounding boundary — libm ulp drift cannot flip the integer. */
  private val q131 = Q(
    "q131_table_stats_approx",
    (s, dir) => {
      val keyed = T(s, dir, "lineitem").select(expr(
        """stack(3, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice,
           'l_discount', l_discount) AS (col_name, v)"""))
      val base = keyed.groupBy(col("col_name")).agg(
        min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        sum(col("v").isNull.cast(LongType)).as("n_nulls"))
      val regs = keyed.filter(col("v").isNotNull)
        .select(col("col_name"),
          ((abs(floor(col("v") * 100).cast(LongType)) * lit(2654435761L) + lit(12345L))
            % lit(2147483647L)).as("h"))
        .select(col("col_name"), (col("h") % 1024).as("register"), expr("h div 1024").as("w"))
        .select(col("col_name"), col("register"),
          when(col("w") === 0, lit(22L))
            .otherwise(expr("cast(bit_count((w & -w) - 1) + 1 as bigint)")).as("rho"))
        .groupBy(col("col_name"), col("register")).agg(max(col("rho")).as("r"))
      val hll = regs.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_regs"),
          (sum(expr("shiftleft(cast(1 as bigint), cast(22 - r as int))"))
            + (lit(1024L) - count(lit(1))) * lit(4194304L)).as("s_hll"))
      val raw = lit(HllReadoutLit) / col("s_hll").cast(DoubleType)
      val ndv = when(raw > lit(2560.0) || col("n_regs") === 1024,
          round(raw).cast(LongType))
        .otherwise(round(lit(1024.0) *
          log(lit(1024.0) / (lit(1024L) - col("n_regs")).cast(DoubleType))).cast(LongType))
      base.join(hll, Seq("col_name"))
        .select(col("col_name"), col("vmin"), col("vmax"),
          ndv.as("ndv"), col("n_nulls"))
        .orderBy(asc_nulls_first("col_name"))
    },
    Some(s"""WITH keyed AS (
        SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem),
      base AS (SELECT col_name, min(v) AS vmin, max(v) AS vmax,
                 CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
               FROM keyed GROUP BY col_name),
      rr AS (SELECT col_name, h % 1024 AS register,
               CASE WHEN h // 1024 = 0 THEN 22
                    ELSE bit_count(((h // 1024) & -(h // 1024)) - 1) + 1 END AS rho
             FROM (SELECT col_name,
                     (abs(CAST(floor(v * 100) AS BIGINT)) * 2654435761 + 12345)
                       % 2147483647 AS h
                   FROM keyed WHERE v IS NOT NULL)),
      reg AS (SELECT col_name, register, MAX(rho) AS r FROM rr GROUP BY 1, 2),
      hll AS (SELECT col_name, COUNT(*) AS n_regs,
                CAST(SUM(CAST(1 AS BIGINT) << CAST(22 - r AS INTEGER))
                  + (1024 - COUNT(*)) * 4194304 AS BIGINT) AS s_hll
              FROM reg GROUP BY 1)
      SELECT col_name, vmin, vmax,
             CASE WHEN (${HllReadoutLit} / CAST(s_hll AS DOUBLE)) > 2560.0
                       OR n_regs = 1024
                  THEN CAST(round(${HllReadoutLit} / CAST(s_hll AS DOUBLE)) AS BIGINT)
                  ELSE CAST(round(1024.0 * ln(1024.0 / CAST(1024 - n_regs AS DOUBLE)))
                            AS BIGINT)
             END AS ndv,
             n_nulls
      FROM base JOIN hll USING (col_name)
      ORDER BY col_name ASC NULLS FIRST"""),
    "approximate ANALYZE: single scan, replayable HLL-register NDV per column — the sketch-backed stats pass a CBO runs at 100 TB, hash-gated")

  /** q220: q131's approximate-ANALYZE shape with the NDV sketch replaced
    * by q217's SQL-replayable HLL registers, so the LAST engine-specific
    * stats column gains a hash-gated sibling. Per profiled column the
    * value is keyed as floor(v·100) (all three are 2-decimal columns —
    * the key is exact in both engines), spread through the q217 hash
    * (|k|·2654435761 + 12345 mod 2³¹−1), and folded into 256 registers
    * with bit_count trailing-zero ranks; the output carries min/max/
    * null-count (exact) plus the integer register state (n_regs, s_hll —
    * the monotone readout numerator). Scale shape: the stack() unpivot
    * triples rows MAP-SIDE only — the partial max-aggregate combines to
    * ≤ 3·256 register rows per partition before the one narrow shuffle,
    * which is exactly how a CBO sketches every column of a 100 TB table
    * in one pass. */
  private val q220 = Q(
    "q220_stats_hll_oracle",
    (s, dir) => {
      val keyed = T(s, dir, "lineitem").select(expr(
        """stack(3, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice,
           'l_discount', l_discount) AS (col_name, v)"""))
      val base = keyed.groupBy(col("col_name")).agg(
        min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        sum(col("v").isNull.cast(LongType)).as("n_nulls"))
      val regs = keyed.filter(col("v").isNotNull)
        .select(col("col_name"),
          ((abs(floor(col("v") * 100).cast(LongType)) * lit(2654435761L) + lit(12345L))
            % lit(2147483647L)).as("h"))
        .select(col("col_name"), (col("h") % 256).as("register"), expr("h div 256").as("w"))
        .select(col("col_name"), col("register"),
          when(col("w") === 0, lit(24L))
            .otherwise(expr("cast(bit_count((w & -w) - 1) + 1 as bigint)")).as("rho"))
        .groupBy(col("col_name"), col("register")).agg(max(col("rho")).as("r"))
      val hll = regs.groupBy(col("col_name"))
        .agg(count(lit(1)).as("np"),
          sum(expr("shiftleft(cast(1 as bigint), cast(24 - r as int))")).as("ps"))
        .select(col("col_name"), col("np").as("n_regs"),
          (col("ps") + (lit(256L) - col("np")) * lit(16777216L)).as("s_hll"))
      base.join(hll, Seq("col_name"))
        .select(col("col_name"), col("vmin"), col("vmax"), col("n_nulls"),
          col("n_regs"), col("s_hll"))
        .orderBy(asc_nulls_first("col_name"))
    },
    Some("""WITH keyed AS (
        SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount FROM lineitem),
      base AS (SELECT col_name, min(v) AS vmin, max(v) AS vmax,
                 CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
               FROM keyed GROUP BY col_name),
      rr AS (SELECT col_name, h % 256 AS register,
               CASE WHEN h // 256 = 0 THEN 24
                    ELSE bit_count(((h // 256) & -(h // 256)) - 1) + 1 END AS rho
             FROM (SELECT col_name,
                     (abs(CAST(floor(v * 100) AS BIGINT)) * 2654435761 + 12345)
                       % 2147483647 AS h
                   FROM keyed WHERE v IS NOT NULL)),
      reg AS (SELECT col_name, register, MAX(rho) AS r FROM rr GROUP BY 1, 2),
      hll AS (SELECT col_name, COUNT(*) AS n_regs,
                CAST(SUM(CAST(1 AS BIGINT) << CAST(24 - r AS INTEGER))
                  + (256 - COUNT(*)) * 16777216 AS BIGINT) AS s_hll
              FROM reg GROUP BY 1)
      SELECT col_name, vmin, vmax, n_nulls, n_regs, s_hll
      FROM base JOIN hll USING (col_name)
      ORDER BY col_name ASC NULLS FIRST"""),
    "approximate ANALYZE with hash-gated NDV state: q131's single-scan stats pass over q217's replayable HLL registers")

  /** q127: JSON-lines sink + source round trip — the ingest format most
    * raw feeds arrive in (q88 is the ORC sibling). Writes a lineitem
    * projection as gzipped JSON lines, reads it back through Spark's
    * JSON source with an EXPLICIT schema (schema inference at 100 TB is
    * a full extra pass; production ingest always declares), and
    * aggregates; the oracle computes the same aggregate from the parquet
    * original, so any serialize/parse infidelity (doubles survive via
    * shortest-round-trip repr; dates are pre-formatted strings, same
    * rationale as q88's ORC timestamps) breaks the hash. */
  private lazy val jsonScratch: String = graft.Scratch.dir("jsonl")

  private val q127 = Q(
    "q127_json_roundtrip",
    (s, dir) => {
      val proj = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      // gzip JSON is unsplittable, so the file count written here IS the
      // read-side parallelism: one file per scan task of T's split copy,
      // i.e. one per core (T.layout, SCALE.md)
      proj.write.mode(SaveMode.Overwrite).option("compression", "gzip")
        .json(jsonScratch)
      s.read.schema(proj.schema).json(jsonScratch)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
          min(col("ship_day")).as("first_day"), max(col("ship_day")).as("last_day"))
        .orderBy(asc_nulls_first("l_returnflag"))
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      min(strftime(l_shipdate, '%Y-%m-%d')) AS first_day,
      max(strftime(l_shipdate, '%Y-%m-%d')) AS last_day
      FROM lineitem GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST"""),
    "JSON-lines sink + explicit-schema source round trip; oracle aggregates the parquet original")

  /** q136: snapshot diff — the data-regression check a pipeline runs
    * between two materializations of one table: which keys were added,
    * removed, or changed (any non-key column differs, null-safely).
    * Snapshot B is derived in-query from the driver's orders table with
    * planted edits (every 97th key dropped, every 100th key's status
    * flipped, every 500th re-inserted under a new key), so the expected
    * diff is exact and the oracle replays the same construction.
    *
    * Scale shape: ONE full-outer shuffle join on the snapshot key — the
    * honest floor for a general diff of two unordered snapshots. The
    * column comparison is null-safe equality inside the joined row
    * (codegen, no extra pass). At 100 TB, narrow the join first when
    * metadata allows: partition-level fingerprints (q115's layout),
    * a CDC log when one exists (q128), or a bloom probe (q118) —
    * this operator is the fallback that needs none of them. */
  private val q136 = Q(
    "q136_snapshot_diff",
    (s, dir) => {
      val a = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val b = a.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 100 === 0, lit("X")).otherwise(col("o_orderstatus")))
        .unionByName(a.filter(col("o_orderkey") % 500 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"), col("o_orderpriority")))
      val change = when(col("a.o_orderkey").isNull, lit("added"))
        .when(col("b.o_orderkey").isNull, lit("removed"))
        .when(!(col("a.o_orderstatus") <=> col("b.o_orderstatus")) ||
          !(col("a.o_orderpriority") <=> col("b.o_orderpriority")), lit("changed"))
      a.alias("a")
        .join(b.alias("b"), col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
        .select(coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
          change.as("change"),
          col("a.o_orderstatus").as("old_status"),
          col("b.o_orderstatus").as("new_status"))
        .filter(col("change").isNotNull)
        .orderBy(asc_nulls_first("o_orderkey"))
    },
    Some("""WITH a AS (
        SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
      b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 100 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 500 = 0),
      j AS (
        SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
               a.o_orderstatus AS sa, b.o_orderstatus AS sb,
               a.o_orderpriority AS pa, b.o_orderpriority AS pb
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey),
      d AS (
        SELECT COALESCE(ka, kb) AS o_orderkey,
               CASE WHEN ka IS NULL THEN 'added'
                    WHEN kb IS NULL THEN 'removed'
                    WHEN sa IS DISTINCT FROM sb OR pa IS DISTINCT FROM pb THEN 'changed'
               END AS change,
               sa AS old_status, sb AS new_status
        FROM j)
      SELECT o_orderkey, change, old_status, new_status
      FROM d WHERE change IS NOT NULL
      ORDER BY o_orderkey ASC NULLS FIRST"""),
    "snapshot diff: added/removed/changed keys between two table versions via one full-outer key join (pipeline regression check)")

  /** q143: algebraic rollup composition — the coarser aggregate table
    * derived FROM the finer one (dekad-level from the daily MV), never
    * from the facts: count-of-counts, sum-of-sums (exact DECIMAL — the
    * part that silently breaks when the daily table stores floats),
    * min-of-mins, max-of-maxes, with the mean re-derived from the
    * composed sums (a stored daily mean does NOT compose — the classic
    * rollup bug this query pins). The oracle computes the dekad level
    * DIRECTLY from the raw facts, so the hash match proves the
    * composition algebra end to end.
    *
    * Scale shape: the compose reads |days×types| rows, not the fact
    * table — the entire point of maintaining aggregate hierarchies at
    * 100 TB (q117 maintains the daily level incrementally; this is the
    * read path that rolls it up). */
  private val q143 = Q(
    "q143_rollup_compose",
    (s, dir) => {
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
          expr("least(3, 1 + (day(ts) - 1) div 10)").as("dekad"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).as("amt"),
          min(col("value")).as("minv"), max(col("value")).as("maxv"))
      daily.groupBy(col("event_type"), col("dekad"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("amt")).cast(DoubleType).as("total"),
          min(col("minv")).as("min_value"), max(col("maxv")).as("max_value"),
          round(sum(col("amt")).cast(DoubleType) / sum(col("n")), 6).as("avg_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("dekad"))
    },
    Some("""SELECT event_type,
             CAST(LEAST(3, 1 + (EXTRACT(day FROM ts) - 1) // 10) AS BIGINT) AS dekad,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
             MIN(value) AS min_value, MAX(value) AS max_value,
             round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value
      FROM events
      GROUP BY event_type, dekad
      ORDER BY event_type ASC NULLS FIRST, dekad ASC NULLS FIRST"""),
    "algebraic rollup: dekad aggregates composed from the daily aggregate table = direct fact-level aggregation (the oracle computes the latter)")

  /** q161: rendezvous (highest-random-weight) shard assignment + reshard
    * movement audit — the consistent-placement scheme that makes GROWING
    * a sharded corpus cheap: each key goes to the shard with the highest
    * keyed hash, so adding shard N+1 moves ONLY the keys whose new
    * maximum is the new shard (expected 1/(N+1) of data), versus mod-N
    * placement which relocates ~N/(N+1) of everything. The audit assigns
    * every doc under 16 and 17 shards and reports per-shard movement —
    * the plan a 100 TB reshard is costed from.
    *
    * All integer: h(key, s) = ((key·2654435761 mod (2³¹−1)) + s) ·
    * 2654435761 mod (2³¹−1) (products stay < 2⁶³), argmax via the
    * lexicographic max of (h, s) STRUCTS so ties break identically in
    * both engines. Scale shape: both assignments are pure map-side
    * expressions over the scan (a transform over a 17-element sequence —
    * no explode, no join); the only shuffle is the final
    * shard-cardinality-sized groupBy. */
  private val q161 = Q(
    "q161_rendezvous_reshard",
    (s, dir) => {
      def shard(n: Int) =
        s"array_max(transform(sequence(0, ${n - 1}), s -> named_struct(" +
          "'h', ((m1 + s) * 2654435911L) % 2147483647L, 's', s))).s"
      T(s, dir, "documents")
        .select(col("doc_id"),
          expr("(doc_id * 2654435761L) % 2147483647L").as("m1"))
        .select(col("doc_id"),
          expr(shard(16)).cast(LongType).as("shard16"),
          expr(shard(17)).cast(LongType).as("shard17"))
        .groupBy(col("shard16"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard16") =!= col("shard17"), 1L).otherwise(0L)).as("n_moved"),
          sum(when(col("shard17") === 16L && col("shard16") =!= col("shard17"), 1L)
            .otherwise(0L)).as("n_moved_to_new"))
        .orderBy(asc_nulls_first("shard16"))
    },
    Some("""WITH m AS (SELECT doc_id,
               (doc_id * 2654435761) % 2147483647 AS m1 FROM documents),
      a AS (SELECT doc_id,
              list_max([{'h': ((m1 + s) * 2654435911) % 2147483647, 's': s}
                        FOR s IN generate_series(0, 15)]).s AS shard16,
              list_max([{'h': ((m1 + s) * 2654435911) % 2147483647, 's': s}
                        FOR s IN generate_series(0, 16)]).s AS shard17
            FROM m)
      SELECT CAST(shard16 AS BIGINT) AS shard16,
             COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
             CAST(SUM(CASE WHEN shard17 = 16 AND shard16 <> shard17
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new
      FROM a GROUP BY shard16 ORDER BY shard16 ASC NULLS FIRST"""),
    "rendezvous-hash sharding: adding a shard moves only keys whose argmax is the new shard (n_moved == n_moved_to_new row-for-row); map-side struct-argmax, no explode")

  /** Write-audit-publish: the atomic-promote protocol that closes the
    * table-maintenance lifecycle (q73 ingest → q115 compact → q108 merge
    * → q121 retain → q138 audit → THIS publish). A refresh stages to a
    * version directory, the audit (q138's checks: no null FK, no dup PK)
    * runs against the STAGED files, and only a passing audit flips the
    * `current` pointer — one atomic filesystem move, so readers resolve
    * either the old version or the new, never a half-written table. A
    * failing audit leaves the staged files for debugging and the pointer
    * untouched (WapSpec pins both outcomes and the pointer flip on a
    * subsequent clean publish).
    *
    * Scale shape: the audit is one aggregation over the staged data the
    * writer just produced (usually still cached/co-located); the publish
    * itself is metadata-only — at 100 TB the pointer flip costs the same
    * as at 1 GB. This is the manifest-commit idea every lakehouse format
    * implements; expressed directly it is testable without a format
    * dependency. */
  object Wap {
    def audit(staged: DataFrame): Boolean = {
      val r = staged.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_fk"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_pk")).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0)) == 0L && r.getLong(1) == 0L
    }

    /** Stage df as `version`, audit the staged files, flip the pointer
      * only on pass. Returns whether the publish happened. */
    def publish(s: SparkSession, root: String, version: String, df: DataFrame): Boolean = {
      val stagePath = s"$root/$version"
      df.write.mode(SaveMode.Overwrite).parquet(stagePath)
      val ok = audit(Parquet.read(s, stagePath))
      if (ok) {
        val tmp = java.nio.file.Paths.get(root, s"_ptr_$version.tmp")
        java.nio.file.Files.write(tmp, version.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(root, "current"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
      ok
    }

    def resolve(root: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "current")), "UTF-8")
  }

  /** q173: the protocol replayed end-to-end — v1 (clean open orders)
    * publishes; a v2 refresh with planted corruption (null FK every 97th
    * key, duplicated PK every 100th) FAILS its audit and must not become
    * visible. The read path resolves the pointer, so the result reflects
    * v1 exactly — which is what the oracle computes from the source
    * table, proving the dirty refresh never leaked. */
  private val q173 = Q(
    "q173_write_audit_publish",
    (s, dir) => {
      val root = graft.Scratch.fresh(s"wap_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      val clean = T(s, dir, "orders").filter(col("o_orderstatus") === "O")
      require(Wap.publish(s, root, "v1", clean), "clean v1 must publish")
      val dirty = T(s, dir, "orders")
        .filter(col("o_orderstatus").isin("O", "F"))
        .withColumn("o_custkey",
          when(col("o_orderkey") % 97 === 0, lit(null)).otherwise(col("o_custkey")))
      val dirtyFull = dirty.unionByName(dirty.filter(col("o_orderkey") % 100 === 0))
      require(!Wap.publish(s, root, "v2", dirtyFull), "dirty v2 must be rejected")
      Parquet.read(s, s"$root/${Wap.resolve(root)}")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
        .orderBy(asc_nulls_first("priority"))
    },
    Some("""SELECT o_orderpriority AS priority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderstatus = 'O'
      GROUP BY 1 ORDER BY priority ASC NULLS FIRST"""),
    "write-audit-publish atomic promote: staged v2 with planted corruption fails audit and never becomes visible; oracle equals the v1 contents (pointer untouched)")

  /** q186: partition-spec EVOLUTION — the lakehouse migration q122
    * (column evolution) doesn't cover: history written under a coarse
    * spec (year partitions), recent data under a finer one (month
    * partitions), and ONE reader spans both with pruning on each side.
    * Every table that lives long enough meets this (specs change as
    * volume grows); the alternative — rewriting history to the new
    * spec — is exactly the 100 TB cost this pattern avoids. The range
    * read prunes year dirs on the old layout and month dirs on the new
    * (plan-gated), applies the residual predicate on both, and unions a
    * normalized projection. */
  private lazy val evolvedRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def ensureEvolvedLayout(s: SparkSession, sfDir: String): String =
    evolvedRoots.computeIfAbsent(sfDir.replaceAll("[^A-Za-z0-9]", "_"), t => {
      val root = graft.Scratch.dir(s"evolved_$t")
      val o = T(s, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"),
          date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
      o.filter(col("o_year") < 1998).drop("o_month")
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(s"$root/v1")
      o.filter(col("o_year") >= 1998).drop("o_year")
        .write.mode(SaveMode.Overwrite).partitionBy("o_month").parquet(s"$root/v2")
      root
    })

  private val q186 = Q(
    "q186_partition_evolution",
    (s, dir) => {
      val root = ensureEvolvedLayout(s, dir)
      def monthly(df: DataFrame): DataFrame = df
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-06-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-07-01")))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
      val hist = monthly(Parquet.read(s, s"$root/v1").filter(col("o_year") === 1997))
      val recent = monthly(Parquet.read(s, s"$root/v2")
        .filter(col("o_month") >= "1998-01" && col("o_month") <= "1998-06"))
      hist.unionByName(recent)
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .orderBy(asc_nulls_first("month"))
    },
    Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-06-01'
        AND o_orderdate < TIMESTAMP '1998-07-01'
      GROUP BY 1 ORDER BY month ASC NULLS FIRST"""),
    "partition-spec evolution: year-partitioned history + month-partitioned recent read as one pruned union (no history rewrite); oracle over the unpartitioned source")

  /** q187: takedown / right-to-erasure — the governance delete a
    * training corpus must support: remove an entire source (license
    * revoked) plus a scattered doc list (individual takedowns), touching
    * ONLY the partitions that contain removals. The erased table is a
    * new root where the revoked source's partition is simply absent
    * (metadata-only delete), partitions with scattered removals are
    * rewritten through an anti-join, and UNTOUCHED partitions are
    * SYMLINKED to the original files — zero bytes copied, the manifest-
    * reuse move every table format makes (TakedownSpec asserts the
    * symlink identity and the before/after counts). The oracle computes
    * the post-erasure aggregate from the source predicate, so a doc
    * surviving erasure (or over-deleted) breaks the hash. */
  def takedownErase(s: SparkSession, dir: String): DataFrame = {
    val t = dir.replaceAll("[^A-Za-z0-9]", "_")
    val v1 = graft.Scratch.dir(s"corpus_src_$t")
    val v1Marker = java.nio.file.Paths.get(v1, "_SUCCESS")
    if (!java.nio.file.Files.exists(v1Marker)) {
      T(s, dir, "documents").write.mode(SaveMode.Overwrite)
        .partitionBy("source").parquet(v1)
    }
    val v2 = graft.Scratch.fresh(s"corpus_erased_$t")
    // ONE source-cardinality aggregation answers both "which sources
    // exist" and "which contain removals" (was two separate
    // distinct+collect jobs), and the per-source partition rewrites are
    // INDEPENDENT jobs submitted from a small thread pool (guide §2.6:
    // one rewrite's straggler tail no longer serializes the others;
    // FIFO scheduling back-fills the freed cores). Each source still
    // writes to its own directory, so the parallelism is free of write
    // conflicts; results are byte-identical to the sequential loop.
    val srcInfo = T(s, dir, "documents")
      .groupBy(col("source"))
      .agg(max(when(col("source") === "src3" || col("doc_id") % 97 === 0, 1)
        .otherwise(0)).as("touched"))
      .collect().map(r => r.getString(0) -> (r.getInt(1) == 1))
    val rewrites = srcInfo.collect {
      case (src, touched) if !touched =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(v2, s"source=$src"),
          java.nio.file.Paths.get(v1, s"source=$src"))
        None
      case (src, _) if src != "src3" => Some(src)
      // src3: absent — metadata-only partition drop
    }.flatten
    if (rewrites.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, rewrites.length))
      try {
        val futures = rewrites.map { src =>
          pool.submit(new Runnable {
            def run(): Unit =
              Parquet.read(s, s"$v1/source=$src")
                .filter(col("doc_id") % 97 =!= 0)
                .write.mode(SaveMode.Overwrite)
                .parquet(java.nio.file.Paths.get(v2, s"source=$src").toString)
          })
        }
        // Await EVERY future before rethrowing (a fail-fast foreach left
        // later rewrites running unobserved), and unwrap the pool's
        // ExecutionException so callers see the original SparkException.
        var firstFailure: Throwable = null
        futures.foreach { f =>
          try { f.get(); () }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure == null)
                firstFailure = Option(e.getCause).getOrElse(e)
          }
        }
        if (firstFailure != null) throw firstFailure
      } finally pool.shutdown()
    }
    Parquet.read(s, v2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(asc_nulls_first("source"))
  }

  private val q187 = Q(
    "q187_takedown_erasure",
    (s, dir) => takedownErase(s, dir),
    Some("""SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE NOT (source = 'src3' OR doc_id % 97 = 0)
      GROUP BY 1 ORDER BY source ASC NULLS FIRST"""),
    "takedown/right-to-erasure: revoked source = metadata partition drop, scattered removals rewrite only their partitions, untouched partitions symlink-reused (zero copy); oracle computes the post-erasure truth")

  /** q188: VACUUM / snapshot expiry — the GC leg q173's protocol
    * implies: once a newer version is current, superseded version
    * directories are unreferenced and reclaimable. Two clean publishes
    * (v1 then v2) leave v1 orphaned; vacuum deletes every version the
    * pointer does not reference and the read path — which only ever
    * resolves the pointer — is provably unaffected (the oracle computes
    * v2's contents from the source; VacuumSpec pins v1's removal and v2's
    * survival). Deletion refuses to cross symlinks (same guard as
    * Scratch.rm) so a layout that link-reuses files (q187) can never be
    * hollowed out by GC of a sibling. */
  def vacuum(root: String, keep: String): Seq[String] = {
    def deleteTree(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete(); ()
    }
    val removed = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v") && f.getName != keep)
    removed.foreach(deleteTree)
    removed.map(_.getName).toSeq.sorted
  }

  private val q188 = Q(
    "q188_vacuum",
    (s, dir) => {
      val root = graft.Scratch.fresh(s"vac_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      require(Wap.publish(s, root, "v1",
        T(s, dir, "orders").filter(col("o_orderstatus") === "O")), "v1 publish")
      require(Wap.publish(s, root, "v2",
        T(s, dir, "orders").filter(col("o_orderstatus") === "F")), "v2 publish")
      val current = Wap.resolve(root)
      vacuum(root, keep = current)
      Parquet.read(s, s"$root/$current")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
        .orderBy(asc_nulls_first("priority"))
    },
    Some("""SELECT o_orderpriority AS priority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY 1 ORDER BY priority ASC NULLS FIRST"""),
    "VACUUM / snapshot expiry: superseded version dirs GC'd, pointer-resolved reads provably unaffected (oracle = current contents); symlink-safe deletion")

  /** q190: encoding/compression advisor — the storage-layout pass an
    * ingest service runs before committing a parquet schema: per column,
    * row count, exact NDV, average encoded width (milli-chars, integer),
    * and the dictionary-win ratio ndv/n in bp; the advice thresholds are
    * the standard dictionary-encoding heuristic (cardinality ≪ rows).
    * One scan, one aggregate, stack()-unpivoted like q126. */
  private val q190 = Q(
    "q190_encoding_advisor",
    (s, dir) => {
      val l = T(s, dir, "lineitem")
        .withColumn("qty_s", col("l_quantity").cast(LongType).cast("string"))
        .withColumn("cents_s",
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast(LongType).cast("string"))
      // r13: three countDistinct in ONE aggregate made Catalyst plan an
      // Expand (3× row multiplication, 180 M expanded rows at sf10) into
      // a multi-distinct aggregate — 22× at the 10× step. Each column now
      // runs its own two-phase groupBy: the partial agg map-combines to
      // the column's NDV (fixture-constant here — values replicate, keys
      // shift), the scan reads ONE parquet column (pruned), and the
      // distinct frame folds to (n, ndv, chars) in the same job. Exact
      // NDV semantics preserved: the null group counts toward n but not
      // ndv, and null lengths drop from the char sum, exactly like
      // count/countDistinct/sum(length).
      def colStats(c: String, name: String): DataFrame =
        l.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt")).as("n"),
            count(when(col("v").isNotNull, 1)).as("ndv"),
            sum(length(col("v")).cast(LongType) * col("cnt")).as("chars"))
          .select(lit(name).as("col_name"), col("n"), col("ndv"), col("chars"))
      colStats("l_returnflag", "l_returnflag")
        .unionByName(colStats("qty_s", "l_quantity"))
        .unionByName(colStats("cents_s", "l_extendedprice"))
        .select(col("col_name"), col("n"), col("ndv"),
          expr("(1000 * chars) div n").as("avg_len_milli"),
          expr("(10000 * ndv) div n").as("dict_bp"))
        .withColumn("advice", expr(
          """CASE WHEN (10000 * ndv) div n < 100 THEN 'dictionary'
                  WHEN (10000 * ndv) div n < 5000 THEN 'consider'
                  ELSE 'plain' END"""))
        .orderBy(asc_nulls_first("col_name"))
    },
    Some("""WITH t AS (
        SELECT l_returnflag,
               CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS qty_s,
               CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) AS cents_s
        FROM lineitem),
      s AS (
        SELECT COUNT(*) AS n,
               COUNT(DISTINCT l_returnflag) AS ndv1, SUM(length(l_returnflag)) AS len1,
               COUNT(DISTINCT qty_s) AS ndv2, SUM(length(qty_s)) AS len2,
               COUNT(DISTINCT cents_s) AS ndv3, SUM(length(cents_s)) AS len3
        FROM t),
      u AS (SELECT 'l_returnflag' AS col_name, n, CAST(ndv1 AS BIGINT) AS ndv,
                   CAST(len1 AS BIGINT) AS chars FROM s
            UNION ALL
            SELECT 'l_quantity', n, CAST(ndv2 AS BIGINT), CAST(len2 AS BIGINT) FROM s
            UNION ALL
            SELECT 'l_extendedprice', n, CAST(ndv3 AS BIGINT), CAST(len3 AS BIGINT) FROM s)
      SELECT col_name, n, ndv,
             CAST((1000 * chars) // n AS BIGINT) AS avg_len_milli,
             CAST((10000 * ndv) // n AS BIGINT) AS dict_bp,
             CASE WHEN (10000 * ndv) // n < 100 THEN 'dictionary'
                  WHEN (10000 * ndv) // n < 5000 THEN 'consider'
                  ELSE 'plain' END AS advice
      FROM u ORDER BY col_name ASC NULLS FIRST"""),
    "encoding advisor: per-column NDV / avg width / dictionary-win bp with threshold advice — the storage pass before committing a layout; single scan, stack unpivot")

  /** q194: INCREMENTAL statistics maintenance — q126's ANALYZE without
    * the rescan: per-partition stat tuples (count / sum / min / max are
    * MERGEABLE aggregates) are computed once per ingest batch and new
    * batches merge in O(|batches|), never re-reading history. Modeled as
    * three ingest batches (by order-year range) whose per-batch stats
    * merge into table-level stats; the oracle computes the same stats
    * over the whole table directly, so the hash match IS the merge law
    * (⊕ of partials == stat of union). Exact-NDV is deliberately absent
    * — it does not merge; its mergeable stand-ins are q162's HLL
    * sketches (documented at q131). */
  private val q194 = Q(
    "q194_incremental_stats",
    (s, dir) => {
      val o = T(s, dir, "orders")
        .select(col("o_orderdate"), col("o_totalprice"),
          (year(col("o_orderdate")) % 3).as("batch"))
      val perBatch = o.groupBy(col("batch"))
        .agg(count(lit(1)).as("n"),
          sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType)).as("s"),
          min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("mn"),
          max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("mx"))
      perBatch.agg(sum(col("n")).as("n_rows"), sum(col("s")).as("sum_cents"),
          min(col("mn")).as("first_day"), max(col("mx")).as("last_day"))
    },
    Some("""SELECT COUNT(*) AS n_rows,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_cents,
             MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
             MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
      FROM orders"""),
    "incremental ANALYZE: per-batch mergeable stat tuples folded into table stats with no history rescan; oracle computes the union directly (the merge law under the hash gate)")

  /** q195: poly-format federation — one logical view over parquet
    * (original), ORC, and gzip JSON-lines materializations of disjoint
    * slices, each read by its native source with an explicit schema and
    * unioned (q88/q127 are the per-format round trips; this is the
    * read-side federation an ingest zoo actually needs — history in one
    * format, fresh feeds in another). The oracle aggregates the same
    * rows from the parquet original: any per-format parse/serialize
    * infidelity or a slice boundary error breaks the hash. */
  private lazy val fedRoot =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val q195 = Q(
    "q195_federated_formats",
    (s, dir) => {
      val root = fedRoot.computeIfAbsent(dir.replaceAll("[^A-Za-z0-9]", "_"), t => {
        val r = graft.Scratch.dir(s"fed_$t")
        val base = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        base.filter(col("o_orderkey") % 3 === 1)
          .write.mode(SaveMode.Overwrite).orc(s"$r/orc")
        base.filter(col("o_orderkey") % 3 === 2)
          .write.mode(SaveMode.Overwrite).option("compression", "gzip").json(s"$r/json")
        r
      })
      val pq = T(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      val orc = s.read.orc(s"$root/orc")
      val js = s.read.schema(pq.schema).json(s"$root/json")
      pq.unionByName(orc).unionByName(js)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .orderBy(asc_nulls_first("status"))
    },
    Some("""SELECT o_orderstatus AS status, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
             MAX(strftime(o_orderdate, '%Y-%m-%d')) AS last_day
      FROM orders GROUP BY 1 ORDER BY status ASC NULLS FIRST"""),
    "poly-format federation: parquet + ORC + gzip JSON slices unioned under one logical view; oracle over the parquet original catches any per-format infidelity")

  /** q197: dead-letter ingest — the malformed-row routing every raw feed
    * needs (q127 round-trips CLEAN JSON; real feeds aren't): a staged
    * JSON-lines feed with every 50th line corrupted is read PERMISSIVE
    * with `columnNameOfCorruptRecord`, good rows flow to the table and
    * corrupt rows to the dead-letter side with their raw payload
    * preserved for replay. Lines are constructed with explicit concat
    * (not to_json — engine field-order/spacing differs), so the oracle
    * can re-derive every statistic INCLUDING the corrupt payload bytes
    * from the source table without parsing anything.
    *
    * Scale shape: PERMISSIVE parse is map-side; good/bad split is one
    * filter each over the same scan; the DLQ carries raw strings, the
    * main path only parsed columns. */
  private val q197 = Q(
    "q197_dead_letter",
    (s, dir) => {
      val t = dir.replaceAll("[^A-Za-z0-9]", "_")
      val feed = graft.Scratch.dir(s"dlq_feed_$t")
      val marker = java.nio.file.Paths.get(feed, "_SUCCESS")
      if (!java.nio.file.Files.exists(marker)) {
        T(s, dir, "orders")
          .select(concat(
            when(col("o_orderkey") % 50 === 0, lit("XX")).otherwise(lit("")),
            lit("{\"k\":"), col("o_orderkey"),
            lit(",\"p\":"), (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType),
            lit(",\"s\":\""), col("o_orderstatus"), lit("\"}")).as("value"))
          .write.mode(SaveMode.Overwrite).text(feed)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_bad", org.apache.spark.sql.types.StringType)))
      val parsed = s.read.schema(schema)
        .option("columnNameOfCorruptRecord", "_bad").json(feed)
      // one conditional aggregate over one scan — also sidesteps Spark's
      // restriction on queries referencing ONLY the corrupt-record column
      parsed.agg(
        sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_bad").isNull, col("p"))).as("good_cents"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_dead"),
        sum(when(col("_bad").isNotNull, length(col("_bad")).cast(LongType)))
          .as("dead_chars"))
    },
    Some("""WITH src AS (
        SELECT o_orderkey AS k,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p,
               o_orderstatus AS st
        FROM orders)
      SELECT CAST(COUNT(*) FILTER (WHERE k % 50 <> 0) AS BIGINT) AS n_good,
             CAST(SUM(p) FILTER (WHERE k % 50 <> 0) AS BIGINT) AS good_cents,
             CAST(COUNT(*) FILTER (WHERE k % 50 = 0) AS BIGINT) AS n_dead,
             CAST(SUM(CASE WHEN k % 50 = 0 THEN
               2 + length('{"k":' || k || ',"p":' || p || ',"s":"' || st || '"}')
             END) AS BIGINT) AS dead_chars
      FROM src"""),
    "dead-letter ingest: PERMISSIVE parse with corrupt-record routing, raw payload preserved for replay; oracle re-derives good/DLQ stats (incl. payload bytes) without parsing")

  /** q199: reprocessing-window incremental model (the lambda-architecture
    * refresh a dbt-style daily model runs): history older than the
    * cutoff is FROZEN — aggregated once and reused file-identical across
    * runs (ReprocessSpec pins the file mtimes) — while the recent window
    * is recomputed from raw on every run, because late-arriving facts
    * only ever land there. The published model is frozen ∪ recomputed;
    * the oracle aggregates the whole table directly, so the hash match
    * proves the split-and-union refresh equals the full recompute. */
  private val q199 = Q(
    "q199_reprocess_window",
    (s, dir) => reprocessModel(s, dir),
    Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM orders GROUP BY 1 ORDER BY month ASC NULLS FIRST"""),
    "reprocessing-window refresh: frozen history reused file-identical, hot window recomputed from raw; oracle = full recompute (split-union equivalence under the hash gate)")

  def reprocessModel(s: SparkSession, dir: String): DataFrame = {
    val t = dir.replaceAll("[^A-Za-z0-9]", "_")
    val frozen = graft.Scratch.dir(s"frozen_model_$t")
    val cutoff = "2000-01"
    val marker = java.nio.file.Paths.get(frozen, "_SUCCESS")
    val monthly = T(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))
    if (!java.nio.file.Files.exists(marker)) {
      monthly.filter(col("month") < cutoff)
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .write.mode(SaveMode.Overwrite).parquet(frozen)
    }
    val hot = monthly.filter(col("month") >= cutoff)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    Parquet.read(s, frozen).unionByName(hot)
      .orderBy(asc_nulls_first("month"))
  }

  val all: Seq[Q] = Seq(q51, q88, q108, q115, q121, q122, q126, q127, q131, q136,
    q143, q161, q173, q186, q187, q188, q190, q194, q195, q197, q199, q220)
}
