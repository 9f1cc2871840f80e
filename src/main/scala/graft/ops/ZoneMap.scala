package graft.ops

import graft.{Parquet, Q, T}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** File-level zone-map data skipping — the READ side of the clustered
  * layouts q115 (compaction to range-disjoint files) and q81 (Z-order)
  * produce: a per-file min/max manifest over the clustering column,
  * consulted BEFORE the scan so a range predicate reads only the files
  * whose zone overlaps it. This is the manifest-pruning pattern every
  * lakehouse table format builds on parquet footer stats; expressing it
  * as an explicit manifest makes the skipping inspectable and testable
  * (ZoneMapSpec asserts the prune fires AND is lossless).
  *
  * Scale shape: the clustered copy is written once per sfDir
  * (`repartitionByRange` + sort on the clustering column — one range
  * exchange, the same pay-once layout cost as q97's buckets); the
  * manifest is ONE ROW PER FILE, collected at the driver (bounded by
  * file count, the same cardinality every table format's planning phase
  * holds in memory). The pruned read then scans only the overlapping
  * files, and the residual predicate still sits on the scan, so parquet
  * row-group stats prune WITHIN the kept files too. At 100 TB this is
  * the difference between a full-table scan and touching the ~1/7 of
  * files a one-year window lives in. */
object ZoneMap {

  val NumFiles = 16

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def tag(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** Orders clustered into [[NumFiles]] range-disjoint files on
    * o_orderdate (idempotent per sfDir within the JVM). */
  def ensureClustered(s: SparkSession, sfDir: String): String =
    built.computeIfAbsent(tag(sfDir), t => {
      val path = graft.Scratch.dir(s"zonemap_$t")
      T(s, sfDir, "orders")
        .repartitionByRange(NumFiles, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode(SaveMode.Overwrite).parquet(path)
      path
    })

  /** One zone per file: (path, min, max) of the clustering column as
    * epoch micros (longs sidestep the session's java.time row encoding;
    * o_orderdate is TIMESTAMP_NTZ, and under the UTC session the cast to
    * instant-typed TIMESTAMP is identity). Delegates to the shared
    * guarded [[Manifest]] kernel. */
  def manifest(s: SparkSession, path: String): Array[(String, Long, Long)] =
    Manifest.zones(s, path, unix_micros(col("o_orderdate").cast("timestamp")))

  /** Files whose [lo, hi] zone overlaps [from, to] — the candidate set a
    * range predicate must read; every skipped file provably holds no
    * qualifying row. */
  def prunedFiles(zones: Array[(String, Long, Long)],
      fromUs: Long, toUs: Long): Seq[String] =
    Manifest.prune(zones, fromUs, toUs)

  /** The pruned range scan q164 runs: manifest consult → file-list read →
    * residual filter → monthly rollup. */
  def prunedRangeAgg(s: SparkSession, sfDir: String): DataFrame = {
    val path = ensureClustered(s, sfDir)
    val from = "1995-01-01 00:00:00"
    val to = "1995-12-31 00:00:00"
    def us(t: String): Long =
      java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val files = prunedFiles(manifest(s, path), us(from), us(to))
    Parquet.read(s, files: _*)
      .filter(col("o_orderdate").between(
        to_timestamp(lit(from)), to_timestamp(lit(to))))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
      .orderBy(asc_nulls_first("month"))
  }

  /** q164: zone-map-pruned range aggregate. The oracle runs the same
    * predicate over the FULL table, so the hash match proves the file
    * skipping is lossless (a dropped file that held a qualifying row
    * would change the counts). ZoneMapSpec additionally asserts the
    * prune actually fires (kept files ≪ total). */
  private val q164 = Q(
    "q164_zone_map_skip",
    (s, dir) => prunedRangeAgg(s, dir),
    Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'
      GROUP BY 1
      ORDER BY month ASC NULLS FIRST"""),
    "file-level zone-map data skipping: per-file min/max manifest prunes a range scan to overlapping files; oracle over the full table proves losslessness")

  val all: Seq[Q] = Seq(q164)
}
