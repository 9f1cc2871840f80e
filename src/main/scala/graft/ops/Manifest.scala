package graft.ops

import graft.Parquet
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE driver-side manifest kernel (shared by zone-map skipping,
  * Z-order pruning, and partition-lifecycle listings — previously three
  * inline copies). A manifest is planning-time metadata: one row per FILE
  * or per PARTITION VALUE, never per data row — the same footprint as a
  * table format's manifest read, which is what these operators model.
  *
  * Every collect goes through [[guarded]]: the scan is `limit`-capped
  * BEFORE the collect (the driver never materializes more than
  * [[MaxEntries]]+1 rows no matter how mis-sized the input), and
  * exceeding the cap fails fast with a pointer at the scale-correct
  * alternative — broadcast-joining the manifest frame against the file
  * list instead of collecting it. At 100 TB a table is ~100k 1 GB files,
  * an order of magnitude under the cap; hitting it means the layout has
  * degenerated into millions of tiny files and needs compaction (q115),
  * not a bigger driver.
  */
object Manifest {

  /** Hard cap on driver-side manifest rows. Methods take it as a default
    * parameter so the guard itself is spec-testable at a small cap. */
  val MaxEntries: Int = 1000000

  private def guarded(df: org.apache.spark.sql.DataFrame, what: String,
      cap: Int): Array[Row] = {
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"manifest of $what exceeds $cap entries — a driver-side " +
        "manifest is the wrong tool at this file count: compact the layout " +
        "(q115) or prune via a broadcast join on the manifest frame")
    rows
  }

  /** Per-file (path, min, max) zones of a long-valued clustering column:
    * the explicit form of a parquet footer / table-format manifest read.
    * `zoneCol` must be monotone in the stored column so min/max commute
    * with it (epoch-micros casts and kept sort keys — the two call
    * sites — both are). */
  def zones(s: SparkSession, path: String, zoneCol: Column,
      cap: Int = MaxEntries): Array[(String, Long, Long)] =
    guarded(
      Parquet.read(s, path)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min(zoneCol).as("lo"), max(zoneCol).as("hi")),
      s"file zones of $path", cap)
      .map { r =>
        // a file whose zone column is ALL NULL aggregates to null lo/hi;
        // getLong would throw (or mask the file as zone [0,0], silently
        // dropping its rows from every range read) — fail with the file
        // named so the caller can exclude or backfill it
        require(!r.isNullAt(1) && !r.isNullAt(2),
          s"file ${r.getString(0)} has an entirely-NULL zone column — " +
            "zone-map pruning cannot bound it; filter nulls out of the " +
            "layout or zone on a non-null column")
        (r.getString(0), r.getLong(1), r.getLong(2))
      }

  /** Files whose [lo, hi] zone overlaps [from, to] — the candidate set a
    * range predicate must read; every skipped file provably holds no
    * qualifying row. */
  def prune(zones: Array[(String, Long, Long)], from: Long, to: Long): Seq[String] =
    zones.filter { case (_, lo, hi) => hi >= from && lo <= to }.map(_._1).toSeq

  /** Distinct partition values of a partitioned layout, as strings — the
    * catalog listing behind retention/takedown/evolution lifecycles. The
    * select prunes to the partition column, so only directory metadata
    * and footers are touched, never data pages. */
  def partitionValues(s: SparkSession, path: String, partCol: Column,
      cap: Int = MaxEntries): Array[String] =
    guarded(
      Parquet.read(s, path).select(partCol.cast("string").as("v")).distinct(),
      s"partition values of $path", cap)
      .map(_.getString(0))
}
