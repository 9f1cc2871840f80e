package graft.ops

import graft.{Parquet, Q, T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering — the data-LAYOUT operator for
  * spatial/multi-column locality at 100 TB: rows sorted by the interleaved
  * bits of their quantized coordinates land near their spatial neighbors,
  * so parquet row-group/file min-max stats become tight and a bbox
  * predicate prunes most of the scan (the same mechanism Delta/Iceberg
  * OPTIMIZE ZORDER uses).
  *
  * The Morton code is pure column arithmetic (shifts/masks — fully
  * codegen'd, no UDF): quantize each dimension to 16 bits over its
  * [min, max] domain, spread the bits with the classic mask sequence, OR
  * them interleaved. */
object ZOrder {

  /** Spread the low 16 bits of `v` so bit i lands at position 2i
    * (Morton "part1by1", as column arithmetic). */
  private def part1by1(v: Column): Column = {
    var x = v.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
    x
  }

  /** 32-bit Morton code of two columns quantized to 16 bits over fixed
    * domains (domain bounds are layout parameters, supplied by the caller
    * from table stats). */
  def mortonCode(x: Column, xMin: Double, xMax: Double,
      y: Column, yMin: Double, yMax: Double): Column = {
    def quant(c: Column, lo: Double, hi: Double): Column =
      least(lit(65535L), greatest(lit(0L),
        floor((c - lo) / (hi - lo) * 65536.0).cast("long")))
    part1by1(quant(x, xMin, xMax))
      .bitwiseOR(shiftleft(part1by1(quant(y, yMin, yMax)), 1))
  }

  /** Cluster a frame by the Morton code of two columns: range-partition +
    * sort-within-partitions, the write-side layout pass. At scale this is
    * the prelude to a partitioned/bucketed write; the partitioning itself
    * is the product. */
  def cluster(df: DataFrame, x: String, xMin: Double, xMax: Double,
      y: String, yMin: Double, yMax: Double, numPartitions: Int): DataFrame = {
    val coded = df.withColumn("__z",
      mortonCode(col(x), xMin, xMax, col(y), yMin, yMax))
    coded.repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** q81, ORACLE-CHECKED: the Morton code itself is deterministic integer
    * arithmetic, so DuckDB can recompute it with the same shift/mask
    * cascade — the layout operator's kernel sits under the hash gate.
    * Points derive from events ints on a [0,1024)² grid. */
  private val q81 = Q(
    "q81_zorder_oracle",
    (s, dir) => {
      val pts = T(s, dir, "events").select(
        col("event_id"),
        (col("event_id") % 1024).cast("double").as("px"),
        ((col("event_id") * 7) % 1024).cast("double").as("py"))
      pts.select(col("event_id"),
        mortonCode(col("px"), 0.0, 1024.0, col("py"), 0.0, 1024.0).as("z"))
        // bucket on bits 12..17: the 10-bit domain quantizes as px·64, so
        // the low 12 interleaved bits are structurally zero
        .groupBy(expr("(z div 4096) % 64").as("z_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("z")).as("sum_z"))
        .orderBy(asc_nulls_first("z_bucket"))
    },
    Some("""WITH p AS (SELECT event_id,
               CAST(event_id % 1024 AS DOUBLE) AS px,
               CAST((event_id * 7) % 1024 AS DOUBLE) AS py FROM events),
      q AS (SELECT event_id,
               CAST(least(65535, greatest(0, CAST(floor(px / 1024.0 * 65536.0) AS BIGINT))) AS BIGINT) AS qx,
               CAST(least(65535, greatest(0, CAST(floor(py / 1024.0 * 65536.0) AS BIGINT))) AS BIGINT) AS qy
            FROM p),
      sx AS (SELECT event_id,
               ((qx | (qx << 8)) & 16711935) AS x1, ((qy | (qy << 8)) & 16711935) AS y1 FROM q),
      s2 AS (SELECT event_id,
               ((x1 | (x1 << 4)) & 252645135) AS x2, ((y1 | (y1 << 4)) & 252645135) AS y2 FROM sx),
      s3 AS (SELECT event_id,
               ((x2 | (x2 << 2)) & 858993459) AS x3, ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
      s4 AS (SELECT event_id,
               ((x3 | (x3 << 1)) & 1431655765) AS x4, ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3),
      z AS (SELECT event_id, (x4 | (y4 << 1)) AS z FROM s4)
      SELECT (z // 4096) % 64 AS z_bucket, COUNT(*) AS n, CAST(SUM(z) AS BIGINT) AS sum_z
      FROM z GROUP BY 1 ORDER BY z_bucket ASC NULLS FIRST"""),
    "Morton/Z-order code kernel (layout clustering), DuckDB-oracle-checked bit cascade")

  /** Morton code of one (x, y) grid point, driver-side — the planning
    * arithmetic q174 uses to turn a bbox into a code range. Mirrors
    * [[mortonCode]] bit-for-bit on the [0,1024)² integer grid. */
  def mortonOf(px: Long, py: Long): Long = {
    def p1(v0: Long): Long = {
      var x = (v0 * 64) & 0xFFFFL // quantize: ·65536/1024
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      x = (x | (x << 1)) & 0x55555555L
      x
    }
    p1(px) | (p1(py) << 1)
  }

  /** Events Z-order-clustered into 16 range-disjoint files on the Morton
    * code of the derived (px, py) grid point; the code column is KEPT
    * (materialized sort key) so parquet footers — and q174's explicit
    * manifest — carry tight per-file min/max over it. A
    * [[graft.Scratch.derived]] table of the events file. */
  def ensureZLayout(s: org.apache.spark.sql.SparkSession, sfDir: String): String =
    graft.Scratch.derived(s, "zlayout", Seq(s"$sfDir/events.parquet")) { path =>
      T(s, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          (col("event_id") % 1024).cast("double").as("px"),
          ((col("event_id") * 7) % 1024).cast("double").as("py"))
        .withColumn("z", mortonCode(col("px"), 0.0, 1024.0, col("py"), 0.0, 1024.0))
        .repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      path
    }

  /** q174: bbox query through the Z-order layout — q81's write side
    * composed with q164's read side. The query tile px∈[256,320) ×
    * py∈[512,576) is an ALIGNED 64×64 quadtree cell, so its Morton codes
    * form one contiguous interval [code(lo), code(hi)] (the classic
    * Z-curve property; an unaligned bbox decomposes into several such
    * intervals). The per-file min/max manifest over the kept code column
    * prunes to the files overlapping that interval — ZOrderSpec asserts
    * the prune fires — and the EXACT px/py predicate still runs on the
    * kept rows, so alignment looseness can never change the answer. The
    * oracle aggregates the same bbox from the raw table: losslessness
    * under the hash gate. */
  private val q174 = Q(
    "q174_zorder_bbox_skip",
    (s, dir) => {
      val path = ensureZLayout(s, dir)
      val zLo = mortonOf(256L, 512L)
      val zHi = mortonOf(319L, 575L)
      val zones = Manifest.zones(s, path, col("z"))
      val kept = Manifest.prune(zones, zLo, zHi)
      Parquet.read(s, kept.toIndexedSeq: _*)
        .filter(col("px") >= 256 && col("px") < 320 &&
          col("py") >= 512 && col("py") < 576)
        .agg(count(lit(1)).as("n_points"),
          sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
            .cast("long")).as("sum_cents"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("n_points"), col("sum_cents"), col("n_users"))
    },
    Some("""SELECT COUNT(*) AS n_points,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_cents,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM (SELECT user_id, value,
              CAST(event_id % 1024 AS BIGINT) AS px,
              CAST((event_id * 7) % 1024 AS BIGINT) AS py
            FROM events)
      WHERE px >= 256 AND px < 320 AND py >= 512 AND py < 576"""),
    "bbox through the Z-order layout: aligned tile = one contiguous Morton interval, per-file code manifest prunes the scan, exact predicate on kept rows; oracle over the raw table")

  /** q191: nearest-neighbor SPATIAL JOIN on the plane — for every
    * purchase point, the closest click point within Chebyshev radius 64,
    * found WITHOUT an all-pairs join: probes explode into their 3×3
    * neighborhood of 64-px grid cells and equi-join targets on the cell
    * key (a hash join — plan-gated no nested loop). The 3×3 × cell-size
    * geometry makes the candidate set provably complete for the radius
    * (any point within Chebyshev 64 shares one of the 9 cells), so the
    * bounded-radius argmin is exact — the classic grid-file kNN shape
    * every geospatial engine uses. Distances are integer d² (no sqrt —
    * argmin doesn't need it); the argmin packs d²·2²⁰ + click_id into
    * one long min (d² ≤ 8192, ids < 2²⁰ at every driver sf — the q120
    * packing trick). The oracle runs the literal radius join all-pairs.
    *
    * Scale shape: fan-out is exactly 9 cells per probe; the join
    * shuffles on cell keys whose population is density-bounded; the
    * argmin is a map-combinable min. At 100 TB, cell size trades
    * candidate count vs radius guarantee — the same knob as q31's
    * nprobe. */
  private val q191 = Q(
    "q191_knn_grid_join",
    (s, dir) => {
      // the 9x neighborhood explode runs pre-shuffle, in the scan stage of
      // T's split copy: one task per core, not one (T.layout, SCALE.md)
      val pts = T(s, dir, "events").select(col("event_id"), col("event_type"),
        (col("event_id") % 1024).as("px"), ((col("event_id") * 7) % 1024).as("py"))
      val probes = pts.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("px"), col("py"),
          expr("px div 64").as("cx0"), expr("py div 64").as("cy0"))
        .withColumn("off", explode(expr(
          "flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> struct(dx, dy))))")))
        .select(col("pid"), col("px"), col("py"),
          (col("cx0") + col("off.dx")).as("cx"), (col("cy0") + col("off.dy")).as("cy"))
      val targets = pts.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"),
          expr("px div 64").as("cx"), expr("py div 64").as("cy"),
          col("px").as("qx"), col("py").as("qy"))
      probes.join(targets, Seq("cx", "cy"))
        .filter(abs(col("px") - col("qx")) <= 64 && abs(col("py") - col("qy")) <= 64)
        .select(col("pid"),
          ((col("px") - col("qx")) * (col("px") - col("qx")) +
           (col("py") - col("qy")) * (col("py") - col("qy"))).as("d2"),
          col("cid"))
        .groupBy(col("pid"))
        .agg(min(col("d2") * lit(1048576L) + col("cid")).as("mc"))
        .select(col("pid"), pmod(col("mc"), lit(1048576L)).as("click_id"),
          expr("mc div 1048576").as("d2"))
        .orderBy(asc_nulls_first("pid"))
    },
    Some("""WITH p AS (SELECT event_id, event_type,
               CAST(event_id % 1024 AS BIGINT) AS px,
               CAST((event_id * 7) % 1024 AS BIGINT) AS py
             FROM events),
      pr AS (SELECT event_id AS pid, px, py FROM p WHERE event_type = 'purchase'),
      cl AS (SELECT event_id AS cid, px AS qx, py AS qy FROM p WHERE event_type = 'click'),
      pairs AS (SELECT pid, cid,
                  (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2
                FROM pr JOIN cl ON abs(px - qx) <= 64 AND abs(py - qy) <= 64),
      m AS (SELECT pid, MIN(d2 * 1048576 + cid) AS mc FROM pairs GROUP BY 1)
      SELECT pid, CAST(mc % 1048576 AS BIGINT) AS click_id,
             CAST(mc // 1048576 AS BIGINT) AS d2
      FROM m ORDER BY pid ASC NULLS FIRST"""),
    "grid-file nearest-neighbor join: 3x3 cell explode + hash equi-join (provably complete for the radius, no all-pairs), integer d2 packed argmin; oracle runs the literal radius join")

  val all: Seq[Q] = Seq(q81, q174, q191)
}
