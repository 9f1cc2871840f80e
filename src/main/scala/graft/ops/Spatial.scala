package graft.ops

import graft.{Parquet, Q}
import graft.geo.{Crs, GeoFunctions => G}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Spatial fixtures + the reference's analytical core (SURVEY.md §2.6–2.7,
  * §3.2–3.3) re-expressed as set-oriented Spark dataflow.
  *
  * Fixtures are generated DISTRIBUTED (spark.range + hash-derived values;
  * no driver-side collections), deterministic per (sfDir, id), and scale
  * with the sf factor so the bench exercises real data volumes:
  *   parcels 31→3.1k rows, scenes/elevation ≈ lineitem row count.
  *
  * The spatial join is the scalable envelope-bucket pattern (SURVEY §2.2 J2):
  * polygons explode to covering grid buckets, points key to their bucket,
  * equi-join on the bucket then exact point-in-polygon — never a cross
  * join, so the plan survives a 100× scale-up (bucket size tracks parcel
  * size; both sides shuffle-partition on the bucket key).
  */
object Spatial {

  // ---- deterministic scaling -------------------------------------------

  /** sf factor from the driver dir name ("/root/testdata/sf0.01" → 0.01). */
  def sfFactor(sfDir: String): Double = {
    val m = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
    m.map(_.group(1).toDouble).getOrElse(0.001)
  }

  // UTM 50S envelope of the reference's lu fixture (SURVEY §7.4)
  private val XMin = 471655.0; private val XMax = 478475.0
  private val YMin = 9873071.0; private val YMax = 9882889.0

  // the same envelope in EPSG:4326 (computed once from the CRS kernel)
  private val (lonMin, latMin) = Crs.utm50sInverse(XMin, YMin)
  private val (lonMax, latMax) = Crs.utm50sInverse(XMax, YMax)

  private val keterangans: Seq[String] =
    Seq("Mangrove Sungai Sanrumukti", "Mangrove Pesisir Timur",
      "Hutan Primer", "Hutan Sekunder", "Sungai", "Sawah Irigasi",
      "Kebun Campuran", "Permukiman", "Tegalan", "Semak Belukar",
      "Tambak", "Rawa", "Hutan Rimba", "Ladang", "Padang Rumput",
      "Tanah Terbuka", "Perkebunan Sawit")
  private val luses: Seq[String] =
    Seq("Kawasan Hutan Bakau", "Sungai", "Hutan", "Sawah", "Kebun",
      "Permukiman", "Tegalan", "Semak", "Tambak", "Rawa")

  /** Deterministic uniform [0,1) from id + salt (xxhash64 is seed-stable). */
  private def u(idCol: Column, salt: Int): Column =
    pmod(xxhash64(idCol, lit(salt)), lit(100000L)).cast(DoubleType) / 100000.0

  // ---- fixtures ---------------------------------------------------------

  /** lu-style parcel table: id, KETERANGAN, LUSE, TEMA, geom (WKB, UTM50S),
    * geom_srid. 31 rows at sf0.001 scaling linearly (FIXTURES.md §A1).
    * Sized from the events TABLE row count since r13 ([[parcelCount]] —
    * numerically identical to the old 31·sf/0.001 on every driver dir),
    * so the q46 direct oracle and the q235 jitter oracle can rebuild the
    * grid from the same parquet the engine reads. */
  def parcels(s: SparkSession, sfDir: String): DataFrame = {
    val n = parcelCount(s, sfDir)
    val cols = math.ceil(math.sqrt(n.toDouble)).toInt
    val rows = math.ceil(n.toDouble / cols).toInt
    val cellW = (XMax - XMin) / cols
    val cellH = (YMax - YMin) / rows
    val half = 0.4 * math.min(cellW, cellH)
    val kArr = array(keterangans.map(lit): _*)
    val lArr = array(luses.map(lit): _*)
    s.range(n.toLong)
      .select(
        (col("id") + 1).as("id"),
        element_at(kArr, (col("id") % keterangans.size).cast("int") + 1).as("KETERANGAN"),
        element_at(lArr, (col("id") % luses.size).cast("int") + 1).as("LUSE"),
        lit("Hutan").as("TEMA"),
        (lit(XMin) + (col("id") % cols) * cellW + cellW / 2
          + (u(col("id"), 1) - 0.5) * 0.1 * cellW).as("cx"),
        (lit(YMin) + floor(col("id") / cols) * cellH + cellH / 2
          + (u(col("id"), 2) - 0.5) * 0.1 * cellH).as("cy"))
      .select(col("id"), col("KETERANGAN"), col("LUSE"), col("TEMA"),
        G.stMakeBox(col("cx") - half, col("cy") - half,
          col("cx") + half, col("cy") + half).as("geom"),
        lit(Crs.Utm50SAlias).as("geom_srid"))
  }

  /** 1-row attribute dim (FIXTURES.md §A2). */
  def parcelDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("Hutan", "Hutan Rimba", "Interpretasi FU 2014 dan CSRT 2010"))
      .toDF("TEMA", "JENIS", "SUMBER")
  }

  /** linked_data_view: parcels ⋈ dim on TEMA (S12/J1,
    * query/view_linked_data.sql:1-13). */
  def linkedView(s: SparkSession, sfDir: String): DataFrame =
    parcels(s, sfDir).join(broadcast(parcelDim(s)), Seq("TEMA"))
      .select(col("id").as("ID"), col("TEMA"), col("LUSE"), col("KETERANGAN"),
        col("JENIS"), col("SUMBER"), col("geom"), col("geom_srid"))

  private val monthsTotal = 72 // 2018-01 .. 2023-12

  /** Scene row target: max(7200, 6·|events|) — the same data-derived
    * convention as [[elevationNx]]/[[parcelCount]] (≡ the old 6e6·sf on
    * every driver dir: events carries 1e6·sf rows), so an oracle can
    * rebuild the grid from the same parquet the engine reads. */
  private[ops] def scenesTargetRows(s: SparkSession, sfDir: String): Long = {
    val nEvents = Parquet.rowCount(s, s"$sfDir/events.parquet")
    math.max(7200L, 6L * nEvents)
  }

  /** 0.05·sin(2πk/12) for k = 0..11 as 4-decimal literals: the seasonal
    * NDVI term as a RATIONAL lookup instead of libm sin — exact decimal
    * literals parse to identical doubles in every engine. */
  private[ops] val seasonal05: Seq[Double] = Seq(
    0.0, 0.025, 0.0433, 0.05, 0.0433, 0.025,
    0.0, -0.025, -0.0433, -0.05, -0.0433, -0.025)

  /** Landsat-stand-in scene table: date, cell_lon, cell_lat, sr_b4, sr_b5
    * (FIXTURES.md §A4). One row per (cell, month) with deterministic gaps:
    * month 2019-03 globally missing + ~3% random cell-month holes —
    * exercising the reference's missing-data null path
    * (load_report.py:139-153).
    *
    * ENGINE-NEUTRAL since r13 (the elevation-fixture technique): holes,
    * band noise, and the acquisition day are LCG-mod-prime integer
    * arithmetic (no xxhash64), the seasonal term is a rational lookup
    * (no libm sin), and sizing derives from the events TABLE row count —
    * so DuckDB rebuilds bit-identical sr_b4/sr_b5 doubles from the same
    * parquet and the NDVI chain (one IEEE division, median selection,
    * decimal-cast mean) replays exactly: q43/q44 run under DIRECT
    * oracles. Integer terms stay < 2^63 for targetRows ≲ 6e9 (sid·2⁶⁰
    * bound) — DuckDB errors loudly, never silently wraps, beyond that. */
  def scenes(s: SparkSession, sfDir: String): DataFrame = {
    val targetRows = scenesTargetRows(s, sfDir)
    val nCells = targetRows / monthsTotal
    val nx = math.ceil(math.sqrt(nCells.toDouble)).toInt
    val dLon = (lonMax - lonMin) / nx
    val dLat = (latMax - latMin) / nx
    val seasArr = array(seasonal05.map(lit): _*)
    s.range(nx.toLong * nx * monthsTotal)
      .select(
        (col("id") % (nx.toLong * nx)).as("cell_id"),
        (col("id") / (nx.toLong * nx)).cast("int").as("month_idx"))
      .filter(col("month_idx") =!= 14) // 2019-03 globally sceneless
      .filter(pmod(col("cell_id") * 100003L + col("month_idx") * 7919L + 12345L,
        lit(99991L)) % 37 =!= 0)
      .withColumn("sid", col("cell_id") * 100 + col("month_idx"))
      .select(
        expr("add_months(date '2018-01-01', month_idx)").as("month_start"),
        col("cell_id"), col("month_idx"),
        (lit(lonMin) + (col("cell_id") % nx) * dLon + dLon / 2).as("cell_lon"),
        (lit(latMin) + floor(col("cell_id") / nx) * dLat + dLat / 2).as("cell_lat"),
        (lit(0.10) + pmod(col("sid") * 69069L + 12345L, lit(99991L))
          .cast(DoubleType) / 99991.0 * 0.15).as("sr_b4"),
        (lit(0.20) + pmod(col("sid") * 1103515245L + 54321L, lit(99989L))
          .cast(DoubleType) / 99989.0 * 0.35
          + element_at(seasArr, pmod(col("month_idx"), lit(12)).cast("int") + 1))
          .as("sr_b5"))
      // day-granular acquisition date (uniform over the month incl. day
      // 29/30/31) so the GEE month-end quirk is observable
      .withColumn("date", expr(
        """date_add(month_start, cast(least(
             pmod(cell_id * 2654435761 + month_idx * 999983 + 7, 99991) % 31,
             datediff(last_day(month_start), month_start)) as int))"""))
      .drop("month_start", "cell_id", "month_idx")
  }

  /** The scenes fixture materialized as parquet PARTITIONED BY year — a
    * [[graft.Scratch.derived]] table of the events file (whose row count
    * sizes the grid). This is the physical layout a 100 TB scene archive
    * would have (date-partitioned object storage): a year predicate
    * prunes whole partition directories at the file source instead of
    * scanning six years to keep one. q43's 2023 filter and q40's report
    * read through this path (plan-spec'd in PlanShapeSpec); the
    * in-memory generator [[scenes]] remains the fixture source of truth. */
  def scenesTable(s: SparkSession, sfDir: String): DataFrame =
    Parquet.read(s, graft.Scratch.derived(s, "scenes", Seq(s"$sfDir/events.parquet")) { p =>
      scenes(s, sfDir).withColumn("yr", year(col("date")))
        .write.partitionBy("yr").mode("overwrite").parquet(p)
      p
    })

  /** The reference's month-window quirk, replicated not fixed
    * (load_report.py:69-70,130-131): windows run 01..28 (Feb) / 01..30
    * (other months) and GEE `filterDate`'s end bound is EXCLUSIVE — so
    * Feb day-28/29 and day-30/31 scenes silently vanish from every NDVI
    * aggregate. */
  def geeMonthWindow(dateCol: Column): Column =
    dayofmonth(dateCol) < when(month(dateCol) === 2, 28).otherwise(30)

  /** Elevation raster-as-table (FIXTURES.md §A5) with ~2% null cells.
    * Each of the 5 admin strips (vertical, by longitude) gets a distinct
    * +90 m/strip base trend — without it every strip's noise averages to
    * the same mean and the downstream histogram (q42) degenerates to a
    * single bin.
    *
    * ENGINE-NEUTRAL since r13 (the q212/q213 jittered-grid technique
    * applied to the raster fixture): the null pattern and both noise
    * terms are LCG-mod-prime integer arithmetic instead of xxhash64+sin,
    * and the grid size derives from the events TABLE row count
    * ([[elevationNx]]: 6 cells per event row, 10k floor — numerically
    * identical to the previous 6e6·sf on every driver dir, and now
    * consistent on fixtures whose dir name carries no sf) — so the whole
    * raster is replayable in DuckDB from the same parquet and q41/q42
    * run under DIRECT oracles instead of rows-only + twin. Every elev
    * value is a rational with prime denominator (99991/99989) built by
    * the same IEEE expression shape in both engines; noise amplitudes
    * match the old fixture (±180 m + [0,260) m on a 120+90/strip base). */
  def elevation(s: SparkSession, sfDir: String): DataFrame = {
    val nx = elevationNx(s, sfDir)
    val dLon = (lonMax - lonMin) / nx
    val dLat = (latMax - latMin) / nx
    s.range(nx.toLong * nx)
      .select(
        (lit(lonMin) + (col("id") % nx) * dLon + dLon / 2).as("cell_lon"),
        (lit(latMin) + floor(col("id") / nx) * dLat + dLat / 2).as("cell_lat"),
        when(pmod(col("id") * 1103515245L + 12345L, lit(99991L)) % 53 === 0,
            lit(null).cast(DoubleType))
          .otherwise(lit(120.0)
            + floor((col("id") % nx) / math.max(1, nx / 5)) * 90.0
            + (pmod(col("id") * 69069L + 12345L, lit(99991L)).cast(DoubleType)
                / 99991.0 - 0.5) * 360.0
            + pmod(col("id") * 1103515245L + 54321L, lit(99989L)).cast(DoubleType)
                / 99989.0 * 260.0).as("elev"))
  }

  /** Raster grid side length: ceil(sqrt(max(10k, 6·|events|))) — the one
    * size parameter both the engine and the DuckDB oracle must agree on,
    * so it comes from the DATA (events row count, summed from the parquet
    * footers on the driver: no Spark job, and the number DuckDB's
    * `COUNT(*)` returns), never from parsing the dir name. */
  private[ops] def elevationNx(s: SparkSession, sfDir: String): Int = {
    val nEvents = Parquet.rowCount(s, s"$sfDir/events.parquet")
    math.ceil(math.sqrt(math.max(10000L, 6L * nEvents).toDouble)).toInt
  }

  /** Parcel count: max(31, round(31·|events|/1000)) — same data-derived
    * convention as [[elevationNx]] (≡ the old 31·sf/0.001 on every
    * driver dir). */
  private[ops] def parcelCount(s: SparkSession, sfDir: String): Int = {
    val nEvents = Parquet.rowCount(s, s"$sfDir/events.parquet")
    math.max(31L, math.round(31.0 * nEvents / 1000.0)).toInt
  }

  /** Admin regions (FIXTURES.md §A6): 5 vertical strips over the envelope
    * in EPSG:4326. */
  def admin(s: SparkSession, sfDir: String): DataFrame = {
    val nRegions = 5
    val dLon = (lonMax - lonMin) / nRegions
    s.range(nRegions.toLong)
      .select(
        concat(lit("Region "), (col("id") + 1).cast("string")).as("name_1"),
        G.stMakeBox(lit(lonMin) + col("id") * dLon, lit(latMin),
          lit(lonMin) + (col("id") + 1) * dLon, lit(latMax)).as("geom"))
  }

  // ---- the scalable spatial join (J2/J3) --------------------------------

  /** Bucket size in degrees: tracks parcel size so each polygon covers
    * O(1) buckets and each bucket holds a bounded candidate set. */
  private def bucketSizeDeg(sfDir: String): Double = {
    val n = math.max(31, math.round(31 * sfFactor(sfDir) / 0.001).toInt)
    val cols = math.ceil(math.sqrt(n.toDouble)).toInt
    // parcel span ≈ envelope width / cols; convert m → ° (≈111km/°)
    math.max(0.002, (XMax - XMin) / cols / 111000.0)
  }

  /** Explode polygons to covering-bucket keys: (bx, by, <poly cols>). */
  def polyBuckets(polys: DataFrame, geomCol: String, b: Double): DataFrame =
    polys
      .withColumn("env", G.stEnvelope(col(geomCol)))
      .withColumn("bx", explode(sequence(
        floor(col("env._1") / b).cast("long"), floor(col("env._3") / b).cast("long"))))
      .withColumn("by", explode(sequence(
        floor(col("env._2") / b).cast("long"), floor(col("env._4") / b).cast("long"))))
      .drop("env")

  /** Point-in-polygon join: points(lonCol, latCol) ⋈ polys(geomCol) via
    * bucket equi-join + exact ray-cast test. Polygons must be in the same
    * CRS as the points (4326 here).
    *
    * Broadcast policy: callers pass `broadcast(polys)` when the polygon
    * side is dimension-sized (this repo's fixtures). For polygon sets too
    * big to broadcast, pass the frame unhinted — the plan degrades to a
    * shuffle join co-partitioned on (bx, by), which is exactly the
    * scale-out shape. */
  def spatialJoin(points: DataFrame, polys: DataFrame, lonCol: String,
      latCol: String, geomCol: String, b: Double): DataFrame = {
    graft.geo.GeoExpressions.ensureRegistered(points.sparkSession)
    val pb = polyBuckets(polys, geomCol, b)
    points
      .withColumn("bx", floor(col(lonCol) / b).cast("long"))
      .withColumn("by", floor(col(latCol) / b).cast("long"))
      .join(pb, Seq("bx", "by"))
      .filter(graft.geo.GeoExpressions.stContainsPointNative(
        col(geomCol), col(lonCol), col(latCol)))
      .drop("bx", "by")
  }

  // ---- pipelines (§3.2 / §3.3 re-architected) ---------------------------

  /** Mangrove geometries: the flagship SQL at load_report.py:471-476 —
    * view → ILIKE filter → per-category ST_Union, transformed to 4326. */
  def mangroveGeoms(s: SparkSession, sfDir: String): DataFrame =
    linkedView(s, sfDir)
      .filter(Relational.asciiLower(col("KETERANGAN")).contains("mangrove"))
      .withColumn("geom4326", G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WGS84)))
      .groupBy(col("KETERANGAN").as("keterangan"))
      .agg(G.stUnionCollect(col("geom4326")).as("geom"))

  /** Mangrove parcels at parcel granularity (pre-union): the spatial join
    * runs against SMALL per-parcel polygons — joining against the unioned
    * multipolygon instead forces a parse of a ~180-part WKB blob per
    * candidate row (measured: old-gen thrash + 100× slowdown at sf0.1).
    * Parcels are disjoint, so point-in-union ⟺ point-in-any-parcel. */
  private def mangroveParcels(s: SparkSession, sfDir: String): DataFrame =
    linkedView(s, sfDir)
      .filter(Relational.asciiLower(col("KETERANGAN")).contains("mangrove"))
      .select(col("KETERANGAN").as("keterangan"),
        G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WGS84)).as("geom"))

  /** Monthly NDVI per category for one year: scenes ⋈ parcels spatially,
    * NDVI arithmetic, per-cell-month median composite (exact percentile:
    * groups are a handful of scenes per cell-month, where a per-group
    * approx sketch costs far more memory than the data), per-category-month
    * mean, month-spine LEFT JOIN for missing months (R2/J4). */
  def monthlyNdvi(s: SparkSession, sfDir: String, year: Int): DataFrame = {
    // yr is the PARTITION column of the materialized layout — this filter
    // prunes 5 of the 6 year directories at the file source (the date
    // range alone would only row-filter inside a full scan)
    val sc = scenesTable(s, sfDir)
      .filter(col("yr") === year &&
        col("date").between(lit(s"$year-01-01"), lit(s"$year-12-31")))
      .drop("yr")
    ndviByMonth(s, sc, mangroveParcels(s, sfDir), bucketSizeDeg(sfDir),
      s.range(12).select(
        expr(s"add_months(date '$year-01-01', id)").cast("timestamp").as("month_ts")))
  }

  /** Shared NDVI aggregation: join → median composite → category mean →
    * month-spine left join. The category mean is a decimal-cast sum (exact,
    * summation-order-independent — double `avg` drifts in the last ulp
    * across partition orders, which both breaks run-to-run determinism and
    * makes a cross-engine oracle compare impossible). */
  private def ndviByMonth(s: SparkSession, sc: DataFrame, parcelsGeo: DataFrame,
      b: Double, months: DataFrame): DataFrame = {
    // No exchange widens `sc`: r17 hash-spread the rows of q74's 1-task
    // PIP+partials stage (2.3 s in JobProf) and the exchange cost more than
    // the wider stage saved (q74 min 2.02→2.35 s, interleaved A/B). The
    // width comes from the scan instead: q68's scenes derive from `events`,
    // whose T.layout split copy scans in one task per core (its stage went
    // 387 → 128 ms at sf0.1, SCALE.md). The percentile PARTIAL aggregate
    // holds ~4,400 composite keys, past Spark's 128-key object-hash limit;
    // Sessions.build raises that limit so it no longer external-sorts.
    val joined = spatialJoin(sc.filter(geeMonthWindow(col("date"))),
      broadcast(parcelsGeo), "cell_lon", "cell_lat", "geom", b)
      .withColumn("ndvi", (col("sr_b5") - col("sr_b4")) / (col("sr_b5") + col("sr_b4")))
      .withColumn("month_ts", date_trunc("month", col("date")))
    val composited = joined
      .groupBy(col("keterangan"), col("cell_lon"), col("cell_lat"), col("month_ts"))
      .agg(expr("percentile(ndvi, 0.5)").as("ndvi_med"))
      .groupBy(col("keterangan"), col("month_ts"))
      .agg(round(sum(col("ndvi_med").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
        .cast(DoubleType) / count(col("ndvi_med")), 6).as("ndvi"))
    val spine = parcelsGeo.select(col("keterangan")).distinct().crossJoin(months)
    spine.join(composited, Seq("keterangan", "month_ts"), "left")
      .select(col("keterangan"), date_format(col("month_ts"), "yyyy-MM").as("month"),
        col("ndvi"))
  }

  /** Multi-year monthly series 2018–2023 (R3): one groupBy over the whole
    * range + full month spine (nulls where data is missing). */
  def annualNdviSeries(s: SparkSession, sfDir: String): DataFrame =
    ndviByMonth(s, scenesTable(s, sfDir).drop("yr"), mangroveParcels(s, sfDir), bucketSizeDeg(sfDir),
      s.range(monthsTotal).select(
        expr("add_months(date '2018-01-01', id)").cast("timestamp").as("month_ts")))

  /** The flagship report (§3.2): area + variance + argmax + inference +
    * Metric/Value pivot, reproducing summary_report.csv semantics. */
  def report(s: SparkSession, sfDir: String): DataFrame =
    reportFrom(s, mangroveGeoms(s, sfDir), monthlyNdvi(s, sfDir, 2023))

  /** Report composition over any (keterangan, geom) frame + monthly NDVI
    * frame — shared by the fixture flagship (q40) and its oracle twin
    * (q74). `toMetric` maps geometries to the metric CRS before the area
    * sum; q40 passes the real 4326→3857 transform, the oracle twin
    * identity (its synthetic inputs are already planar — libm ln/tan
    * differences between engines would otherwise break the hash compare,
    * and G2 is golden-checked on real data by q49). */
  def reportFrom(s: SparkSession, geoms: DataFrame, monthly: DataFrame,
      toMetric: Column => Column =
        g => G.stTransform(g, lit(Crs.WGS84), lit(Crs.WebMercator))): DataFrame = {
    // total area: reference measures in Web-Mercator m² / 10⁴ → ha
    // (distorted on purpose — load_report.py:376-380)
    val area = geoms
      .withColumn("geom3857", toMetric(col("geom")))
      .agg(sum(graft.geo.GeoExpressions.stAreaNative(col("geom3857")) / 10000.0).as("total_ha"))
    val variance = monthly
      .groupBy(col("keterangan"))
      .agg(round(var_samp(col("ndvi")), 12).as("variance"))
      .orderBy(desc_nulls_last("variance"), asc_nulls_first("keterangan"))
      .limit(1)
      .withColumn("inference",
        when(col("variance") > 0.5, lit("High variance observed, indicating significant changes in vegetation."))
          .when(col("variance") > 0.2, lit("Moderate variance observed, indicating some changes in vegetation."))
          .otherwise(lit("Low variance observed, indicating stable vegetation.")))
    // Materialize the four scalars in ONE pass (a 1-row collect — the
    // legitimate driver-side pivot of final scalars, not a data loop).
    // Building the report as a union of selects over a cached frame instead
    // makes Spark schedule the five branches as independent stages that
    // race to materialize the same cache: 5× the pipeline, nondeterministic
    // 40–110 s at sf0.1. This shape is one pipeline execution, always.
    // Left join so a category set with no scene data (variance frame empty
    // or all-null) still yields the 5-row report with "n/a" values instead
    // of crashing — mirrors the reference's defensive empty-collection
    // branches (load_report.py:139-153).
    val rOpt = area.crossJoin(variance).collect().headOption
      .orElse(area.collect().headOption)
    def fmt(f: org.apache.spark.sql.Row => String): String =
      rOpt.flatMap(r => Option(f(r))).getOrElse("n/a")
    val totalHa = fmt { r =>
      if (r.isNullAt(r.fieldIndex("total_ha"))) null
      else BigDecimal(r.getAs[Double]("total_ha"))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    }
    def strField(name: String): String = fmt { r =>
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.get(r.fieldIndex(name)).toString
      else null
    }
    // fixed 12-decimal formatting: Double.toString flips to scientific
    // notation below 1e-3, which no SQL engine's VARCHAR cast reproduces —
    // %.12f matches printf('%.12f', …) for identical doubles
    val varianceStr = fmt { r =>
      if (r.schema.fieldNames.contains("variance") && !r.isNullAt(r.fieldIndex("variance")))
        "%.12f".formatLocal(java.util.Locale.ROOT, r.getAs[Double]("variance"))
      else null
    }
    import s.implicits._
    Seq(
      ("Analysis Type", "mangrove"),
      ("Total Mangrove Area (hectares)", totalHa),
      ("Highest Variation Area", strField("keterangan")),
      ("Variance of Highest Variation", varianceStr),
      ("Inference", strField("inference"))
    ).toDF("Metric", "Value")
  }

  /** REFERENCE-FIDELITY flagship report: the exact summary_report.csv
    * surface — metric names, value formatting, and inference strings as
    * the reference emits them (load_report.py:405-449: %.2f area, the
    * max-variance argmax, the three inference literals, 'N/A'
    * fallbacks) — over any (keterangan, geom, geom_srid) frame and
    * (keterangan, ndvi) series. `FlagshipGoldenSpec` diffs its output
    * against the reference's own results/summary_report.csv on the real
    * lu.gpkg. Distinct from [[reportFrom]] (the fixture-corpus report
    * whose strings follow the driver-fixture conventions and whose
    * composition is oracle-checked by q74): this one exists to prove
    * byte-level parity with the reference artifact. */
  def referenceReport(s: SparkSession, geoms: DataFrame, monthly: DataFrame,
      teamInfo: String): DataFrame = {
    val area = geoms
      .withColumn("geom3857",
        G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WebMercator)))
      .agg(sum(graft.geo.GeoExpressions.stAreaNative(col("geom3857")) / 10000.0)
        .as("total_ha"))
    val variance = monthly.filter(col("ndvi").isNotNull)
      .groupBy(col("keterangan"))
      // pandas .var() is ddof=1 sample variance = var_samp; n<=1 → null,
      // matching the reference's `variance = None` branch
      .agg(var_samp(col("ndvi")).as("variance"))
      .filter(col("variance").isNotNull)
      .orderBy(desc_nulls_last("variance"), asc_nulls_first("keterangan"))
      .limit(1)
    val aOpt = area.collect().headOption.filterNot(_.isNullAt(0))
    val vOpt = variance.collect().headOption
    val totalStr = aOpt
      .map(r => "%.2f".formatLocal(java.util.Locale.ROOT, r.getDouble(0)))
      .getOrElse("N/A")
    val argmaxStr = vOpt.map(_.getString(0)).getOrElse("N/A")
    // Python str(float) and Java Double.toString agree on the planted and
    // observed values here; both are shortest-ish decimal reprs
    val varStr = vOpt.map(r => r.getDouble(1).toString).getOrElse("N/A")
    val inference = vOpt.map(_.getDouble(1)) match {
      case None => "N/A"
      case Some(v) if v > 0.5 =>
        "High variance observed, suggesting significant changes over time."
      case Some(v) if v > 0.2 =>
        "Moderate variance observed, indicating some level of change over time."
      case Some(_) =>
        "Low variance observed, implying stable conditions over time."
    }
    import s.implicits._
    Seq(
      ("Total Mangrove Area (hectares)", totalStr),
      ("Official Team Providing Public Information", teamInfo),
      ("Area with Highest Variation", argmaxStr),
      ("Variance of Highest Variation", varStr),
      ("Inference on Variance", inference)
    ).toDF("Metric", "Value")
  }

  /** Zonal mean elevation per admin region (§3.3, R1 = J2 + A3). The mean
    * is decimal-exact ([[exactMean]]) so the answer is summation-order-
    * independent — the Q-scaladoc float-agg convention, required now that
    * q41 carries a direct oracle. */
  def zonalElevation(s: SparkSession, sfDir: String): DataFrame =
    spatialJoin(elevation(s, sfDir).filter(col("elev").isNotNull),
      broadcast(admin(s, sfDir)), "cell_lon", "cell_lat", "geom", 0.01)
      .groupBy(col("name_1"))
      .agg(exactMean(col("elev")).as("mean_elevation"), count(lit(1)).as("n_cells"))
      .orderBy(asc_nulls_first("name_1"))

  /** Elevation histogram: 20 m left-closed bins of per-region means
    * (spatial_analysis_indonesia.r:58-66). The global min comes from a
    * whole-frame window over the zone-count-sized zonal output — one pass;
    * the previous agg-then-cross-join shape executed the elevation scan +
    * spatial join subtree twice. */
  def elevationHistogram(s: SparkSession, sfDir: String): DataFrame =
    zonalElevation(s, sfDir)
      .withColumn("mn", min(col("mean_elevation"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(floor((col("mean_elevation") - col("mn")) / 20.0).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("freq"))
      .orderBy(asc_nulls_first("bin"))

  /** DuckDB replay of the [[elevation]] raster joined to the [[admin]]
    * strips — the shared CTE stack under q41/q42's DIRECT oracles. The
    * grid size derives from the events row count exactly as
    * [[elevationNx]]; every coordinate and noise term repeats the
    * engine's IEEE expression shape (sqrt/ceil are correctly rounded,
    * integer LCG arithmetic is exact, and the float products/sums are
    * the same ops in the same order — identical doubles, not
    * approximately-equal ones). Region assignment is the half-open
    * [xmin, xmax) range predicate (the ray-cast boundary convention);
    * cell centers sit 0.5·dLon off every strip edge ((i+0.5)/nx = k/5
    * has no integer solution when 5 | nx, and the envelope floors keep
    * 5 | nx on every driver fixture), so no containment decision is
    * within float-ambiguity of a boundary. */
  private val elevationZonalSql: String = {
    val w = s"(($lonMax - $lonMin) / nx)"
    s"""g AS (SELECT CAST(ceil(sqrt(GREATEST(10000, 6 * (SELECT COUNT(*) FROM events)))) AS BIGINT) AS nx),
      cells AS (SELECT unnest(range(0, nx * nx)) AS id, nx FROM g),
      e AS (SELECT $lonMin + (id % nx) * $w + $w / 2 AS cell_lon,
                   120.0 + ((id % nx) // GREATEST(1, nx // 5)) * 90.0
                     + (((id * 69069 + 12345) % 99991) / 99991.0 - 0.5) * 360.0
                     + ((id * 1103515245 + 54321) % 99989) / 99989.0 * 260.0 AS elev
            FROM cells
            WHERE ((id * 1103515245 + 12345) % 99991) % 53 <> 0),
      r AS (SELECT 'Region ' || CAST(i + 1 AS VARCHAR) AS name_1,
                   $lonMin + i * (($lonMax - $lonMin) / 5) AS xmin,
                   $lonMin + (i + 1) * (($lonMax - $lonMin) / 5) AS xmax
            FROM generate_series(0, 4) t(i)),
      z AS (SELECT name_1,
                   round(CAST(SUM(CAST(elev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(elev), 4) AS mean_elevation,
                   COUNT(*) AS n_cells
            FROM e JOIN r ON cell_lon >= xmin AND cell_lon < xmax
            GROUP BY name_1)"""
  }

  /** DuckDB replay of the [[parcels]] jittered grid — the q212/q213
    * fixture-twin technique upgraded with [[XxSql]]: the REAL xxhash64
    * jitter is replayed bit-exactly (HUGEINT limb arithmetic), no LCG
    * stand-in, so q46/q235 gate the fixture itself. Returns
    * (cte-prefix, last-cte, cxCol, cyCol); the last CTE carries one row
    * per parcel with 0-based id, cols/cellw/cellh/half, and the jittered
    * center columns. */
  private val parcelGridSql: (String, String, String, String) = {
    val head = s"""pg0 AS (
      SELECT CAST(GREATEST(31, round(31.0 * (SELECT COUNT(*) FROM events) / 1000.0)) AS BIGINT) AS n),
    pg1 AS (SELECT n, CAST(ceil(sqrt(n)) AS BIGINT) AS cols FROM pg0),
    pg2 AS (SELECT n, cols, CAST(ceil(CAST(n AS DOUBLE) / cols) AS BIGINT) AS rows,
                   ($XMax - $XMin) / cols AS cellw FROM pg1),
    pg3 AS (SELECT n, cols, rows, cellw, ($YMax - $YMin) / rows AS cellh,
                   0.4 * LEAST(cellw, ($YMax - $YMin) / rows) AS half FROM pg2),
    pg4 AS (SELECT unnest(range(0, n)) AS id, cols, cellw, cellh, half FROM pg3)"""
    val st = new XxSql.Stages("pg4", "pj")
    val u1 = XxSql.uniform(st, "id", 1)
    val u2 = XxSql.uniform(st, "id", 2)
    val cx = st.add(s"($XMin + (id % cols) * cellw + cellw / 2 + ($u1 - 0.5) * 0.1 * cellw)")
    val cy = st.add(s"($YMin + (id // cols) * cellh + cellh / 2 + ($u2 - 0.5) * 0.1 * cellh)")
    (head + ",\n" + st.sql, st.lastCte, cx, cy)
  }

  private def ketSql(idExpr: String): String =
    keterangans.map(k => s"'$k'").mkString("[", ", ", "]") +
      s"[CAST($idExpr % ${keterangans.size} AS INTEGER) + 1]"

  /** [[Crs.utm50sInverse]] transcribed to SQL for corner columns: returns
    * the (xiP, etaP) expression pair; sinh/cosh expand to exp (DuckDB has
    * neither), which is one of the ≤1-ulp-per-call drift sources that
    * make transform-dependent oracles quantize with margin. */
  private def tmInverseSql(xCol: String, yCol: String): (String, String) = {
    val c = graft.geo.Crs.sqlOracleConsts
    val xi = s"(($yCol - 10000000.0) / ${c("k0A1")})"
    val eta = s"(($xCol - 500000.0) / ${c("k0A1")})"
    var xiP = xi
    var etaP = eta
    for (j <- 1 to 6) {
      val b = c(s"beta$j")
      val ch = s"((exp(${2 * j} * $eta) + exp(-(${2 * j} * $eta))) / 2)"
      val sh = s"((exp(${2 * j} * $eta) - exp(-(${2 * j} * $eta))) / 2)"
      xiP = s"($xiP - $b * sin(${2 * j} * $xi) * $ch)"
      etaP = s"($etaP - $b * cos(${2 * j} * $xi) * $sh)"
    }
    (xiP, etaP)
  }

  /** q46's DIRECT oracle: grid → xxhash64 jitter → 4 corners → TM
    * inverse → Web-Mercator forward → ring-ordered shoelace → per-
    * category decimal sum, rounded to the reference's own 2-decimal ha
    * convention (load_report.py's %.2f). Margin analysis: the only
    * engine-vs-DuckDB divergence is libm (sin/cos/exp/asin/atan2/ln ≤
    * 1 ulp per call, plus the exp-expanded sinh/cosh), worth ~1e-9 m per
    * transformed coordinate → ≲1e-9 ha per category sum; the 0.005 ha
    * rounding boundary leaves >6 orders of margin. The jitter's area
    * effect (~1e-6 ha) is below this grain BY THE REFERENCE'S OWN
    * OUTPUT CONVENTION — the jitter itself is gated exactly (to 1e-4 m,
    * float-risk-free) by q235, whose arithmetic is transform-free. */
  private val q46OracleSql: String = {
    val (grid, gridLast, cx, cy) = parcelGridSql
    val (xip, etap) = tmInverseSql("ux", "uy")
    val c = graft.geo.Crs.sqlOracleConsts
    s"""WITH $grid,
    pc AS (SELECT id, ${ketSql("id")} AS keterangan, c.i AS ci,
             CASE c.i WHEN 1 THEN $cx - half WHEN 2 THEN $cx + half
                      WHEN 3 THEN $cx + half ELSE $cx - half END AS ux,
             CASE c.i WHEN 1 THEN $cy - half WHEN 2 THEN $cy - half
                      WHEN 3 THEN $cy + half ELSE $cy + half END AS uy
           FROM $gridLast, (SELECT unnest([1, 2, 3, 4]) AS i) c),
    pt0 AS (SELECT id, keterangan, ci, $xip AS xip, $etap AS etap FROM pc),
    pt1 AS (SELECT id, keterangan, ci,
             asin(sin(xip) / ((exp(etap) + exp(-etap)) / 2)) AS chi,
             atan2((exp(etap) - exp(-etap)) / 2, cos(xip)) AS lam FROM pt0),
    pt2 AS (SELECT id, keterangan, ci,
             degrees(lam + ${c("lon0")}) AS lon,
             degrees(chi + ${c("chiC2")} * sin(2 * chi) + ${c("chiC4")} * sin(4 * chi)
               + ${c("chiC6")} * sin(6 * chi) + ${c("chiC8")} * sin(8 * chi)) AS lat FROM pt1),
    pt3 AS (SELECT id, keterangan, ci,
             6378137.0 * radians(lon) AS mx,
             6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)) AS my FROM pt2),
    psh AS (SELECT a.id, a.keterangan,
             abs(SUM(a.mx * b.my - b.mx * a.my) / 2.0) / 10000.0 AS ha
            FROM pt3 a JOIN pt3 b ON b.id = a.id AND b.ci = (a.ci % 4) + 1
            GROUP BY a.id, a.keterangan)
    SELECT keterangan,
           round(CAST(SUM(CAST(ha AS DECIMAL(28,10))) AS DOUBLE), 2) AS area_ha,
           COUNT(*) AS n_parcels
    FROM psh GROUP BY keterangan ORDER BY keterangan ASC NULLS FIRST"""
  }

  /** q47's DIRECT oracle: the q46 chain up to 4326 (TM inverse only, no
    * Mercator re-projection), then the shoelace centroid over the
    * transformed quad's ring and min/max bounds, per-category decimal
    * means at round(6). Margin: coordinates ~1e2 deg, libm drift
    * ≤~1e-13 deg, rounding boundary 5e-7 — >6 orders. The SQL SUM's
    * free association vs the engine's ring-order loop adds ≤ ulps,
    * covered by the same margin; sa never vanishes (quads are
    * near-rectangles ~1e-5 deg² in area). */
  private val q47OracleSql: String = {
    val (grid, gridLast, cx, cy) = parcelGridSql
    val (xip, etap) = tmInverseSql("ux", "uy")
    val c = graft.geo.Crs.sqlOracleConsts
    s"""WITH $grid,
    pc AS (SELECT id, ${ketSql("id")} AS keterangan, c.i AS ci,
             CASE c.i WHEN 1 THEN $cx - half WHEN 2 THEN $cx + half
                      WHEN 3 THEN $cx + half ELSE $cx - half END AS ux,
             CASE c.i WHEN 1 THEN $cy - half WHEN 2 THEN $cy - half
                      WHEN 3 THEN $cy + half ELSE $cy + half END AS uy
           FROM $gridLast, (SELECT unnest([1, 2, 3, 4]) AS i) c),
    pt0 AS (SELECT id, keterangan, ci, $xip AS xip, $etap AS etap FROM pc),
    pt1 AS (SELECT id, keterangan, ci,
             asin(sin(xip) / ((exp(etap) + exp(-etap)) / 2)) AS chi,
             atan2((exp(etap) - exp(-etap)) / 2, cos(xip)) AS lam FROM pt0),
    pt2 AS (SELECT id, keterangan, ci,
             degrees(lam + ${c("lon0")}) AS lon,
             degrees(chi + ${c("chiC2")} * sin(2 * chi) + ${c("chiC4")} * sin(4 * chi)
               + ${c("chiC6")} * sin(6 * chi) + ${c("chiC8")} * sin(8 * chi)) AS lat FROM pt1),
    pcn AS (SELECT a.id, a.keterangan,
             SUM(a.lon * b.lat - b.lon * a.lat) / 2.0 AS sa,
             SUM((a.lon + b.lon) * (a.lon * b.lat - b.lon * a.lat)) AS sx,
             SUM((a.lat + b.lat) * (a.lon * b.lat - b.lon * a.lat)) AS sy
            FROM pt2 a JOIN pt2 b ON b.id = a.id AND b.ci = (a.ci % 4) + 1
            GROUP BY a.id, a.keterangan),
    pctr AS (SELECT id, keterangan, sx / (6.0 * sa) AS cxv, sy / (6.0 * sa) AS cyv FROM pcn),
    pbb AS (SELECT keterangan, MIN(lon) AS xmn, MIN(lat) AS ymn,
                   MAX(lon) AS xmx, MAX(lat) AS ymx
            FROM pt2 GROUP BY keterangan)
    SELECT t.keterangan,
           round(CAST(SUM(CAST(t.cxv AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) AS centroid_lon,
           round(CAST(SUM(CAST(t.cyv AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) AS centroid_lat,
           round(ANY_VALUE(b.xmn), 6) AS xmin, round(ANY_VALUE(b.ymn), 6) AS ymin,
           round(ANY_VALUE(b.xmx), 6) AS xmax, round(ANY_VALUE(b.ymx), 6) AS ymax
    FROM pctr t JOIN pbb b ON b.keterangan = t.keterangan
    GROUP BY t.keterangan ORDER BY t.keterangan ASC NULLS FIRST"""
  }

  /** q235's oracle: the jitter gate. Everything here is RATIONAL
    * arithmetic over xxhash64 integers — centroid via the engine's exact
    * shoelace chain (term order, the w·(sx/(6·sa))/w round-trip
    * included), decimal(28,4)-quantized and summed as exact integers —
    * so engine and oracle compute IDENTICAL doubles and the gate has
    * zero float-boundary risk while pinning every jittered coordinate to
    * 1e-4 m. */
  private val q235OracleSql: String = {
    val (grid, gridLast, cx, cy) = parcelGridSql
    s"""WITH $grid,
    pe AS (SELECT id, ${ketSql("id")} AS keterangan,
             $cx - half AS x1, $cx + half AS x2,
             $cy - half AS y1, $cy + half AS y2 FROM $gridLast),
    pcr AS (SELECT id, keterangan,
             x1 * y1 - x2 * y1 AS c1, x2 * y2 - x2 * y1 AS c2,
             x2 * y2 - x1 * y2 AS c3, x1 * y1 - x1 * y2 AS c4,
             x1, x2, y1, y2 FROM pe),
    pss AS (SELECT id, keterangan,
             (x1 + x2) * c1 + (x2 + x2) * c2 + (x2 + x1) * c3 + (x1 + x1) * c4 + (x1 + x1) * (x1 * y1 - x1 * y1) AS sx,
             (y1 + y1) * c1 + (y1 + y2) * c2 + (y2 + y2) * c3 + (y2 + y1) * c4 + (y1 + y1) * (x1 * y1 - x1 * y1) AS sy,
             (c1 + c2 + c3 + c4 + (x1 * y1 - x1 * y1)) / 2.0 AS sa
            FROM pcr),
    pct AS (SELECT keterangan,
             (abs(sa) * (sx / (6.0 * sa))) / abs(sa) AS cxv,
             (abs(sa) * (sy / (6.0 * sa))) / abs(sa) AS cyv
            FROM pss)
    SELECT keterangan,
           CAST(SUM(CAST(cxv AS DECIMAL(28,4))) * 10000 AS BIGINT) AS sum_cx_em4,
           CAST(SUM(CAST(cyv AS DECIMAL(28,4))) * 10000 AS BIGINT) AS sum_cy_em4,
           COUNT(*) AS n_parcels
    FROM pct GROUP BY keterangan ORDER BY keterangan ASC NULLS FIRST"""
  }

  /** q235: the parcels fixture's xxhash64 jitter under an EXACT hash
    * gate — per-category decimal sums of the REAL geometry kernel's
    * centroids (WKB round-trip + shoelace centroid over the jittered
    * UTM boxes), quantized at 1e-4 m and emitted as exact integers.
    * Complements q46: q46 pins the transform composition at the
    * reference's output grain; this pins every jittered coordinate with
    * no transcendentals anywhere in the chain. */
  private val q235 = Q(
    "q235_parcel_jitter_oracle",
    (s, dir) => {
      val p = parcels(s, dir)
      p.withColumn("c", G.stCentroid(col("geom")))
        .groupBy(col("KETERANGAN").as("keterangan"))
        .agg(
          (sum(element_at(col("c"), 1)
            .cast(org.apache.spark.sql.types.DecimalType(28, 4))) * 10000)
            .cast(LongType).as("sum_cx_em4"),
          (sum(element_at(col("c"), 2)
            .cast(org.apache.spark.sql.types.DecimalType(28, 4))) * 10000)
            .cast(LongType).as("sum_cy_em4"),
          count(lit(1)).as("n_parcels"))
        .orderBy(asc_nulls_first("keterangan"))
    },
    Some(q235OracleSql),
    "xxhash64 parcel jitter gated exactly: kernel centroids of the jittered UTM boxes, decimal-quantized to 1e-4 m, replayed in DuckDB via HUGEINT XXH64 (q46's float-free complement)")

  /** DuckDB replay of the [[scenes]] fixture (engine-neutral since r13:
    * LCG noise, rational seasonal table, events-derived sizing — every
    * sr_b4/sr_b5 double is bit-identical across engines). Returns the
    * CTE chain ending in `scg(mi, day, cell_lon, cell_lat, sr_b4,
    * sr_b5)`. The grid math mirrors the engine expression-for-expression
    * (same literals via shortest-roundtrip Double.toString, same IEEE op
    * order), so lon/lat group keys compare exactly. */
  private val scenesGridSql: String = {
    val seas = seasonal05.mkString("[", ", ", "]")
    val dLon = s"(($lonMax - $lonMin) / nx)"
    val dLat = s"(($latMax - $latMin) / nx)"
    s"""sg0 AS (SELECT GREATEST(7200, 6 * (SELECT COUNT(*) FROM events)) AS tr),
    sg1 AS (SELECT CAST(ceil(sqrt(CAST(tr // 72 AS DOUBLE))) AS BIGINT) AS nx FROM sg0),
    sg2 AS (SELECT unnest(range(0, nx * nx * 72)) AS id, nx FROM sg1),
    sg3 AS (SELECT id % (nx * nx) AS cell_id, id // (nx * nx) AS mi, nx FROM sg2
            WHERE id // (nx * nx) <> 14),
    sg4 AS (SELECT cell_id, mi, nx, cell_id * 100 + mi AS sid,
                   make_date(2018 + CAST(mi // 12 AS INTEGER),
                             CAST(mi % 12 AS INTEGER) + 1, 1) AS ms
            FROM sg3
            WHERE ((cell_id * 100003 + mi * 7919 + 12345) % 99991) % 37 <> 0),
    scg AS (SELECT mi,
             1 + least((cell_id * 2654435761 + mi * 999983 + 7) % 99991 % 31,
                       datediff('day', ms, last_day(ms))) AS day,
             $lonMin + (cell_id % nx) * $dLon + $dLon / 2 AS cell_lon,
             $latMin + (cell_id // nx) * $dLat + $dLat / 2 AS cell_lat,
             0.1 + ((sid * 69069 + 12345) % 99991) / 99991.0 * 0.15 AS sr_b4,
             0.2 + ((sid * 1103515245 + 54321) % 99989) / 99989.0 * 0.35
                 + $seas[CAST(mi % 12 AS INTEGER) + 1] AS sr_b5
            FROM sg4)"""
  }

  /** DuckDB replay of the parcel quads in EPSG:4326 + the bucketed PIP
    * join against [[scenesGridSql]]'s cells: parcel grid (XXH64 jitter,
    * [[parcelGridSql]]) → 4 corners → TM inverse ([[tmInverseSql]]) →
    * per-parcel corner pivot with bbox → covering-bucket explode →
    * bucket equi-join + padded bbox prefilter + 4 CCW half-plane tests
    * (transformed boxes stay convex; conformal transforms preserve
    * winding). Boundary-flip margin, MEASURED not assumed (r13; this
    * comment is the record): scene centers are exact rationals;
    * cross-engine corner drift is 2.8e-14° max (engine corners vs the
    * qt2 replay, 12.4k corners at sf0.1) while the min point-to-edge-line
    * distance over every candidate pair is 1.1e-10° at sf1 / 1.6e-10° at
    * sf0.1 / 2.3e-7° at the sf0.01 driver gate — ≥3 orders everywhere.
    * The CTE chain ends in `jn(id, keterangan, mi, day, cell_lon,
    * cell_lat, sr_b4, sr_b5)`; `filterSql` prunes the parcel side (e.g.
    * mangrove ids). */
  private def scenesParcelJoinSql(filterSql: String): String = {
    val (grid, gridLast, cx, cy) = parcelGridSql
    val (xip, etap) = tmInverseSql("ux", "uy")
    val c = graft.geo.Crs.sqlOracleConsts
    s"""$grid,
    $scenesGridSql,
    qc AS (SELECT id, ${ketSql("id")} AS keterangan,
             GREATEST(0.002, ($XMax - $XMin) / cols / 111000.0) AS bdeg, c.i AS ci,
             CASE c.i WHEN 1 THEN $cx - half WHEN 2 THEN $cx + half
                      WHEN 3 THEN $cx + half ELSE $cx - half END AS ux,
             CASE c.i WHEN 1 THEN $cy - half WHEN 2 THEN $cy - half
                      WHEN 3 THEN $cy + half ELSE $cy + half END AS uy
           FROM $gridLast, (SELECT unnest([1, 2, 3, 4]) AS i) c
           WHERE $filterSql),
    qt0 AS (SELECT id, keterangan, bdeg, ci, $xip AS xip, $etap AS etap FROM qc),
    qt1 AS (SELECT id, keterangan, bdeg, ci,
             asin(sin(xip) / ((exp(etap) + exp(-etap)) / 2)) AS chi,
             atan2((exp(etap) - exp(-etap)) / 2, cos(xip)) AS lam FROM qt0),
    qt2 AS (SELECT id, keterangan, bdeg, ci,
             degrees(lam + ${c("lon0")}) AS lon,
             degrees(chi + ${c("chiC2")} * sin(2 * chi) + ${c("chiC4")} * sin(4 * chi)
               + ${c("chiC6")} * sin(6 * chi) + ${c("chiC8")} * sin(8 * chi)) AS lat FROM qt1),
    qd AS (SELECT id, keterangan, ANY_VALUE(bdeg) AS bdeg,
             MAX(CASE ci WHEN 1 THEN lon END) AS x1, MAX(CASE ci WHEN 1 THEN lat END) AS y1,
             MAX(CASE ci WHEN 2 THEN lon END) AS x2, MAX(CASE ci WHEN 2 THEN lat END) AS y2,
             MAX(CASE ci WHEN 3 THEN lon END) AS x3, MAX(CASE ci WHEN 3 THEN lat END) AS y3,
             MAX(CASE ci WHEN 4 THEN lon END) AS x4, MAX(CASE ci WHEN 4 THEN lat END) AS y4,
             MIN(lon) AS xmn, MAX(lon) AS xmx, MIN(lat) AS ymn, MAX(lat) AS ymx
           FROM qt2 GROUP BY id, keterangan),
    qbx AS (SELECT *, unnest(range(CAST(floor((xmn - 1e-9) / bdeg) AS BIGINT),
                                   CAST(floor((xmx + 1e-9) / bdeg) AS BIGINT) + 1)) AS bx
            FROM qd),
    qbb AS (SELECT *, unnest(range(CAST(floor((ymn - 1e-9) / bdeg) AS BIGINT),
                                   CAST(floor((ymx + 1e-9) / bdeg) AS BIGINT) + 1)) AS by
            FROM qbx),
    scp AS (SELECT s.*, CAST(floor(s.cell_lon / b.bdeg) AS BIGINT) AS pbx,
                        CAST(floor(s.cell_lat / b.bdeg) AS BIGINT) AS pby
            FROM scg s, (SELECT ANY_VALUE(bdeg) AS bdeg FROM qd) b),
    jn AS (SELECT q.id, q.keterangan, s.mi, s.day,
                  s.cell_lon, s.cell_lat, s.sr_b4, s.sr_b5
           FROM scp s JOIN qbb q
             ON s.pbx = q.bx AND s.pby = q.by
            AND s.cell_lon >= q.xmn - 1e-9 AND s.cell_lon <= q.xmx + 1e-9
            AND s.cell_lat >= q.ymn - 1e-9 AND s.cell_lat <= q.ymx + 1e-9
            AND (q.x2 - q.x1) * (s.cell_lat - q.y1) - (q.y2 - q.y1) * (s.cell_lon - q.x1) > 0
            AND (q.x3 - q.x2) * (s.cell_lat - q.y2) - (q.y3 - q.y2) * (s.cell_lon - q.x2) > 0
            AND (q.x4 - q.x3) * (s.cell_lat - q.y3) - (q.y4 - q.y3) * (s.cell_lon - q.x3) > 0
            AND (q.x1 - q.x4) * (s.cell_lat - q.y4) - (q.y1 - q.y4) * (s.cell_lon - q.x4) > 0)"""
  }

  /** q43/q44's DIRECT oracle: the full R2/R3 pipeline replayed — scenes
    * replay × transformed mangrove quads (PIP), GEE month window, NDVI
    * (one IEEE division of bit-identical doubles), per-cell-month median
    * (selection/midpoint of bit-identical values), per-category
    * DECIMAL(28,14) mean rounded at the engine's own 6-dp grain, month
    * spine with nulls. `miLo..miHi` selects the scene months (q43: 2023
    * = 60..71; q44: all 72). */
  private def ndviDirectOracleSql(miLo: Int, miHi: Int): String = {
    s"""WITH ${scenesParcelJoinSql("(id % 17) IN (0, 1)")},
    jnf AS (SELECT * FROM jn
            WHERE mi BETWEEN $miLo AND $miHi
              AND day < CASE WHEN mi % 12 = 1 THEN 28 ELSE 30 END),
    med AS (SELECT keterangan, cell_lon, cell_lat, mi,
              median((sr_b5 - sr_b4) / (sr_b5 + sr_b4)) AS ndvi_med
            FROM jnf GROUP BY 1, 2, 3, 4),
    agg AS (SELECT keterangan, mi,
              round(CAST(SUM(CAST(ndvi_med AS DECIMAL(28,14))) AS DOUBLE)
                    / COUNT(*), 6) AS ndvi
            FROM med GROUP BY 1, 2),
    spine AS (SELECT k.s AS keterangan, m.g AS mi
              FROM (SELECT unnest(['Mangrove Sungai Sanrumukti',
                                   'Mangrove Pesisir Timur']) AS s) k,
                   generate_series($miLo, $miHi) m(g))
    SELECT spine.keterangan,
           CAST(2018 + spine.mi // 12 AS VARCHAR) || '-' ||
             lpad(CAST(spine.mi % 12 + 1 AS VARCHAR), 2, '0') AS month,
           agg.ndvi AS ndvi
    FROM spine LEFT JOIN agg
      ON spine.keterangan = agg.keterangan AND spine.mi = agg.mi
    ORDER BY 1 ASC NULLS FIRST, 2 ASC NULLS FIRST"""
  }

  /** q45's DIRECT oracle: scene count per parcel over ALL parcels (no
    * month window, no year filter), inner-join semantics (sceneless
    * parcels absent), 1-based output ids like [[parcels]]. */
  private val q45OracleSql: String =
    s"""WITH ${scenesParcelJoinSql("TRUE")}
    SELECT id + 1 AS id, COUNT(*) AS n_scenes
    FROM jn GROUP BY 1 ORDER BY id ASC NULLS FIRST"""

  // ---- driver-contract queries (q40 remains rows-only — its report
  // composes q43/q46/q07-shape pieces each gated separately, plus the
  // golden byte-diff (q49/FlagshipGoldenSpec);
  // q41/q42/q46/q47 flipped to DIRECT oracles in r13,
  // q43/q44/q45 likewise once the scenes fixture went engine-neutral) ----

  private val q40 = Q("q40_flagship_report", (s, dir) => report(s, dir),
    None, "flagship §3.2 pipeline → summary report (ref load_report.py:452-523)")
  private val q41 = Q("q41_zonal_elevation", (s, dir) => zonalElevation(s, dir),
    Some(s"""WITH $elevationZonalSql
      SELECT name_1, mean_elevation, n_cells FROM z
      ORDER BY name_1 ASC NULLS FIRST"""),
    "R1 zonal mean via envelope-bucket spatial join, DIRECT DuckDB oracle since r13 (ref spatial_analysis_indonesia.r:50-56)")
  private val q42 = Q("q42_elevation_histogram", (s, dir) => elevationHistogram(s, dir),
    Some(s"""WITH $elevationZonalSql,
      m AS (SELECT MIN(mean_elevation) AS mn FROM z)
      SELECT CAST(floor((mean_elevation - mn) / 20.0) AS BIGINT) AS bin, COUNT(*) AS freq
      FROM z, m GROUP BY 1 ORDER BY bin ASC NULLS FIRST"""),
    "A8 histogram of zonal means, DIRECT DuckDB oracle since r13 (ref spatial_analysis_indonesia.r:58-66)")
  private val q43 = Q("q43_ndvi_monthly", (s, dir) =>
    monthlyNdvi(s, dir, 2023).orderBy(asc_nulls_first("keterangan"), asc_nulls_first("month")),
    Some(ndviDirectOracleSql(60, 71)),
    "R2 monthly NDVI with month-spine nulls, DIRECT DuckDB oracle since r13 (ref load_report.py:60-89)")
  private val q44 = Q("q44_ndvi_series", (s, dir) =>
    annualNdviSeries(s, dir).orderBy(asc_nulls_first("keterangan"), asc_nulls_first("month")),
    Some(ndviDirectOracleSql(0, 71)),
    "R3 multi-year NDVI series, DIRECT DuckDB oracle since r13 (ref load_report.py:118-169)")
  private val q45 = Q("q45_parcel_scene_count", (s, dir) => {
    val sc = scenes(s, dir)
    // parcels are dimension-sized (3.1k rows at sf0.1) → broadcast; the
    // unhinted shuffle-join degradation documented on spatialJoin remains
    // the path for polygon sets too large to broadcast
    spatialJoin(sc, broadcast(parcels(s, dir).select(col("id"),
      G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WGS84)).as("geom"))),
      "cell_lon", "cell_lat", "geom", bucketSizeDeg(dir))
      .groupBy(col("id")).agg(count(lit(1)).as("n_scenes"))
      .orderBy(asc_nulls_first("id"))
  }, Some(q45OracleSql),
    "J3 scenes×parcels spatial join at full fan-out, DIRECT DuckDB oracle since r13 (ref load_report.py:74,136,487-508)")
  private val q46 = Q("q46_area_by_category", (s, dir) =>
    linkedView(s, dir)
      .withColumn("geom3857", G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WebMercator)))
      .groupBy(col("KETERANGAN").as("keterangan"))
      // decimal-cast per-parcel terms (order-independent sum, Q float-agg
      // convention) rounded at the reference's own %.2f ha grain — the
      // grain that makes the transform-replaying DIRECT oracle immune to
      // cross-engine libm drift (see q46OracleSql's margin analysis)
      .agg(round(sum((graft.geo.GeoExpressions.stAreaNative(col("geom3857")) / 10000.0)
          .cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast(DoubleType), 2).as("area_ha"),
        count(lit(1)).as("n_parcels"))
      .orderBy(asc_nulls_first("keterangan")),
    Some(q46OracleSql),
    "G2+G3 per-category Web-Mercator area in ha, DIRECT DuckDB oracle since r13 — xxhash64 jitter + TM inverse + Mercator + shoelace replayed (ref load_report.py:369-380)")
  private val q47 = Q("q47_centroid_bounds", (s, dir) =>
    linkedView(s, dir)
      .withColumn("geom4326", G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WGS84)))
      .withColumn("c", G.stCentroid(col("geom4326")))
      .withColumn("env", G.stEnvelope(col("geom4326")))
      .groupBy(col("KETERANGAN").as("keterangan"))
      // decimal-cast means (order-independent, Q float-agg convention).
      // Means round at 4: each per-parcel decimal(28,10) quantization can
      // flip by 1e-10 under cross-engine libm drift (p~1e-3/parcel), so a
      // 31k-parcel category accumulates ~1e-10-scale mean drift — round(6)
      // measured a real boundary flip at sf1 (116.775859 vs ...858);
      // round(4) leaves 5 orders of margin. Bounds stay round(6): min/max
      // don't accumulate, per-value drift is ~1e-13 deg.
      .agg(round(sum(element_at(col("c"), 1)
            .cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast(DoubleType) / count(lit(1)), 4).as("centroid_lon"),
        round(sum(element_at(col("c"), 2)
            .cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast(DoubleType) / count(lit(1)), 4).as("centroid_lat"),
        round(min(col("env._1")), 6).as("xmin"), round(min(col("env._2")), 6).as("ymin"),
        round(max(col("env._3")), 6).as("xmax"), round(max(col("env._4")), 6).as("ymax"))
      .orderBy(asc_nulls_first("keterangan")),
    Some(q47OracleSql),
    "G4 centroid + G5/A10 total_bounds, DIRECT DuckDB oracle since r13 — xxhash64 jitter + TM inverse + shoelace centroid replayed (ref load_report.py:322-337)")

  /** Oracle-checked spatial join: points derived from events by exact
    * integer arithmetic, polygons a 5×5 rectangle grid — the full
    * bucket-join + ray-cast machinery on the Spark side, plain range
    * comparisons in DuckDB. Ray casting on axis-aligned boxes is exactly
    * left-closed containment ([min,max) on both axes), which the oracle
    * mirrors. */
  private val q53 = Q(
    "q53_rect_spatial_join",
    (s, dir) => {
      val pts = graft.T(s, dir, "events").select(
        col("event_id"),
        (pmod(col("event_id"), lit(1000)).cast(DoubleType) / 1000.0 * 10.0).as("px"),
        (pmod(col("event_id") * 7, lit(1000)).cast(DoubleType) / 1000.0 * 10.0).as("py"),
        col("value"))
      val rects = s.range(25).select(
        col("id").as("rect_id"),
        G.stMakeBox((col("id") % 5).cast(DoubleType) * 2.0,
          floor(col("id") / 5).cast(DoubleType) * 2.0,
          ((col("id") % 5) + 1).cast(DoubleType) * 2.0,
          (floor(col("id") / 5) + 1).cast(DoubleType) * 2.0).as("geom"))
      spatialJoin(pts, broadcast(rects), "px", "py", "geom", 1.0)
        .groupBy(col("rect_id"))
        .agg(count(lit(1)).as("n_points"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"))
        .orderBy(asc_nulls_first("rect_id"))
    },
    Some("""WITH p AS (SELECT event_id,
               (event_id % 1000) / 1000.0 * 10.0 AS px,
               ((event_id * 7) % 1000) / 1000.0 * 10.0 AS py, value FROM events),
      r AS (SELECT i.g * 5 + j.g AS rect_id,
                   (i.g * 5 + j.g) % 5 * 2.0 AS xmin, CAST(floor((i.g * 5 + j.g) / 5) AS BIGINT) * 2.0 AS ymin
            FROM generate_series(0, 4) i(g), generate_series(0, 4) j(g))
      SELECT rect_id, COUNT(*) AS n_points,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM p JOIN r ON px >= xmin AND px < xmin + 2.0 AND py >= ymin AND py < ymin + 2.0
      GROUP BY rect_id ORDER BY rect_id ASC NULLS FIRST"""),
    "J2/J3 spatial join, DuckDB-oracle-checked via rectangle containment")

  /** Cell-COVERAGE spatial join (st_intersects_box): raster cells as boxes
    * rather than center points — every (cell, polygon) pair whose areas
    * overlap, oracle-checked via interval arithmetic. Cell size 0.377773
    * guarantees no exact boundary touches (px has 2 decimals), so closed
    * vs half-open edge semantics cannot diverge between engines. */
  private val q54 = Q(
    "q54_coverage_join",
    (s, dir) => {
      val cellSize = 0.377773
      val cells = graft.T(s, dir, "events").select(
        col("event_id"),
        (pmod(col("event_id"), lit(1000)).cast(DoubleType) / 1000.0 * 10.0 + 0.0011).as("px"),
        (pmod(col("event_id") * 7, lit(1000)).cast(DoubleType) / 1000.0 * 10.0 + 0.0011).as("py"))
      val rects = s.range(25).select(
        col("id").as("rect_id"),
        ((col("id") % 5).cast(DoubleType) * 2.0).as("xmin"),
        (floor(col("id") / 5).cast(DoubleType) * 2.0).as("ymin"))
        .select(col("rect_id"), col("xmin"), col("ymin"),
          G.stMakeBox(col("xmin"), col("ymin"), col("xmin") + 2.0, col("ymin") + 2.0).as("geom"))
      // bucket the cell by its own envelope (cell spans ≤2 buckets/dim at b=1)
      val b = 1.0
      val pb = polyBuckets(broadcast(rects), "geom", b)
      graft.geo.GeoExpressions.ensureRegistered(s)
      cells
        .withColumn("bx0", floor(col("px") / b).cast("long"))
        .withColumn("bx", explode(sequence(col("bx0"),
          floor((col("px") + cellSize) / b).cast("long"))))
        .withColumn("by", explode(sequence(floor(col("py") / b).cast("long"),
          floor((col("py") + cellSize) / b).cast("long"))))
        .join(pb, Seq("bx", "by"))
        .filter(graft.geo.GeoExpressions.stIntersectsBox(col("geom"),
          col("px"), col("py"), col("px") + cellSize, col("py") + cellSize))
        .select(col("rect_id"), col("event_id")).distinct()
        .groupBy(col("rect_id"))
        .agg(count(lit(1)).as("n_cells"))
        .orderBy(asc_nulls_first("rect_id"))
    },
    Some("""WITH p AS (SELECT event_id,
               (event_id % 1000) / 1000.0 * 10.0 + 0.0011 AS px,
               ((event_id * 7) % 1000) / 1000.0 * 10.0 + 0.0011 AS py FROM events),
      r AS (SELECT i.g * 5 + j.g AS rect_id,
                   (i.g * 5 + j.g) % 5 * 2.0 AS xmin, CAST(floor((i.g * 5 + j.g) / 5) AS BIGINT) * 2.0 AS ymin
            FROM generate_series(0, 4) i(g), generate_series(0, 4) j(g))
      SELECT rect_id, COUNT(*) AS n_cells
      FROM (SELECT DISTINCT rect_id, event_id
            FROM p JOIN r ON px < xmin + 2.0 AND px + 0.377773 > xmin
                         AND py < ymin + 2.0 AND py + 0.377773 > ymin)
      GROUP BY rect_id ORDER BY rect_id ASC NULLS FIRST"""),
    "cell-coverage spatial join via st_intersects_box, DuckDB-oracle-checked")

  /** Events-derived points shared by the oracle-checked zonal twins
    * (q58/q59/q60): px/py from exact integer arithmetic (the q53
    * technique), elev a deterministic 0.1-step measure with a ~2% null
    * stripe mirroring the elevation fixture's NA cells. */
  private def oraclePoints(s: SparkSession, dir: String): DataFrame =
    graft.T(s, dir, "events").select(
      col("event_id"),
      (pmod(col("event_id"), lit(1000)).cast(DoubleType) / 1000.0 * 10.0).as("px"),
      (pmod(col("event_id") * 7, lit(1000)).cast(DoubleType) / 1000.0 * 10.0).as("py"),
      when(pmod(col("event_id"), lit(53)) === 0, lit(null).cast(DoubleType))
        .otherwise(pmod(col("event_id"), lit(4000)).cast(DoubleType) / 10.0).as("elev"))

  private val oraclePointsSql =
    """SELECT event_id,
         (event_id % 1000) / 1000.0 * 10.0 AS px,
         ((event_id * 7) % 1000) / 1000.0 * 10.0 AS py,
         CASE WHEN event_id % 53 = 0 THEN NULL
              ELSE (event_id % 4000) / 10.0 END AS elev
       FROM events"""

  /** Decimal-exact mean (sum is order-independent in both engines), rounded
    * for the hash compare — the Q-scaladoc float-agg convention. */
  private def exactMean(c: Column): Column =
    round(sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))
      .cast(DoubleType) / count(c), 4)

  /** q41's twin, ORACLE-CHECKED: zonal mean elevation through the real
    * envelope-bucket spatialJoin + ray-cast machinery, zones = 5 vertical
    * strips (the admin-fixture shape) derivable in DuckDB as plain range
    * predicates. */
  private val q58 = Q(
    "q58_zonal_mean_oracle",
    (s, dir) => {
      val pts = oraclePoints(s, dir).filter(col("elev").isNotNull)
      val strips = s.range(5).select(
        concat(lit("Region "), (col("id") + 1).cast("string")).as("name_1"),
        G.stMakeBox(col("id").cast(DoubleType) * 2.0, lit(0.0),
          (col("id") + 1).cast(DoubleType) * 2.0, lit(10.0)).as("geom"))
      spatialJoin(pts, broadcast(strips), "px", "py", "geom", 1.0)
        .groupBy(col("name_1"))
        .agg(exactMean(col("elev")).as("mean_elev"), count(lit(1)).as("n_cells"))
        .orderBy(asc_nulls_first("name_1"))
    },
    Some(s"""WITH p AS ($oraclePointsSql),
      r AS (SELECT g AS region_id, g * 2.0 AS xmin FROM generate_series(0, 4) t(g))
      SELECT 'Region ' || CAST(region_id + 1 AS VARCHAR) AS name_1,
             round(CAST(SUM(CAST(elev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(elev), 4) AS mean_elev,
             COUNT(elev) AS n_cells
      FROM p JOIN r ON px >= xmin AND px < xmin + 2.0
      WHERE elev IS NOT NULL
      GROUP BY 1 ORDER BY name_1 ASC NULLS FIRST"""),
    "R1/J2+A3 zonal mean, DuckDB-oracle-checked (q41 twin via the q53 box technique)")

  /** q42's twin, ORACLE-CHECKED: the full A7+A8 pipeline (min over zonal
    * means → 20 m left-closed bins → frequency) over a 10×10 zone grid so
    * the histogram is non-degenerate (several bins). */
  private val q59 = Q(
    "q59_zonal_histogram_oracle",
    (s, dir) => {
      val pts = oraclePoints(s, dir).filter(col("elev").isNotNull)
      val rects = s.range(100).select(
        col("id").as("rect_id"),
        G.stMakeBox((col("id") % 10).cast(DoubleType), floor(col("id") / 10).cast(DoubleType),
          (col("id") % 10 + 1).cast(DoubleType), (floor(col("id") / 10) + 1).cast(DoubleType)).as("geom"))
      // single-pass global min (window over the 100-row zonal frame) — the
      // agg-then-cross-join shape re-executed the spatial-join subtree
      spatialJoin(pts, broadcast(rects), "px", "py", "geom", 1.0)
        .groupBy(col("rect_id"))
        .agg(exactMean(col("elev")).as("mean_elev"))
        .withColumn("mn", min(col("mean_elev"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(floor((col("mean_elev") - col("mn")) / 20.0).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("freq"))
        .orderBy(asc_nulls_first("bin"))
    },
    Some(s"""WITH p AS ($oraclePointsSql),
      r AS (SELECT i.g * 10 + j.g AS rect_id,
                   (i.g * 10 + j.g) % 10 * 1.0 AS xmin,
                   CAST(floor((i.g * 10 + j.g) / 10) AS BIGINT) * 1.0 AS ymin
            FROM generate_series(0, 9) i(g), generate_series(0, 9) j(g)),
      z AS (SELECT rect_id,
                   round(CAST(SUM(CAST(elev AS DECIMAL(18,6))) AS DOUBLE) / COUNT(elev), 4) AS mean_elev
            FROM p JOIN r ON px >= xmin AND px < xmin + 1.0 AND py >= ymin AND py < ymin + 1.0
            WHERE elev IS NOT NULL GROUP BY rect_id),
      m AS (SELECT min(mean_elev) AS mn FROM z)
      SELECT CAST(floor((mean_elev - mn) / 20.0) AS BIGINT) AS bin, COUNT(*) AS freq
      FROM z, m GROUP BY 1 ORDER BY bin ASC NULLS FIRST"""),
    "A7+A8 histogram of zonal means, DuckDB-oracle-checked (q42 twin, non-degenerate)")

  /** q45's twin, ORACLE-CHECKED: per-polygon point count at full fan-out
    * with ZERO-count polygons preserved (left join after the spatial join —
    * the reference's per-geometry loop emits empty collections too,
    * load_report.py:139-153). 36 rects over [0,12]² vs points in [0,10)² ⇒
    * 11 rects provably empty. */
  private val q60 = Q(
    "q60_left_spatial_count_oracle",
    (s, dir) => {
      val pts = oraclePoints(s, dir)
      val rects = s.range(36).select(
        col("id").as("rect_id"),
        G.stMakeBox((col("id") % 6).cast(DoubleType) * 2.0,
          floor(col("id") / 6).cast(DoubleType) * 2.0,
          (col("id") % 6 + 1).cast(DoubleType) * 2.0,
          (floor(col("id") / 6) + 1).cast(DoubleType) * 2.0).as("geom"))
      val counts = spatialJoin(pts, broadcast(rects), "px", "py", "geom", 2.0)
        .groupBy(col("rect_id")).agg(count(lit(1)).as("n"))
      rects.select(col("rect_id"))
        .join(counts, Seq("rect_id"), "left")
        .select(col("rect_id"), coalesce(col("n"), lit(0L)).as("n_points"))
        .orderBy(asc_nulls_first("rect_id"))
    },
    Some(s"""WITH p AS ($oraclePointsSql),
      r AS (SELECT i.g * 6 + j.g AS rect_id,
                   (i.g * 6 + j.g) % 6 * 2.0 AS xmin,
                   CAST(floor((i.g * 6 + j.g) / 6) AS BIGINT) * 2.0 AS ymin
            FROM generate_series(0, 5) i(g), generate_series(0, 5) j(g))
      SELECT rect_id, COUNT(px) AS n_points
      FROM r LEFT JOIN p ON px >= xmin AND px < xmin + 2.0 AND py >= ymin AND py < ymin + 2.0
      GROUP BY rect_id ORDER BY rect_id ASC NULLS FIRST"""),
    "J3+A6 zero-preserving spatial count, DuckDB-oracle-checked (q45 twin)")

  // ---- NDVI analytical core, ORACLE-CHECKED (q43/q44 twins) --------------

  /** Synthetic scene table for the NDVI oracle twins: every column derived
    * from `events.event_id` by exact integer arithmetic, so DuckDB
    * reproduces bit-identical doubles (IEEE ops on identical inputs are
    * deterministic). 20×20 cell grid over [0,10)², `nMonths` months from
    * `startYear`-01; month index `dropMi` has no scenes (exercises the
    * month-spine null path, mirroring the fixture's sceneless 2019-03);
    * days run 1..28 (Feb) / 1..30 (others) so the GEE month-end quirk
    * (geeMonthWindow) drops rows at BOTH bounds. `mixed` folds in
    * `event_id div (400*nMonths)` so day/b4/b5 decorrelate from the
    * (cell, month) residue class. */
  private def ndviOracleScenes(s: SparkSession, dir: String, nMonths: Int,
      startYear: Int, dropMi: Int): DataFrame = {
    val p = 400L * nMonths
    graft.T(s, dir, "events").select(col("event_id"))
      .withColumn("mi", expr(s"(event_id div 400) % $nMonths").cast("int"))
      .filter(col("mi") =!= dropMi)
      .withColumn("mixed", expr(s"event_id + event_id div $p"))
      .withColumn("day", expr(
        "cast(CASE WHEN mi % 12 = 1 THEN mixed % 28 + 1 ELSE mixed % 30 + 1 END as int)"))
      .select(
        expr(s"make_date($startYear + mi div 12, mi % 12 + 1, day)").as("date"),
        ((col("event_id") % 20).cast(DoubleType) * 0.5 + 0.25).as("cell_lon"),
        (expr("(event_id div 20) % 20").cast(DoubleType) * 0.5 + 0.25).as("cell_lat"),
        (lit(0.1) + (col("mixed") % 150).cast(DoubleType) / 1000.0).as("sr_b4"),
        (lit(0.2) + ((col("mixed") * 3) % 350).cast(DoubleType) / 1000.0).as("sr_b5"))
  }

  /** 5 vertical strip "parcels" over the twin grid — keterangan k ⟺
    * floor(px/2)=k, a plain range predicate in DuckDB. */
  private def ndviOracleStrips(s: SparkSession): DataFrame =
    s.range(5).select(
      concat(lit("Mangrove "), (col("id") + 1).cast("string")).as("keterangan"),
      G.stMakeBox(col("id").cast(DoubleType) * 2.0, lit(0.0),
        (col("id") + 1).cast(DoubleType) * 2.0, lit(10.0)).as("geom"))

  /** DuckDB mirror of ndviByMonth over ndviOracleScenes: same month-window
    * quirk, same strip containment, two-level median→decimal-mean, month
    * spine with nulls. */
  private def ndviOracleSql(nMonths: Int, startYear: Int, dropMi: Int): String = {
    val p = 400L * nMonths
    s"""WITH base AS (
         SELECT event_id,
                CAST((event_id // 400) % $nMonths AS INT) AS mi,
                event_id + event_id // $p AS mixed
         FROM events WHERE (event_id // 400) % $nMonths <> $dropMi),
       sc AS (
         SELECT mi,
                CASE WHEN mi % 12 = 1 THEN mixed % 28 + 1 ELSE mixed % 30 + 1 END AS day,
                (event_id % 20) * 0.5 + 0.25 AS px,
                ((event_id // 20) % 20) * 0.5 + 0.25 AS py,
                0.1 + (mixed % 150) / 1000.0 AS sr_b4,
                0.2 + ((mixed * 3) % 350) / 1000.0 AS sr_b5
         FROM base),
       filt AS (
         SELECT * FROM sc
         WHERE day < CASE WHEN mi % 12 = 1 THEN 28 ELSE 30 END),
       med AS (
         SELECT CAST(floor(px / 2.0) AS BIGINT) AS strip, px, py, mi,
                median((sr_b5 - sr_b4) / (sr_b5 + sr_b4)) AS ndvi_med
         FROM filt GROUP BY 1, 2, 3, 4),
       agg AS (
         SELECT strip, mi,
                round(CAST(SUM(CAST(ndvi_med AS DECIMAL(28,14))) AS DOUBLE)
                      / COUNT(*), 6) AS ndvi
         FROM med GROUP BY 1, 2),
       spine AS (SELECT s.g AS strip, m.g AS mi
                 FROM generate_series(0, 4) s(g),
                      generate_series(0, ${nMonths - 1}) m(g))
       SELECT 'Mangrove ' || CAST(spine.strip + 1 AS VARCHAR) AS keterangan,
              CAST($startYear + spine.mi // 12 AS VARCHAR) || '-' ||
                lpad(CAST(spine.mi % 12 + 1 AS VARCHAR), 2, '0') AS month,
              agg.ndvi AS ndvi
       FROM spine LEFT JOIN agg ON spine.strip = agg.strip AND spine.mi = agg.mi
       ORDER BY keterangan ASC NULLS FIRST, month ASC NULLS FIRST"""
  }

  /** q43's twin, ORACLE-CHECKED: the R2 monthly-NDVI pipeline — ndviByMonth
    * verbatim (geeMonthWindow filter → bucket spatial join → NDVI → per-cell
    * median composite → per-category decimal mean → month-spine LEFT JOIN)
    * on events-derived scenes, vs DuckDB median/generate_series. One
    * sceneless month (March) proves the spine-null path. */
  private val q68 = Q(
    "q68_ndvi_monthly_oracle",
    (s, dir) => ndviByMonth(s, ndviOracleScenes(s, dir, 12, 2023, 2),
      ndviOracleStrips(s), 1.0,
      s.range(12).select(
        expr("add_months(date '2023-01-01', id)").cast("timestamp").as("month_ts")))
      .orderBy(asc_nulls_first("keterangan"), asc_nulls_first("month")),
    Some(ndviOracleSql(12, 2023, 2)),
    "R2 monthly NDVI (median composite + spine), DuckDB-oracle-checked q43 twin")

  /** q44's twin, ORACLE-CHECKED: the R3 multi-year series over a 72-month
    * spine with the fixture's sceneless 2019-03 (mi=14) reproduced. */
  private val q69 = Q(
    "q69_ndvi_series_oracle",
    (s, dir) => ndviByMonth(s, ndviOracleScenes(s, dir, 72, 2018, 14),
      ndviOracleStrips(s), 1.0,
      s.range(monthsTotal).select(
        expr("add_months(date '2018-01-01', id)").cast("timestamp").as("month_ts")))
      .orderBy(asc_nulls_first("keterangan"), asc_nulls_first("month")),
    Some(ndviOracleSql(72, 2018, 14)),
    "R3 multi-year NDVI series, DuckDB-oracle-checked q44 twin")

  // ---- area / centroid / bounds, ORACLE-CHECKED (q46/q47 twins) ----------

  /** Axis-aligned boxes synthesized in 3857-like planar coords from events
    * ints: every coordinate is an integral double, so the shoelace area is
    * EXACTLY w·h and the area-weighted centroid is EXACTLY the midpoint in
    * IEEE arithmetic — DuckDB reproduces both by plain box arithmetic. */
  private def oracleBoxes(s: SparkSession, dir: String): DataFrame =
    graft.T(s, dir, "events").select(
      col("event_id"),
      concat(lit("Cat "), (col("event_id") % 7).cast("string")).as("category"),
      ((col("event_id") % 100).cast(DoubleType) * 100.0).as("bxmin"),
      (((col("event_id") * 7) % 100).cast(DoubleType) * 100.0).as("bymin"),
      (lit(10) + col("event_id") % 50).cast(DoubleType).as("w"),
      (lit(10) + (col("event_id") * 3) % 50).cast(DoubleType).as("h"))
      .select(col("event_id"), col("category"),
        G.stMakeBox(col("bxmin"), col("bymin"),
          col("bxmin") + col("w"), col("bymin") + col("h")).as("geom"))

  private val oracleBoxesSql =
    """SELECT event_id,
         'Cat ' || CAST(event_id % 7 AS VARCHAR) AS category,
         (event_id % 100) * 100.0 AS bxmin,
         ((event_id * 7) % 100) * 100.0 AS bymin,
         10 + (event_id % 50) AS w,
         10 + ((event_id * 3) % 50) AS h
       FROM events"""

  /** q46's twin, ORACLE-CHECKED: per-category summed area in ha through
    * the native codegen shoelace kernel (st_area_native), vs w·h box
    * arithmetic in DuckDB. Decimal-cast sum per the Q parity convention. */
  private val q70 = Q(
    "q70_area_oracle",
    (s, dir) => {
      graft.geo.GeoExpressions.ensureRegistered(s)
      oracleBoxes(s, dir)
        .groupBy(col("category"))
        .agg(
          round(sum(graft.geo.GeoExpressions.stAreaNative(col("geom"))
            .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
            .cast(DoubleType) / 10000.0, 6).as("area_ha"),
          count(lit(1)).as("n_boxes"))
        .orderBy(asc_nulls_first("category"))
    },
    Some(s"""WITH b AS ($oracleBoxesSql)
      SELECT category,
             round(CAST(SUM(CAST(w * h AS DECIMAL(28,6))) AS DOUBLE) / 10000.0, 6) AS area_ha,
             COUNT(*) AS n_boxes
      FROM b GROUP BY category ORDER BY category ASC NULLS FIRST"""),
    "G2/G3+A2 per-category area via the native shoelace kernel, DuckDB-oracle-checked (q46 twin)")

  /** q47's twin, ORACLE-CHECKED: per-category mean centroid (area-weighted
    * kernel = exact midpoint on boxes) + total bounds through
    * stCentroid/stEnvelope, vs midpoint/min/max arithmetic in DuckDB. */
  private val q71 = Q(
    "q71_centroid_bounds_oracle",
    (s, dir) =>
      oracleBoxes(s, dir)
        .withColumn("c", G.stCentroid(col("geom")))
        .withColumn("env", G.stEnvelope(col("geom")))
        .groupBy(col("category"))
        .agg(
          round(avg(element_at(col("c"), 1)), 6).as("centroid_x"),
          round(avg(element_at(col("c"), 2)), 6).as("centroid_y"),
          round(min(col("env._1")), 6).as("bxmin"), round(min(col("env._2")), 6).as("bymin"),
          round(max(col("env._3")), 6).as("bxmax"), round(max(col("env._4")), 6).as("bymax"))
        .orderBy(asc_nulls_first("category")),
    Some(s"""WITH b AS ($oracleBoxesSql)
      SELECT category,
             round(AVG(bxmin + w / 2.0), 6) AS centroid_x,
             round(AVG(bymin + h / 2.0), 6) AS centroid_y,
             round(MIN(bxmin), 6) AS bxmin, round(MIN(bymin), 6) AS bymin,
             round(MAX(bxmin + w), 6) AS bxmax, round(MAX(bymin + h), 6) AS bymax
      FROM b GROUP BY category ORDER BY category ASC NULLS FIRST"""),
    "G4+G5/A10 centroid + total bounds via the geometry kernel, DuckDB-oracle-checked (q47 twin)")

  /** q200, ORACLE-CHECKED — the q45 COMPOSITION twin: the CRS transform
    * INSIDE the bucketed spatial-join path (q60 proves the join alone,
    * q49/q70 the transforms and areas alone — this proves the
    * composition under an oracle, which r7 left rows-only). Polygons are
    * axis-aligned Web-Mercator boxes transformed 3857→4326 by the
    * engine's geometry kernel before the join, exactly q45's
    * transform-then-join shape; the inverse spherical Mercator is
    * closed-form (lat = 2·atan(e^{y/R}) − π/2) and SEPARABLE per axis,
    * so transformed quads stay axis-aligned rectangles and DuckDB
    * replays the whole pipeline with exp/atan arithmetic. Points are
    * integer-quantized WGS84 lon/lats from events (q53's convention);
    * box boundaries are transcendental, the point grid centesimal, so no
    * point sits within ulps of a boundary and the ≤1-ulp libm spread
    * between JVM and DuckDB cannot flip containment. Ray-cast on
    * axis-aligned boxes is left-closed containment, mirrored by the
    * oracle's half-open range join. */
  private val q200 = Q(
    "q200_transform_join_oracle",
    (s, dir) => {
      val pts = graft.T(s, dir, "events").select(
        col("event_id"),
        (lit(100.0) + pmod(col("event_id"), lit(1000)).cast(DoubleType) * 0.01).as("px"),
        (lit(-8.0) + pmod(col("event_id") * 7, lit(1000)).cast(DoubleType) * 0.008).as("py"))
      val rects = s.range(36).select(
        col("id").as("rect_id"),
        G.stTransform(
          G.stMakeBox(
            lit(11130000.0) + (col("id") % 6).cast(DoubleType) * 150000.0,
            lit(-900000.0) + floor(col("id") / 6).cast(DoubleType) * 150000.0,
            lit(11130000.0) + (col("id") % 6 + 1).cast(DoubleType) * 150000.0,
            lit(-900000.0) + (floor(col("id") / 6) + 1).cast(DoubleType) * 150000.0),
          lit(Crs.WebMercator), lit(Crs.WGS84)).as("geom"))
      spatialJoin(pts, broadcast(rects), "px", "py", "geom", 1.5)
        .groupBy(col("rect_id"))
        .agg(count(lit(1)).as("n_points"), sum(col("event_id")).as("sum_ids"))
        .orderBy(asc_nulls_first("rect_id"))
    },
    Some("""WITH p AS (SELECT event_id,
               100.0 + (event_id % 1000) * 0.01 AS px,
               -8.0 + ((event_id * 7) % 1000) * 0.008 AS py
             FROM events),
      r AS (SELECT g AS rect_id,
              degrees((11130000.0 + (g % 6) * 150000.0) / 6378137.0) AS lonmin,
              degrees((11130000.0 + (g % 6 + 1) * 150000.0) / 6378137.0) AS lonmax,
              degrees(2 * atan(exp((-900000.0 + (g // 6) * 150000.0) / 6378137.0)) - pi() / 2) AS latmin,
              degrees(2 * atan(exp((-900000.0 + (g // 6 + 1) * 150000.0) / 6378137.0)) - pi() / 2) AS latmax
            FROM generate_series(0, 35) t(g))
      SELECT rect_id, COUNT(*) AS n_points, CAST(SUM(event_id) AS BIGINT) AS sum_ids
      FROM r JOIN p ON px >= lonmin AND px < lonmax AND py >= latmin AND py < latmax
      GROUP BY rect_id ORDER BY rect_id ASC NULLS FIRST"""),
    "J3∘G2 CRS transform inside the bucketed spatial join, DuckDB-oracle-checked (q45 composition twin)")

  /** q201, ORACLE-CHECKED — the q47 COMPOSITION twin: transform THEN
    * centroid/envelope (q71 proves the centroid/bounds kernel on raw
    * boxes; q47 composes it after a CRS transform, rows-only in r7).
    * Same closed-form inverse-Mercator trick as q200; the shoelace
    * area-weighted centroid of the (still axis-aligned) transformed
    * rectangle is its midpoint to ~1e-16 relative error, so the oracle's
    * midpoint arithmetic matches under round(8) (coords here are
    * ~1e-1 degrees: 8 decimals leaves 5 orders of margin over both the
    * libm ulp spread and double-sum order drift in AVG). */
  private val q201 = Q(
    "q201_transform_centroid_oracle",
    (s, dir) =>
      oracleBoxes(s, dir)
        .withColumn("g4326",
          G.stTransform(col("geom"), lit(Crs.WebMercator), lit(Crs.WGS84)))
        .withColumn("c", G.stCentroid(col("g4326")))
        .withColumn("env", G.stEnvelope(col("g4326")))
        .groupBy(col("category"))
        .agg(
          round(avg(element_at(col("c"), 1)), 8).as("centroid_lon"),
          round(avg(element_at(col("c"), 2)), 8).as("centroid_lat"),
          round(min(col("env._1")), 8).as("lonmin"), round(min(col("env._2")), 8).as("latmin"),
          round(max(col("env._3")), 8).as("lonmax"), round(max(col("env._4")), 8).as("latmax"))
        .orderBy(asc_nulls_first("category")),
    Some(s"""WITH b AS ($oracleBoxesSql),
      t AS (SELECT category,
              degrees(bxmin / 6378137.0) AS lonmin,
              degrees((bxmin + w) / 6378137.0) AS lonmax,
              degrees(2 * atan(exp(bymin / 6378137.0)) - pi() / 2) AS latmin,
              degrees(2 * atan(exp((bymin + h) / 6378137.0)) - pi() / 2) AS latmax
            FROM b)
      SELECT category,
             round(AVG((lonmin + lonmax) / 2.0), 8) AS centroid_lon,
             round(AVG((latmin + latmax) / 2.0), 8) AS centroid_lat,
             round(MIN(lonmin), 8) AS lonmin, round(MIN(latmin), 8) AS latmin,
             round(MAX(lonmax), 8) AS lonmax, round(MAX(latmax), 8) AS latmax
      FROM t GROUP BY category ORDER BY category ASC NULLS FIRST"""),
    "G2∘G4/G5 transform-then-centroid/bounds composition, DuckDB-oracle-checked (q47 composition twin)")

  /** q202, ORACLE-CHECKED — the q45 twin on NON-rectangular polygons:
    * every prior join twin (q53/q54/q58/q59/q60/q200) used axis-aligned
    * boxes, where ray-cast containment degenerates to range comparisons;
    * this one runs the SAME bucket-join + ray-cast machinery against
    * TRIANGLES with ±2-slope edges, which DuckDB mirrors as half-plane
    * inequalities. Tie-immunity is by construction, not rounding:
    * points sit on the integer lattice, triangle vertices on the
    * half-integer lattice, and every edge slope is in {0, ±2} — so an
    * edge never passes through a point, a ray never passes through a
    * vertex, and the ray-cast's crossing arithmetic (slope-2 edges
    * divide by 2: exact in binary) is EXACT, making both engines'
    * comparisons ties-free and bit-deterministic. */
  private val q202 = Q(
    "q202_triangle_join_oracle",
    (s, dir) => {
      // px and py from INDEPENDENT digits of event_id (mod vs div) — a
      // shared modulus would collapse the grid onto one 40-point line
      val pts = graft.T(s, dir, "events").select(
        col("event_id"),
        pmod(col("event_id"), lit(40)).cast(DoubleType).as("px"),
        pmod(expr("event_id div 40"), lit(40)).cast(DoubleType).as("py"))
      // 3x3 grid of upward triangles: base 8, height 8, apex x = cx+0.5
      val tris = s.range(9).select(
        col("id").as("tri_id"),
        (lit(4.0) + (col("id") % 3).cast(DoubleType) * 13.0).as("cx"),
        (lit(4.0) + floor(col("id") / 3).cast(DoubleType) * 13.0).as("cy"))
        .select(col("tri_id"),
          G.stMakeTriangle(
            col("cx") - 3.5, col("cy") - 0.5,   // A: bottom-left
            col("cx") + 4.5, col("cy") - 0.5,   // B: bottom-right
            col("cx") + 0.5, col("cy") + 7.5    // C: apex
          ).as("geom"))
      spatialJoin(pts, broadcast(tris), "px", "py", "geom", 4.0)
        .groupBy(col("tri_id"))
        .agg(count(lit(1)).as("n_points"), sum(col("event_id")).as("sum_ids"))
        .orderBy(asc_nulls_first("tri_id"))
    },
    Some("""WITH p AS (SELECT event_id,
               CAST(event_id % 40 AS DOUBLE) AS px,
               CAST((event_id // 40) % 40 AS DOUBLE) AS py
             FROM events),
      t AS (SELECT g AS tri_id,
              4.0 + (g % 3) * 13.0 AS cx,
              4.0 + (g // 3) * 13.0 AS cy
            FROM generate_series(0, 8) s(g))
      SELECT tri_id, COUNT(*) AS n_points, CAST(SUM(event_id) AS BIGINT) AS sum_ids
      FROM t JOIN p
        ON py > cy - 0.5
       AND py < 2 * (px - cx) + cy + 6.5
       AND py < -2 * (px - cx) + cy + 8.5
      GROUP BY tri_id ORDER BY tri_id ASC NULLS FIRST"""),
    "J3 ray-cast spatial join on slanted-edge triangles (not the box special case), DuckDB-oracle-checked (q45 direct twin)")

  /** q203, ORACLE-CHECKED — the q47/q46 twin on NON-rectangular
    * polygons: shoelace area, area-weighted centroid, and envelope of
    * per-event triangles, vs closed forms in DuckDB (triangle area =
    * base·height/2 with base = height = 2k+4, exact in both engines;
    * centroid = vertex mean — mathematically identical to the shoelace
    * centroid, IEEE-different, killed by round(6) with 11 orders of
    * margin at coordinate scale ~1e2). q71 proved these kernels on
    * boxes, where the shoelace terms collapse pairwise; triangles
    * exercise the general path. */
  private val q203 = Q(
    "q203_triangle_metrics_oracle",
    (s, dir) => {
      graft.geo.GeoExpressions.ensureRegistered(s)
      val tri = graft.T(s, dir, "events").select(
        concat(lit("Cat "), (col("event_id") % 7).cast("string")).as("category"),
        pmod(col("event_id"), lit(90)).cast(DoubleType).as("cx"),
        pmod(col("event_id") * 3, lit(90)).cast(DoubleType).as("cy"),
        (lit(1) + pmod(col("event_id"), lit(5))).cast(DoubleType).as("k"))
        .select(col("category"),
          G.stMakeTriangle(
            col("cx") - col("k") - 1.5, col("cy") - 0.5,
            col("cx") + col("k") + 2.5, col("cy") - 0.5,
            col("cx") + 0.5, col("cy") + col("k") * 2 + 3.5).as("geom"))
      tri
        .withColumn("area", graft.geo.GeoExpressions.stAreaNative(col("geom")))
        .withColumn("c", G.stCentroid(col("geom")))
        .withColumn("env", G.stEnvelope(col("geom")))
        .groupBy(col("category"))
        .agg(
          round(sum(col("area").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
            .cast(DoubleType) / 10000.0, 6).as("area_ha"),
          round(avg(element_at(col("c"), 1)), 6).as("centroid_x"),
          round(avg(element_at(col("c"), 2)), 6).as("centroid_y"),
          round(min(col("env._1")), 6).as("bxmin"), round(min(col("env._2")), 6).as("bymin"),
          round(max(col("env._3")), 6).as("bxmax"), round(max(col("env._4")), 6).as("bymax"))
        .orderBy(asc_nulls_first("category"))
    },
    Some("""WITH t AS (SELECT
               'Cat ' || CAST(event_id % 7 AS VARCHAR) AS category,
               CAST(event_id % 90 AS DOUBLE) AS cx,
               CAST((event_id * 3) % 90 AS DOUBLE) AS cy,
               CAST(1 + event_id % 5 AS DOUBLE) AS k
             FROM events)
      SELECT category,
             round(CAST(SUM(CAST((2*k+4) * (2*k+4) / 2.0 AS DECIMAL(28,6))) AS DOUBLE) / 10000.0, 6) AS area_ha,
             round(AVG(((cx-k-1.5) + (cx+k+2.5) + (cx+0.5)) / 3.0), 6) AS centroid_x,
             round(AVG(((cy-0.5) + (cy-0.5) + (cy+2*k+3.5)) / 3.0), 6) AS centroid_y,
             round(MIN(cx-k-1.5), 6) AS bxmin, round(MIN(cy-0.5), 6) AS bymin,
             round(MAX(cx+k+2.5), 6) AS bxmax, round(MAX(cy+2*k+3.5), 6) AS bymax
      FROM t GROUP BY category ORDER BY category ASC NULLS FIRST"""),
    "G3/G4/G5 shoelace area + centroid + envelope on triangles (general shoelace path, not the box collapse), DuckDB-oracle-checked (q47 direct twin)")

  /** q40's twin, ORACLE-CHECKED: the full flagship composition — per-
    * category ST_Union (the REAL dissolve: each category is two adjacent
    * boxes that merge across their shared edge), area sum, monthly-NDVI
    * variance, argmax + inference CASE, Metric/Value pivot — over
    * oracle-able synthetic inputs. DuckDB computes the merged areas as box
    * arithmetic and the variance from the q68 scene CTEs. */
  private val q74 = Q(
    "q74_flagship_oracle",
    (s, dir) => {
      // two half-strips per category: [2k,2k+1] and [2k+1,2k+2] × [0,10]
      val halves = s.range(10).select(
        concat(lit("Mangrove "), (expr("id div 2") + 1).cast("string")).as("keterangan"),
        G.stMakeBox(col("id").cast(DoubleType), lit(0.0),
          (col("id") + 1).cast(DoubleType), lit(10.0)).as("geom"))
      val geoms = halves.groupBy(col("keterangan"))
        .agg(G.stUnionCollect(col("geom")).as("geom"))
      val monthly = ndviByMonth(s, ndviOracleScenes(s, dir, 12, 2023, 2),
        halves, 1.0,
        s.range(12).select(
          expr("add_months(date '2023-01-01', id)").cast("timestamp").as("month_ts")))
      reportFrom(s, geoms, monthly, (g: Column) => g)
        .orderBy(asc_nulls_first("Metric"))
    },
    Some(s"""WITH base AS (
         SELECT event_id, CAST((event_id // 400) % 12 AS INT) AS mi,
                event_id + event_id // 4800 AS mixed
         FROM events WHERE (event_id // 400) % 12 <> 2),
       sc AS (
         SELECT mi,
                CASE WHEN mi % 12 = 1 THEN mixed % 28 + 1 ELSE mixed % 30 + 1 END AS day,
                (event_id % 20) * 0.5 + 0.25 AS px,
                ((event_id // 20) % 20) * 0.5 + 0.25 AS py,
                0.1 + (mixed % 150) / 1000.0 AS sr_b4,
                0.2 + ((mixed * 3) % 350) / 1000.0 AS sr_b5
         FROM base),
       filt AS (SELECT * FROM sc WHERE day < CASE WHEN mi % 12 = 1 THEN 28 ELSE 30 END),
       med AS (
         SELECT CAST(floor(px / 2.0) AS BIGINT) AS strip, px, py, mi,
                median((sr_b5 - sr_b4) / (sr_b5 + sr_b4)) AS ndvi_med
         FROM filt GROUP BY 1, 2, 3, 4),
       agg AS (
         SELECT strip, mi,
                round(CAST(SUM(CAST(ndvi_med AS DECIMAL(28,14))) AS DOUBLE)
                      / COUNT(*), 6) AS ndvi
         FROM med GROUP BY 1, 2),
       v AS (
         SELECT 'Mangrove ' || CAST(strip + 1 AS VARCHAR) AS keterangan,
                round(var_samp(ndvi), 12) AS variance
         FROM agg GROUP BY strip),
       top AS (SELECT * FROM v
               ORDER BY variance DESC NULLS LAST, keterangan ASC NULLS FIRST LIMIT 1),
       area AS (
         -- 5 categories × two adjacent 1×10 boxes merged = 2×10 each
         SELECT SUM(2.0 * 10.0) / 10000.0 AS total_ha FROM generate_series(0, 4)),
       rep AS (
         SELECT 'Analysis Type' AS "Metric", 'mangrove' AS "Value"
         UNION ALL
         SELECT 'Total Mangrove Area (hectares)', printf('%.2f', total_ha) FROM area
         UNION ALL
         SELECT 'Highest Variation Area', keterangan FROM top
         UNION ALL
         SELECT 'Variance of Highest Variation', printf('%.12f', variance) FROM top
         UNION ALL
         SELECT 'Inference',
                CASE WHEN variance > 0.5 THEN 'High variance observed, indicating significant changes in vegetation.'
                     WHEN variance > 0.2 THEN 'Moderate variance observed, indicating some changes in vegetation.'
                     ELSE 'Low variance observed, indicating stable vegetation.' END
         FROM top)
       SELECT "Metric", "Value" FROM rep ORDER BY "Metric" ASC NULLS FIRST"""),
    "flagship report composition (dissolve + area + variance + argmax + pivot), DuckDB-oracle-checked q40 twin")

  // ---- the FIXTURE-shaped direct twins (q212/q213) -----------------------

  /** The [[parcels]] grid construction with its one engine-opaque
    * ingredient — the xxhash64 jitter [[u]] — replaced by an LCG mod a
    * PRIME (99991) both engines evaluate in integer arithmetic: 36
    * jittered boxes on a 6×6 grid, centers (2i+1 ± 0.1-cell jitter),
    * half-width 0.8 (the fixture's 0.4·cell shape). The prime modulus
    * keeps every derived coordinate a rational with denominator
    * 5·99991 — never exactly on a rounding or containment boundary of
    * the 0.25-step point grid (disjoint denominators), so float
    * equality never decides an answer. */
  private def jitteredParcelGrid(s: SparkSession): DataFrame =
    s.range(36).select(
      col("id"),
      ((col("id") % 6).cast(DoubleType) * 2.0 + 1.0
        + (pmod(col("id") * 1103515245L + 12345L, lit(99991L)).cast(DoubleType) / 99991.0
          - 0.5) * 0.2).as("cx"),
      (floor(col("id") / 6).cast(DoubleType) * 2.0 + 1.0
        + (pmod(col("id") * 69069L + 12345L, lit(99991L)).cast(DoubleType) / 99991.0
          - 0.5) * 0.2).as("cy"))

  private val jitteredParcelGridSql =
    """SELECT g AS id,
         (g % 6) * 2.0 + 1.0 + (((g * 1103515245 + 12345) % 99991) / 99991.0 - 0.5) * 0.2 AS cx,
         (g // 6) * 2.0 + 1.0 + (((g * 69069 + 12345) % 99991) / 99991.0 - 0.5) * 0.2 AS cy
       FROM generate_series(0, 35) t(g)"""

  /** q212, ORACLE-CHECKED — q45's DIRECT fixture-shaped twin: the
    * per-parcel scene count at full cell×month fan-out, on the
    * [[parcels]]-shaped jittered box grid and a [[scenes]]-shaped point
    * set (12-month fan-out per cell, one globally sceneless month, a
    * deterministic 1-in-37 hole pattern replacing the fixture's xxhash64
    * holes), through the REAL broadcast + bucket + ray-cast
    * [[spatialJoin]] with q45's inner-count semantics (zero-scene
    * parcels drop — here provably the top grid row, outside the point
    * envelope). q60 proved the count on exact-integer boxes and q200
    * the transform composition; this pins the remaining fixture traits:
    * jittered geometry and month-fan-out cardinality. */
  private val q212 = Q(
    "q212_parcel_fanout_oracle",
    (s, dir) => {
      val pts = graft.T(s, dir, "events")
        .filter(expr("(event_id div 400) % 12") =!= 2 && col("event_id") % 37 =!= 0)
        .select(col("event_id"),
          (pmod(col("event_id"), lit(20)).cast(DoubleType) * 0.5 + 0.25).as("px"),
          (pmod(expr("event_id div 20"), lit(20)).cast(DoubleType) * 0.5 + 0.25).as("py"))
      val rects = jitteredParcelGrid(s).select(col("id"),
        G.stMakeBox(col("cx") - 0.8, col("cy") - 0.8,
          col("cx") + 0.8, col("cy") + 0.8).as("geom"))
      spatialJoin(pts, broadcast(rects), "px", "py", "geom", 2.0)
        .groupBy(col("id")).agg(count(lit(1)).as("n_scenes"))
        .orderBy(asc_nulls_first("id"))
    },
    Some(s"""WITH p AS (
        SELECT event_id,
               (event_id % 20) * 0.5 + 0.25 AS px,
               ((event_id // 20) % 20) * 0.5 + 0.25 AS py
        FROM events
        WHERE (event_id // 400) % 12 <> 2 AND event_id % 37 <> 0),
      r AS ($jitteredParcelGridSql)
      SELECT id, COUNT(*) AS n_scenes
      FROM r JOIN p ON px >= cx - 0.8 AND px < cx + 0.8
                   AND py >= cy - 0.8 AND py < cy + 0.8
      GROUP BY id ORDER BY id ASC NULLS FIRST"""),
    "J3+A6 per-parcel count at cell-month fan-out on the jittered parcel-grid fixture shape, DuckDB-oracle-checked (q45 direct fixture twin)")

  /** q213, ORACLE-CHECKED — q47's DIRECT fixture-shaped twin: the
    * centroid/bounds report on the jittered parcel grid with the REAL
    * 17-way keterangan assignment (the fixture's category list and
    * id%17 indexing, 2-3 parcels per category), through
    * stCentroid/stEnvelope and q47's exact agg/round shape. The oracle
    * computes centroids as midpoints (= the shoelace value to ~1e-15;
    * round(6) at coordinate scale ~1e1 leaves 9 orders of margin) and
    * bounds as the same corner arithmetic. */
  private val q213 = Q(
    "q213_parcel_centroid_bounds_oracle",
    (s, dir) => {
      val kArr = array(keterangans.map(lit): _*)
      jitteredParcelGrid(s)
        .select(
          element_at(kArr, (col("id") % keterangans.size).cast("int") + 1).as("keterangan"),
          G.stMakeBox(col("cx") - 0.8, col("cy") - 0.8,
            col("cx") + 0.8, col("cy") + 0.8).as("geom"))
        .withColumn("c", G.stCentroid(col("geom")))
        .withColumn("env", G.stEnvelope(col("geom")))
        .groupBy(col("keterangan"))
        .agg(
          round(avg(element_at(col("c"), 1)), 6).as("centroid_x"),
          round(avg(element_at(col("c"), 2)), 6).as("centroid_y"),
          round(min(col("env._1")), 6).as("bxmin"), round(min(col("env._2")), 6).as("bymin"),
          round(max(col("env._3")), 6).as("bxmax"), round(max(col("env._4")), 6).as("bymax"))
        .orderBy(asc_nulls_first("keterangan"))
    },
    Some(s"""WITH r AS ($jitteredParcelGridSql),
      k AS (SELECT ${keterangans.map(k => s"'$k'").mkString("[", ", ", "]")}[CAST(id % ${keterangans.size} AS INTEGER) + 1] AS keterangan,
                   cx, cy FROM r)
      SELECT keterangan,
             round(AVG(cx), 6) AS centroid_x,
             round(AVG(cy), 6) AS centroid_y,
             round(MIN(cx - 0.8), 6) AS bxmin, round(MIN(cy - 0.8), 6) AS bymin,
             round(MAX(cx + 0.8), 6) AS bxmax, round(MAX(cy + 0.8), 6) AS bymax
      FROM k GROUP BY keterangan ORDER BY keterangan ASC NULLS FIRST"""),
    "G4+G5/A10 centroid/bounds on the jittered parcel fixture with the real 17-way keterangan assignment, DuckDB-oracle-checked (q47 direct fixture twin)")

  val all: Seq[Q] = Seq(q40, q41, q42, q43, q44, q45, q46, q47, q53, q54,
    q58, q59, q60, q68, q69, q70, q71, q74, q200, q201, q202, q203, q212, q213,
    q235)
}
