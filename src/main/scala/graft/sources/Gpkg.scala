package graft.sources

import graft.Q
import graft.geo.{Crs, Wkb, GeoFunctions => G}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GeoPackage layer scan (S1, SURVEY.md §2.1): GPKG = SQLite + a geometry
  * blob convention ('GP' header + envelope + WKB). Reads via the
  * dependency-free [[Sqlite]] reader, strips the blob header
  * (Wkb.fromGpkg), and validates CRS presence — the reference's loader
  * fails fast on a missing CRS (load_data.py:51-57).
  *
  * The file parse is driver-side (a GPKG is a small config-like artifact —
  * the reference's is 320 KB); the resulting DataFrame is distributed.
  * For big vector data, convert once to Parquet and read that. */
object Gpkg {

  /** Hard cap on [[writeLayer]]'s driver-side materialization — a GPKG
    * at this row count is already a multi-GB SQLite file, far past the
    * "small delivery artifact" use case. Taken as a default parameter so
    * the guard is spec-testable at a tiny cap. */
  val MaxWriteRows: Int = 2000000

  /** Load one layer: geometry columns become (wkb BinaryType, srid Int). */
  def readLayer(spark: SparkSession, path: String, layer: String): DataFrame = {
    val db = Sqlite.open(path)
    val table = db.tables.find(_.name == layer)
      .getOrElse(throw new NoSuchElementException(s"layer $layer"))
    val cols = db.columnNames(table)
    // geometry column name from gpkg_geometry_columns
    val geomCols = db.rows("gpkg_geometry_columns")
      .filter(_._2(0) == layer)
      .map(r => (r._2(1).asInstanceOf[String], r._2(3).asInstanceOf[Long].toInt))
      .toMap
    val pkIdx = db.rowidAliasIndex(table)
    val rows = db.rows(layer).map { case (rowid, vals) =>
      val out = new Array[Any](cols.length + geomCols.size)
      var extra = cols.length
      cols.indices.foreach { i =>
        val v = vals(i)
        if (geomCols.contains(cols(i))) {
          if (v == null) {
            out(i) = null; out(extra) = null
          } else {
            val (srid, wkb) = Wkb.fromGpkg(v.asInstanceOf[Array[Byte]])
            require(srid != 0, s"layer $layer: feature $rowid has no CRS (srid=0)")
            out(i) = wkb
            out(extra) = srid
          }
          extra += 1
        } else {
          // INTEGER PRIMARY KEY is stored null in the record → rowid
          // (at its declared position, not necessarily column 0)
          out(i) = if (v == null && i == pkIdx) rowid else v
        }
      }
      Row.fromSeq(out.toIndexedSeq)
    }
    val fields = cols.map { c =>
      if (geomCols.contains(c)) StructField(c, BinaryType)
      else StructField(c, inferType(rows, cols.indexOf(c)))
    } ++ geomCols.keys.map(c => StructField(s"${c}_srid", IntegerType))
    val coerced = rows.map { r =>
      Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v: Long, i) if fields(i).dataType == IntegerType => v.toInt
        case (v: Long, i) if fields(i).dataType == DoubleType => v.toDouble
        // blob in a mixed (String-degraded) column: hex, not the JVM
        // identity string ("[B@1a2b3c" is nondeterministic and meaningless)
        case (v: Array[Byte], i) if fields(i).dataType == StringType =>
          v.map(b => f"$b%02x").mkString
        case (v, i) if fields(i).dataType == StringType && v != null &&
          !v.isInstanceOf[String] => v.toString
        case (v, _) => v
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(coerced.toIndexedSeq),
      StructType(fields.toIndexedSeq))
  }

  /** Column type inferred over ALL rows, not the first non-null value:
    * SQLite columns are dynamically typed (a REAL-affinity column stores
    * whole numbers as INTEGER serials), so a column can yield both Long
    * and Double — widen to Double; any other mix degrades to String. */
  private def inferType(rows: Seq[Row], i: Int): DataType = {
    var long = false; var dbl = false; var bytes = false; var other = false
    rows.foreach { r =>
      r.get(i) match {
        case null =>
        case _: Long => long = true
        case _: Double => dbl = true
        case _: Array[Byte] => bytes = true
        case _ => other = true
      }
    }
    if (other || (bytes && (long || dbl))) StringType
    else if (bytes) BinaryType
    else if (dbl) DoubleType
    else if (long) LongType
    else StringType
  }

  /** S10 geo sink: write a DataFrame as a single-layer GeoPackage — the
    * writer twin of [[readLayer]], closing the reference's st_write /
    * to_postgis loop (spatial_analysis_indonesia.r:118-131,
    * load_data.py:82-93). The geometry column must hold WKB with a sibling
    * srid column. Driver-side like the reader (a GPKG is a small artifact;
    * big vector data belongs in Parquet); emits the required gpkg_*
    * metadata tables so sqlite3/GDAL can open the result. Overwrites the
    * target file (`append=FALSE` / `if_exists='replace'` semantics).
    *
    * The driver materialization is CAPPED (the Manifest.guarded pattern):
    * the scan is limit-capped BEFORE the collect, so the driver never
    * holds more than maxRows+1 rows no matter how mis-sized the input,
    * and exceeding the cap fails fast with a pointer at the
    * scale-correct alternative — a GPKG is a delivery artifact for
    * human-sized layers; a layer that trips the cap belongs in
    * partitioned Parquet (the engine's native geo sink), not SQLite. */
  def writeLayer(df: DataFrame, path: String, layer: String,
      geomCol: String = "geom", sridCol: String = "geom_srid",
      maxRows: Int = MaxWriteRows): Unit = {
    import SqliteWriter.TableSpec
    val schema = df.schema
    require(schema.fieldNames.contains(geomCol), s"missing geometry column $geomCol")
    require(schema.fieldNames.contains(sridCol), s"missing srid column $sridCol")
    // Long-safe +1: maxRows = Int.MaxValue is the natural "cap disabled"
    // spelling the error message below invites — maxRows + 1 would wrap
    // negative and fail limit() with an unrelated AnalysisException.
    val probe = math.min(maxRows.toLong + 1L, Int.MaxValue.toLong).toInt
    val collected = df.limit(probe).collect()
    require(collected.length <= maxRows,
      s"layer $layer exceeds $maxRows rows — a single-file GeoPackage is " +
        "a driver-side delivery artifact, not a bulk sink: write the " +
        "layer as partitioned Parquet (WKB + srid columns) instead, or " +
        "raise maxRows deliberately if the driver heap is sized for it")
    val gi = schema.fieldIndex(geomCol)
    val si = schema.fieldIndex(sridCol)
    val srids = collected.iterator.filterNot(_.isNullAt(si))
      .map(r => r.get(si) match { case i: Int => i; case l: Long => l.toInt }).toSet
    require(srids.size == 1, s"layer $layer: need exactly one SRID, got $srids")
    val srid = srids.head
    require(srid != 0, s"layer $layer: no CRS (srid=0)") // mirror the reader guard

    // every column except the srid sibling is written (geom becomes a blob)
    val attrs = schema.fields.zipWithIndex.filter { case (_, i) => i != si }
    def decl(dt: DataType): String = dt match {
      case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
      case DoubleType | FloatType => "REAL"
      case BinaryType => "BLOB"
      case _ => "TEXT"
    }
    def toSqlite(v: Any): Any = v match {
      case null => null
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case b: Boolean => if (b) 1L else 0L
      case f: Float => f.toDouble
      case l: Long => l
      case d: Double => d
      case s: String => s
      case b: Array[Byte] => b
      case other => other.toString
    }

    // layer stats for gpkg_contents / gpkg_geometry_columns
    var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
    var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
    var geomType = "GEOMETRY"
    collected.foreach { r =>
      if (!r.isNullAt(gi)) {
        val g = Wkb.parse(r.getAs[Array[Byte]](gi))
        val e = graft.geo.Geo.envelope(g)
        if (e.xmin < xmin) xmin = e.xmin
        if (e.ymin < ymin) ymin = e.ymin
        if (e.xmax > xmax) xmax = e.xmax
        if (e.ymax > ymax) ymax = e.ymax
        geomType = graft.geo.Geo.geometryType(g).toUpperCase
      }
    }

    val layerSql = (s"""CREATE TABLE "$layer" ("fid" INTEGER PRIMARY KEY""" +:
      attrs.map { case (f, _) =>
        if (f.name == geomCol) s""""${f.name}" $geomType"""
        else s""""${f.name}" ${decl(f.dataType)}"""
      }.toSeq).mkString(", ") + ")"
    val layerRows: Seq[Seq[Any]] = collected.toSeq.zipWithIndex.map { case (r, i) =>
      (i + 1).toLong +: attrs.map { case (f, idx) =>
        if (f.name == geomCol) {
          if (r.isNullAt(idx)) null
          else Wkb.toGpkg(srid, r.getAs[Array[Byte]](idx))
        } else toSqlite(r.get(idx))
      }.toSeq
    }

    val srsSql = """CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)"""
    val srsRows = (Seq(
      Seq[Any]("Undefined cartesian SRS", -1L, "NONE", -1L, "undefined", null),
      Seq[Any]("Undefined geographic SRS", 0L, "NONE", 0L, "undefined", null),
      Seq[Any]("WGS 84", 4326L, "EPSG", 4326L, "GEOGCS[\"WGS 84\"]", null)) ++
      (if (srid != 4326) Seq(Seq[Any](s"srid $srid", srid.toLong, "NONE", srid.toLong, "undefined", null)) else Nil))
    // NOTE: no TEXT PRIMARY KEY / UNIQUE here — those would require SQLite
    // autoindex b-trees the writer deliberately does not emit
    val contentsSql = """CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, data_type TEXT NOT NULL, identifier TEXT, description TEXT DEFAULT '', last_change DATETIME, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"""
    val contentsRows = Seq(Seq[Any](layer, "features", layer, "",
      "2026-01-01T00:00:00.000Z", xmin, ymin, xmax, ymax, srid.toLong))
    val geomColsSql = """CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)"""
    val geomColsRows = Seq(Seq[Any](layer, geomCol, geomType, srid.toLong, 0L, 0L))

    new java.io.File(path).delete()
    SqliteWriter.write(path, Seq(
      TableSpec("gpkg_spatial_ref_sys", srsSql, srsRows),
      TableSpec("gpkg_contents", contentsSql, contentsRows),
      TableSpec("gpkg_geometry_columns", geomColsSql, geomColsRows),
      TableSpec(layer, layerSql, layerRows)))
  }

  /** Write→read round trip on the generated parcel fixture: the S10 sink
    * and the S1 scan composed, proving the writer emits what the reader
    * (and the golden-parity pipeline) consumes. */
  private val q61 = Q(
    "q61_gpkg_roundtrip",
    (s, dir) => {
      val parcels = graft.ops.Spatial.parcels(s, dir)
        .select(col("id"), col("KETERANGAN"), col("LUSE"), col("TEMA"),
          col("geom"), col("geom_srid"))
      // Scratch.fresh: emptied per invocation, removed at JVM exit — a
      // createTempFile here leaked one .gpkg per bench rep / Verify run
      val path = graft.Scratch.fresh("gpkg_roundtrip") + "/parcels.gpkg"
      writeLayer(parcels, path, "parcels")
      val back = readLayer(s, path, "parcels")
      back
        .groupBy(col("KETERANGAN").as("keterangan"))
        .agg(count(lit(1)).as("n"),
          round(sum(graft.geo.GeoExpressions.stAreaNative(col("geom")) / 10000.0), 2).as("area_ha"))
        .orderBy(asc_nulls_first("keterangan"))
    },
    None,
    "S10 geo sink + S1 scan round trip (GeoPackage writer twin of the reader)")

  /** Golden-parity query (SURVEY.md §5.2): the reference's flagship area
    * computation on its OWN data — lu.gpkg → ILIKE '%mangrove%' →
    * transform srid 100000 → 4326 → 3857 → shoelace area / 10⁴ ha.
    * Golden: 4.16 (results/summary_report.csv:2). */
  private val q49 = Q(
    "q49_gpkg_golden_area",
    (s, _) => {
      val lu = readLayer(s, graft.Reference.file("data/lu.gpkg"), "lu")
      lu.filter(graft.ops.Relational.asciiLower(col("KETERANGAN")).contains("mangrove"))
        .withColumn("geom3857",
          G.stTransform(col("geom"), col("geom_srid"), lit(Crs.WebMercator)))
        .groupBy(col("KETERANGAN").as("keterangan"))
        .agg(round(sum(graft.geo.GeoExpressions.stAreaNative(col("geom3857")) / 10000.0), 2).as("area_ha"),
          count(lit(1)).as("n_features"))
        .orderBy(asc_nulls_first("keterangan"))
    },
    None,
    "S1 GeoPackage scan + reference golden area on the reference's own lu.gpkg")

  val all: Seq[Q] = Seq(q49, q61)
}
