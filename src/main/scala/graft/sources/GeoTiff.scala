package graft.sources

import graft.Q
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.{ByteBuffer, ByteOrder}

/** From-scratch uncompressed-GeoTIFF source (S4: the reference reads real
  * raster containers — `spatial_analysis_indonesia.r:30` elevation grid).
  * Parallel to the Sqlite/Gpkg reader: header + IFD + strip parser → cells
  * DataFrame with georeferenced centers, no GDAL/imageio in the offline
  * jar set.
  *
  * Format scope (documented): baseline TIFF, single sample per pixel,
  * uncompressed strips, both byte orders; sample types float32, uint32,
  * uint16, uint8; georeferencing via ModelPixelScale (33550) +
  * ModelTiepoint (33922) — the raster→model affine without rotation,
  * which is what GDAL emits for north-up rasters. Tiled TIFFs and
  * compression are out of scope (the reference's elevation grid is a
  * plain north-up strip raster).
  *
  * Scale note: header/IFD parsing is inherently driver-side (bytes 0..n of
  * one file); cell materialization parallelizes over STRIPS — each Spark
  * task decodes its own strip byte range, so a big raster scales out like
  * any other partitioned scan. */
object GeoTiff {

  final case class Meta(
      width: Int, height: Int, bits: Int, sampleFormat: Int,
      rowsPerStrip: Int, stripOffsets: Array[Long], stripByteCounts: Array[Long],
      originX: Double, originY: Double, scaleX: Double, scaleY: Double,
      bigEndian: Boolean)

  // ---- reader ------------------------------------------------------------

  /** Parse header + IFD (driver-side: a few hundred bytes). */
  def readMeta(path: String): Meta = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bigEndian = bytes(0) == 'M'.toByte
    require((bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte) ||
      (bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte), s"$path: not a TIFF")
    val bb = ByteBuffer.wrap(bytes)
      .order(if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    require(bb.getShort(2) == 42, s"$path: bad TIFF magic")
    val ifdOff = bb.getInt(4)
    val n = bb.getShort(ifdOff) & 0xFFFF
    // tag → (type, count, valueOffsetPos)
    def entryAt(i: Int): (Int, Int, Long, Int) = {
      val e = ifdOff + 2 + i * 12
      ((bb.getShort(e) & 0xFFFF, bb.getShort(e + 2) & 0xFFFF,
        bb.getInt(e + 4).toLong & 0xFFFFFFFFL, e + 8))
    }
    val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 11 -> 4, 12 -> 8)
    def values(tag: Int): Option[Array[Double]] =
      (0 until n).map(entryAt).find(_._1 == tag).map { case (_, tpe, count, vpos) =>
        val sz = typeSize(tpe)
        val total = sz * count
        val base = if (total <= 4) vpos.toLong else bb.getInt(vpos).toLong & 0xFFFFFFFFL
        Array.tabulate(count.toInt) { i =>
          val p = (base + i.toLong * sz).toInt
          tpe match {
            case 1 => (bb.get(p) & 0xFF).toDouble
            case 3 => (bb.getShort(p) & 0xFFFF).toDouble
            case 4 => (bb.getInt(p).toLong & 0xFFFFFFFFL).toDouble
            case 11 => bb.getFloat(p).toDouble
            case 12 => bb.getDouble(p)
            case t => sys.error(s"$path: unsupported TIFF type $t")
          }
        }
      }
    def one(tag: Int, default: => Double): Double =
      values(tag).map(_.head).getOrElse(default)
    require(one(259, 1) == 1.0, s"$path: compressed TIFF not supported")
    val width = one(256, sys.error(s"$path: no width")).toInt
    val height = one(257, sys.error(s"$path: no height")).toInt
    val scale = values(33550).getOrElse(sys.error(s"$path: no ModelPixelScale"))
    val tie = values(33922).getOrElse(sys.error(s"$path: no ModelTiepoint"))
    // tiepoint: raster (i,j,k) → model (x,y,z); standard north-up form ties
    // raster (0,0) to the model-space upper-left corner
    Meta(
      width, height,
      bits = one(258, 32).toInt,
      sampleFormat = one(339, 1).toInt,
      rowsPerStrip = one(278, height).toInt,
      stripOffsets = values(273).getOrElse(sys.error(s"$path: no strips")).map(_.toLong),
      stripByteCounts = values(279).getOrElse(sys.error(s"$path: no strip sizes")).map(_.toLong),
      originX = tie(3) - tie(0) * scale(0),
      originY = tie(4) + tie(1) * scale(1),
      scaleX = scale(0), scaleY = scale(1),
      bigEndian = bigEndian)
  }

  /** Cells DataFrame: (col, row, cell_x, cell_y, value) with pixel-CENTER
    * georeferencing. One Spark task per strip — the scan parallelizes over
    * the strip list exactly like a partitioned file scan. */
  def readCells(spark: SparkSession, path: String): DataFrame = {
    val m = readMeta(path)
    require(m.bits == 32 || m.bits == 16 || m.bits == 8,
      s"$path: unsupported BitsPerSample ${m.bits}")
    val strips = m.stripOffsets.indices.map(i =>
      (i, m.stripOffsets(i), m.stripByteCounts(i))).toSeq
    val meta = m
    val rdd = spark.sparkContext
      .parallelize(strips, math.min(strips.size, 32))
      .flatMap { case (stripIdx, off, len) =>
        // each task reads ONLY its strip's byte range
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(path), java.nio.file.StandardOpenOption.READ)
        val buf = ByteBuffer.allocate(len.toInt)
          .order(if (meta.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
        try {
          var pos = off
          while (buf.hasRemaining) {
            val n = ch.read(buf, pos)
            require(n > 0, s"$path: truncated strip at $pos")
            pos += n
          }
        } finally ch.close()
        buf.flip()
        val bytesPer = meta.bits / 8
        val row0 = stripIdx * meta.rowsPerStrip
        val nRows = math.min(meta.rowsPerStrip, meta.height - row0)
        for {
          r <- 0 until nRows
          c <- 0 until meta.width
        } yield {
          val p = (r.toLong * meta.width + c).toInt * bytesPer
          val v = (meta.bits, meta.sampleFormat) match {
            case (32, 3) => buf.getFloat(p).toDouble
            case (32, _) => (buf.getInt(p).toLong & 0xFFFFFFFFL).toDouble
            case (16, _) => (buf.getShort(p) & 0xFFFF).toDouble
            case (8, _) => (buf.get(p) & 0xFF).toDouble
          }
          Row(c, row0 + r,
            meta.originX + (c + 0.5) * meta.scaleX,
            meta.originY - (row0 + r + 0.5) * meta.scaleY,
            v)
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("col", IntegerType, nullable = false),
      StructField("row", IntegerType, nullable = false),
      StructField("cell_x", DoubleType, nullable = false),
      StructField("cell_y", DoubleType, nullable = false),
      StructField("value", DoubleType, nullable = false))))
  }

  // ---- writer (fixture encoder, like Codecs.wrapBmp) ---------------------

  /** Write a float32 north-up GeoTIFF (little-endian, uncompressed,
    * multi-strip). */
  def write(path: String, width: Int, height: Int, originX: Double,
      originY: Double, pixelSize: Double, values: Int => Float,
      rowsPerStrip: Int = 16): Unit = {
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val stripLens = Array.tabulate(nStrips) { s =>
      math.min(rowsPerStrip, height - s * rowsPerStrip) * width * 4
    }
    val entries = 12 // tag count below
    val ifdOff = 8
    val auxOff = ifdOff + 2 + entries * 12 + 4
    // aux: stripOffsets(nStrips*4) stripCounts(nStrips*4) scale(3*8) tie(6*8)
    val soOff = auxOff
    val scOff = soOff + nStrips * 4
    val scaleOff = scOff + nStrips * 4
    val tieOff = scaleOff + 24
    val dataOff = tieOff + 48
    val stripOffsets = new Array[Int](nStrips)
    var acc = dataOff
    for (s <- 0 until nStrips) { stripOffsets(s) = acc; acc += stripLens(s) }
    val out = ByteBuffer.allocate(acc).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    out.putShort(entries.toShort)
    def entry(tag: Int, tpe: Int, count: Int, value: Int): Unit =
      out.putShort(tag.toShort).putShort(tpe.toShort).putInt(count).putInt(value)
    entry(256, 4, 1, width)                 // ImageWidth
    entry(257, 4, 1, height)                // ImageLength
    entry(258, 3, 1, 32)                    // BitsPerSample
    entry(259, 3, 1, 1)                     // Compression = none
    entry(262, 3, 1, 1)                     // Photometric = BlackIsZero
    entry(273, 4, nStrips, if (nStrips == 1) stripOffsets(0) else soOff)
    entry(277, 3, 1, 1)                     // SamplesPerPixel
    entry(278, 4, 1, rowsPerStrip)          // RowsPerStrip
    entry(279, 4, nStrips, if (nStrips == 1) stripLens(0) else scOff)
    entry(339, 3, 1, 3)                     // SampleFormat = IEEE float
    entry(33550, 12, 3, scaleOff)           // ModelPixelScale
    entry(33922, 12, 6, tieOff)             // ModelTiepoint
    out.putInt(0)                           // next IFD
    stripOffsets.foreach(out.putInt)
    stripLens.foreach(out.putInt)
    out.putDouble(pixelSize).putDouble(pixelSize).putDouble(0.0)
    out.putDouble(0).putDouble(0).putDouble(0)
      .putDouble(originX).putDouble(originY).putDouble(0)
    var i = 0
    val total = width * height
    while (i < total) { out.putFloat(values(i)); i += 1 }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.array())
  }

  // ---- driver-contract query --------------------------------------------

  /** Deterministic fixture, a [[graft.Scratch.derived]] file written once
    * per JVM: 200×100 float32 cells, value = (col·7 + row·13) mod 1000 —
    * integral, hence EXACT in float32, so DuckDB reproduces the cells
    * arithmetically without reading the file; the query reads them
    * through the REAL TIFF parser. */
  def fixturePath(s: SparkSession): String =
    graft.Scratch.derived(s, "elev_fixture", Nil) { d =>
      val p = s"$d/elev_200x100.tif"
      write(p, 200, 100, 10.0, 20.0, 0.01, i => ((i % 200) * 7 + (i / 200) * 13) % 1000)
      p
    }

  /** q72: S4 raster ingest under the ORACLE gate — zonal mean over 5
    * vertical strips of the raster read from a real .tif through the real
    * parser; DuckDB recomputes the same cells from generate_series. */
  private val q72 = Q(
    "q72_geotiff_zonal_oracle",
    (s, _) => {
      val cells = readCells(s, fixturePath(s))
      cells
        .withColumn("strip", floor((col("cell_x") - 10.0) / 0.4).cast("long"))
        .groupBy(col("strip"))
        .agg(
          round(sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
            / count(col("value")), 4).as("mean_value"),
          count(lit(1)).as("n_cells"),
          round(min(col("cell_y")), 6).as("ymin"),
          round(max(col("cell_y")), 6).as("ymax"))
        .orderBy(asc_nulls_first("strip"))
    },
    Some("""WITH cells AS (
        SELECT c.g AS col, r.g AS row,
               10.0 + (c.g + 0.5) * 0.01 AS cell_x,
               20.0 - (r.g + 0.5) * 0.01 AS cell_y,
               CAST((c.g * 7 + r.g * 13) % 1000 AS DOUBLE) AS value
        FROM generate_series(0, 199) c(g), generate_series(0, 99) r(g))
      SELECT CAST(floor((cell_x - 10.0) / 0.4) AS BIGINT) AS strip,
             round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 4) AS mean_value,
             COUNT(*) AS n_cells,
             round(MIN(cell_y), 6) AS ymin, round(MAX(cell_y), 6) AS ymax
      FROM cells GROUP BY 1 ORDER BY strip ASC NULLS FIRST"""),
    "S4 GeoTIFF ingest: real .tif through the from-scratch parser, cells oracle-recomputed in DuckDB")

  val all: Seq[Q] = Seq(q72)
}
