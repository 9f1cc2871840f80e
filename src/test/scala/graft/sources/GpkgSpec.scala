package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reads the REFERENCE's own lu.gpkg and asserts its published goldens
  * (results/summary_report.csv) — SURVEY.md §5 items 2 and 5. */
class GpkgSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private def path = graft.Reference.file("data/lu.gpkg")

  test("sqlite reader: schema lists the lu layer") {
    val db = Sqlite.open(path)
    val names = db.tables.map(_.name)
    assert(names.contains("lu") && names.contains("gpkg_geometry_columns"))
    assert(db.columnNames(db.tables.find(_.name == "lu").get)
      .take(2) === Seq("fid", "geom"))
  }

  test("lu layer: 31 features, 17 distinct KETERANGAN, srid 100000") {
    val lu = Gpkg.readLayer(spark, path, "lu")
    assert(lu.count() === 31)
    assert(lu.select("KETERANGAN").distinct().count() === 17)
    assert(lu.select("geom_srid").distinct().collect().map(_.getInt(0)).toSeq === Seq(100000))
  }

  test("golden: mangrove filter selects exactly 'Mangrove Sungai Sanrumukti'") {
    val lu = Gpkg.readLayer(spark, path, "lu")
    val m = lu.filter(graft.ops.Relational.asciiLower(col("KETERANGAN")).contains("mangrove"))
      .select("KETERANGAN").distinct().collect().map(_.getString(0))
    assert(m.toSeq === Seq("Mangrove Sungai Sanrumukti"))
  }

  test("golden: total mangrove area = 4.16 ha (Web-Mercator, summary_report.csv:2)") {
    val rows = graft.SparkEntry.queries("q49_gpkg_golden_area")(spark, "unused").collect()
    assert(rows.length === 1)
    assert(rows.head.getDouble(1) === 4.16)
  }

  test("writer: parcels write->read round trip preserves attributes and geometry bytes") {
    val parcels = graft.ops.Spatial.parcels(spark, "/root/testdata/sf0.001")
    val out = graft.Scratch.fresh("spec_gpkg_rt") + "/f.gpkg"
    Gpkg.writeLayer(parcels, out, "parcels")
    val back = Gpkg.readLayer(spark, out, "parcels")
    def key(r: org.apache.spark.sql.Row, idIdx: Int, kIdx: Int, gIdx: Int) =
      (r.getLong(idIdx), r.getString(kIdx),
        java.util.Arrays.hashCode(r.getAs[Array[Byte]](gIdx)))
    val orig = parcels.collect()
      .map(r => key(r, 0, 1, 4)).sortBy(_._1)
    val rt = back.select(col("id"), col("KETERANGAN"), col("geom"), col("geom_srid"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        java.util.Arrays.hashCode(r.getAs[Array[Byte]](2)))).sortBy(_._1)
    assert(rt.length === orig.length)
    assert(rt.toSeq === orig.toSeq)
    assert(back.select("geom_srid").distinct().collect().map(_.getInt(0)).toSeq
      === Seq(graft.geo.Crs.Utm50SAlias))
  }

  test("writer: driver materialization is capped — oversized layer fails loudly") {
    val parcels = graft.ops.Spatial.parcels(spark, "/root/testdata/sf0.001")
    val n = parcels.count()
    assert(n > 3, "fixture too small to exercise the cap")
    val out = graft.Scratch.fresh("spec_gpkg_cap") + "/f.gpkg"
    val e = intercept[IllegalArgumentException] {
      Gpkg.writeLayer(parcels, out, "parcels", maxRows = 3)
    }
    assert(e.getMessage.contains("exceeds 3 rows"))
    assert(e.getMessage.contains("Parquet"), "error must point at the scale-correct sink")
    // at-cap succeeds: the guard collects cap+1 rows, never more
    Gpkg.writeLayer(parcels, out, "parcels", maxRows = n.toInt)
    assert(Gpkg.readLayer(spark, out, "parcels").count() == n)
    // cap-disabled spelling: maxRows = Int.MaxValue must not overflow the
    // limit arithmetic (maxRows + 1 would wrap negative) — it writes fine
    Gpkg.writeLayer(parcels, out, "parcels", maxRows = Int.MaxValue)
    assert(Gpkg.readLayer(spark, out, "parcels").count() == n)
  }

  test("writer: multi-leaf + overflow payloads round trip through the reader") {
    import SqliteWriter.TableSpec
    val out = graft.Scratch.fresh("spec_sqlite_rt") + "/f.db"
    val rows = (1L to 300L).map(i => Seq[Any](i, "v" * (if (i == 7) 9000 else 50), i * 0.5))
    SqliteWriter.write(out, Seq(
      TableSpec("t", "CREATE TABLE t (id INTEGER PRIMARY KEY, s TEXT, d REAL)", rows)))
    val db = Sqlite.open(out)
    val got = db.rows("t").map { case (rowid, vals) =>
      (rowid, vals(1).asInstanceOf[String].length, vals(2).asInstanceOf[Double])
    }
    assert(got.length === 300)
    assert(got.find(_._1 == 7L).get._2 === 9000)
    assert(got.forall { case (id, _, d) => d === id * 0.5 })
  }

  test("writer: multi-LEVEL interior b-tree (beyond ~270 leaves) round trips") {
    import SqliteWriter.TableSpec
    val out = graft.Scratch.fresh("spec_sqlite_deep") + "/f.db"
    // ~1 KB payloads → ~4 rows/leaf → 2000 rows ≈ 500 leaves ≈ 2 levels
    val rows = (1L to 2000L).map(i => Seq[Any](i, "x" * 900, i * 3))
    SqliteWriter.write(out, Seq(
      TableSpec("big", "CREATE TABLE big (id INTEGER PRIMARY KEY, s TEXT, n INTEGER)", rows)))
    val got = Sqlite.open(out).rows("big").sortBy(_._1)
    assert(got.length === 2000)
    assert(got.head._1 === 1L && got.last._1 === 2000L)
    assert(got.forall { case (id, vals) => vals(2) === id * 3 })
    // independent validation: stock sqlite3 must fully walk + pass
    // integrity_check (catches any b-tree layout the reader tolerates)
    import scala.sys.process._
    val check = Seq("python3", "-c",
      s"""import sqlite3
         |c = sqlite3.connect('$out')
         |assert c.execute('pragma integrity_check').fetchone()[0] == 'ok'
         |assert c.execute('select count(*), sum(n) from big').fetchone() == (2000, 3 * 2000 * 2001 // 2)
         |print('OK')""".stripMargin).!!
    assert(check.trim.endsWith("OK"), check)
  }

  test("writer: seeded random rows round-trip (mixed types, nulls, wide values)") {
    import SqliteWriter.TableSpec
    val r = new scala.util.Random(20260812L)
    def randVal(i: Int): Any = r.nextInt(6) match {
      case 0 => null
      case 1 => r.nextLong()
      case 2 => r.nextDouble() * 1e6
      case 3 => r.nextInt(1 << r.nextInt(16)).toString * (1 + r.nextInt(3))
      case 4 => Array.fill[Byte](r.nextInt(5000))(r.nextInt().toByte)
      case 5 => Long.MinValue + r.nextInt(100) // 9-byte varint territory
    }
    val rows = (1L to 120L).map(i => Seq[Any](i, randVal(1), randVal(2), randVal(3)))
      .map { vs => vs.head +: (1 to 3).map(_ => randVal(r.nextInt(6))) }
    val out = graft.Scratch.fresh("spec_sqlite_rand") + "/f.db"
    SqliteWriter.write(out, Seq(TableSpec("t",
      "CREATE TABLE t (id INTEGER PRIMARY KEY, a, b, c)", rows)))
    val got = Sqlite.open(out).rows("t").sortBy(_._1)
    assert(got.length === 120)
    got.zip(rows).foreach { case ((rowid, vals), expect) =>
      assert(rowid === expect.head)
      // pk column reads back as the rowid; compare the payload columns
      (1 to 3).foreach { c =>
        (vals(c), expect(c)) match {
          case (a: Array[Byte], b: Array[Byte]) =>
            assert(java.util.Arrays.equals(a, b), s"row $rowid col $c blob")
          case (a, b) => assert(a === b, s"row $rowid col $c")
        }
      }
    }
  }

  test("writer: rejects DDL that would need an autoindex") {
    import SqliteWriter.TableSpec
    val out = graft.Scratch.fresh("spec_sqlite_bad") + "/f.db"
    intercept[IllegalArgumentException] {
      SqliteWriter.write(out, Seq(
        TableSpec("t", "CREATE TABLE t (k TEXT PRIMARY KEY)", Seq(Seq[Any]("a")))))
    }
    intercept[IllegalArgumentException] {
      SqliteWriter.write(out, Seq(
        TableSpec("t", "CREATE TABLE t (k TEXT UNIQUE)", Seq(Seq[Any]("a")))))
    }
  }
}
