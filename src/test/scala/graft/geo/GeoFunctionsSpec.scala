package graft.geo

import org.scalatest.funsuite.AnyFunSuite

/** The registered SQL UDF surface (GeoFunctions.register): every st_*
  * function callable from spark.sql, including the ST_Union aggregator
  * and the accessors not exercised by the pipeline queries (G4/G5/G6/G8). */
class GeoFunctionsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.TestSession.spark
    GeoFunctions.register(s)
    s
  }

  private def box(cx: Double, cy: Double, h: Double) =
    Wkb.write(Wkb.Poly(Wkb.Polygon(Array(Wkb.Ring(
      Array(cx - h, cx + h, cx + h, cx - h, cx - h),
      Array(cy - h, cy - h, cy + h, cy + h, cy - h))))))

  test("scalar st_* functions via spark.sql") {
    import spark.implicits._
    Seq((1L, box(5, 5, 2)), (2L, box(100, 100, 1))).toDF("id", "g")
      .createOrReplaceTempView("geoms")
    val row = spark.sql("""
      select st_area(g) area, st_geometry_type(g) gt, st_centroid(g) c,
             st_envelope(g) env, st_num_parts(g) np,
             size(st_exterior_rings(g)[0]) ring_len,
             st_contains_point(g, 5.0D, 5.0D) inside
      from geoms where id = 1""").collect()(0)
    assert(row.getDouble(0) === 16.0)
    assert(row.getString(1) === "Polygon")
    assert(row.getSeq[Double](2) === Seq(5.0, 5.0))
    assert(row.getStruct(3).getDouble(0) === 3.0) // xmin
    assert(row.getInt(4) === 1)
    assert(row.getInt(5) === 5) // closed ring: 5 points
    assert(row.getBoolean(6))
  }

  test("st_intersects_box via spark.sql (cell-coverage join predicate)") {
    import spark.implicits._
    Seq(Tuple1(box(0, 0, 10))).toDF("g").createOrReplaceTempView("ib")
    val got = spark.sql("""
      select st_intersects_box(g, 9.0D, 9.0D, 12.0D, 12.0D) a,
             st_intersects_box(g, 11.0D, 11.0D, 12.0D, 12.0D) b from ib""").collect()(0)
    assert(got.getBoolean(0) && !got.getBoolean(1))
  }

  test("st_union_collect aggregates parts via spark.sql") {
    import spark.implicits._
    Seq(("a", box(0, 0, 1)), ("a", box(10, 0, 1)), ("b", box(0, 10, 2)))
      .toDF("k", "g").createOrReplaceTempView("parts")
    val got = spark.sql("""
      select k, st_area(st_union_collect(g)) area,
             st_num_parts(st_union_collect(g)) np
      from parts group by k order by k""").collect()
    assert(got(0).getString(0) === "a")
    assert(got(0).getDouble(1) === 8.0 && got(0).getInt(2) === 2)
    assert(got(1).getDouble(1) === 16.0 && got(1).getInt(2) === 1)
  }

  test("st_union_collect dissolves overlapping parts (merged area < sum)") {
    import spark.implicits._
    // [-2,2]² ∪ [-1,3]²: 16 + 16 − 9 (overlap [-1,2]²) = 23
    Seq(("a", box(0, 0, 2)), ("a", box(1, 1, 2)))
      .toDF("k", "g").createOrReplaceTempView("overlap_parts")
    val got = spark
      .sql("select k, st_area(st_union_collect(g)) a from overlap_parts group by k")
      .collect()
    assert(math.abs(got(0).getDouble(1) - 23.0) < 1e-6, got(0).getDouble(1).toString)
  }

  test("st_union_collect collapses duplicate parts (area counted once)") {
    import spark.implicits._
    Seq(("a", box(0, 0, 2)), ("a", box(0, 0, 2)))
      .toDF("k", "g").createOrReplaceTempView("dup_parts")
    val got = spark
      .sql("select k, st_area(st_union_collect(g)) a from dup_parts group by k")
      .collect()
    assert(math.abs(got(0).getDouble(1) - 16.0) < 1e-6, got(0).getDouble(1).toString)
  }

  test("st_union_collect accepts edge-adjacent (touching, disjoint-interior) parts") {
    import spark.implicits._
    // [-1,1] and [1,3]: shared edge x=1 — adjacency is not overlap
    Seq(("a", box(0, 0, 1)), ("a", box(2, 0, 1)))
      .toDF("k", "g").createOrReplaceTempView("adj_parts")
    val got = spark.sql(
      "select st_area(st_union_collect(g)) from adj_parts group by k").collect()
    assert(got(0).getDouble(0) === 8.0)
  }

  test("Geo.overlaps kernel: containment, proper crossing, adjacency") {
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      Wkb.Polygon(Array(Wkb.Ring(
        Array(x0, x1, x1, x0, x0), Array(y0, y0, y1, y1, y0))))
    assert(Geo.overlaps(rect(-2, -2, 2, 2), rect(-1, -1, 1, 1))) // contained
    assert(Geo.overlaps(rect(-3, -1, 3, 1), rect(-1, -3, 1, 3))) // plus-sign cross
    assert(!Geo.overlaps(rect(-1, -1, 1, 1), rect(1, -1, 3, 1))) // edge-adjacent
    assert(!Geo.overlaps(rect(-1, -1, 1, 1), rect(5, 5, 6, 6)))  // far apart
  }

  test("st_transform via spark.sql: UTM envelope center round-trips") {
    import spark.implicits._
    Seq(Tuple1(box(475000, 9878000, 100))).toDF("g").createOrReplaceTempView("t")
    val area = spark.sql(
      "select st_area(st_transform(st_transform(g, 100000, 4326), 4326, 32750)) from t")
      .collect()(0).getDouble(0)
    assert(math.abs(area - 200.0 * 200.0) < 1e-3)
  }
}
