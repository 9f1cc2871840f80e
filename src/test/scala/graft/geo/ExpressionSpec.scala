package graft.geo

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native StContainsPoint expression: SQL registration, codegen path, and
  * agreement with the UDF implementation. */
class ExpressionSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("registered in SQL via GraftExtensions") {
    import spark.implicits._
    val wkb = Wkb.write(Wkb.Poly(Wkb.Polygon(Array(Wkb.Ring(
      Array(0.0, 10.0, 10.0, 0.0, 0.0), Array(0.0, 0.0, 10.0, 10.0, 0.0))))))
    Seq((wkb, 5.0, 5.0), (wkb, 15.0, 5.0)).toDF("g", "x", "y")
      .createOrReplaceTempView("pts")
    val got = spark.sql("select st_contains_point(g, x, y) from pts")
      .collect().map(_.getBoolean(0)).toSeq
    assert(got === Seq(true, false))
  }

  test("native expression agrees with the UDF on random boxes/points") {
    import spark.implicits._
    val r = new scala.util.Random(99)
    val rows = Seq.fill(200) {
      val cx = r.nextDouble() * 100; val cy = r.nextDouble() * 100
      val h = r.nextDouble() * 10 + 0.1
      val wkb = Wkb.write(Wkb.Poly(Wkb.Polygon(Array(Wkb.Ring(
        Array(cx - h, cx + h, cx + h, cx - h, cx - h),
        Array(cy - h, cy - h, cy + h, cy + h, cy - h))))))
      (wkb, r.nextDouble() * 100, r.nextDouble() * 100)
    }
    val df = rows.toDF("g", "x", "y")
    val native = df.select(GeoExpressions.stContainsPointNative(col("g"), col("x"), col("y")))
      .collect().map(_.getBoolean(0)).toSeq
    val viaUdf = df.select(GeoFunctions.stContainsPoint(col("g"), col("x"), col("y")))
      .collect().map(_.getBoolean(0)).toSeq
    assert(native === viaUdf)
    assert(native.contains(true) && native.contains(false))
  }

  test("null geometry yields null, not a crash") {
    import spark.implicits._
    val df = Seq((Option.empty[Array[Byte]], 1.0, 1.0)).toDF("g", "x", "y")
    val got = df.select(GeoExpressions.stContainsPointNative(col("g"), col("x"), col("y")))
      .collect()
    assert(got.head.isNullAt(0))
  }

  test("vec_dot rejects non-double arrays at analysis instead of reading garbage") {
    GeoExpressions.ensureRegistered(spark)
    val intArrays = spark.range(3).selectExpr(
      "array(cast(id as int), 2) as a", "array(3, 4) as b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      intArrays.selectExpr("vec_dot(a, b)").collect()
    }
    assert(e.getMessage.contains("vec_dot"), e.getMessage)
    // the documented calling convention works
    val ok = spark.sql("select vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .collect().head.getDouble(0)
    assert(ok === 11.0)
  }

  test("vec_dot skips null elements (SQL sum semantics)") {
    val got = spark.sql(
      "select vec_dot(array(1.0d, cast(null as double), 3.0d), array(2.0d, 5.0d, 4.0d))")
      .collect().head.getDouble(0)
    assert(got === 14.0)
  }
}
