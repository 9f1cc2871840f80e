package graft.geo

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Native Catalyst expressions for the spatial hot path (SURVEY.md §2.7).
  *
  * `StContainsPoint` is the predicate evaluated once per candidate row of
  * every spatial join (J2/J3). As a Scala UDF it sits behind ScalaUDF's
  * conversion + closure-call machinery and blocks null-intolerant
  * optimizations; as a native `TernaryExpression` with `doGenCode` it
  * inlines into whole-stage codegen as a static call — the same shape
  * Spark's own built-ins use. */
object GeoCodegen {
  /** Static entry points referenced from generated code. */
  def containsWkb(wkb: Array[Byte], x: Double, y: Double): Boolean =
    Geo.contains(Wkb.parse(wkb), x, y)
  def areaWkb(wkb: Array[Byte]): Double = Geo.area(Wkb.parse(wkb))
  def intersectsBoxWkb(wkb: Array[Byte], xmin: Double, ymin: Double,
      xmax: Double, ymax: Double): Boolean =
    Geo.intersectsBox(Wkb.parse(wkb), xmin, ymin, xmax, ymax)
}

case class StContainsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  // no ImplicitCastInputTypes: AbstractDataType is private[sql]; callers
  // (GeoExpressions / spark.sql) pass (binary, double, double) directly
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_contains_point"

  override protected def nullSafeEval(g: Any, x: Any, y: Any): Any =
    GeoCodegen.containsWkb(g.asInstanceOf[Array[Byte]],
      x.asInstanceOf[Double], y.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, x, y) => s"graft.geo.GeoCodegen.containsWkb($g, $x, $y)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): StContainsPoint = copy(f, s, t)
}

/** st_intersects_box(geom, xmin, ymin, xmax, ymax): rectangle-polygon
  * intersection — the cell-coverage join predicate (vs the cell-center
  * StContainsPoint). Evaluated via the quinary fallback eval (no
  * QuinaryExpression base in Catalyst; interpreted eval is fine since the
  * bucket equi-join has already reduced candidates). */
case class StIntersectsBox(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(children.length == 5, "st_intersects_box(geom, xmin, ymin, xmax, ymax)")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "st_intersects_box"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else GeoCodegen.intersectsBoxWkb(vs(0).asInstanceOf[Array[Byte]],
      vs(1).asInstanceOf[Double], vs(2).asInstanceOf[Double],
      vs(3).asInstanceOf[Double], vs(4).asInstanceOf[Double])
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): StIntersectsBox = copy(cs)
}

case class StArea(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "st_area"
  override protected def nullSafeEval(g: Any): Any =
    GeoCodegen.areaWkb(g.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, g => s"graft.geo.GeoCodegen.areaWkb($g)")
  override protected def withNewChildInternal(c: Expression): StArea = copy(c)
}

/** SparkSessionExtensions hook: injects the native spatial functions into
  * the session's FunctionRegistry, making them available to spark.sql and
  * `call_function`, and the [[graft.SmallSort]] query-stage rule. Enable
  * with `.config("spark.sql.extensions", "graft.geo.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectQueryStagePrepRule(_ => graft.SmallSort)
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("st_contains_point"),
      new ExpressionInfo(classOf[StContainsPoint].getName, "st_contains_point"),
      (exprs: Seq[Expression]) => StContainsPoint(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("st_area_native"),
      new ExpressionInfo(classOf[StArea].getName, "st_area_native"),
      (exprs: Seq[Expression]) => StArea(exprs(0))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("st_intersects_box"),
      new ExpressionInfo(classOf[StIntersectsBox].getName, "st_intersects_box"),
      (exprs: Seq[Expression]) => StIntersectsBox(exprs)))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[graft.llm.VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => graft.llm.VecDot(exprs(0), exprs(1))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.ops.JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => graft.ops.JaroWinkler(exprs(0), exprs(1))))
  }
}

object GeoExpressions {

  /** Sessions already registered — weak keys, so a stopped session's entry
    * is collectable and the guard never retains a session. The guard also
    * silences the per-query `SimpleFunctionRegistry ... replaced` WARN
    * spam that used to bury real warnings in Bench/Verify tails. */
  private val registered: java.util.Set[SparkSession] =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently register the native functions on an EXISTING session —
    * needed because the driver's t1 smoke calls SparkEntry.entry(spark)
    * with a session built WITHOUT GraftExtensions. */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    if (registered.contains(spark)) return
    registered.add(spark)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "st_contains_point",
      (exprs: Seq[Expression]) => StContainsPoint(exprs(0), exprs(1), exprs(2)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "st_area_native",
      (exprs: Seq[Expression]) => StArea(exprs(0)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "st_intersects_box",
      (exprs: Seq[Expression]) => StIntersectsBox(exprs),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot",
      (exprs: Seq[Expression]) => graft.llm.VecDot(exprs(0), exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler",
      (exprs: Seq[Expression]) => graft.ops.JaroWinkler(exprs(0), exprs(1)),
      "scala_udf")
  }

  /** Column API for the native predicate (via the registered function, so
    * it works on any session built with GraftExtensions or after
    * ensureRegistered). */
  def stContainsPointNative(geom: Column, x: Column, y: Column): Column =
    org.apache.spark.sql.functions.call_function("st_contains_point", geom, x, y)

  def stAreaNative(geom: Column): Column =
    org.apache.spark.sql.functions.call_function("st_area_native", geom)

  def stIntersectsBox(geom: Column, xmin: Column, ymin: Column,
      xmax: Column, ymax: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "st_intersects_box", geom, xmin, ymin, xmax, ymax)

  /** Native dot product over array&lt;double&gt; columns (similarity surface). */
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)
}
