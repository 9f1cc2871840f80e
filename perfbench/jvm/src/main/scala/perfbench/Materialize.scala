package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}

/** The timed action: materializes EVERY output column of a query's
  * DataFrame and folds the rows into an order-independent checksum.
  *
  * `count()` lets Catalyst prune every projected column, so a kernel that
  * only feeds an output column is never run. Here each row is deserialized
  * in full (the `DeserializeToObject` node above the query's plan needs all
  * of its columns) and hashed, so nothing can be pruned. Rows are hashed
  * one by one and summed, so partition order and row order do not matter;
  * doubles are rounded to 10 significant digits first, so a different
  * floating-point summation order between passes does not change the sum. */
object Materialize {

  final case class Result(rows: Long, sum: Long, ds: Dataset[(Long, Long)]) {
    def checksum: String = f"$rows:$sum%016x"
  }

  def run(df: DataFrame): Result = {
    val ds = wrap(df)
    val parts = ds.collect()
    Result(parts.map(_._2).sum, parts.map(_._1).sum, ds)
  }

  /** One (sum, count) row per partition of `df`. */
  def wrap(df: DataFrame): Dataset[(Long, Long)] =
    df.mapPartitions { (it: Iterator[Row]) =>
      var s = 0L
      var n = 0L
      it.foreach { r => s += fmix(row(r)); n += 1 }
      Iterator.single((s, n))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

  /** Columns the deserializer under the timed action reads, from the
    * executed plan of `ds` (after it ran). */
  def deserializedColumns(ds: Dataset[_]): Option[Seq[String]] = {
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val plan: SparkPlan = ds.queryExecution.executedPlan
    helper.collectFirst(plan) { case d: DeserializeToObjectExec => d.child.output.map(_.name) }
  }

  private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def str(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0 || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(new java.math.MathContext(10)).doubleValue)

  private def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case x: java.lang.Long => x
    case x: java.lang.Integer => x.longValue
    case x: java.lang.Short => x.longValue
    case x: java.lang.Byte => x.longValue
    case x: java.lang.Boolean => if (x) 1L else 2L
    case x: java.lang.Double => dbl(x)
    case x: java.lang.Float => dbl(x.toDouble)
    case x: String => str(x)
    case x: java.math.BigDecimal => str(x.stripTrailingZeros.toPlainString)
    case x: Array[Byte] => str(new String(x, java.nio.charset.StandardCharsets.ISO_8859_1))
    case x: Row => row(x)
    case x: scala.collection.Map[_, _] =>
      x.iterator.map { case (k, w) => fmix(value(k) * 31 + value(w)) }.sum
    case x: scala.collection.Iterable[_] =>
      x.iterator.foldLeft(17L)((h, e) => fmix(h * 31 + value(e)))
    case x => str(x.toString)
  }

  private def row(r: Row): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < r.length) { h = fmix(h * 31 + value(r.get(i)) + i); i += 1 }
    h
  }
}
