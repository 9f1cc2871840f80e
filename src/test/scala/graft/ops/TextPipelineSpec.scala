package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant specs for the q103/q104/q106 training-pipeline ops (the
  * oracle gate checks exact values at sf0.01; these pin the algebraic
  * guarantees on adversarial shapes the driver corpus doesn't contain). */
class TextPipelineSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  // ---- q106 greedy packing -------------------------------------------

  private def pack(rows: Seq[(String, Long, Long)]): Seq[(String, Long, Long, Long)] = {
    import spark.implicits._
    TextOps.packBySource(spark, rows.toDF("source", "doc_id", "n_chars"), 100L)
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
  }

  test("packing: no bin exceeds capacity unless it holds a single oversized doc") {
    val rows = Seq[(String, Long, Long)](
      ("a", 1L, 40L), ("a", 2L, 40L), ("a", 3L, 40L), // 40+40 fits, +40 doesn't
      ("a", 4L, 250L),                                // oversized: own bin
      ("a", 5L, 10L),                                 // new bin after oversized
      ("b", 6L, 100L), ("b", 7L, 1L))                 // exact fit closes bin 1
    val got = pack(rows)
    assert(got == Seq(
      ("a", 1L, 1L, 40L), ("a", 2L, 1L, 80L), ("a", 3L, 2L, 40L),
      ("a", 4L, 3L, 250L), ("a", 5L, 4L, 10L),
      ("b", 6L, 1L, 100L), ("b", 7L, 2L, 1L)))
  }

  test("packing: bins are contiguous 1..k per source and fills are running sums") {
    val rows = (1L to 37L).map(i => ("s", i, (i * 7) % 60 + 1))
    val got = pack(rows)
    val bins = got.map(_._3)
    assert(bins.head == 1L && bins.zip(bins.tail).forall { case (a, b) => b == a || b == a + 1 })
    // every doc lands in exactly one bin, in doc_id order
    assert(got.map(_._2) == (1L to 37L))
    // fill resets to the doc's own size on every bin open
    got.zip(got.drop(1)).foreach { case ((_, _, b1, f1), (_, id2, b2, f2)) =>
      val n2 = (id2 * 7) % 60 + 1
      if (b2 == b1) assert(f2 == f1 + n2) else assert(f2 == n2)
    }
  }

  // ---- q104 chunking --------------------------------------------------

  test("chunking: windows cover every word and overlap by exactly 16") {
    import spark.implicits._
    // 130 words -> chunks at 1..64, 49..112, 97..130 (3 chunks)
    val text = (1 to 130).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, text)).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, greatest(cast(ceil((size(w) - 64) / 48.0) as int), 0)),
           i -> array_join(slice(w, i * 48 + 1, 64), ' '))""")))
    val chunks = df.orderBy("pos").collect().map(_.getString(2).split(" ").toSeq)
    assert(chunks.length == 3)
    assert(chunks(0).head == "w1" && chunks(0).last == "w64")
    assert(chunks(1).head == "w49" && chunks(1).last == "w112")
    assert(chunks(2).head == "w97" && chunks(2).last == "w130")
    assert(chunks(0).takeRight(16) == chunks(1).take(16))
    // union covers all words
    assert(chunks.flatten.distinct.length == 130)
  }

  // ---- q103 decontamination -------------------------------------------

  test("decontamination joins on exact 8-gram equality only") {
    import spark.implicits._
    val bench = Seq("b c d e f g h i").toDF("gram")
    val docs = Seq(
      (1L, "a b c d e f g h i j"),     // contains the gram -> hit
      (2L, "b c d e f g h x i"),       // broken run -> no hit
      (3L, "b c d e f g h"))           // too short -> no hit
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
        .as("gram"))
    val hits = docs.join(broadcast(bench), Seq("gram"))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(hits == Set(1L))
  }

  // ---- q133 salted per-source top-k -----------------------------------

  test("sourceCap: salted two-level window equals the plain one-window top-k on a skewed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one hot source (500 docs), one normal (40), one smaller than k (5)
    val docs = ((1L to 500L).map(i => ("hot", i)) ++
      (501L to 540L).map(i => ("mid", i)) ++
      (541L to 545L).map(i => ("tiny", i))).toDF("source", "doc_id")
    val k = 15
    val got = TextOps.sourceCap(docs, k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val h = (col("doc_id") * lit(2654435761L)) % lit(1000000007L)
    val want = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(h.asc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rk") <= k)
      .orderBy(asc_nulls_first("source"), asc_nulls_first("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    // a source smaller than k survives whole, ranks contiguous from 1
    val tiny = got.filter(_._1 == "tiny")
    assert(tiny.map(_._3) == (1L to 5L) && tiny.map(_._2).toSet == (541L to 545L).toSet)
    assert(got.count(_._1 == "hot") == k && got.count(_._1 == "mid") == k)
  }

  // ---- q134 token-budget mixture --------------------------------------

  test("token-budget mixture: rates capped at 10000 bp, full-keep sources keep everything, kept <= avail") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q134_token_budget_mixture")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    val totals = graft.T(spark, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (src, avail, target, rateBp, nKept, charsKept) =>
      assert(rateBp >= 0L && rateBp <= 10000L, s"$src rate out of range")
      assert(charsKept <= avail, s"$src kept more chars than available")
      assert(nKept <= totals(src), s"$src kept more docs than exist")
      // rate 10000 = under-represented source: budget says keep all of it
      if (rateBp == 10000L) assert(nKept == totals(src), s"$src capped rate must keep every doc")
      // the rate solve respects the target: a downsampled source was over target
      if (rateBp < 10000L) assert(avail > target, s"$src downsampled despite avail <= target")
    }
  }
}
