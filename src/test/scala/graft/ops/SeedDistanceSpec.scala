package graft.ops

import graft.SparkEntry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for bounded multi-source BFS (Graph.seedDistance) and
  * the Gonzalez k-center greedy (q233) — the oracles gate the
  * fixture-scale arithmetic; these pin hand-checkable laws. */
class SeedDistanceSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("path graph distances from one seed, capped at the hop budget") {
    import spark.implicits._
    val e = (0 until 7).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val seeds = Seq(0L).toDF("n")
    val d = Graph.seedDistance(e, seeds, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("two seeds: min distance wins, both directions traversed") {
    import spark.implicits._
    val e = (0 until 10).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val seeds = Seq(0L, 10L).toDF("n")
    val d = Graph.seedDistance(e, seeds, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(4L) === 4L)
    assert(d(7L) === 3L) // closer to seed 10
    assert(!d.contains(5L) || d(5L) === 5L) // beyond both 4-hop frontiers: absent
    assert(!d.contains(5L))
  }

  test("q233 Gonzalez laws: distinct centers, anchored start, non-increasing maximin") {
    val rows = SparkEntry.queries("q233_kcenter_coreset")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 8)
    assert(rows.map(_._2).distinct.length === 8, "centers must be distinct")
    assert(rows.head._1 === 1L && rows.head._2 === 0L) // min vec_id anchor
    val maximins = rows.filter(_._1 >= 2).sortBy(_._1).map(_._3)
    assert(maximins.zip(maximins.tail).forall { case (a, b) => b <= a },
      s"maximin must be non-increasing: ${maximins.mkString(",")}")
  }
}
