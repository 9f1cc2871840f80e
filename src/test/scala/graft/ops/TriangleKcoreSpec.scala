package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Kernel tests for the degree-oriented triangle counter and the k-core
  * peel (Graph.triangleCounts / Graph.kCore) on hand-checkable graphs —
  * the q228/q229 oracles gate the fixture-scale arithmetic; these pin the
  * graph semantics on known topologies. */
class TriangleKcoreSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def edges(es: (Int, Int)*): DataFrame = {
    import spark.implicits._
    // canonicalize a < b as the kernels require
    es.map { case (x, y) => (math.min(x, y).toLong, math.max(x, y).toLong) }
      .toDF("a", "b")
  }

  private def triMap(e: DataFrame): Map[Long, (Long, Long)] =
    Graph.triangleCounts(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("K4: every node in 3 triangles, degree 3") {
    val t = triMap(edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)))
    assert(t === Map(1L -> (3L, 3L), 2L -> (3L, 3L), 3L -> (3L, 3L), 4L -> (3L, 3L)))
  }

  test("two triangles sharing an edge attribute counts per node") {
    // {1,2,3} and {2,3,4}: shared edge (2,3)
    val t = triMap(edges((1, 2), (1, 3), (2, 3), (2, 4), (3, 4)))
    assert(t(1L) === ((1L, 2L)))
    assert(t(4L) === ((1L, 2L)))
    assert(t(2L) === ((2L, 3L)))
    assert(t(3L) === ((2L, 3L)))
  }

  test("star graph (hub skew, the 'last reducer' case) has zero triangles") {
    val t = triMap(edges((1 to 50).map(i => (0, i)): _*))
    assert(t.values.forall(_._1 === 0L))
    assert(t(0L)._2 === 50L)
  }

  test("3-core of K4 plus a pendant path is exactly K4") {
    val e = edges((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6))
    val core = Graph.kCore(e, 3, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("2-core of a path is empty (peels end-in from both sides)") {
    val e = edges((0 to 8).map(i => (i, i + 1)): _*)
    assert(Graph.kCore(e, 2, 10).count() === 0L)
  }

  test("2-core of a cycle is the cycle (fixpoint on round one)") {
    val n = 12
    val e = edges(((0 until n).map(i => (i, (i + 1) % n))): _*)
    assert(Graph.kCore(e, 2, 5).count() === n.toLong)
  }

  test("kCore converges when the peel needs EXACTLY maxRounds rounds (no off-by-one)") {
    // 12-edge path, k=2: each round peels one edge per end -> 6 peel
    // rounds to empty, plus one no-op round to detect the fixpoint. With
    // maxRounds=6 the old `round < maxRounds` budget threw a false
    // failure; the fixpoint-confirming round must not count as a peel.
    val e = edges((0 to 11).map(i => (i, i + 1)): _*)
    assert(Graph.kCore(e, 2, 6).count() === 0L)
  }

  test("kCore throws loudly when maxRounds is too small (truncated peel is not a core)") {
    // 12-node path with k=2 peels one node per side per round: needs 6
    // rounds to empty; 2 is insufficient and must not return quietly
    val e = edges((0 to 11).map(i => (i, i + 1)): _*)
    val ex = intercept[IllegalStateException](Graph.kCore(e, 2, 2).count())
    assert(ex.getMessage.contains("fixpoint"))
  }
}
