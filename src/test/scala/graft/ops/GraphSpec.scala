package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Independent reference: driver-side union-find. */
  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // component label = min member = root under min-union
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def sparkCC(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
    import spark.implicits._
    val nodes = (0 until n).map(_.toLong).toDF("node")
    val e = edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    Graph.connectedComponents(nodes, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph (worst case for naive propagation) collapses to one component") {
    val n = 300
    val edges = (1 until n).map(i => (i, i - 1))
    val got = sparkCC(n, edges)
    assert(got.values.toSet === Set(0L))
  }

  test("random graphs match union-find (seeded samples)") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 1000 + 7)
      val n = 200
      val m = 120 + rnd.nextInt(120)
      val edges = Seq.fill(m)((rnd.nextInt(n), rnd.nextInt(n)))
      val want = unionFind(n, edges)
      val got = sparkCC(n, edges)
      assert(got === want, s"seed $seed: components differ")
    }
  }

  test("isolated nodes label themselves; self-loops ignored") {
    val got = sparkCC(6, Seq((0, 1), (2, 2)))
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("q82 components are the expected blocks of 10") {
    val df = graft.SparkEntry.queries("q82_connected_components")(spark, dir)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, comp) => assert(comp === (id / 10) * 10) }
  }

  test("q119 split counts follow q82's components and survive an unpersist-all") {
    def q119(): Map[String, (Long, Long)] =
      graft.SparkEntry.queries("q119_leakage_safe_split")(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the 80/10/10 block rule, recomputed from q82's collected components
    def split(comp: Long): String = (comp / 10) % 10 match {
      case b if b < 8 => "train"
      case 8 => "val"
      case _ => "test"
    }
    val comps = graft.SparkEntry.queries("q82_connected_components")(spark, dir)
      .collect().map(r => r.getLong(1))
    val want = comps.groupBy(split).map { case (sp, cs) =>
      sp -> (cs.length.toLong, cs.distinct.length.toLong)
    }
    val first = q119()
    assert(first.nonEmpty)
    assert(first === want)
    // TimeQ and JobProf drop every persistent RDD between queries; the
    // memoized cluster table must outlive that
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(q119() === first)
  }

  test("pageRank: regular graphs are a fixed point; path graph matches hand integers") {
    import spark.implicits._
    // 3-ring (2-regular): every node keeps pr = 10^6 exactly at any depth
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val ringE = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    Graph.pageRank(ringE, 3).collect().foreach(r => assert(r.getLong(1) === 1000000L))
    // path a-b-c, two hand-computed iterations:
    //   it1: ends 150000+85*500000//100 = 575000, mid 150000+85*2000000//100 = 1850000
    //   it2: ends 150000+(85*925000)//100 = 936250, mid 150000+(85*1150000)//100 = 1127500
    val path = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val it2 = Graph.pageRank(path, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(it2 === Map(0L -> 936250L, 1L -> 1127500L, 2L -> 936250L))
  }
}
