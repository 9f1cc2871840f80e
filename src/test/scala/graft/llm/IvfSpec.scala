package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private def clusteredEmb = {
    import spark.implicits._
    // 4 well-separated clusters of 25 vectors each
    val r = new scala.util.Random(41)
    val centers = Array.fill(4)(Array.fill(Dedup.Dim)(r.nextGaussian() * 5))
    (0L until 100L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + 0.1 * r.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("two in-memory indexes keep separate files: each path reads back its own rows") {
    // in-memory frames have no input files, so neither is a derived table
    def emb(n: Long) = spark.range(n).selectExpr("id as vec_id",
      "transform(sequence(1, 8), i -> cast(pmod(id * i, 17) as double)) as embedding")
    val (_, a) = Ivf.builtIndex(emb(300))
    val (_, b) = Ivf.builtIndex(emb(500))
    assert(a !== b)
    assert(graft.Parquet.read(spark, a).count() === 300)
    assert(graft.Parquet.read(spark, b).count() === 500)
  }

  test("index covers every vector exactly once, lists within bounds") {
    val idx = Ivf.index(clusteredEmb)
    assert(idx.count() === 100)
    val lists = idx.select("list_id").distinct().collect().map(_.getInt(0))
    assert(lists.forall(l => l >= 0 && l < Ivf.NumLists))
  }

  test("IVF recall@10 >= 0.7 vs exact brute-force cosine") {
    val emb = clusteredEmb
    val data = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    // exact top-10 with the same rounded-score + vid-asc tie-break as topK
    val exact = (0L until 5L).map { q =>
      q -> data.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, BigDecimal(cos(data(q), v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    }.toMap
    val approx = Ivf.topK(spark, emb, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty[Long]).intersect(ex).size.toDouble / ex.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.7, s"avg recall@10 $avg < 0.7 (per-query: $recalls)")
  }

  test("IVF top-k finds same-cluster neighbors (high recall on separated clusters)") {
    val topk = Ivf.topK(spark, clusteredEmb, 10).collect()
    // every query's neighbors should come from its own cluster (id ≡ qid mod 4)
    val byQ = topk.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (qid, rows) =>
      assert(rows.length === 10, s"query $qid: ${rows.length} neighbors")
      val sameCluster = rows.count(r => r.getLong(1) % 4 == qid % 4)
      assert(sameCluster >= 9, s"query $qid: only $sameCluster/10 same-cluster")
      assert(rows.forall(_.getDouble(2) > 0.9))
    }
  }

  test("q218: routing twin distances are the exact integer L2² and ranks are ordered") {
    val emb = graft.T(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Ivf.ivfRoutingExact(emb).collect()
    assert(out.nonEmpty)
    // recompute each (qid, vid) distance brute-force from the raw vectors
    val vecs = emb.collect().map { r =>
      r.getLong(0) -> {
        val e = r.getSeq[Float](1).map(_.toDouble)
        Array.tabulate(64)(d => if (d < e.length) math.floor(e(d) * 1000d).toLong else 0L)
      }
    }.toMap
    out.foreach { r =>
      val (qid, vid, d2) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val (a, b) = (vecs(qid), vecs(vid))
      val want = (0 until 64).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
      assert(d2 === want, s"($qid,$vid): carried dist2 $d2 != exact $want")
    }
    // per query: ranks are 1..k with non-decreasing distance
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length))
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x.getLong(3) <= y.getLong(3)
        case _ => true
      }, s"query $qid: distances not ordered by rank")
    }
  }
}
