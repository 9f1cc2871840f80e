package graft.llm

import graft.T
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q193's approximation laws — the checks a rows-only ANN query needs in
  * place of a SQL oracle. */
class IvfPqSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def vecs(): Array[(Long, Array[Double])] =
    T(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  test("q221: ADC twin emits 5 ranked rows per query, sorted, self-free, ADC = sum of group LUT entries") {
    val rows = Ivf.ivfPqAdcExact(T(spark, "/root/testdata/sf0.001", "embeddings"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_._1)
    for ((qid, rs) <- byQ) {
      assert(rs.map(_._2).sorted.sameElements(1L to rs.length), s"q$qid ranks")
      assert(rs.length == 5, s"q$qid row count")
      // sorted by (adc_d2, vid) within the query, never the query itself
      val sorted = rs.sortBy(_._2)
      assert(sorted.sliding(2).forall { case Array(a, b) =>
        a._4 < b._4 || (a._4 == b._4 && a._3 < b._3) }, s"q$qid order")
      assert(rs.forall(_._3 != qid), s"q$qid self in candidates")
      assert(rs.forall(_._4 >= 0L), s"q$qid negative ADC")
    }
  }

  test("a codebook seed encodes to itself: zero quantization error per subspace") {
    val emb = T(spark, dir, "embeddings")
    val books = Ivf.pqBooks(emb)
    val seeds = vecs().filter(_._1 < Ivf.PqCodes).sortBy(_._1)
    for ((id, v) <- seeds) {
      val codes = Ivf.pqEncode(v.toSeq, books.map(_.map(_.toSeq).toSeq).toSeq)
      for (g <- 0 until Ivf.PqGroups) {
        val sub = v.slice(g * Ivf.PqSubDim, (g + 1) * Ivf.PqSubDim)
        val cent = books(g)(codes(g))
        val err = sub.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum
        assert(err == 0.0, s"seed $id group $g: code ${codes(g)} has error $err")
      }
    }
  }

  test("recall@10 of ADC search vs exact brute-force top-10") {
    // sf0.01 (500 vectors): random top-10 recall would be ~0.02, so the
    // floor below is a real discrimination test; at sf0.001 (50 vectors)
    // chance alone is 0.2 and the assertion would be vacuous
    val dir01 = "/root/testdata/sf0.01"
    val approx = Ivf.ivfPqTopK(spark, T(spark, dir01, "embeddings"), 10)
      .select(col("qid"), col("vid")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val all = T(spark, dir01, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val queries = all.filter(_._1 < 5)
    var hit = 0; var tot = 0
    for ((qid, qv) <- queries) {
      val exact = all.filter(_._1 != qid)
        .map { case (vid, v) =>
          (vid, qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .sortBy { case (vid, d) => (d, vid) }.take(10).map(_._1).toSet
      hit += exact.intersect(approx.getOrElse(qid, Set.empty)).size
      tot += 10
    }
    val recall = hit.toDouble / tot
    info(f"recall@10 = $recall%.2f")
    // PQ with 16 seed-derived codes per subspace + nprobe=4 routing is a
    // coarse quantizer; measured 0.28 here vs 0.02 chance (14x). The law
    // is "far better than chance", not "perfect" — brute-force cosine
    // (q28) is the exact path; q193's shipped operating point (next test)
    // trains finer codebooks and probes wider.
    assert(recall >= 0.15, f"recall@10 $recall%.2f below floor (chance is 0.02)")
  }

  test("recall@10 of q193's shipped operating point: trained 16x256 books, nprobe=8") {
    // the r8 nprobe/m sweep (also cited at Ivf's q193): recall rises
    // 0.28 → 0.66 moving from 4x16 seed books @ nprobe=4 to 16-group,
    // 256-code, 2-Lloyd-iteration books @ nprobe=8 — and the r7 ceiling
    // was PQ resolution, not routing (nprobe=16 on the old books reached only 0.32). Floor 0.55
    // leaves margin for FP-mean jitter in distributed Lloyd averaging;
    // chance is 0.02.
    val dir01 = "/root/testdata/sf0.01"
    val approx = Ivf.ivfPqTopK(spark, T(spark, dir01, "embeddings"), 10,
        nprobe = 8, trainIters = 2, nCodes = 256, groups = 16)
      .select(col("qid"), col("vid")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val all = T(spark, dir01, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    var hit = 0
    for ((qid, qv) <- all.filter(_._1 < 5)) {
      val exact = all.filter(_._1 != qid)
        .map { case (vid, v) =>
          (vid, qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .sortBy { case (vid, d) => (d, vid) }.take(10).map(_._1).toSet
      hit += exact.intersect(approx.getOrElse(qid, Set.empty)).size
    }
    val recall = hit / 50.0
    info(f"recall@10 = $recall%.2f")
    assert(recall >= 0.55, f"recall@10 $recall%.2f below the 0.55 trained-config floor")
    // cost/recall trade is real: 16-byte codes per vector (16x smaller
    // than the 256-byte raw vector), 2 training scans amortized per JVM
  }

  test("exact re-rank lifts q193's shipped recall@10 to >= 0.8") {
    // the FAISS refine pass: ADC ranks a top-50 shortlist, exact
    // distances rank the final 10 — quantization error only costs
    // recall when the true neighbor misses the ADC top-50 entirely.
    // This is q193's shipped configuration (rerank = Q193Rerank).
    val dir01 = "/root/testdata/sf0.01"
    val approx = Ivf.ivfPqTopK(spark, T(spark, dir01, "embeddings"), 10,
        nprobe = 8, trainIters = Ivf.Q193Iters, nCodes = Ivf.Q193Codes,
        groups = Ivf.Q193Groups, rerank = Ivf.Q193Rerank)
      .select(col("qid"), col("vid")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val all = T(spark, dir01, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    var hit = 0
    for ((qid, qv) <- all.filter(_._1 < 5)) {
      val exact = all.filter(_._1 != qid)
        .map { case (vid, v) =>
          (vid, qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        .sortBy { case (vid, d) => (d, vid) }.take(10).map(_._1).toSet
      hit += exact.intersect(approx.getOrElse(qid, Set.empty)).size
    }
    val recall = hit / 50.0
    info(f"recall@10 (reranked) = $recall%.2f")
    assert(recall >= 0.8, f"reranked recall@10 $recall%.2f below the 0.8 floor")
    // every emitted row must also carry k ranks per query
    val ranks = Ivf.ivfPqTopK(spark, T(spark, dir01, "embeddings"), 10,
        nprobe = 8, trainIters = Ivf.Q193Iters, nCodes = Ivf.Q193Codes,
        groups = Ivf.Q193Groups, rerank = Ivf.Q193Rerank)
      .groupBy(col("qid")).agg(count(lit(1)).as("n")).collect()
    assert(ranks.forall(_.getLong(1) == 10L), "re-ranked output must keep 10 rows per query")
  }
}
