package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the q179 PPJoin length filter: on a mixed-size clone family whose
  * shingle dfs are equalized (so the rarest-first hash tie-break scatters
  * prefixes across the whole position range — the adversarial shape of a
  * clone cluster inside a large corpus, where GLOBAL dfs tie), the prefix
  * rule alone yields near-quadratic candidates while the length filter
  * restores the O(cluster·window) bound. Both candidate sets are lossless
  * supersets, so the verified output is identical either way.
  *
  * The fixture is fully deterministic (xxhash64 tie-breaks are fixed by
  * the token strings), so the pinned counts are exact reruns, not
  * statistical bounds.
  */
class PpjoinSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  private val K = 24 // clone-cluster size

  /** Truncation-dup cluster: doc i = first n_i tokens of one shared word
    * chain, n_i geometric (ratio 1.15), plus per-position background docs
    * that equalize every chain shingle's df — global-corpus df ties.
    */
  private def fixture(s: SparkSession): DataFrame = {
    import s.implicits._
    val sizes = (0 until K).map(i => math.ceil(8 * math.pow(1.15, i)).toInt)
    val chain = (1 to sizes.max).map(p => f"w$p%04d")
    val cluster = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, chain.take(n).mkString(" "))
    }
    // position p (0-based) appears in docs with n >= p + 3; pad every
    // position's df to the same constant D with unique-salted 4-token
    // background docs (2 shingles each: the chain shingle + a df-1
    // boundary — their own prefixes are the df-1 boundary, so background
    // docs never collide with anything)
    val D = K + 2
    var salt = 0
    val background = (0 to sizes.max - 3).flatMap { p =>
      val cnt = sizes.count(_ >= p + 3)
      (1 to (D - cnt)).map { _ =>
        salt += 1
        (100000L + salt, s"${chain(p)} ${chain(p + 1)} ${chain(p + 2)} s$salt")
      }
    }
    (cluster ++ background).toDF("doc_id", "text")
  }

  private def shingleFrame(docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = docs
      .select(col("doc_id"), explode(Dedup.shingles("text")).as("sg"))
      .select(col("doc_id"), xxhash64(col("sg")).as("sgh"))
      .localCheckpoint()
    (sh, sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
  }

  private def verified(sh: DataFrame, sizes: DataFrame, cands: DataFrame): Set[(Long, Long)] =
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sgh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sgh")), Seq("doc_b", "sgh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("inter") * 10 >= (col("na") + col("nb") - col("inter")) * 6)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("length filter bounds clone-cluster fan-out from quadratic to O(cluster·window)") {
    val (sh, sizes) = shingleFrame(fixture(spark))
    val inCluster = (d: Long) => d < K
    // control arm: prefix rule only (both extra prunes off)
    val unfiltered = Dedup.ppjoinCandidates(sh, sizes,
        lengthFilter = false, positionalFilter = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => inCluster(a) && inCluster(b) }
    val filtered = Dedup.ppjoinCandidates(sh, sizes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => inCluster(a) && inCluster(b) }
    // prefix rule alone: hash-scattered prefixes collide across the whole
    // size range — most of the C(24,2) = 276 pairs become candidates
    assert(unfiltered.length >= 180,
      s"expected near-quadratic unfiltered fan-out, got ${unfiltered.length}")
    // length filter: only pairs within the geometric 0.6-ratio window
    // (|j - i| <= ~4) survive — linear in cluster size
    assert(filtered.length <= 110,
      s"expected O(cluster·window) filtered candidates, got ${filtered.length}")
    assert(filtered.length >= K - 1, "adjacent truncation pairs must remain candidates")
  }

  test("length filter is lossless: verified output identical with and without") {
    val (sh, sizes) = shingleFrame(fixture(spark))
    val without = verified(sh, sizes, Dedup.ppjoinCandidates(sh, sizes,
      lengthFilter = false, positionalFilter = false))
    val withLf = verified(sh, sizes, Dedup.ppjoinCandidates(sh, sizes))
    assert(withLf === without,
      "length + positional filters must be jointly lossless")
    assert(withLf.nonEmpty, "geometric truncation chain must contain >= 0.6-Jaccard pairs")
    // every surviving pair respects the size theorem: min >= 0.6 * max
    val n = sizes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withLf.foreach { case (a, b) =>
      assert(math.min(n(a), n(b)) * 10 >= math.max(n(a), n(b)) * 6)
    }
  }
}
