package graft.llm

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003): the
  * local guarantee and the containment detector built on it (q92). */
class WinnowSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.TestSession.spark

  private val K = Dedup.WinnowK
  private val W = Dedup.WinnowW

  test("w+k-1 guarantee: any shared substring of length >= w+k-1 shares a fingerprint") {
    // deterministic pseudo-random haystacks with a planted common substring
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = Iterator.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val planted = randStr(W + K - 1) // exactly the guarantee boundary
    for (trial <- 1 to 20) {
      val d1 = randStr(50 + trial) + planted + randStr(40)
      val d2 = randStr(30) + planted + randStr(60 + trial)
      val f1 = Hashing.winnow(d1, K, W).toSet
      val f2 = Hashing.winnow(d2, K, W).toSet
      assert((f1 & f2).nonEmpty,
        s"trial $trial: shared ${planted.length}-char substring produced no shared fingerprint")
    }
  }

  test("fingerprint set is far smaller than the k-gram count (density ~2/(w+1))") {
    val rnd = new scala.util.Random(7)
    val text = Iterator.fill(5000)(('a' + rnd.nextInt(26)).toChar).mkString
    val fps = Hashing.winnow(text, K, W)
    val grams = text.length - K + 1
    assert(fps.length < grams / 4, s"${fps.length} fingerprints for $grams grams — not winnowed")
    assert(fps.length > grams / (2 * W), s"${fps.length} suspiciously few fingerprints")
  }

  test("short texts (below one k-gram) still fingerprint without crashing") {
    assert(Hashing.winnow("ab", K, W).length === 1)
    assert(Hashing.winnow("", K, W).length === 1)
  }

  test("q93: k-gram mod-p containment recovers every excerpt's source too") {
    // the oracle twin's selection (polynomial-mod sampling) must give the
    // same qualitative recovery as the winnow path on distinct-vocab docs
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def sentence() = Iterator.fill(12)("tok" + rnd.nextInt(9000)).mkString(" ")
    val docs = (0L until 200L).map(i => (i, Iterator.fill(8)(sentence()).mkString(". ")))
      .toDF("doc_id", "text")
    val out = Dedup.kgramContainment(docs).collect()
    assert(out.length === 4, s"expected 4 probe rows, got ${out.length}")
    out.foreach { r =>
      // span-derived probe offset (r16): docSpan = max(doc_id)+1 = 200 here
      assert(r.getLong(1) === r.getLong(0) - 200L,
        s"probe ${r.getLong(0)} matched ${r.getLong(1)}")
      assert(r.getDouble(2) === 1.0,
        s"probe ${r.getLong(0)} containment ${r.getDouble(2)} — excerpt grams must all appear in the source")
    }
  }

  test("q92: every excerpt's best containment match is its source document") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def sentence() = Iterator.fill(12)("word" + rnd.nextInt(5000)).mkString(" ")
    val docs = (0L until 200L).map(i => (i, Iterator.fill(8)(sentence()).mkString(". ")))
      .toDF("doc_id", "text")
    val out = Dedup.excerptContainment(docs).collect()
    assert(out.length === 4, s"expected 4 probe rows (doc_id % 50 == 0), got ${out.length}")
    out.foreach { r =>
      val probe = r.getLong(0)
      val matched = r.getLong(1)
      val containment = r.getDouble(2)
      // span-derived probe offset (r16): docSpan = max(doc_id)+1 = 200 here
      assert(matched === probe - 200L,
        s"probe $probe matched $matched, expected its source ${probe - 200L}")
      assert(containment > 0.8, s"probe $probe containment $containment too low")
    }
  }

  test("q215: the mod-p winnow twin recovers every excerpt's source too") {
    // same qualitative recovery as q92's avalanche-hash path — the twin
    // swaps only the gram hash, never the selection rule
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def sentence() = Iterator.fill(12)("word" + rnd.nextInt(5000)).mkString(" ")
    val docs = (0L until 200L).map(i => (i, Iterator.fill(8)(sentence()).mkString(". ")))
      .toDF("doc_id", "text")
    val out = Dedup.winnowContainmentExact(docs).collect()
    assert(out.length === 4, s"expected 4 probe rows, got ${out.length}")
    out.foreach { r =>
      // span-derived probe offset (r16): docSpan = max(doc_id)+1 = 200 here
      assert(r.getLong(1) === r.getLong(0) - 200L,
        s"probe ${r.getLong(0)} matched ${r.getLong(1)}")
      assert(r.getDouble(2) > 0.8, s"containment ${r.getDouble(2)} too low")
    }
  }
}
