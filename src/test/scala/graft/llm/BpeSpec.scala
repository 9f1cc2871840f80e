package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("first merges are the most frequent pairs, deterministically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest newest newest"),
      (3L, "widest widest widest")).toDF("doc_id", "text")
    val merges = Bpe.train(spark, Bpe.wordFrequencies(docs), 8)
    assert(merges.nonEmpty)
    // the classic Sennrich example: 'lo' (from low×5 + lower×2 = 7) and
    // 'es' (newest×4 + widest×3 = 7) tie at 7 — lexicographic tie-break
    // picks ('e','s') first
    assert(merges.head === (("e", "s")))
    // the est-chain wins the next two merges; ('l','o') (low×5 + lower×2
    // = 7, tied with ('o','w') at 7, lexicographically first) is fourth
    assert(merges.take(2) === Seq(("e", "s"), ("es", "t")))
    assert(merges(3) === (("l", "o")))
    // training twice gives identical merges (determinism)
    assert(Bpe.train(spark, Bpe.wordFrequencies(docs), 8) === merges)
  }

  test("encoding compresses trained words and never splits across spaces") {
    import spark.implicits._
    val docs = Seq((1L, "banana banana banana bandana")).toDF("doc_id", "text")
    val merges = Bpe.train(spark, Bpe.wordFrequencies(docs), 20)
    val full = Bpe.encodeWord("banana", merges)
    assert(full.length === 1, s"fully-trained word should merge to one token: $full")
    assert(full.head === "banana</w>")
    // unseen word degrades to characters + partial merges, never crashes
    val unseen = Bpe.encodeWord("bananarama", merges)
    assert(unseen.nonEmpty && unseen.mkString === "bananarama</w>")
    val counts = Bpe.encode(spark, docs, merges).collect().head
    assert(counts.getLong(1) <= 8, s"encoded token count ${counts.getLong(1)}")
  }

  test("train caps the driver-side vocabulary collect (Manifest.guarded pattern)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val wf = Bpe.wordFrequencies(docs) // 8 distinct words
    // under the cap: trains normally
    assert(Bpe.train(spark, wf, 2, maxVocab = 8).size === 2)
    // over the cap: loud, actionable failure instead of an unbounded collect
    val e = intercept[IllegalArgumentException] {
      Bpe.train(spark, wf, 2, maxVocab = 7)
    }
    assert(e.getMessage.contains("exceeds 7 distinct words"))
    // at-maximum cap must not overflow the limit arithmetic
    assert(Bpe.train(spark, wf, 1, maxVocab = Int.MaxValue).size <= 1)
  }

  test("encode counts tokens per doc with word-boundary markers intact") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb"), (2L, "aa aa aa")).toDF("doc_id", "text")
    val merges = Bpe.train(spark, Bpe.wordFrequencies(docs), 4)
    val out = Bpe.encode(spark, docs, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L)._2 === 2 && out(2L)._2 === 3) // word counts
    assert(out(2L)._1 <= 3, "aa should merge to one token per occurrence")
  }
}
