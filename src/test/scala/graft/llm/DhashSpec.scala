package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** q227's kernel laws: the dHash chunks, the BMP decode boundary, and the
  * pair semantics (exact-collapse + chunk-bucket completeness for ham ≤ 3)
  * on planted fixtures — the engine-side pins behind the DuckDB twin. */
class DhashSpec extends AnyFunSuite {

  private def ham(a: Array[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  test("chunks are 16-bit, deterministic, and position-sensitive") {
    val base = ("the quick brown fox jumps over the lazy dog, " * 4).codePoints().toArray
    val ch = Multimodal.dhashChunks(base)
    assert(ch.length == 4)
    assert(ch.forall(c => c >= 0L && c <= 0xFFFFL))
    assert(ch.toSeq == Multimodal.dhashChunks(base).toSeq)
    // reversing the content must flip bits (monotone-run hashes differ)
    val rev = Multimodal.dhashChunks(base.reverse)
    assert(ham(ch, rev) > 0)
  }

  test("a small perturbation moves few bits; identical content moves none") {
    val a = ("abcdefghij" * 20).codePoints().toArray
    val b = a.clone(); b(5) = b(5) + 1 // one code point nudged by one
    val ca = Multimodal.dhashChunks(a)
    val cb = Multimodal.dhashChunks(b)
    assert(ham(ca, ca) == 0)
    // one nudged code point can only disturb the one grid cell it lives in
    // (two adjacent-difference bits at most)
    assert(ham(ca, cb) <= 2)
  }

  test("pigeonhole: ham <= 3 implies at least one shared chunk") {
    val a = ("xyzw" * 60).codePoints().toArray
    val ca = Multimodal.dhashChunks(a)
    // flip exactly 3 bits across distinct chunks by brute perturbation of
    // the chunk values themselves (the law is about the 4x16 layout)
    val cb = ca.clone()
    cb(0) ^= 1L; cb(1) ^= 2L; cb(2) ^= 4L
    assert(ham(ca, cb) == 3)
    assert(ca.zip(cb).exists { case (x, y) => x == y })
  }

  test("BMP round trip: decode recovers the text, padding stripped") {
    for (t <- Seq("hello world, seventy-two code points of content follow " + "x" * 40,
                  "é中" * 50)) {
      val wrapped = Codecs.wrapBmp(t.getBytes("UTF-8"), 16)
      val bmp = Codecs.parseBmp(wrapped).get
      var end = wrapped.length
      while (end > bmp.dataOffset && wrapped(end - 1) == 0) end -= 1
      val back = new String(wrapped, bmp.dataOffset, end - bmp.dataOffset, "UTF-8")
      assert(back == t)
    }
  }

  test("q227 pairs: planted exact + near dups found, short docs excluded") {
    val spark = graft.TestSession.spark
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps going " * 3
    // derive a perturbation the KERNEL scores at ham 1..3 (a single-char
    // nudge can land inside a floor average and collapse to ham 0): replace
    // a 4-char block with '~' at the first position that flips 1..3 bits
    val baseCh = Multimodal.dhashChunks(base.codePoints().toArray)
    val near = (0 until base.length - 4).iterator.map { p =>
      base.substring(0, p) + "~~~~" + base.substring(p + 4)
    }.find { cand =>
      val h = ham(baseCh, Multimodal.dhashChunks(cand.codePoints().toArray))
      h >= 1 && h <= 3
    }.get
    val dir = java.nio.file.Files.createTempDirectory("dhash").toString
    Seq(
      (1L, base), (2L, base), // exact dup pair (1,2)
      (3L, near), // near dup of 1 via chunk bucket
      (4L, "short"), // below the 72-cp guard: excluded
      (5L, base.reverse) // different hash, should not pair at ham<=3
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = graft.SparkEntry.queries("q227_dhash_image_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.contains((1L, 2L, 0L)), s"exact pair missing: ${rows.toSeq}")
    val nearPair = rows.find(p => p._1 == 1L && p._2 == 3L)
    assert(nearPair.isDefined && nearPair.get._3 >= 1L && nearPair.get._3 <= 3L,
      s"near pair missing: ${rows.toSeq}")
    assert(!rows.exists(p => p._1 == 4L || p._2 == 4L), "short doc leaked")
    assert(!rows.exists(p => p._2 == 5L && p._3 <= 3L || p._1 == 5L),
      s"reverse text paired: ${rows.toSeq}")
  }
}
