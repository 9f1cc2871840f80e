package graft.llm

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** q222's kernel laws: the char-space frame slicer must reproduce
  * [[Multimodal.sampleFrames]]' boundary arithmetic exactly — same
  * floor-division frame length, same min-clamps, same empty tail
  * behavior — and its counts must partition each frame. */
class FrameSliceSpec extends AnyFunSuite {

  test("frame bounds match sampleFrames' arithmetic on edge shapes") {
    // (text length, expected per-frame char counts at n=4)
    val cases = Seq(
      "" -> Seq(0, 0, 0, 0), // empty payload: len=1, all frames empty
      "ab" -> Seq(1, 1, 0, 0), // shorter than n: unit frames then empty
      "abcd" -> Seq(1, 1, 1, 1),
      "abcde" -> Seq(1, 1, 1, 1), // n/4=1: tail char dropped, like byte path
      "abcdefgh" -> Seq(2, 2, 2, 2),
      "abcdefghij" -> Seq(2, 2, 2, 2)) // 10/4=2: frames cover 8 of 10
    for ((t, want) <- cases) {
      val got = Multimodal.charFrameCounts(t, 4)
      assert(got.map(_._2) == want, s"'$t'")
      // the byte slicer over the same ASCII payload slices identically
      val bytes = t.getBytes("UTF-8")
      val len = math.max(1, bytes.length / 4)
      val byteCounts = (0 until 4).map { i =>
        val from = math.min(i * len, bytes.length)
        math.min(from + len, bytes.length) - from
      }
      assert(got.map(_._2) == byteCounts, s"'$t' vs byte slicer")
    }
  }

  test("bucket counts partition each frame and code points bin by mod 8") {
    val fs = Multimodal.charFrameCounts("aAbB ~é中9", 4)
    assert(fs.length == 4)
    for ((frame, n, h) <- fs) {
      assert(h.length == 8, s"frame $frame")
      assert(h.sum == n, s"frame $frame: counts don't partition the frame")
      assert(h.forall(_ >= 0L))
    }
    // a known char lands in its code-point bucket: 'a' = 97, 97 % 8 = 1
    val first = Multimodal.charFrameCounts("aa", 1).head
    assert(first._3(1) == 2L && first._3.sum == 2L)
  }

  test("q222 query: 4 frames per sampled doc, counts partition frames") {
    val spark = graft.TestSession.spark
    val rows = SparkEntry.queries("q222_frame_slice_oracle")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    for ((doc, rs) <- byDoc) {
      assert(rs.map(_.getLong(1)).sorted.sameElements(0L to 3L), s"doc $doc frames")
      for (r <- rs) {
        val counts = (3 to 10).map(r.getLong).sum
        assert(counts == r.getLong(2), s"doc $doc frame ${r.getLong(1)}")
      }
    }
  }
}
