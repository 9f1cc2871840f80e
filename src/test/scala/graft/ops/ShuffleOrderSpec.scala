package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the q112 global-shuffle kernel that the row-sampled
  * oracle can't see: the positions form a BIJECTION onto 0..n-1 (no
  * collisions, no gaps — a dropped or doubled position would silently
  * skip/repeat training examples), and the permutation is identical
  * across runs and partitionings (epoch reproducibility). */
class ShuffleOrderSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("positions are a bijection onto 0..n-1") {
    val ids = spark.range(0, 3000).select(col("id").as("doc_id"))
    val pos = Analytics.globalShufflePositions(ids)
    val n = pos.count()
    assert(n == 3000)
    val stats = pos.agg(
      countDistinct(col("pos")).as("d"),
      min(col("pos")).as("lo"),
      max(col("pos")).as("hi")).head()
    assert(stats.getLong(0) == 3000, "positions must be collision-free")
    assert(stats.getLong(1) == 0L && stats.getLong(2) == 2999L,
      "positions must cover 0..n-1 with no gaps")
  }

  test("permutation is deterministic across runs and partitionings") {
    val a = Analytics.globalShufflePositions(
      spark.range(0, 2000).select(col("id").as("doc_id")))
    val b = Analytics.globalShufflePositions(
      spark.range(0, 2000).repartition(13).select(col("id").as("doc_id")))
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "same ids must map to same positions regardless of layout")
  }

  test("the order actually mixes: not the identity permutation") {
    val pos = Analytics.globalShufflePositions(
      spark.range(0, 1000).select(col("id").as("doc_id")))
    val fixedPoints = pos.filter(col("doc_id") === col("pos")).count()
    assert(fixedPoints < 100, s"suspiciously identity-like: $fixedPoints fixed points")
  }
}
