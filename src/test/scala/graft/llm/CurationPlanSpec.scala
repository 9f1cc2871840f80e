package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape gates for the curation module — each pins the physical
  * property its scaladoc claims at 100 TB, so a regression that keeps
  * results right but silently degrades the plan fails here:
  *   - q144: every join is broadcast (vocab-sized weight table, 1-row
  *     totals) — a sort-merge join would re-shuffle the token stream;
  *   - q146: NO window operator anywhere — bigrams extract map-side from
  *     the token array, not via a per-doc lead();
  *   - q149: post-aggregation shuffles carry pair/source keys only,
  *     never document text or shingle strings;
  *   - q151: global positions shuffle by the (phase, hash-range) bucket —
  *     the two-level path is physical, not a single-partition window. */
class CurationPlanSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): Vector[String] = {
    graft.geo.GeoExpressions.ensureRegistered(spark)
    val df = graft.SparkEntry.queries(name)(spark, sf)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8").linesIterator.toVector
  }

  test("q144: all joins are broadcast — the token stream never re-shuffles for a join") {
    val plan = planOf("q144_dsir_weights")
    assert(plan.exists(_.contains("BroadcastHashJoin")),
      "weight table must join broadcast")
    assert(!plan.exists(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      "no shuffle join may appear in the DSIR plan")
  }

  test("q146: no window operator — bigrams extract map-side") {
    val plan = planOf("q146_bigram_lm")
    assert(!plan.exists(_.matches("""\(\d+\) Window.*""")),
      "q146 must not plan a per-doc window for bigram extraction")
  }

  test("q149: no shuffle carries text or shingle strings") {
    val plan = planOf("q149_source_overlap")
    val exchangeIdx = plan.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") => i
    }
    assert(exchangeIdx.nonEmpty)
    for (i <- exchangeIdx) {
      val block = plan.drop(i).takeWhile(_.trim.nonEmpty)
      assert(!block.exists(l => l.contains("text#") || l.contains("sh#")),
        s"exchange at line $i carries text/shingles:\n${block.mkString("\n")}")
    }
  }

  test("q151: positions shuffle by bucket — the two-level path is physical") {
    val plan = planOf("q151_curriculum_order")
    assert(plan.exists(_.contains("hashpartitioning(bucket")),
      "expected a bucket-keyed exchange feeding the per-bucket row_number")
  }

  test("q155: drop lists join broadcast and no exchange carries segment text") {
    val plan = planOf("q155_boilerplate_strip")
    assert(plan.exists(_.contains("BroadcastHashJoin")),
      "recurrent set and drop lists must join broadcast")
    assert(!plan.exists(l => l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      "no shuffle join may appear in the boilerplate plan")
    // the FINAL presentation sort (rangepartitioning) carries the result
    // rows incl. clean_text — that's the output contract; the gate is on
    // the aggregation/join path: no HASH shuffle may carry text/segments
    val exchangeBlocks = plan.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") => plan.drop(i).takeWhile(_.trim.nonEmpty)
    }
    val hashBlocks = exchangeBlocks.filter(_.exists(_.contains("hashpartitioning")))
    assert(hashBlocks.nonEmpty)
    for (block <- hashBlocks)
      assert(!block.exists(l => l.contains("text#") || l.contains("seg#") ||
        l.contains("segs#")),
        s"hash exchange carries text/segments:\n${block.mkString("\n")}")
  }
}
