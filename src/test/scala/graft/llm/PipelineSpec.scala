package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the composed corpus→training-shards capstone (q132) —
  * the guarantees the stages must JOINTLY deliver, which no per-stage
  * oracle can see:
  *   - duplicates are gone: no planted clone id survives;
  *   - every surviving doc lands exactly once (one row, one bin);
  *   - no dedup component straddles splits (leakage-safety end to end);
  *   - bins respect the cap (single oversized doc is the only exception);
  *   - the train order is a bijection onto 0..n_train-1, and only train
  *     docs carry a position. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private val cap = 4096L

  private lazy val result = {
    graft.geo.GeoExpressions.ensureRegistered(spark)
    Pipeline.trainingShards(spark, Pipeline.plantedCorpus(spark, sf), 0.8, cap)
      .localCheckpoint(true)
  }

  // planted family k lives at (k+1)*span (span-derived offsets, r14)
  private lazy val span: Long =
    graft.llm.Dedup.docSpan(graft.T(spark, sf, "documents"))

  test("dedup removes exactly the true dups; every survivor lands exactly once") {
    val n = result.count()
    assert(n > 0)
    assert(result.select("doc_id").distinct().count() === n,
      "a doc must land in exactly one shard/bin row")
    // exact clones have Jaccard 1.0 — none may survive
    assert(result.filter(col("doc_id") >= lit(3L * span)).count() === 0,
      "planted exact clones must all be deduplicated away")
    // a near clone is a true dup IFF its 3-shingle Jaccard with its source
    // clears the threshold — on the shortest docs the appended suffix
    // dilutes the shingle set below 0.8, and dedup must KEEP those (they
    // are not duplicates under the pipeline's own definition)
    val expected = graft.T(spark, sf, "documents")
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text").as("ta"),
        concat(col("text"), lit(" appended near dup suffix")).as("tb"))
      .select(col("doc_id"),
        (size(array_intersect(Dedup.shingles("ta"), Dedup.shingles("tb")))
          .cast("double") /
          size(array_union(Dedup.shingles("ta"), Dedup.shingles("tb")))).as("j"))
      .filter(col("j") < 0.8)
      .select((col("doc_id") + lit(2L * span)).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val got = result.filter(col("doc_id") >= lit(2L * span)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === expected,
      "surviving near-clone ids must be exactly the sub-threshold ones")
  }

  test("no dedup component straddles train/val/test") {
    val straddlers = result.groupBy("cluster")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddlers === 0)
  }

  test("packing respects the cap; oversized docs sit alone") {
    val bins = result.groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), max(col("bin_fill")).as("fill"))
    assert(bins.filter(col("fill") > cap && col("n_docs") > 1).count() === 0,
      "a bin over the cap may only contain a single oversized doc")
  }

  test("no exchange in the composed plan carries the text column") {
    // the scaladoc claim "text never re-shuffles after the LSH stage":
    // downstream of the (checkpointed) dedup flags, column pruning must
    // drop `text` before every join/pack/order shuffle — a regression
    // here re-shuffles the corpus' heaviest column at 100 TB
    val df = Pipeline.trainingShards(spark, Pipeline.plantedCorpus(spark, sf), 0.8, cap)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    val lines = out.toString("UTF-8").linesIterator.toVector
    val exchangeIdx = lines.zipWithIndex.collect {
      case (l, i) if l.matches("""\(\d+\) Exchange.*""") => i
    }
    assert(exchangeIdx.nonEmpty, "expected shuffles in the composed plan")
    for (i <- exchangeIdx) {
      val block = lines.drop(i).takeWhile(_.trim.nonEmpty)
      assert(!block.exists(_.contains("text#")),
        s"exchange at line $i carries text:\n${block.mkString("\n")}")
    }
  }

  test("train order is a bijection onto 0..n_train-1; eval rows carry none") {
    val train = result.filter(col("split") === "train")
    val nTrain = train.count()
    val posStats = train.agg(
      count(col("pos")), countDistinct(col("pos")),
      min(col("pos")), max(col("pos"))).head()
    assert(posStats.getLong(0) === nTrain, "every train doc has a position")
    assert(posStats.getLong(1) === nTrain, "positions are distinct")
    assert(posStats.getLong(2) === 0L && posStats.getLong(3) === nTrain - 1)
    assert(result.filter(col("split") =!= "train" && col("pos").isNotNull).count() === 0)
  }
}
