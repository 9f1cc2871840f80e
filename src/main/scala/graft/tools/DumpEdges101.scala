package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only: write q101's internal thresholded edge list to
  * `<outDir>/_edges_q101` so tools/sf10_checks.py can replay the
  * closure + keep stage in DuckDB at fixtures where the signature
  * replay is out of budget (the decomposed-oracle q101 row).
  * Usage: run.sh graft.tools.DumpEdges101 <sfDir> <verifyOutDir> */
object DumpEdges101 {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.Sessions.build(s"local[$cpus]", cpus.toInt)
    val base = graft.T(s, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val span = graft.llm.Dedup.docSpan(base)
    val near = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + lit(2L * span)).as("doc_id"),
        concat(col("text"), lit(" appended near dup suffix")).as("text"))
    val exact = base.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + lit(3L * span)).as("doc_id"), col("text"))
    graft.llm.Dedup.minhashPairs(s, base.unionByName(near).unionByName(exact))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_edges_q101")
    s.stop()
  }
}
