package graft.tools

import graft._
import org.apache.spark.sql.execution.SQLExecution

/** Dev main: time named SparkEntry queries at a given sf dir.
  * Usage: tools/run.sh graft.tools.TimeQ <sfDir> <reps> q25_... q26_... */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)
    spark.range(1000).selectExpr("sum(id)").collect()
    for (r <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      // full-column action: count() lets Catalyst prune every column the
      // count does not read, so kernels that feed only output columns
      // would never run; toRdd executes the query's whole projected plan
      val qe = SparkEntry.queries(n)(spark, dir).queryExecution
      val c = SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
      println(f"[timeq] rep$r $n: ${(System.nanoTime() - t0) / 1e9}%.2f s (rows=$c)")
      // drop this query's localCheckpoint blocks so a long multi-query
      // run doesn't accumulate tens of GB of dead cache (heap pressure +
      // eviction IO land on the NEXT query's measurement); BLOCKING so
      // removal doesn't overlap the next measurement, then one explicit
      // GC so the ContextCleaner's weak references fire and dead shuffle
      // files leave the local dirs between queries, not during them
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    spark.stop()
  }
}
