package graft.tools

import graft._
import org.apache.spark.sql.execution.SQLExecution
import scala.collection.mutable

/** Dev-only per-JOB profiler (guide §1.1 empirical loop, headless): run one
  * query and print every Spark job it triggers — duration, task count, and
  * the first line of the call site — so multi-job queries (streaming
  * micro-batches, iterative rounds, staged fixtures, per-partition loops)
  * show WHERE the wall-clock goes without the UI.
  *
  * Usage: tools/run.sh graft.tools.JobProf <query> [sfDir] [reps]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: tools/run.sh graft.tools.JobProf <query> [sfDir] [reps]")
      sys.exit(2)
    }
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.build(s"local[$cpus]", cpus.toInt)

    final case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
        var tasks: Int = 0, var site: String = "")
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val lock = new Object
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        lock.synchronized {
          val j = jobs.getOrElseUpdate(e.jobId, J(e.jobId))
          j.start = e.time
          j.tasks = e.stageInfos.map(_.numTasks).sum
          // the result stage's name is the job's short call site
          j.site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?")
        }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        lock.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    })

    for (r <- 1 to reps) {
      lock.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      // full-column action, as in TimeQ: count() would let Catalyst prune
      // the projected columns and with them the kernels that feed them
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      val c = SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async (and its drain API is private[spark]):
      // poll until the observed job-end count is stable instead of a
      // fixed 300 ms sleep, which undercounted jobs on loaded runs
      var prevDone = -1
      var stable = 0
      var waitedMs = 0
      while (stable < 2 && waitedMs < 5000) {
        Thread.sleep(150); waitedMs += 150
        val done = lock.synchronized(jobs.values.count(_.end > 0))
        if (done == prevDone) stable += 1 else { stable = 0; prevDone = done }
      }
      lock.synchronized {
        val js = jobs.values.toSeq
        val accounted = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"[jobprof] === $name rep $r: wall $wall%.2f s, " +
          f"${js.size} jobs, job-time sum $accounted%.2f s (rows=$c) ===")
        js.sortBy(j => -(j.end - j.start)).take(40).foreach { j =>
          println(f"[jobprof]   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s " +
            f"${j.tasks}%5d tasks  ${j.site}")
        }
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    spark.stop()
  }
}
