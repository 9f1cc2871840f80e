package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree run → pass → query → builder/action
  * → sql (one Spark action) → job → stage. `start`/`end` are epoch ms. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** In-memory span store plus the counters the per-layer metrics read.
  * Events arrive on Spark's asynchronous listener buses; `drain` waits until
  * they stop arriving before anything is read. */
final class Trace {
  private val ids = new AtomicLong(0)
  val lock = new Object
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var events = 0L

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = lock.synchronized { spans += s }

  // job / stage bookkeeping: which span a stage's tasks belong to
  val stageSpan = mutable.Map.empty[Int, Long]
  val stageJob = mutable.Map.empty[Int, Long]
  val jobSpan = mutable.Map.empty[Int, (Long, Long, Double)] // job -> (span id, parent, start)
  val sqlOpen = mutable.Map.empty[Long, (Long, Double, String)] // exec id -> (span id, start, desc)
  val sqlParent = mutable.Map.empty[Long, Long]
  // per stage-span task aggregates
  val stageAgg = mutable.Map.empty[Long, mutable.Map[String, Double]]

  /** Per QueryExecutionListener callback: (analysis start ms, phase ms, failed). */
  val qeCalls = mutable.ArrayBuffer.empty[(Double, Map[String, Double], Boolean)]
  /** Per streaming progress event: (epoch ms, durations ms, state rows, state commit ms). */
  val progress = mutable.ArrayBuffer.empty[(Double, Map[String, Double], Double, Double)]

  def drain(): Unit = {
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 10000) {
      Thread.sleep(50); waited += 50
      val now = events
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events += 1
      val props = Option(e.properties)
      val owner = props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).map(_.toLong).getOrElse(0L)
      val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      sqlId.foreach(x => if (owner != 0L) sqlParent.getOrElseUpdate(x, owner))
      val parent = sqlId.flatMap(x => sqlOpen.get(x).map(_._1)).getOrElse(owner)
      val id = nextId()
      jobSpan(e.jobId) = (id, parent, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      events += 1
      jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
        val failed = e.jobResult match { case JobSucceeded => 0.0; case _ => 1.0 }
        spans += Span(id, parent, "job", s"job ${e.jobId}", start, e.time.toDouble, Map("failed" -> failed))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      events += 1
      val si = e.stageInfo
      val id = stageSpan.getOrElseUpdate(si.stageId, nextId())
      val agg = stageAgg.getOrElse(id, mutable.Map.empty[String, Double])
      val t0 = si.submissionTime.getOrElse(0L).toDouble
      val t1 = si.completionTime.getOrElse(t0.toLong).toDouble
      spans += Span(id, stageJob.getOrElse(si.stageId, 0L), "stage",
        s"stage ${si.stageId}.${si.attemptNumber()}", t0, t1,
        agg.toMap + ("tasks_planned" -> si.numTasks.toDouble))
      stageSpan.remove(si.stageId); stageAgg.remove(id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events += 1
      val id = stageSpan.getOrElseUpdate(e.stageId, nextId())
      val a = stageAgg.getOrElseUpdate(id, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      def add(k: String, v: Double): Unit = a(k) = a(k) + v
      add("tasks", 1)
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) add("tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_run_ms", m.executorRunTime.toDouble)
        add("task_cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_b", m.inputMetrics.bytesRead.toDouble)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
        add("output_b", m.outputMetrics.bytesWritten.toDouble)
        add("output_rows", m.outputMetrics.recordsWritten.toDouble)
        a("peak_exec_mem_b") = math.max(a("peak_exec_mem_b"), m.peakExecutionMemory.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        events += 1
        sqlOpen(s.executionId) = (nextId(), s.time.toDouble, s.description.take(80))
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        events += 1
        sqlOpen.remove(s.executionId).foreach { case (id, start, desc) =>
          spans += Span(id, sqlParent.getOrElse(s.executionId, 0L), "sql", desc, start, s.time.toDouble)
        }
        sqlParent.remove(s.executionId)
      }
      case _ => ()
    }
  }

  private def phases(qe: QueryExecution): (Double, Map[String, Double]) = {
    val ph = qe.tracker.phases
    val start = if (ph.isEmpty) System.currentTimeMillis().toDouble
      else ph.values.map(_.startTimeMs).min.toDouble
    (start, ph.map { case (k, v) => k -> v.durationMs.toDouble })
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (t, p) = phases(qe)
      lock.synchronized { events += 1; qeCalls += ((t, p, false)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      val (t, p) = phases(qe)
      lock.synchronized { events += 1; qeCalls += ((t, p, true)) }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val durations = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets",
        "queryPlanning", "latestOffset", "getBatch")
        .flatMap(k => Option(d.get(k)).map(v => k -> v.doubleValue))
        .toMap
      val rows = p.stateOperators.map(_.numRowsTotal.toDouble).sum
      val commit = p.stateOperators.map(_.commitTimeMs.toDouble).sum
      val t = try java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        catch { case _: Exception => System.currentTimeMillis().toDouble }
      lock.synchronized { events += 1; progress += ((t, durations, rows, commit)) }
    }
  }

  /** The streaming listener alone gives an untraced run its batch times;
    * a traced pass attaches all three listeners. */
  def attachStreams(spark: SparkSession): Unit = spark.streams.addListener(streamListener)
  def detachStreams(spark: SparkSession): Unit = spark.streams.removeListener(streamListener)

  def attachFull(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detachFull(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  /** Local property naming the builder/action span that launched a job. */
  val SpanKey = "perfbench.span"
}
