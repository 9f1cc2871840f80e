package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM. One closed-loop client runs a workload's queries one at a
  * time on `local[cores]`: set-up (session, then `WarmupPasses` untimed
  * passes; the first also dumps oracle results and checksums), then whole
  * timed passes until `seconds` have elapsed. Each query's builder call is
  * timed apart from the action that materializes every output column.
  *
  * With `trace=1` the timed passes alternate untraced, traced, untraced,
  * ..., and end untraced. Traced passes attach a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, tag every job with
  * its builder/action span through `setLocalProperty`, and give the
  * per-layer numbers; untraced passes run with no listener at all. Each
  * traced pass minus the mean of its two untraced neighbours is one sample
  * of the tracing overhead.
  *
  * Arguments are key=value: mode (run | kernels | plancheck), data, out,
  * queries, orders, seconds, trace, seed, cores. `run` writes
  * `out/result.json` and, when traced, `out/spans.jsonl`; `kernels` writes
  * `out/kernels.json`. */
object Main {

  /** Timed passes run for `seconds`, and at least this many; traced, that
    * is two traced passes, each between untraced ones. */
  private val MinPasses = 5

  /** Untimed passes in set-up. The first is the correctness pass; the
    * others let the JIT compile the passes' hot code before timing starts.
    * When traced, the last one is traced too, so listener code is compiled
    * before the overhead is measured. */
  private val WarmupPasses = 3

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Modules whose queries the workloads run, for per-module times. */
  private lazy val moduleOf: Map[String, String] = Seq(
    "ops.Relational" -> graft.ops.Relational.all, "ops.TextOps" -> graft.ops.TextOps.all,
    "ops.Spatial" -> graft.ops.Spatial.all, "llm.Dedup" -> graft.llm.Dedup.all,
    "llm.Ivf" -> graft.llm.Ivf.all, "llm.Sketches" -> graft.llm.Sketches.all,
    "llm.Bpe" -> graft.llm.Bpe.all, "llm.Multimodal" -> graft.llm.Multimodal.all,
    "llm.Pipeline" -> graft.llm.Pipeline.all, "llm.Curation" -> graft.llm.Curation.all,
    "llm.Mmr" -> graft.llm.Mmr.all, "streaming.Streams" -> graft.streaming.Streams.all,
    "sources.Gpkg" -> graft.sources.Gpkg.all, "sources.GeoTiff" -> graft.sources.GeoTiff.all,
    "ops.Ingest" -> graft.ops.Ingest.all, "ops.Skew" -> graft.ops.Skew.all,
    "ops.ZOrder" -> graft.ops.ZOrder.all, "ops.Graph" -> graft.ops.Graph.all,
    "ops.Analytics" -> graft.ops.Analytics.all, "ops.Bucketed" -> graft.ops.Bucketed.all,
    "ops.ZoneMap" -> graft.ops.ZoneMap.all, "ops.Inverted" -> graft.ops.Inverted.all)
    .flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val code = conf("mode") match {
      case "run" => run(conf)
      case "kernels" => kernels(conf)
      case "plancheck" => planCheck(conf)
    }
    sys.exit(code)
  }

  private def session(cores: Int): SparkSession = graft.Sessions.build(s"local[$cores]", cores)

  private def describe(t: Throwable): String = {
    val msg = Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
    s"${t.getClass.getName}: $msg"
  }

  private def stopStreams(spark: SparkSession): Unit =
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })

  /** Self-test: the timed action's executed plan deserializes every column
    * of each query's schema, so no projected kernel escapes timing. */
  def planCheck(conf: Map[String, String]): Int = {
    val spark = session(conf("cores").toInt)
    var bad = 0
    for (q <- conf("queries").split(",").toSeq) {
      val df = graft.SparkEntry.queries(q)(spark, conf("data"))
      val want = df.schema.fieldNames.toSeq
      val got = Materialize.deserializedColumns(Materialize.run(df).ds)
      val ok = got.contains(want)
      if (!ok) bad += 1
      println(s"plancheck ${if (ok) "ok  " else "FAIL"} $q: schema ${want.size} columns, " +
        s"timed action reads ${got.map(_.size.toString).getOrElse("none")}" +
        (if (ok) "" else s" (${got.getOrElse(Nil).mkString(",")} vs ${want.mkString(",")})"))
    }
    spark.stop()
    if (bad == 0) 0 else 1
  }

  /** Kernel timings (see `Kernels`), in a JVM of their own. */
  def kernels(conf: Map[String, String]): Int = {
    val spark = session(conf("cores").toInt)
    val k = Kernels.run(spark, conf("data"), conf("seed").toLong)
    Files.createDirectories(Paths.get(conf("out")))
    Files.write(Paths.get(s"${conf("out")}/kernels.json"), Json.writeValueAsBytes(k))
    spark.stop()
    0
  }

  final case class Sample(pass: Int, query: String, builder: Double, action: Double, cpu: Double)
  final case class PassRec(pass: Int, traced: Boolean, start: Double, end: Double, cpu: Double) {
    def timed: Boolean = pass >= WarmupPasses
    def wall: Double = (end - start) / 1e3
  }

  def run(conf: Map[String, String]): Int = {
    val data = conf("data"); val out = conf("out")
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val cores = conf("cores").toInt
    val orders = Files.readAllLines(Paths.get(conf("orders"))).toArray(Array.empty[String])
      .map(_.split(",").toSeq)
    val oracleSql = graft.SparkEntry.oracleSql.filter { case (q, _) => orders(0).contains(q) }
    val oracle = oracleSql.keySet
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val trace = new Trace
    val failures = mutable.ArrayBuffer.empty[(String, String, String)]
    var attempted = 0L

    val runId = trace.nextId()
    val t0 = nowMs
    val spark = session(cores)
    val sessionS = (nowMs - t0) / 1e3
    // batch_s of an untraced run needs the streaming listener throughout
    if (!traced) trace.attachStreams(spark)

    val checksums = mutable.Map.empty[String, String]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val verifyDir = s"$out/verify"

    /** One query: builder, then the timed action. Returns (builder s,
      * action s, process CPU s, checksum). */
    def once(pass: Int, q: String, qSpan: Long): Option[(Double, Double, Double, String)] = {
      val sc = spark.sparkContext
      val bId = trace.nextId(); val aId = trace.nextId()
      attempted += 1
      val c0 = osBean.getProcessCpuTime
      val b0 = nowMs
      var b1 = b0
      try {
        sc.setLocalProperty(Trace.SpanKey, bId.toString)
        val df: DataFrame = graft.SparkEntry.queries(q)(spark, data)
        b1 = nowMs
        sc.setLocalProperty(Trace.SpanKey, aId.toString)
        // warm-up pass: an oracle query's result is written once for the
        // DuckDB compare and its checksum is taken from the written copy
        val r = if (pass == 0 && oracle(q)) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$q")
          Materialize.run(spark.read.parquet(s"$verifyDir/$q"))
        } else Materialize.run(df)
        val a1 = nowMs
        trace.add(Span(bId, qSpan, "builder", q, b0, b1))
        trace.add(Span(aId, qSpan, "action", q, b1, a1))
        Some(((b1 - b0) / 1e3, (a1 - b1) / 1e3, (osBean.getProcessCpuTime - c0) / 1e9, r.checksum))
      } catch {
        case t: Throwable =>
          failures += ((if (pass < WarmupPasses) s"warm-up $pass" else s"pass $pass", q, describe(t)))
          stopStreams(spark)
          None
      } finally sc.setLocalProperty(Trace.SpanKey, null)
    }

    val passes = mutable.ArrayBuffer.empty[PassRec]
    def runPass(pass: Int, tracedPass: Boolean): Unit = {
      val order = orders(pass % orders.length)
      if (tracedPass) { trace.attachFull(spark); trace.attachStreams(spark) }
      val pId = trace.nextId()
      val c0 = osBean.getProcessCpuTime
      val p0 = nowMs
      for (q <- order) {
        val qId = trace.nextId()
        val q0 = nowMs
        val res = once(pass, q, qId)
        trace.add(Span(qId, pId, "query", q, q0, nowMs))
        println(f"[perfbench] pass $pass $q " +
          res.map { case (b, a, c, _) => f"builder $b%.3f s action $a%.3f s cpu $c%.3f s" }
            .getOrElse("FAILED"))
        res.foreach { case (b, a, c, cs) =>
          if (pass == 0) checksums(q) = cs
          if (pass > 0 && checksums.get(q).exists(_ != cs)) failures += ((s"pass $pass", q,
            s"ChecksumMismatch: warm-up ${checksums(q)} vs $cs"))
          if (pass >= WarmupPasses) samples += Sample(pass, q, b, a, c)
        }
      }
      val p1 = nowMs
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      trace.add(Span(pId, runId, "pass", s"pass $pass", p0, p1,
        Map("traced" -> (if (tracedPass) 1.0 else 0.0))))
      passes += PassRec(pass, tracedPass, p0, p1, cpu)
      if (tracedPass) { trace.drain(); trace.detachFull(spark); trace.detachStreams(spark) }
    }

    for (pass <- 0 until WarmupPasses) {
      runPass(pass, tracedPass = traced && pass == WarmupPasses - 1)
      if (pass == 0 && oracleSql.nonEmpty) {
        Files.createDirectories(Paths.get(verifyDir))
        Files.write(Paths.get(s"$verifyDir/oracle_sql.json"), Json.writeValueAsBytes(oracleSql))
      }
    }
    val timed0 = nowMs
    val warmupS = (timed0 - passes.head.start) / 1e3
    trace.add(Span(trace.nextId(), runId, "setup", "session", t0, passes.head.start))
    val setupS = sessionS + warmupS
    var pass = WarmupPasses
    // traced runs: untraced, traced, untraced, ...; stop only after an
    // untraced pass, so every traced pass has two untraced neighbours
    def tracedAt(p: Int) = traced && (p - WarmupPasses) % 2 == 1
    def timedN = pass - WarmupPasses
    while ((nowMs - timed0) / 1e3 < seconds || timedN < MinPasses || tracedAt(pass - 1)) {
      runPass(pass, tracedPass = tracedAt(pass))
      pass += 1
    }
    trace.drain()
    trace.add(Span(runId, 0L, "run", conf("data"), t0, nowMs))

    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    val perLayer = if (traced) layers(trace, passes.toSeq, samples.toSeq, cores) ++ Map(
      "setup.session_s" -> sessionS, "setup.warmup_s" -> warmupS) else Map.empty[String, Double]
    val batchS = trace.lock.synchronized(trace.progress.toSeq)
      .filter(p => passes.exists(r => r.timed && p._1 >= r.start && p._1 <= r.end + 1))
      .flatMap(_._2.get("triggerExecution")).map(_ / 1e3)

    val result = Map(
      "spark_version" -> spark.version, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "setup_s" -> setupS,
      "peak_rss_mb" -> hwm, "attempted" -> attempted,
      "passes" -> passes.filter(_.timed).map(p => Map("pass" -> p.pass, "traced" -> p.traced,
        "wall_s" -> p.wall, "cpu_s" -> p.cpu)),
      "warmup_passes" -> passes.filterNot(_.timed).map(p => Map("pass" -> p.pass,
        "wall_s" -> p.wall, "cpu_s" -> p.cpu)),
      "samples" -> samples.map(s => Map("pass" -> s.pass, "query" -> s.query,
        "builder_s" -> s.builder, "action_s" -> s.action, "cpu_s" -> s.cpu)),
      "failures" -> failures.map { case (w, q, e) => Map("where" -> w, "query" -> q, "error" -> e) },
      "checksums" -> checksums, "batch_s" -> batchS, "per_layer" -> perLayer)
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(s"$out/result.json"), Json.writeValueAsBytes(result))
    if (traced) writeSpans(trace, s"$out/spans.jsonl")
    stopStreams(spark)
    spark.stop()
    0
  }

  private def writeSpans(trace: Trace, path: String): Unit = {
    val lines = trace.lock.synchronized(trace.spans.toSeq).sortBy(_.start)
      .map(Json.writeValueAsString(_) + "\n")
    Files.write(Paths.get(path), lines.mkString.getBytes(StandardCharsets.UTF_8))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Per-layer metrics: each is a per-pass figure, the median over the
    * traced passes (kernel and batch figures are per call / per batch). */
  private def layers(trace: Trace, passes: Seq[PassRec], samples: Seq[Sample],
      cores: Int): Map[String, Double] = {
    val timedP = passes.filter(_.timed)
    val tracedP = timedP.filter(_.traced)
    val spans = trace.lock.synchronized(trace.spans.toSeq)
    val qe = trace.lock.synchronized(trace.qeCalls.toSeq)
    val prog = trace.lock.synchronized(trace.progress.toSeq)
    def in(p: PassRec)(t: Double) = t >= p.start - 1 && t <= p.end + 1
    val byKind = spans.groupBy(_.kind)
    def kind(k: String) = byKind.getOrElse(k, Nil)

    val perPass: Seq[Map[String, Double]] = tracedP.map { p =>
      val stages = kind("stage").filter(s => in(p)(s.start))
      def st(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
      val mine = samples.filter(_.pass == p.pass)
      val calls = qe.filter(c => in(p)(c._1))
      def phase(k: String) = calls.map(_._2.getOrElse(k, 0.0)).sum / 1e3
      val batches = prog.filter(b => in(p)(b._1))
      def bsum(ks: String*) = batches.map(b => ks.map(b._2.getOrElse(_, 0.0)).sum).sum / 1e3
      val inMb = st("input_b") / 1048576.0
      val outMb = st("output_b") / 1048576.0
      val modules = mine.groupBy(s => moduleOf.getOrElse(s.query, "other"))
        .map { case (m, ss) => s"module.$m.s" -> ss.map(s => s.builder + s.action).sum }
      Map(
        "builder_s" -> mine.map(_.builder).sum,
        "action_s" -> mine.map(_.action).sum,
        "actions_per_query" -> calls.size.toDouble / math.max(1, mine.size),
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "jobs" -> kind("job").count(s => in(p)(s.start)).toDouble,
        "stages" -> stages.size.toDouble,
        "tasks" -> st("tasks"),
        "task_run_s" -> st("task_run_ms") / 1e3,
        "task_cpu_s" -> st("task_cpu_ms") / 1e3,
        "gc_s" -> st("gc_ms") / 1e3,
        "tasks_failed" -> st("tasks_failed"),
        "core_busy_frac" -> st("task_run_ms") / 1e3 / (p.wall * cores),
        "shuffle_write_mb" -> st("shuffle_write_b") / 1048576.0,
        "shuffle_read_mb" -> st("shuffle_read_b") / 1048576.0,
        "shuffle_fetch_wait_s" -> st("shuffle_fetch_wait_ms") / 1e3,
        "spill_mb" -> st("spill_b") / 1048576.0,
        "peak_exec_mem_mb" -> (stages.map(_.attrs.getOrElse("peak_exec_mem_b", 0.0)) :+ 0.0).max / 1048576.0,
        "input_mb" -> inMb,
        "input_rows" -> st("input_rows"),
        "output_mb" -> outMb,
        "output_rows" -> st("output_rows"),
        "write_amp" -> (if (inMb > 0) outMb / inMb else 0.0),
        "batches" -> batches.size.toDouble,
        "batch.add_s" -> bsum("addBatch"),
        "batch.wal_s" -> bsum("walCommit", "commitOffsets"),
        "batch.plan_s" -> bsum("queryPlanning"),
        "state_rows" -> batches.map(_._3).sum,
        "state_commit_s" -> batches.map(_._4).sum / 1e3) ++ modules
    }
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val trig = prog.filter(b => tracedP.exists(p => in(p)(b._1)))
      .flatMap(_._2.get("triggerExecution")).map(_ / 1e3)
    // each traced pass against the mean of the untraced passes either side
    val pairs = timedP.indices.filter(i => timedP(i).traced && i > 0 && i + 1 < timedP.size)
      .map(i => (timedP(i).wall, (timedP(i - 1).wall + timedP(i + 1).wall) / 2))
    val diffs = pairs.map { case (t, u) => t - u }
    med ++ Map(
      "batch_s.p50" -> median(trig),
      "batch_s.p90" -> pct(trig, 0.9),
      "traced_pass_s" -> median(pairs.map(_._1)),
      "untraced_pass_s" -> median(pairs.map(_._2)),
      "trace_overhead_s" -> median(diffs),
      "trace_overhead_min_s" -> (if (diffs.isEmpty) 0.0 else diffs.min),
      "trace_overhead_max_s" -> (if (diffs.isEmpty) 0.0 else diffs.max),
      "trace_overhead_pairs" -> diffs.size.toDouble)
  }
}
