package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: a Spark DataFrame builder plus (optionally)
  * the equivalent DuckDB SQL the driver hash-compares against at sf0.01.
  *
  * Determinism conventions (Spark vs DuckDB parity — see SURVEY.md §5):
  *  - Sums over doubles are computed as decimal-cast sums then cast back to
  *    double: exact in both engines, immune to FP summation-order drift.
  *  - Inherently-float aggregates (variance, cosine) are `round(_, k)` in
  *    BOTH engines before compare/rank.
  *  - Timestamps are emitted as formatted strings (Spark parquet stores
  *    UTC-adjusted ts, DuckDB naive ts — strings sidestep the mismatch).
  *  - Every ORDER BY spells out NULLS FIRST/LAST (Spark ASC defaults nulls
  *    first, DuckDB defaults nulls last).
  *  - Integer-ish outputs are cast to BIGINT on both sides (Spark `size()`
  *    is int32, DuckDB `len()` is int64; DuckDB floor() is double, Spark's
  *    is long).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    doc: String = "")

object T {
  /** Scan one driver table (see TESTDATA.md / FIXTURES.md §B), through
    * its per-JVM split copy where [[layout]] makes one.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * raw long under `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * [[Sessions]]); convert here (ns → µs floor) so queries see a real
    * timestamp column. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Ts.norm(Parquet.read(spark,
      layout(spark, s"$sfDir/$name.parquet", spark.sparkContext.defaultParallelism)))

  /** The path to scan for the parquet table at `path` in a session of
    * parallelism `k`. Spark splits parquet only at row-group boundaries,
    * and a driver table is one file with one row group, so every scan of
    * it, and every compute-dense operator fused into that scan stage
    * (point-in-polygon join, NDVI, percentile partials, MinHash), runs as
    * ONE task. A table whose footers hold fewer than `min(8, k)` row groups
    * and at least `k` rows is rewritten once per JVM into `k` files of
    * consecutive rows under [[Scratch]], in one single-task pass, and
    * every later scan reads that copy: one task per core, no exchange.
    * Any other table is read in place, as the many-file inputs of a real
    * cluster always are; one in at least `min(8, k)` files is, without a
    * footer read. The choice and the copy are a [[Scratch.derived]] table
    * of the file and `k`, so a rewritten source or another `k` gets its
    * own copy and never empties an earlier one. DuckDB and the
    * file-streaming sources read the original file. Measured at sf0.1 on
    * a 4-core VM (SCALE.md): q53's and q68's `events` stages 202 → 83 ms
    * and 359 → 148 ms; the split of all ten tables costs 2.1–2.3 s once
    * per JVM. */
  private[graft] def layout(spark: SparkSession, path: String, k: Int): String =
    Scratch.derived(spark, "table_split", Seq(path), k) { dir =>
      val files = Parquet.files(spark, path)
      val wide = math.min(8, k)
      lazy val (groups, rows) = Parquet.rowGroups(spark, files)
      if (files.length >= wide || groups >= wide || rows < k) path
      else {
        Parquet.read(spark, path).coalesce(1).write
          .option("maxRecordsPerFile", (rows + k - 1) / k)
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
        dir
      }
    }
}

/** The ONE place that knows how the driver data's `ts` column is stored.
  * Driver generations have shipped it two ways — parquet TIMESTAMP(NANOS)
  * (readable only as a raw long under `nanosAsLong`) and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ, which unix_micros /
  * window() reject) — so every consumer normalizes through here instead of
  * hard-coding one physical type. Under the UTC session the NTZ→LTZ cast
  * is the identity on the stored micros and matches DuckDB's naive
  * reading (SURVEY.md §5 timestamp convention). Works on batch AND
  * streaming frames (schema is known pre-execution for both). */
object Ts {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, expr, unix_micros}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

  /** Normalize a `ts` column of any driver generation to TIMESTAMP (LTZ). */
  def norm(df: DataFrame): DataFrame = df.schema.find(_.name == "ts").map(_.dataType) match {
    case Some(LongType) => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Epoch-micros Column over the raw `ts` field of `schema`. */
  def microsCol(schema: StructType): Column = schema.find(_.name == "ts").map(_.dataType) match {
    case Some(LongType) => expr("ts div 1000")
    case Some(TimestampNTZType) => unix_micros(col("ts").cast(TimestampType))
    case _ => unix_micros(col("ts"))
  }

  /** Max of the raw `ts` column as epoch NANOS — the unit the streaming
    * sentinel arithmetic (watermark-flush rows far in the future) is
    * written in, independent of the storage type. */
  def maxNanos(s: SparkSession, path: String): Long = {
    val df = Parquet.read(s, path)
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df.agg(org.apache.spark.sql.functions.max(col("ts"))).head().getLong(0)
      case _ => df.agg(org.apache.spark.sql.functions.max(
        unix_micros(col("ts").cast(TimestampType)))).head().getLong(0) * 1000L
    }
  }

  /** Literal epoch-nanos value rendered in the raw `ts` type of `schema`
    * (so sentinel rows appended to a staged source parse under it) —
    * covers all three generations: long nanos, NTZ micros, LTZ micros. */
  def litNanos(schema: StructType, ns: Long): Column =
    schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => org.apache.spark.sql.functions.lit(ns)
      case Some(TimestampNTZType) =>
        expr(s"cast(timestamp_micros(${ns / 1000L}) as timestamp_ntz)")
      case _ => expr(s"timestamp_micros(${ns / 1000L})")
    }
}

/** Central session tuning shared by Verify / Bench / tests. local[N] is a
  * stand-in for a multi-executor cluster: shuffle partitions sized to cores
  * (not the 200 default), AQE on (runtime coalescing + skew-join splitting),
  * nanos parquet read enabled for the events table. */
object Sessions {
  def build(master: String, shufflePartitions: Int): SparkSession = {
    // Shuffle/cache local dir on tmpfs when available: this VM's root
    // disk throttles CONCURRENT buffered writes hard (32 shuffle writers
    // measured ~30/32 threads parked in FileOutputStream.write during
    // sf10 shuffles; a 1.25 GB dd alongside did not finish in 120 s),
    // while RAM sits idle — on a real cluster this is the
    // NVMe-local-disk site config, not engine semantics. Falls back to
    // the default /tmp when /dev/shm is absent. Respects an existing
    // SPARK_LOCAL_DIRS override.
    val localDir =
      if (sys.env.contains("SPARK_LOCAL_DIRS")) None
      else {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft_local") else None
      }
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.geo.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Fat single-JVM local mode: a long GC pause on a ≥64 GiB heap can
      // starve the driver-executor heartbeat past the 120 s default and
      // Spark then KILLS the only executor (observed at sf10: "no recent
      // heartbeats: 212226 ms" mid-query → context collapse). On a real
      // cluster executors are small and the default is right; here the
      // heartbeat carries no liveness signal the JVM doesn't already have.
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "600s")
      // Object aggregates (percentile, collect_*, sketches, Aggregators)
      // stay in hash mode up to 65,536 keys per task instead of Spark's
      // 128. Measured at sf0.1 on 4 cores: the NDVI median composite's
      // one-task percentile partial holds ~4,400 (cell, month) keys, so
      // at 128 it external-sorted every later row on a string + double +
      // double + timestamp key, and q68's 100k-row scan+partial stage
      // took 1.9 s (1.2 s in hash mode). Memory bound: a small percentile
      // buffer is a 64-slot OpenHashMap, ~1 KB, so 65,536 keys is ~64 MB
      // per running task (256 MB of a 2 GB heap at 4 cores). Above that
      // Spark's sort fallback still applies. SCALE.md has the per-query
      // audit.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // The `file:` scheme in both Hadoop APIs without child processes
      // (graft/LocalFs.scala). Without libhadoop, Hadoop runs `chmod` per
      // created file and directory and `readlink` twice per checkpoint
      // rename: 2,512 process starts in one curation_ingest benchmark run,
      // 14 with these two settings. On a 4-core VM, q73's state commit
      // went 0.496 → 0.038 s per pass and the workload's median pass
      // 2.31 → 1.91 s (SCALE.md).
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
    localDir.foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Warm the session with one trivial action before handing it out.
    // Reproduced (this comment is the record): in a COLD session, a
    // union-with-filter plan (q205/q234's planted branch) written via
    // coalesce(1).write dies inside Spark's UnionBase.rewriteConstraints
    // with "key not found: embedding#1" — an exprId-sensitive
    // constraint-rewrite quirk that any prior action makes unreachable.
    // Centralized here so EVERY entrypoint (Verify, Bench, tests, REPL)
    // gets the mitigation, not just the ones that remembered to add it. Costs ~ms on an already-warm session.
    s.range(1000).selectExpr("sum(id)").collect()
    s
  }
}
