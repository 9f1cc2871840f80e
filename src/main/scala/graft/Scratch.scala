package graft

import org.apache.spark.sql.SparkSession

/** Per-JVM scratch root for everything the engine writes outside its
  * output: derived tables ([[derived]]), per-call working dirs
  * ([[fresh]]), streaming checkpoints ([[temp]]).
  *
  * One temp root per JVM, removed by a shutdown hook, so nothing the
  * engine writes outlives the JVM. This object is the only engine code
  * that creates temp files or directories. */
object Scratch {

  private lazy val root: java.nio.file.Path = {
    // Prefer tmpfs for the same reason Sessions points spark.local.dir
    // there: this VM's disk throttles concurrent buffered writes to
    // ~10 MB/s in bursts, so sink-roundtrip queries (ORC/JSON/vacuum)
    // would measure the throttle token bucket, not the engine. Scratch
    // contents are bounded intermediates (≤ a few GB) and are removed at
    // exit either way. Production points this at job-local storage.
    val base = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) shm.toPath else null
    }
    val p = if (base != null)
      java.nio.file.Files.createTempDirectory(base, "graft_scratch_")
    else java.nio.file.Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(rm(p.toFile))
    p
  }

  /** Delete `f` and everything under it. Never recurses THROUGH a
    * symlink: listFiles follows links, so a layout that symlink-reuses
    * another dir's files (q187's untouched partitions) would have its
    * TARGET emptied by a reset of the link's parent; the link itself is
    * deleted instead. */
  private[graft] def rm(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Stable named dir, EMPTIED on every call — for per-call working dirs
    * (streaming partials and state, publish roots) that must start from
    * nothing each invocation. */
  def fresh(name: String): String = {
    val d = root.resolve(name)
    rm(d.toFile)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Stable named dir, kept across calls — for Overwrite-mode writers. */
  def dir(name: String): String = {
    val d = root.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** A new, uniquely named, empty dir under `dir(name)`; the caller
    * deletes it with [[rm]]. */
  private[graft] def temp(name: String): String =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(dir(name)), "run_").toString

  private val memo = scala.collection.mutable.HashMap.empty[String, Any]

  /** A derived table, built once per JVM: `build` gets an empty directory
    * of its own and returns what callers need (a path, or driver-side
    * arrays, never a DataFrame: a frame dies when its cached or
    * checkpointed RDDs are unpersisted between queries).
    *
    * The key is `name`, `params`, `sources`, and every data file under
    * `sources` (as [[Parquet.files]] lists them) with its length and
    * mtime, so another source, a rewritten one or another parameter
    * gets a new table, and a hit reads no footer. The directory is
    * `<name>_<digest of the key>`, emptied before `build` runs; the entry
    * is recorded only after `build` returns, so a build that throws is
    * run again on the next call and its partial output is never read.
    * Builds nest (a build that scans [[T]] derives T's split copy): the
    * lock is reentrant and the map takes inserts while a build runs,
    * where `ConcurrentHashMap.computeIfAbsent` throws "Recursive update". */
  def derived[V](spark: SparkSession, name: String, sources: Seq[String], params: Any*)(
      build: String => V): V = {
    val key = (Seq(name) ++ params.map(String.valueOf) ++ sources ++
      Parquet.files(spark, sources: _*).map(f =>
        s"${f.getPath} ${f.getLen} ${f.getModificationTime}")).mkString("\n")
    memo.synchronized(memo.getOrElseUpdate(key, {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      build(fresh(s"${name}_" + digest.take(10).map(b => f"$b%02x").mkString))
    })).asInstanceOf[V]
  }
}
