package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev-only determinism matrix (VERDICT r8 #3): run every query at
  * several `spark.sql.shuffle.partitions` settings and compare result
  * content hashes. Partition-count sensitivity is the classic silent
  * breaker of a hash gate — greedy orders, row_number ties, percentile
  * partials, float reduction order — and the oracle compare only ever
  * runs at ONE setting, so a query can be green there and flip on a
  * production cluster where the partition count is different by
  * definition.
  *
  * The hash is ORDER-SENSITIVE over rows and columns (same contract as
  * the driver compare, which reads the parquet dump in row order):
  * SHA-256 over schema + every row's string form. Java's Double/Float
  * toString is injective on values, so two bit-different floats can
  * never collide into one hash.
  *
  * Oracle-gated queries MUST hash identically at every setting (exit 1
  * otherwise); rows-only queries are reported but non-fatal — approx
  * sketches (KLL/CMS partials) legitimately depend on merge topology,
  * and their laws are spec-pinned instead.
  *
  * KNOWN LIMITATION: queries backed by per-JVM memos (scenes archive,
  * bucketed tables, q119's cluster table, IVF index, PQ code table)
  * build them at the FIRST partition setting only — later settings read
  * the same materialized table, so the matrix pins the memo's downstream
  * consumption, not the build's own partition-sensitivity. The builds
  * are value-pinned separately: components/PQ codes through their
  * oracle rows (q82/q119/q192) and the IvfPqSpec recall specs.
  *
  * Usage: runMain graft.tools.DetMatrix [sfDir] [parts,csv] [only,csv]
  */
object DetMatrix {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val parts =
      (if (args.length > 1) args(1) else "2,8,32").split(",").map(_.trim.toInt).toSeq
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Sessions.build(s"local[$cpus]", 32)
    val oracled = SparkEntry.oracleSql.keySet

    def contentHash(name: String, p: Int): Either[String, String] = {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(df.schema.treeString.getBytes("UTF-8"))
        df.collect().foreach { r =>
          md.update(r.toString.getBytes("UTF-8")); md.update('\n'.toByte)
        }
        Right(md.digest().map(b => f"$b%02x").mkString.take(16))
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", "32")
      }
    }

    var fatal = 0
    var softDiverged = List.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val hs = parts.map(p => p -> contentHash(name, p))
      val distinct = hs.map(_._2).distinct
      val gate = if (oracled(name)) "oracle" else "rows-only"
      if (distinct.size == 1 && distinct.head.isRight)
        println(s"[detmatrix] OK   $name ($gate) ${distinct.head.toOption.get}")
      else if (oracled(name)) {
        fatal += 1
        println(s"[detmatrix] FAIL $name ($gate): " +
          hs.map { case (p, h) => s"p$p=${h.fold("ERR " + _, identity)}" }.mkString(" "))
      } else {
        softDiverged ::= name
        println(s"[detmatrix] soft $name ($gate): " +
          hs.map { case (p, h) => s"p$p=${h.fold("ERR " + _, identity)}" }.mkString(" "))
      }
    }
    println(s"[detmatrix] == ${names.size} queries x parts ${parts.mkString("{", ",", "}")}: " +
      s"$fatal oracle-gated divergent, ${softDiverged.size} rows-only divergent ==")
    spark.stop()
    if (fatal > 0) sys.exit(1)
  }
}
