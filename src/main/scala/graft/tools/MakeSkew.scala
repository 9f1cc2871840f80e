package graft.tools

import graft.Parquet
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: build a SKEW-stress fixture from a driver sf dir — same
  * schemas, same row counts, but genuinely heavy keys where MakeSf
  * deliberately scales "more keys, not heavier keys" (its copies are
  * key-shifted so per-key cardinality never grows). This fixture is the
  * complementary stress: Zipf-like key mass so the AQE skew-join splits,
  * salted aggregations, and hot-bucket caps face real heavy hitters
  * instead of planted spec rows.
  *
  * Transformations (all deterministic; every oracle SQL runs over the
  * same skewed parquet, so the hash gate works unchanged):
  *  - orders.o_custkey, events.user_id, lineitem.l_suppkey: reassigned
  *    by u⁵ inverse-power sampling (u = xxhash64-uniform in [0,1)) —
  *    key 1 receives (1/K)^(1/5) of all rows (~15% at K=15000), key 2
  *    ~2%, a Zipf-ish head over the SAME key domain (referential
  *    integrity preserved);
  *  - documents.text: every 4th doc gets a two-token hot family
  *    appended (" zzhotdoc zzhot<id%3>") — a ~25%-document-frequency
  *    token for posting lists, co-occurrence self-joins, and PPJoin
  *    prefixes, with 3 variants so pair counts skew too; n_chars
  *    recomputed;
  *  - customer/supplier/part/region/nation/embeddings: verbatim.
  *
  * Usage: runMain graft.tools.MakeSkew [srcDir] [outDir]
  */
object MakeSkew {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_skew"
    val s = graft.Sessions.build(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]", 32)

    def rd(t: String): DataFrame = Parquet.read(s, s"$src/$t.parquet")
    def keyMax(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0)

    // single FILE per table (driver convention, TESTDATA.md — see MakeSf)
    def write(t: String, df: DataFrame): Unit = {
      val stage = s"$out/_stage_$t"
      df.repartition(1).write.mode(SaveMode.Overwrite).parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part.toPath, dest)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(stage))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
      println(s"[makeskew] $t: ${Parquet.rowCount(s, dest.toString)} rows")
    }

    /** Zipf-ish key in [1, kmax]: u⁵ power sampling off a hash of `idCol`. */
    def zipfKey(idCol: String, kmax: Long): org.apache.spark.sql.Column = {
      val u = pmod(xxhash64(col(idCol), lit(42)), lit(1000000L))
        .cast("double") / 1000000.0
      least(lit(kmax), floor(lit(kmax.toDouble) * u * u * u * u * u).cast("long") + 1)
    }

    Seq("region", "nation", "customer", "supplier", "part", "embeddings")
      .foreach(t => write(t, rd(t)))

    val cust = rd("customer")
    val ord = rd("orders")
    write("orders", ord.withColumn("o_custkey",
      zipfKey("o_orderkey", keyMax(cust, "c_custkey"))))

    val supp = rd("supplier")
    val li = rd("lineitem")
    write("lineitem", li.withColumn("l_suppkey",
      zipfKey("l_orderkey", keyMax(supp, "s_suppkey"))))

    val ev = rd("events")
    write("events", ev.withColumn("user_id",
      zipfKey("event_id", keyMax(ev, "user_id"))))

    val docs = rd("documents")
    write("documents", docs
      .withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" zzhotdoc zzhot"), (col("doc_id") % 3).cast("string")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long")))

    s.stop()
  }
}
