package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.{Crs, Geo, Wkb}
import graft.llm.{Dedup, Hashing, Ivf}
import graft.ops.StringSimCodegen

/** Kernel timings outside Spark's scheduler, through the production entry
  * points, on fixed inputs drawn from the run's seed, in a tiered (C2) JVM.
  * Each kernel runs in `Reps` batches after `Warmups` batches that let the
  * JIT compile it; the median batch gives the per-call time. The two minhash/simhash kernels are private UDFs, so they
  * are timed through their public DataFrame wrappers, as a noop-sink write
  * over the generated documents repeated `DocCopies` times in one cached
  * partition, net of the same write without the UDF, per document. */
object Kernels {
  private val Reps = 5
  private val Warmups = 3
  private val DocCopies = 16

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def perCall(calls: Int)(body: => Unit): Double = {
    (1 to Warmups).foreach(_ => body)
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / calls
    }.sorted
    ts(Reps / 2)
  }

  @volatile private var sink = 0L

  def run(spark: SparkSession, dataDir: String, seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    // 16-vertex star polygons in the UTM 50S fixture envelope
    val polys = Array.fill(256) {
      val cx = 471655.0 + rnd.nextDouble() * 6820; val cy = 9873071.0 + rnd.nextDouble() * 9818
      val n = 16
      val xs = Array.tabulate(n + 1) { i =>
        val a = 2 * math.Pi * (i % n) / n; cx + (80 + 40 * ((i % n) % 2)) * math.cos(a) }
      val ys = Array.tabulate(n + 1) { i =>
        val a = 2 * math.Pi * (i % n) / n; cy + (80 + 40 * ((i % n) % 2)) * math.sin(a) }
      Wkb.Poly(Wkb.Polygon(Array(Wkb.Ring(xs, ys))))
    }
    val wkbs = polys.map(p => Wkb.write(p))
    val pts = Array.fill(4096)((471655.0 + rnd.nextDouble() * 6820, 9873071.0 + rnd.nextDouble() * 9818))
    val lonlat = Array.fill(4096)((118.0 + rnd.nextDouble() * 4, -2.0 + rnd.nextDouble() * 1.5))
    val base = graft.T(spark, dataDir, "documents").select("doc_id", "text")
    val texts = base.select("text").limit(500).collect().map(_.getString(0))
    val docs = base.crossJoin(spark.range(DocCopies).toDF("k"))
      .select((col("doc_id") * DocCopies + col("k")).as("doc_id"), col("text"))
      .coalesce(1).cache()
    noop(docs)
    val nDocs = docs.count().toInt
    val scanNs = perCall(nDocs)(noop(docs))
    val names = graft.T(spark, dataDir, "part").select("p_name").limit(2048).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val books = Array.fill(Ivf.PqGroups, Ivf.PqCodes, Dedup.Dim / Ivf.PqGroups)(rnd.nextGaussian())
      .map(_.map(_.toSeq).toSeq).toSeq
    val vecs = Array.fill(1024)(Seq.fill(Dedup.Dim)(rnd.nextGaussian()))

    val out = Map(
      "kernel.wkb_parse_ns" -> perCall(wkbs.length) {
        wkbs.foreach(b => sink += Wkb.parse(b).hashCode) },
      "kernel.pip_ns" -> perCall(pts.length * 8) {
        var k = 0
        while (k < 8) {
          val g = polys(k)
          pts.foreach { case (x, y) => if (Geo.contains(g, x, y)) sink += 1 }
          k += 1
        } },
      "kernel.area_ns" -> perCall(polys.length * 16) {
        var k = 0
        while (k < 16) { polys.foreach(p => sink += Geo.area(p).toLong); k += 1 } },
      "kernel.crs_ns" -> perCall(lonlat.length) {
        lonlat.foreach { case (lon, lat) => sink += Crs.utm50sForward(lon, lat)._1.toLong } },
      "kernel.minhash_us_per_doc" ->
        (perCall(nDocs)(noop(Dedup.minhashSignatures(docs))) - scanNs) / 1e3,
      "kernel.simhash_us_per_doc" -> (perCall(nDocs)(noop(Dedup.simhash(docs))) - scanNs) / 1e3,
      "kernel.winnow_ns" -> perCall(texts.length) {
        texts.foreach(t => sink += Hashing.winnow(t, Dedup.WinnowK, Dedup.WinnowW).length) },
      "kernel.jw_ns" -> perCall(names.length - 1) {
        var i = 1
        while (i < names.length) {
          sink += StringSimCodegen.jaroWinkler(names(i - 1), names(i)).toLong; i += 1 } },
      "kernel.pq_encode_ns" -> perCall(vecs.length) {
        vecs.foreach(v => sink += Ivf.pqEncode(v, books).length) })
    docs.unpersist()
    out
  }
}
