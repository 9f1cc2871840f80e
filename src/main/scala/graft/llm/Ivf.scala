package graft.llm

import graft.{Parquet, Q, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to LSH (builder-prompt similarity surface).
  *
  * Index build = one k-means-style assignment pass over deterministic
  * seed centroids refined by one Lloyd iteration (both plain DataFrame
  * aggregations). Search probes the `nprobe` nearest centroid lists only.
  * At 100 TB the list assignment is the partition key: vectors cluster
  * into centroid-keyed partitions and a query touches nprobe partitions
  * instead of all of them.
  *
  * The centroid pipeline is computed ONCE per query ([[centroidArrays]])
  * and threaded through both the index build and the probe side — round 1
  * recomputed it ~3× per `topK` call (index → centroids, then centroids
  * again), tripling the passes over the embedding table. */
object Ivf {

  val NumLists = 16
  /** q31's probe width. 4 was calibrated at sf10 (recall@10 0.68); the
    * r16 skew gate measured 0.54 at the 20k-vector fixtures — a SMALLER
    * corpus spreads a query's true top-10 over more lists, so the fixed
    * fraction that clears 0.6 at sf10 misses it at sf0.1. 6/16 lists
    * clears the 0.6 recall floor at every gated fixture; the marginal
    * cost is +2 probed lists on a query-side-only explode (q31 is 1.3 s
    * of the 781 s sf10 bench). */
  val NProbe = 6

  /** Assignment UDF capturing the centroids in its CLOSURE (serialized
    * once per task), not as a `typedLit` column argument — a per-row
    * literal column re-converts the whole nested array from Catalyst to
    * Scala on EVERY invocation, an O(rows × |cents|) deserialization tax
    * that dominates at larger corpora. */
  private def centroidAssignUdf(cents: Array[Array[Double]]) =
    udf((v: Seq[Double]) => {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0; var i = 0
        val n = math.min(v.length, cent.length)
        while (i < n) { val t = v(i) - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    })

  private def nearestListsUdf(cents: Array[Array[Double]], k: Int) =
    udf((v: Seq[Double]) => {
      cents.indices.map { c =>
        val cent = cents(c)
        var d = 0.0; var i = 0
        val n = math.min(v.length, cent.length)
        while (i < n) { val t = v(i) - cent(i); d += t * t; i += 1 }
        (c, d)
      }.sortBy(_._2).take(k).map(_._1).toArray
    })

  /** Native cosine over array&lt;double&gt; columns ([[VecDot]] kernel). */
  private def cosine(a: Column, b: Column): Column = {
    import graft.geo.GeoExpressions.vecDot
    vecDot(a, b) / sqrt(vecDot(a, a) * vecDot(b, b))
  }

  private def vecsOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))

  /** Centroid arrays, collected driver-side (k small vectors — by design):
    * deterministic seeds (every (N/k)-th vector, ORDERED before limit so
    * the choice is plan-independent) refined by one distributed Lloyd
    * iteration (groupBy list → element-wise mean). One count pass + one
    * aggregation pass over the table, total. */
  def centroidArrays(emb: DataFrame): Array[Array[Double]] = {
    val vecs = vecsOf(emb)
    val n = emb.count()
    val step = math.max(1L, n / NumLists)
    val seeds = vecs.filter(col("vec_id") % step === 0)
      .orderBy("vec_id").limit(NumLists)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    val assigned = vecs.withColumn("list_id",
      centroidAssignUdf(seeds.map(_.toArray))(col("v")))
    // one Lloyd iteration: element-wise mean per list via posexplode
    assigned.select(col("list_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("list_id"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("list_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dims"))
      .select(col("list_id"), expr("transform(dims, d -> d.m)").as("centroid"))
      .orderBy("list_id")
      .collect().map(_.getSeq[Double](1).toArray)
  }

  /** Assign every vector to its nearest centroid list. */
  def indexWith(emb: DataFrame, cents: Array[Array[Double]]): DataFrame =
    vecsOf(emb).withColumn("list_id", centroidAssignUdf(cents)(col("v")))

  /** Index with freshly computed centroids (spec entry point). */
  def index(emb: DataFrame): DataFrame = indexWith(emb, centroidArrays(emb))

  /** Materialize the physical index: parquet partitioned by `list_id`, so
    * a probe with a `list_id` filter PRUNES whole partitions at the file
    * source — "a query touches nprobe partitions" realized physically, not
    * just logically. At 100 TB this is the difference between scanning the
    * nprobe/NumLists fraction of the corpus and scanning all of it. */
  def writeIndex(emb: DataFrame, cents: Array[Array[Double]], path: String): Unit =
    indexWith(emb, cents).write.partitionBy("list_id").mode("overwrite").parquet(path)

  /** Pruned probe-side read of a materialized index. */
  def readIndex(s: SparkSession, path: String, lists: Seq[Int]): DataFrame =
    Parquet.read(s, path).filter(col("list_id").isin(lists.map(Int.box): _*))

  /** The centroids and the physical index of `emb`: a real engine builds
    * an IVF index ONCE and serves many queries from it, so repeated
    * probes (bench reps, interactive sessions) skip the centroid passes
    * and the partitioned rewrite and pay only the pruned probe scan. For
    * a frame read from files this is a [[graft.Scratch.derived]] table of
    * its input files; an in-memory frame (no input files — the spec
    * fixtures) is indexed afresh on every call. */
  def builtIndex(emb: DataFrame): (Array[Array[Double]], String) =
    ofInputs(emb, "ivf_idx") { path =>
      val cents = centroidArrays(emb)
      writeIndex(emb, cents, path)
      (cents, path)
    }

  /** `build` run in a [[graft.Scratch.derived]] dir keyed by `emb`'s input
    * files and `params`, or in a fresh dir when `emb` has none. */
  private def ofInputs[V](emb: DataFrame, name: String, params: Any*)(build: String => V): V = {
    val files = emb.inputFiles.sorted.toSeq
    if (files.isEmpty) build(graft.Scratch.fresh(name))
    else graft.Scratch.derived(emb.sparkSession, name, files, params: _*)(build)
  }

  /** Approximate top-k for the first 5 vectors probing NProbe lists.
    * Centroids + the partitioned index come from [[builtIndex]] (built on
    * first use, once per JVM and input); the probe scan reads only
    * the union of the queries' probe lists (bounded by NumLists;
    * collected driver-side like the centroids). */
  def topK(s: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cents, idxPath) = builtIndex(emb)
    val qside = vecsOf(emb).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(nearestListsUdf(cents, NProbe)(col("v"))).as("list_id"))
    val probed = qside.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val cand = readIndex(s, idxPath, probed).join(broadcast(qside), Seq("list_id"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("vid"),
        round(cosine(col("qv"), col("v")), 4).as("score"))
      .groupBy(col("qid"), col("vid")).agg(first(col("score")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(desc_nulls_last("score"), asc_nulls_first("vid"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
      .orderBy(asc_nulls_first("qid"), asc_nulls_first("vid"))
  }

  private val q31 = Q(
    "q31_ann_ivf_topk",
    (s, dir) => topK(s, T(s, dir, "embeddings"), 10),
    None,
    "IVF approximate top-k: seed+Lloyd centroids computed once, nprobe probing (similarity scale path #2)")

  // ---- IVF ROUTING under the ORACLE gate (q218) -------------------------

  /** q31/q193 are rows-only because Lloyd-trained centroids and float
    * cosine are engine-specific — but the IVF ROUTING decisions (assign
    * each vector to its nearest list, route each query to its nprobe
    * nearest lists, rank ONLY the probed candidates — Jégou et al. 2011's
    * coarse quantizer) are pure argmin arithmetic. q218 runs that exact
    * pipeline shape over a deterministic integer codebook both engines
    * rebuild from scratch: centroid c[j][d] = ((j·64+d+1)·2654435761 mod
    * (2³¹−1)) mod 2001 − 1000 (the q205 LCG family, same magnitude as the
    * floor(x·1000)-quantized vectors), distances as exact int64 L2²
    * (replayed in DuckDB via the |a|²−2a·b+|b|² dot identity — every dot
    * ≤ 6.4·10⁷, double-exact), ties broken to the smaller list / vec id.
    * A wrong assignment, a missed probe list, or a mis-ranked candidate
    * shifts a row and breaks the hash. Scale shape (r13): assignment and
    * scoring are map-side in a per-partition kernel against broadcast
    * per-list probe groups; the one exchange carries per-probe heap
    * survivors, never (probe, candidate) pairs. The input is read through T:
    * a single-row-group file is one scan task, and the whole kernel ran
    * single-threaded on it — measured 21.9 s at sf1 — so T scans its
    * one-file-per-core split copy (T.layout). */
  /** L2² distance between two int vectors (driver/kernel side). */
  private def l2sq(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  def ivfRoutingExact(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = emb.sparkSession
    val cents: Array[Array[Long]] = Array.tabulate(NumLists)(j =>
      Array.tabulate(64)(d =>
        (((j.toLong * 64 + d + 1) * 2654435761L) % 2147483647L) % 2001L - 1000L))
    val iv = emb.select(col("vec_id"),
      expr("transform(sequence(1, 64), i -> cast(floor(coalesce(try_element_at(cast(embedding as array<double>), i), 0d) * 1000d) AS bigint))").as("v"))
    // r13: the r12 shape joined every assigned vector to every probe of
    // its list and shuffled one row per (probe, candidate) pair into the
    // top-5 window — Θ(n²·nprobe/(50·lists)) rows, 85 s at sf10, because
    // both the query count (n/50) and the per-list density (n/16) grow
    // with n. The probes now ride a broadcast GROUPED BY LIST into a
    // per-partition kernel: each candidate row computes its own argmin
    // assignment, loops only the probes routed to that list, and feeds
    // per-probe top-5 heaps ordered by (dist2 asc, vid asc) — the
    // window's exact contract, integer-exact, no rounding. The exchange
    // carries ≤ 5·probes·partitions heap survivors. The probe collect is
    // n/50-sized and capped loudly (Manifest's rule).
    val cap = 1000000
    val pRows = iv.filter(col("vec_id") % 50 === 0).limit(cap + 1).collect()
    require(pRows.length <= cap,
      s"q218 probe set exceeds $cap vectors — scale the query slice or " +
        "the list count with the corpus (Jégou et al. §V sizing)")
    val nP = pRows.length
    val pId = new Array[Long](nP)
    val pVec = new Array[Array[Long]](nP)
    val perList = Array.fill(NumLists)(collection.mutable.ArrayBuffer.empty[Int])
    var pi = 0
    while (pi < nP) {
      val r = pRows(pi)
      pId(pi) = r.getLong(0)
      pVec(pi) = r.getSeq[Long](1).toArray
      // nprobe=2 routing: the probeUdf contract — all-list distances,
      // sort by (d2, j), take 2
      cents.indices.map(j => (j, l2sq(pVec(pi), cents(j))))
        .sortBy(t => (t._2, t._1)).take(2)
        .foreach { case (j, _) => perList(j) += pi }
      pi += 1
    }
    val bc = sess.sparkContext.broadcast(
      (pId, pVec, perList.map(_.toArray)))
    import sess.implicits._
    val partials = iv.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val (id, pv, byList) = bc.value
        val n = id.length
        val ts = new Array[Long](n * 5) // dist2, best-first
        val tv = new Array[Long](n * 5)
        val tn = new Array[Int](n)
        while (it.hasNext) {
          val (vid, v) = it.next()
          var best = 0; var bd = Long.MaxValue
          var j = 0
          while (j < cents.length) {
            val d = l2sq(v, cents(j))
            if (d < bd) { bd = d; best = j } // strict < keeps the smaller j
            j += 1
          }
          val probes = byList(best)
          var k = 0
          while (k < probes.length) {
            val p = probes(k)
            if (id(p) != vid) {
              val d2 = l2sq(pv(p), v)
              val base = p * 5; val cnt = tn(p)
              if (cnt < 5 || d2 < ts(base + cnt - 1) ||
                  (d2 == ts(base + cnt - 1) && vid < tv(base + cnt - 1))) {
                var pos = 0
                while (pos < cnt && (ts(base + pos) < d2 ||
                    (ts(base + pos) == d2 && tv(base + pos) < vid))) pos += 1
                var q = math.min(cnt, 4)
                while (q > pos) {
                  ts(base + q) = ts(base + q - 1); tv(base + q) = tv(base + q - 1)
                  q -= 1
                }
                ts(base + pos) = d2; tv(base + pos) = vid
                if (cnt < 5) tn(p) = cnt + 1
              }
            }
            k += 1
          }
        }
        (0 until n).iterator.flatMap { p =>
          (0 until tn(p)).iterator.map(s => (id(p), tv(p * 5 + s), ts(p * 5 + s)))
        }
      }
      .toDF("qid", "vid", "dist2")
    val w = Window.partitionBy(col("qid"))
      .orderBy(asc_nulls_first("dist2"), asc_nulls_first("vid"))
    partials.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vid"), col("dist2"))
      .orderBy(asc_nulls_first("qid"), asc_nulls_first("rank"))
  }

  private val q218 = Q(
    "q218_ivf_routing_oracle",
    (s, dir) => ivfRoutingExact(T(s, dir, "embeddings")),
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      iv AS (SELECT vec_id,
               -- floor() is DOUBLE in DuckDB; values <= 1000 are exact
               -- doubles and every dot below is < 2^53, so the BIGINT
               -- casts of list_dot_product are exact (q205's layout)
               list_transform(range(1, 65),
                 i -> floor(coalesce(e[CAST(i AS INTEGER)], 0) * 1000)) AS v
             FROM base),
      cent AS (
        SELECT j, list(CAST(c AS DOUBLE) ORDER BY d) AS cv FROM (
          SELECT js.j, ds.d,
                 (((js.j * 64 + ds.d + 1) * 2654435761) % 2147483647) % 2001 - 1000 AS c
          FROM (SELECT unnest(range(0, 16)) AS j) js,
               (SELECT unnest(range(0, 64)) AS d) ds)
        GROUP BY j),
      ad AS (
        SELECT iv.vec_id, cent.j,
               CAST(list_dot_product(iv.v, iv.v) AS BIGINT)
                 - 2 * CAST(list_dot_product(iv.v, cent.cv) AS BIGINT)
                 + CAST(list_dot_product(cent.cv, cent.cv) AS BIGINT) AS d2
        FROM iv CROSS JOIN cent),
      asg AS (SELECT vec_id, j AS list_id FROM ad
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) = 1),
      qp AS (SELECT vec_id AS qid, j AS list_id FROM ad WHERE vec_id % 50 = 0
             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) <= 2),
      sc AS (
        SELECT qp.qid, asg.vec_id AS vid,
               CAST(list_dot_product(a.v, a.v) AS BIGINT)
                 - 2 * CAST(list_dot_product(a.v, b.v) AS BIGINT)
                 + CAST(list_dot_product(b.v, b.v) AS BIGINT) AS dist2
        FROM qp JOIN asg USING (list_id)
        JOIN iv a ON a.vec_id = qp.qid
        JOIN iv b ON b.vec_id = asg.vec_id
        WHERE asg.vec_id <> qp.qid),
      r AS (SELECT qid, vid, dist2,
              row_number() OVER (PARTITION BY qid ORDER BY dist2 ASC, vid ASC) AS rank
            FROM sc)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vid, dist2
      FROM r WHERE rank <= 5
      ORDER BY qid ASC NULLS FIRST, rank ASC NULLS FIRST"""),
    "IVF coarse-quantizer routing (assign, nprobe probe, probed-only ranking) under the DuckDB hash gate via an integer codebook")

  // ---- IVF-PQ ADC under the ORACLE gate (q221) --------------------------

  /** q218 gated the coarse-quantizer ROUTING of q193; q221 gates the rest
    * of the IVF-PQ search (Jégou et al. 2011 §IV; the q193 shape): PQ
    * ENCODE (per-subspace argmin over the codebook) and ASYMMETRIC
    * DISTANCE scoring (per-query lookup table, candidate cost = G table
    * lookups instead of a full dot product) — over a deterministic
    * integer codebook both engines rebuild from scratch, composed with
    * q218's routing so the WHOLE q193 pipeline shape (route → encode →
    * LUT → sum → top-k) sits under the hash gate. book[g][c][d] =
    * (((g·16+c)·16+d+1)·2654435761 mod (2³¹−1)) mod 2001 − 1000 (the
    * q218 LCG family; G=4 groups × C=16 codes × S=16 dims). All
    * distances are exact int64 (|sub·book| ≤ 16·10⁶ < 2⁵³, per-group d²
    * ≤ 6.4·10⁷, ADC sum ≤ 2.56·10⁸); ties break to the smaller code /
    * vec id, so a wrong code assignment, a wrong LUT entry, or a
    * mis-summed ADC shifts a row and breaks the hash.
    *
    * Scale shape is q193's exactly: encode and LUT lookups are map-side
    * in a per-partition kernel (closure-captured books, broadcast
    * per-list probe LUTs), candidates come ONLY from probed lists, and
    * the one exchange carries per-probe top-5 heap survivors — never
    * (probe, candidate) pair rows, and never vectors. The input is
    * read through T for the q218 reason: a single-row-group file made the
    * whole kernel ONE task — measured 111 s at sf1 in the r11 join shape —
    * so T scans its one-file-per-core split copy (T.layout). */
  def ivfPqAdcExact(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = emb.sparkSession
    val cents: Array[Array[Long]] = Array.tabulate(NumLists)(j =>
      Array.tabulate(64)(d =>
        (((j.toLong * 64 + d + 1) * 2654435761L) % 2147483647L) % 2001L - 1000L))
    val books: Array[Array[Array[Long]]] = Array.tabulate(4)(g =>
      Array.tabulate(16)(c => Array.tabulate(16)(d =>
        ((((g * 16 + c).toLong * 16 + d + 1) * 2654435761L) % 2147483647L) % 2001L - 1000L)))
    def subD2(v: Array[Long], g: Int, c: Int): Long = {
      var s = 0L; var d = 0
      while (d < 16) { val t = v(g * 16 + d) - books(g)(c)(d); s += t * t; d += 1 }
      s
    }
    val iv = emb.select(col("vec_id"),
      expr("transform(sequence(1, 64), i -> cast(floor(coalesce(try_element_at(cast(embedding as array<double>), i), 0d) * 1000d) AS bigint))").as("v"))
    // r13: same surgery as ivfRoutingExact — the probe equi-join +
    // window shuffled one row per (probe, candidate) pair (413 s at
    // sf10). Probes now broadcast GROUPED BY LIST with their flat
    // 64-entry LUT; each candidate row assigns + PQ-encodes itself
    // in-kernel and feeds per-probe top-5 heaps by (adc_d2 asc, vid asc)
    // — integer-exact, so the heap reproduces the window's contract
    // bit-for-bit and only heap survivors reach the exchange.
    val cap = 1000000
    val pRows = iv.filter(col("vec_id") % 50 === 0).limit(cap + 1).collect()
    require(pRows.length <= cap,
      s"q221 probe set exceeds $cap vectors — scale the query slice or " +
        "the list count with the corpus (Jégou et al. §V sizing)")
    val nP = pRows.length
    val pId = new Array[Long](nP)
    val pLut = new Array[Array[Long]](nP)
    val perList = Array.fill(NumLists)(collection.mutable.ArrayBuffer.empty[Int])
    var pi = 0
    while (pi < nP) {
      val r = pRows(pi)
      pId(pi) = r.getLong(0)
      val qv = r.getSeq[Long](1).toArray
      pLut(pi) = Array.tabulate(64)(i => subD2(qv, i / 16, i % 16))
      cents.indices.map(j => (j, l2sq(qv, cents(j))))
        .sortBy(t => (t._2, t._1)).take(2)
        .foreach { case (j, _) => perList(j) += pi }
      pi += 1
    }
    val bc = sess.sparkContext.broadcast((pId, pLut, perList.map(_.toArray)))
    import sess.implicits._
    val partials = iv.as[(Long, Array[Long])]
      .mapPartitions { it =>
        val (id, lut, byList) = bc.value
        val n = id.length
        val ts = new Array[Long](n * 5) // adc_d2, best-first
        val tv = new Array[Long](n * 5)
        val tn = new Array[Int](n)
        while (it.hasNext) {
          val (vid, v) = it.next()
          var best = 0; var bd = Long.MaxValue
          var j = 0
          while (j < cents.length) {
            val d = l2sq(v, cents(j))
            if (d < bd) { bd = d; best = j }
            j += 1
          }
          // PQ encode: per-group argmin, strict < keeps the smaller code
          val c0 = { var b = 0; var bdc = Long.MaxValue; var c = 0
            while (c < 16) { val s = subD2(v, 0, c); if (s < bdc) { bdc = s; b = c }; c += 1 }; b }
          val c1 = { var b = 0; var bdc = Long.MaxValue; var c = 0
            while (c < 16) { val s = subD2(v, 1, c); if (s < bdc) { bdc = s; b = c }; c += 1 }; b }
          val c2 = { var b = 0; var bdc = Long.MaxValue; var c = 0
            while (c < 16) { val s = subD2(v, 2, c); if (s < bdc) { bdc = s; b = c }; c += 1 }; b }
          val c3 = { var b = 0; var bdc = Long.MaxValue; var c = 0
            while (c < 16) { val s = subD2(v, 3, c); if (s < bdc) { bdc = s; b = c }; c += 1 }; b }
          val probes = byList(best)
          var k = 0
          while (k < probes.length) {
            val p = probes(k)
            if (id(p) != vid) {
              val l = lut(p)
              val adc = l(c0) + l(16 + c1) + l(32 + c2) + l(48 + c3)
              val base = p * 5; val cnt = tn(p)
              if (cnt < 5 || adc < ts(base + cnt - 1) ||
                  (adc == ts(base + cnt - 1) && vid < tv(base + cnt - 1))) {
                var pos = 0
                while (pos < cnt && (ts(base + pos) < adc ||
                    (ts(base + pos) == adc && tv(base + pos) < vid))) pos += 1
                var q = math.min(cnt, 4)
                while (q > pos) {
                  ts(base + q) = ts(base + q - 1); tv(base + q) = tv(base + q - 1)
                  q -= 1
                }
                ts(base + pos) = adc; tv(base + pos) = vid
                if (cnt < 5) tn(p) = cnt + 1
              }
            }
            k += 1
          }
        }
        (0 until n).iterator.flatMap { p =>
          (0 until tn(p)).iterator.map(s => (id(p), tv(p * 5 + s), ts(p * 5 + s)))
        }
      }
      .toDF("qid", "vid", "adc_d2")
    val w = Window.partitionBy(col("qid"))
      .orderBy(asc_nulls_first("adc_d2"), asc_nulls_first("vid"))
    partials.withColumn("rank", row_number().over(w).cast("long")).filter(col("rank") <= 5)
      .select(col("qid"), col("rank"), col("vid"), col("adc_d2"))
      .orderBy(asc_nulls_first("qid"), asc_nulls_first("rank"))
  }

  private val q221 = Q(
    "q221_pq_adc_oracle",
    (s, dir) => ivfPqAdcExact(T(s, dir, "embeddings")),
    Some("""WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      iv AS (SELECT vec_id,
               list_transform(range(1, 65),
                 i -> floor(coalesce(e[CAST(i AS INTEGER)], 0) * 1000)) AS v
             FROM base),
      cent AS (
        SELECT j, list(CAST(c AS DOUBLE) ORDER BY d) AS cv FROM (
          SELECT js.j, ds.d,
                 (((js.j * 64 + ds.d + 1) * 2654435761) % 2147483647) % 2001 - 1000 AS c
          FROM (SELECT unnest(range(0, 16)) AS j) js,
               (SELECT unnest(range(0, 64)) AS d) ds)
        GROUP BY j),
      ad AS (
        SELECT iv.vec_id, cent.j,
               CAST(list_dot_product(iv.v, iv.v) AS BIGINT)
                 - 2 * CAST(list_dot_product(iv.v, cent.cv) AS BIGINT)
                 + CAST(list_dot_product(cent.cv, cent.cv) AS BIGINT) AS d2
        FROM iv CROSS JOIN cent),
      asg AS (SELECT vec_id, j AS list_id FROM ad
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) = 1),
      qp AS (SELECT vec_id AS qid, j AS list_id FROM ad WHERE vec_id % 50 = 0
             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, j ASC) <= 2),
      books AS (
        SELECT g, c, list(CAST(b AS DOUBLE) ORDER BY d) AS bv FROM (
          SELECT gs.g, cs.c, ds.d,
                 ((((gs.g * 16 + cs.c) * 16 + ds.d + 1) * 2654435761) % 2147483647) % 2001 - 1000 AS b
          FROM (SELECT unnest(range(0, 4)) AS g) gs,
               (SELECT unnest(range(0, 16)) AS c) cs,
               (SELECT unnest(range(0, 16)) AS d) ds)
        GROUP BY g, c),
      subs AS (
        SELECT vec_id, gs.g,
               list_slice(v, gs.g * 16 + 1, gs.g * 16 + 16) AS sub
        FROM iv, (SELECT unnest(range(0, 4)) AS g) gs),
      sd AS (
        SELECT s.vec_id, s.g, b.c,
               CAST(list_dot_product(s.sub, s.sub) AS BIGINT)
                 - 2 * CAST(list_dot_product(s.sub, b.bv) AS BIGINT)
                 + CAST(list_dot_product(b.bv, b.bv) AS BIGINT) AS d2
        FROM subs s JOIN books b USING (g)),
      enc AS (SELECT vec_id, g, c FROM sd
              QUALIFY row_number() OVER (PARTITION BY vec_id, g ORDER BY d2 ASC, c ASC) = 1),
      lut AS (SELECT vec_id AS qid, g, c, d2 AS lutd2 FROM sd WHERE vec_id % 50 = 0),
      adc AS (
        SELECT qp.qid, asg.vec_id AS vid, CAST(SUM(lut.lutd2) AS BIGINT) AS adc_d2
        FROM qp JOIN asg USING (list_id)
        JOIN enc ON enc.vec_id = asg.vec_id
        JOIN lut ON lut.qid = qp.qid AND lut.g = enc.g AND lut.c = enc.c
        WHERE asg.vec_id <> qp.qid
        GROUP BY 1, 2),
      r AS (SELECT qid, vid, adc_d2,
              row_number() OVER (PARTITION BY qid ORDER BY adc_d2 ASC, vid ASC) AS rank
            FROM adc)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vid, adc_d2
      FROM r WHERE rank <= 5
      ORDER BY qid ASC NULLS FIRST, rank ASC NULLS FIRST"""),
    "IVF-PQ asymmetric-distance search (encode argmin, per-query LUT, routed candidates, top-k) under the DuckDB hash gate via integer codebooks")

  /** q105: the k-means UPDATE step — per-label mean vector — as a plain
    * distributed aggregation under the DuckDB oracle gate (the IVF
    * centroid build above runs this arithmetic driver-side over a bounded
    * sample; this is the shape that trains centroids over ALL vectors at
    * 100 TB: posexplode to (label, pos, value), one map-combinable
    * groupBy — the shuffle carries 64 partial sums per label, never
    * vectors). Floats are quantized `floor(v·10⁶)` into exact integer
    * space before summing so both engines accumulate identically
    * regardless of addition order (Q.scala determinism note: double sums
    * are order-sensitive; integer sums are not), and the mean is rounded
    * to whole microunits IN integer space — half-away-from-zero via
    * nonnegative integer division, where Spark `div` and DuckDB `//`
    * agree — because the true mean is a small-denominator rational that
    * can land exactly on a .5 tie, where double `round()` diverges
    * between the engines (Spark rounds the shortest decimal repr, DuckDB
    * the binary value). */
  private val q105 = Q(
    "q105_label_centroids",
    (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast(ArrayType(DoubleType))))
        .select(col("label"), col("pos").cast("long").as("pos"),
          floor(col("col") * 1e6).as("q"))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))
        .select(col("label"), col("pos"), col("n"),
          (expr("case when s >= 0 then (2*s + n) div (2*n) else -((2*(-s) + n) div (2*n)) end")
            / lit(1e6)).as("mean_v"))
        .orderBy(asc_nulls_first("label"), asc_nulls_first("pos")),
    Some("""WITH e AS (SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS v,
               unnest(generate_series(0, len(embedding) - 1)) AS pos
             FROM embeddings),
      a AS (SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS s
            FROM e GROUP BY label, pos)
      SELECT label, pos, n,
             CAST(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
                       ELSE -((2*(-s) + n) // (2*n)) END AS BIGINT) / 1e6 AS mean_v
      FROM a ORDER BY label ASC NULLS FIRST, pos ASC NULLS FIRST"""),
    "k-means update step: per-label mean embedding via map-combinable agg, integer-exact sums (similarity surface)")

  /** q107: per-vector int8 scalar quantization — the compression step an
    * ANN index runs before storing vectors (4× memory cut at 100 TB, the
    * difference between an in-RAM and a spilled index). Pure map-side:
    * per-row scale = 127/max|v|, codes = floor(vᵢ·scale) — every output
    * is integer-exact (floor of the SAME IEEE double product on both
    * engines; sums of small ints are order-free), so the oracle hashes
    * the exact code-book statistics: max-magnitude, code sum, and code
    * energy (sum of squared codes) per vector. No shuffle but the
    * presentation sort. */
  private val q107 = Q(
    "q107_scalar_quant",
    (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
        .select(col("vec_id"),
          expr("array_max(transform(v, x -> abs(x)))").as("mx"),
          col("v"))
        .filter(col("mx") > 0)
        .select(col("vec_id"),
          floor(col("mx") * 1e6).as("mx_micro"),
          expr("aggregate(transform(v, x -> floor(x * (127.0D / mx))), 0L, (a, x) -> a + x)")
            .as("sum_q"),
          expr("aggregate(transform(v, x -> floor(x * (127.0D / mx))), 0L, (a, x) -> a + x * x)")
            .as("sum_q2"))
        .orderBy(asc_nulls_first("vec_id")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      m AS (SELECT vec_id, v, list_max([abs(x) FOR x IN v]) AS mx FROM e),
      q AS (SELECT vec_id, mx, [floor(x * (127.0 / mx)) FOR x IN v] AS qs
            FROM m WHERE mx > 0)
      SELECT vec_id,
             CAST(floor(mx * 1e6) AS BIGINT) AS mx_micro,
             CAST(list_sum(qs) AS BIGINT) AS sum_q,
             CAST(list_sum([x * x FOR x IN qs]) AS BIGINT) AS sum_q2
      FROM q ORDER BY vec_id ASC NULLS FIRST"""),
    "int8 scalar quantization of embeddings, map-only integer-exact code stats (ANN compression step)")

  /** q113: Matryoshka truncation audit — before a pipeline truncates
    * embeddings to a dim prefix (the MRL serving trick: store 64, search
    * 8), it measures how much L2 energy the prefix retains per vector.
    * Map-only like q107 and integer-exact the same way: components are
    * quantized to 1e-6 (floor of the same IEEE product on both engines),
    * energies are sums of small int squares (order-free), and the one
    * float output — sqrt of the exact ratio — is correctly-rounded IEEE,
    * identical on both engines before round(,6). At 100 TB this pipelines
    * into the scan: no shuffle but the presentation sort. */
  private val q113 = Q(
    "q113_matryoshka",
    (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> floor(x * 1e6))")
            .as("q"))
        .select(col("vec_id"),
          expr("aggregate(q, 0L, (a, x) -> a + x * x)").as("e_full"),
          expr("aggregate(slice(q, 1, 8), 0L, (a, x) -> a + x * x)").as("e8"))
        .filter(col("e_full") > 0)
        .select(col("vec_id"), col("e_full"), col("e8"),
          round(sqrt(col("e8").cast(DoubleType) / col("e_full")), 6).as("retained"))
        .orderBy(asc_nulls_first("vec_id")),
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id,
              [CAST(floor(x * 1e6) AS BIGINT) FOR x IN v] AS qs FROM e),
      s AS (SELECT vec_id,
              CAST(list_sum([x * x FOR x IN qs]) AS BIGINT) AS e_full,
              CAST(list_sum([x * x FOR x IN qs[1:8]]) AS BIGINT) AS e8
            FROM q)
      SELECT vec_id, e_full, e8,
             round(sqrt(CAST(e8 AS DOUBLE) / e_full), 6) AS retained
      FROM s WHERE e_full > 0 ORDER BY vec_id ASC NULLS FIRST"""),
    "Matryoshka prefix energy-retention per embedding, integer-exact quantized energies (truncation-audit surface)")

  /** q120: k-means ASSIGNMENT step under the oracle — the argmin half of
    * Lloyd's iteration (q105 gates the mean-update half; together they
    * pin the whole IVF training kernel). Centroids = the first 8 vectors
    * (deterministic seed, same rule as the index build); every vector
    * goes to its nearest centroid by squared L2 with min-centroid-id
    * tie-break; output is per-centroid membership + total inertia.
    *
    * Fully integer-exact: components quantize to floor(x·10⁶) BIGINTs
    * (the same IEEE product both engines floor identically), squared
    * diffs sum exactly (≤64·(1.2e6)² ≈ 9e13 « 2⁶³), so the argmin
    * compares exact integers — no float ordering risk anywhere.
    *
    * Scale shape: centroids are a broadcast 8-row frame; distances
    * compute map-side in the broadcast nested-loop (8× row fan-out
    * inside codegen, no exchange); the only shuffle carries
    * (vec_id, cid, d2) triples for the per-vector argmin, then an
    * 8-row aggregate. At 100 TB: k grows, vectors never shuffle with
    * their payloads. */
  private val q120 = Q(
    "q120_kmeans_assign",
    (s, dir) => {
      val qv = T(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1e6) AS BIGINT))")
            .as("q"))
      val cents = qv.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("q").as("cq"))
      // argmin as min over the PACKED long d2*8+cid (d2 ≤ 64·(1.2e6)² ≈
      // 9e13 « 2⁶⁰/8, cid < 8): same ordering as (d2, cid) lexicographic
      // but HashAggregate-able — min(struct(...)) plans a SortAggregate
      // with two extra sorts. At larger k, pack with the next power of
      // two above k.
      qv.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cid"),
          expr("aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
            .as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(col("d2") * lit(8L) + col("cid")).as("mc"))
        .select(col("vec_id"), pmod(col("mc"), lit(8L)).as("cid"),
          expr("mc div 8").as("d2"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
        .orderBy(asc_nulls_first("cid"))
    },
    Some("""WITH q AS (SELECT vec_id,
               [CAST(floor(x * 1e6) AS BIGINT) FOR x IN CAST(embedding AS DOUBLE[])] AS qs
             FROM embeddings),
      c AS (SELECT vec_id AS cid, qs AS cq FROM q WHERE vec_id < 8),
      d AS (SELECT q.vec_id, c.cid,
              CAST(list_sum([x * x FOR x IN list_transform(list_zip(q.qs, c.cq),
                p -> p[1] - p[2])]) AS BIGINT) AS d2
            FROM q CROSS JOIN c),
      a AS (SELECT vec_id, cid, d2,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
            FROM d)
      SELECT cid, COUNT(*) AS n_vecs, CAST(sum(d2) AS BIGINT) AS inertia
      FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid ASC NULLS FIRST"""),
    "k-means assignment (argmin over broadcast centroids) + inertia, integer-exact squared L2 (Lloyd's other half vs q105)")

  /** q192: product quantization (Jégou et al. 2011) — the vector
    * COMPRESSION kernel between q107's scalar quantization and q31's IVF
    * routing: the 64-dim embedding splits into 4 subvectors of 16 dims,
    * each assigned to its nearest of 16 per-subspace codebook centroids,
    * so the vector stores as 4 bytes instead of 256 (the memory budget
    * that makes billion-scale ANN feasible; IVF-PQ = q31's lists + these
    * codes). Codebooks derive deterministically from the first 16
    * vectors (assignment only — the training loop is q120's Lloyd step);
    * all distances in q120's floor(×10⁶) integer quantization, argmin
    * via the packed d2·16+cid min. Emits per-subspace code histograms
    * plus total quantization error — the compression-quality report.
    *
    * Scale shape: codebooks broadcast (4·16 subvectors); each vector's
    * 4 assignments are map-side; the only shuffle is the final
    * |codes|-sized histogram aggregate. */
  private val q192 = Q(
    "q192_product_quant",
    (s, dir) => {
      val sub = T(s, dir, "embeddings")
        .select(col("vec_id"), explode(expr(
          """transform(sequence(0, 3), g -> struct(g AS g,
               transform(slice(CAST(embedding AS ARRAY<DOUBLE>), g * 16 + 1, 16),
                 x -> CAST(floor(x * 1e6) AS BIGINT)) AS q))""")).as("sv"))
        .select(col("vec_id"), col("sv.g").cast("long").as("g"), col("sv.q").as("q"))
      val cents = sub.filter(col("vec_id") < 16)
        .select(col("g"), col("vec_id").as("cid"), col("q").as("cq"))
      sub.join(broadcast(cents), Seq("g"))
        .select(col("vec_id"), col("g"), col("cid"),
          expr("aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
            .as("d2"))
        .groupBy(col("vec_id"), col("g"))
        .agg(min(col("d2") * lit(16L) + col("cid")).as("mc"))
        .select(col("g"), pmod(col("mc"), lit(16L)).as("code"),
          expr("mc div 16").as("d2"))
        .groupBy(col("g"), col("code"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_err"))
        .orderBy(asc_nulls_first("g"), asc_nulls_first("code"))
    },
    Some("""WITH q AS (SELECT vec_id,
               [CAST(floor(x * 1e6) AS BIGINT) FOR x IN CAST(embedding AS DOUBLE[])] AS qs
             FROM embeddings),
      sub AS (SELECT vec_id, g, qs[g * 16 + 1 : g * 16 + 16] AS q
              FROM q, (SELECT unnest(generate_series(0, 3)) AS g)),
      c AS (SELECT g, vec_id AS cid, q AS cq FROM sub WHERE vec_id < 16),
      d AS (SELECT s.vec_id, s.g, c.cid,
              CAST(list_sum([x * x FOR x IN
                list_transform(list_zip(s.q, c.cq), p -> p[1] - p[2])]) AS BIGINT) AS d2
            FROM sub s JOIN c ON c.g = s.g),
      a AS (SELECT vec_id, g, MIN(d2 * 16 + cid) AS mc FROM d GROUP BY 1, 2)
      SELECT g, CAST(mc % 16 AS BIGINT) AS code, COUNT(*) AS n_vecs,
             CAST(SUM(mc // 16) AS BIGINT) AS sum_err
      FROM a GROUP BY g, mc % 16
      ORDER BY g ASC NULLS FIRST, code ASC NULLS FIRST"""),
    "product quantization: per-subspace codebook assignment (4x16 codes, broadcast codebooks, map-side argmin) + quantization-error report; integer-exact under the hash gate")

  // ---- IVF-PQ (q193): q31's routing over q192's codes -----------------

  val PqGroups = 4
  val PqSubDim = 16
  val PqCodes = 16

  /** PQ codebooks: per subspace, the first `nCodes` vectors'
    * subvectors (q192's deterministic derivation), collected driver-side
    * — `nCodes` small arrays by design, same bounded-collect contract
    * as [[centroidArrays]]. */
  def pqBooks(emb: DataFrame, nCodes: Int = PqCodes,
      groups: Int = PqGroups): Array[Array[Array[Double]]] = {
    val seeds = vecsOf(emb).filter(col("vec_id") < nCodes)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1).toArray)
    val subDim = seeds.head.length / groups
    Array.tabulate(groups)(g =>
      seeds.map(_.slice(g * subDim, (g + 1) * subDim)))
  }

  /** Books captured in the closure, not a typedLit column — see
    * [[centroidAssignUdf]] for why (per-row nested-literal conversion
    * would cost O(rows × |books|) per training iteration). */
  private def pqAssignSubUdf(books: Array[Array[Array[Double]]]) =
    udf((g: Int, sub: Seq[Double]) => {
      val bg = books(g)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < bg.length) {
        val cent = bg(c)
        var d = 0.0; var i = 0
        while (i < cent.length) { val t = sub(i) - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    })

  /** PQ codebooks refined by `iters` distributed Lloyd steps per subspace
    * (the k-means PQ training of Jégou et al. 2011 §III): assign every
    * vector's subvector to its nearest code under BROADCAST books, then
    * recompute per-(group, code, dim) element-wise means. Each iteration
    * is one scan whose aggregation is map-combinable down to
    * groups·codes·subdim rows (4·16·16 = 1024 here) before the exchange —
    * the same scale shape as [[centroidArrays]]' Lloyd step, so training
    * cost is `iters` linear passes regardless of corpus size. Empty
    * clusters keep their previous code vector. */
  def pqBooksTrained(emb: DataFrame, iters: Int, nCodes: Int = PqCodes,
      groups: Int = PqGroups): Array[Array[Array[Double]]] = {
    var books = pqBooks(emb, nCodes, groups)
    val subDim = books.head.head.length
    val subs = vecsOf(emb).select(
      explode(expr(s"transform(sequence(0, ${groups - 1}), " +
        s"g -> struct(g AS g, slice(v, g * $subDim + 1, $subDim) AS sub))")).as("gs"))
      .select(col("gs.g").as("g"), col("gs.sub").as("sub"))
    for (_ <- 1 to iters) {
      val means = subs
        .withColumn("c", pqAssignSubUdf(books)(col("g"), col("sub")))
        .select(col("g"), col("c"), posexplode(col("sub")).as(Seq("dim", "x")))
        .groupBy(col("g"), col("c"), col("dim")).agg(avg(col("x")).as("m"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    }
    books
  }

  /** Pure per-vector encoder (spec entry point; the UDF delegates). The
    * books SHAPE is the parameterization: books.length groups of
    * books(g)(c).length-dim codewords — the constants above are only the
    * q192 default. */
  def pqEncode(v: Seq[Double], books: Seq[Seq[Seq[Double]]]): Array[Int] = {
    val subDim = books.head.head.length
    Array.tabulate(books.length) { g =>
      val sub = v.slice(g * subDim, (g + 1) * subDim)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < books(g).length) {
        val cent = books(g)(c)
        var d = 0.0; var i = 0
        while (i < subDim) { val t = sub(i) - cent(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  private def pqEncodeUdf(books: Array[Array[Array[Double]]]) = {
    val booksSeq: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq).toSeq
    udf((v: Seq[Double]) => pqEncode(v, booksSeq))
  }

  /** The compressed index: (vec_id, codes[4]) partitioned by IVF
    * list_id — 4 bytes of payload per vector where the flat index
    * stores 256 — plus its codebooks. Built once per input and `tag`
    * (the same contract as [[builtIndex]]); search never touches the raw
    * vectors. */
  def pqCodesPath(s: SparkSession, emb: DataFrame, tag: String = "seed",
      mkBooks: DataFrame => Array[Array[Array[Double]]] = pqBooks(_))
      : (String, Array[Array[Array[Double]]]) = {
    val (cents, _) = builtIndex(emb)
    ofInputs(emb, "ivfpq", tag) { path =>
      val books = mkBooks(emb)
      vecsOf(emb)
        .withColumn("list_id", centroidAssignUdf(cents)(col("v")))
        .withColumn("codes", pqEncodeUdf(books)(col("v")))
        .select(col("vec_id"), col("list_id"), col("codes"))
        .write.partitionBy("list_id").mode("overwrite").parquet(path)
      (path, books)
    }
  }

  /** q193: IVF-PQ search with asymmetric distance (ADC) — the
    * billion-scale ANN shape (Jégou et al. 2011; FAISS IVFPQ): route the
    * query to nprobe lists (q31), then score CODES, not vectors — the
    * per-query lookup table ||q_sub − book[g][c]||² has 4×16 entries, so
    * each candidate costs 4 table lookups instead of a 64-dim dot
    * product, and the probe scan reads the 4-byte code column instead of
    * the 256-byte vector. PQ here encodes raw vectors (residual encoding
    * is the standard refinement — noted, not implemented). Rows-only by
    * design (approximate scores have no SQL oracle); IvfPqSpec pins the
    * seed-self-distance-zero law and recall@10 against the exact
    * brute-force top-k.
    *
    * With rerank = C > 0, the top-C ADC candidates per query are
    * re-scored with EXACT distances against the raw vectors (the FAISS
    * refine / IVFPQR shape) and the final top-k ranks on those: ADC
    * quantization error stops costing recall whenever the true
    * neighbor is anywhere in the ADC top-C, which lifts recall@10 from
    * 0.66 to ≥0.8 at nprobe=8 (IvfPqSpec). Cost: one column-pruned
    * scan of the raw vectors broadcast-semi-joined against the ≤
    * 5·C-row shortlist — no shuffle, no per-candidate growth; at index
    * scale the raw vectors are partitioned by list_id like the codes,
    * so the re-rank scan prunes to the probed lists too.
    *
    * Scale shape: LUTs are 5 queries × 64 doubles, broadcast; the
    * candidate join explodes codes to (vid, g, c) and joins the LUT on
    * (qid, g, c) — shuffles carry ids and codes only; the probed read is
    * partition-pruned exactly like q31. */
  def ivfPqTopK(s: SparkSession, emb: DataFrame, k: Int,
      nprobe: Int = NProbe, trainIters: Int = 0, nCodes: Int = PqCodes,
      groups: Int = PqGroups, rerank: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cents, _) = builtIndex(emb)
    val (codesPath, books) =
      if (trainIters == 0 && nCodes == PqCodes && groups == PqGroups)
        pqCodesPath(s, emb)
      else pqCodesPath(s, emb, s"lloyd$trainIters-$nCodes-$groups",
        pqBooksTrained(_, trainIters, nCodes, groups))
    val qvecs = vecsOf(emb).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val qside = qvecs
      .select(col("qid"), col("qv"),
        explode(nearestListsUdf(cents, nprobe)(col("qv"))).as("list_id"))
    val probed = qside.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // per-query ADC lookup table, built driver-side from the collected
    // query vectors (5 × 4 × 16 doubles, bounded)
    val qArr = qvecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val subDim = books.head.head.length
    val lutRows = for {
      (qid, qv) <- qArr.toSeq
      g <- books.indices
      c <- books(g).indices
    } yield {
      val sub = qv.slice(g * subDim, (g + 1) * subDim)
      var d = 0.0; var i = 0
      while (i < subDim) { val t = sub(i) - books(g)(c)(i); d += t * t; i += 1 }
      (qid, g, c, d)
    }
    val lut = s.createDataFrame(lutRows).toDF("qid", "g", "c", "lutd2")
    val cand = Parquet.read(s, codesPath)
      .filter(col("list_id").isin(probed.map(Int.box): _*))
      .join(broadcast(qside.select(col("qid"), col("list_id"))), Seq("list_id"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("vid"),
        posexplode(col("codes")).as(Seq("g", "c")))
      .join(broadcast(lut), Seq("qid", "g", "c"))
      .groupBy(col("qid"), col("vid"))
      .agg(round(sum(col("lutd2")), 6).as("adc_d2"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(asc("adc_d2"), asc_nulls_first("vid"))
    if (rerank <= 0)
      cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .orderBy(asc_nulls_first("qid"), asc("rank"))
    else {
      require(rerank >= k, s"rerank shortlist $rerank smaller than k=$k")
      val shortlist = cand.withColumn("arank", row_number().over(w))
        .filter(col("arank") <= rerank)
        .select(col("qid"), col("vid"))
      // exact re-score: query vectors are the 5 already-collected rows,
      // closed over per (qid); the shortlist (≤ 5·rerank rows) broadcasts
      // against one column-pruned pass over the raw vectors
      val qMap = qArr.toMap
      val exactD2 = udf((qid: Long, v: Seq[Double]) => {
        val qv = qMap(qid)
        var d = 0.0; var i = 0
        while (i < qv.length) { val t = v(i) - qv(i); d += t * t; i += 1 }
        d
      })
      val rescored = vecsOf(emb)
        .join(broadcast(shortlist), col("vec_id") === col("vid"))
        .select(col("qid"), col("vid"),
          round(exactD2(col("qid"), col("v")), 6).as("d2"))
      val wx = Window.partitionBy(col("qid"))
        .orderBy(asc("d2"), asc_nulls_first("vid"))
      rescored.withColumn("rank", row_number().over(wx)).filter(col("rank") <= k)
        .orderBy(asc_nulls_first("qid"), asc("rank"))
    }
  }

  /** q193's operating point (the r8 sweep's winner, see q193) — shared
    * with [[warmIndex]] so the bench setup phase can never warm a
    * different code table than the query trains. */
  val Q193Iters = 2
  val Q193Codes = 256
  val Q193Groups = 16
  /** Exact re-rank shortlist size: 5× the k=10 readout — large enough
    * that the true top-10 is almost always inside the ADC top-50
    * (recall@10 0.66 → ≥0.8 measured), small enough that the refine
    * pass is a ≤250-row broadcast join. */
  val Q193Rerank = 50

  private val q193 = Q(
    "q193_ivfpq_search",
    // operating point from the r8 nprobe/m sweep (sf0.01; IvfPqSpec pins it):
    // 16 groups × 256 Lloyd-trained codes at nprobe=8 → recall@10 0.66 vs
    // 0.28 for the r7 4×16 seed books (chance 0.02). 16-byte codes are
    // still 16× smaller than the 256-byte raw vectors; the r7 config's
    // ceiling was PQ resolution, not routing (nprobe=16 gave only 0.32).
    (s, dir) => ivfPqTopK(s, T(s, dir, "embeddings"), 10,
      nprobe = 8, trainIters = Q193Iters, nCodes = Q193Codes, groups = Q193Groups,
      rerank = Q193Rerank),
    None,
    "IVF-PQ ANN with asymmetric distance + exact top-50 re-rank: nprobe routing, 16-byte trained codes, per-query LUT scoring, refined final ranks (FAISS IVFPQR shape); recall law spec-pinned")

  /** Bench setup hook: build the IVF index and the q193-config trained
    * PQ code table (both [[graft.Scratch.derived]] tables; the books
    * train once per JVM inside [[pqCodesPath]]) before measured reps —
    * both are serve-time index structures a deployment builds once at
    * ingest, not per-query work. */
  def warmIndex(s: SparkSession, dir: String): Unit = {
    val emb = T(s, dir, "embeddings")
    builtIndex(emb)
    pqCodesPath(s, emb, s"lloyd$Q193Iters-$Q193Codes-$Q193Groups",
      pqBooksTrained(_, Q193Iters, Q193Codes, Q193Groups))
    ()
  }

  // ---- Johnson-Lindenstrauss sparse random projection (q230) ----------

  private val JlK = 16 // projected dims
  private val JlDim = 64 // input dims (fixed-slot layout, q205's rule)
  private val JlP = 2147483647L // 2^31 − 1
  private val JlOff = 7000000L // index offset decorrelating from q205's planes

  /** Sparse JL weight ∈ {−1, 0, +1} at flat index j·Dim + d, drawn
    * UNIFORMLY over the three values (P(0) = 1/3, so 2/3 of entries are
    * nonzero — denser than Achlioptas 2003, whose {+1, 0, −1} law is
    * {1/6, 2/3, 1/6}; the JL guarantee only needs zero-mean i.i.d.
    * entries, which both satisfy): the same squared-LCG mix q205's
    * hyperplanes use (every intermediate < 2⁶³, replayable in DuckDB
    * BIGINT arithmetic), reduced mod 3 instead of recentred. */
  private def jlWeight(idx: Long): Long = {
    val i = JlOff + idx + 1L
    val h0 = (i * 2654435761L) % JlP
    val h1 = (h0 * h0) % JlP
    val h2 = (h1 * 1103515245L + 12345L) % JlP
    (h2 % 3L) - 1L
  }

  private lazy val jlPlanes: Array[Array[Long]] =
    Array.tabulate(JlK)(j => Array.tabulate(JlDim)(d => jlWeight(j.toLong * JlDim + d)))

  private val jlProjectUdf = udf((v: Seq[Long]) => {
    val arr = v.toArray
    Array.tabulate(JlK) { j =>
      val pl = jlPlanes(j)
      var acc = 0L
      var d = 0
      val n = math.min(arr.length, JlDim)
      while (d < n) { acc += arr(d) * pl(d); d += 1 }
      acc
    }.toSeq
  })

  /** q230: JL random-projection distance-preservation audit — the sketch a
    * pipeline uses to compress embeddings 4× before a coarse similarity
    * pass (blocking, canopy clustering) when even int8 codes (q107) are
    * too wide. Projects the fixed 64-slot quantized vectors (q205's
    * layout) to 16 dims with ±1/0 weights, then measures, for each
    * consecutive (vec_id, vec_id+1) pair, projected vs original squared
    * L2 in exact int64 — ratio_ppm ≈ 10⁶ is the JL promise (E‖Py‖² =
    * (2/3)·K·‖y‖² under the mod-3 weight law; the 3/(2K) rescale makes
    * the expectation 1). Wholly map-side but the pair self-join (narrow,
    * key+1 equi-join) and the presentation sort; vectors never shuffle
    * with payloads at 100 TB — the sketch rides in their place. */
  private val q230 = Q(
    "q230_jl_projection",
    (s, dir) => {
      val iv = T(s, dir, "embeddings")
        .select(col("vec_id"),
          expr(s"transform(sequence(1, $JlDim), i -> cast(floor(coalesce(try_element_at(CAST(embedding AS ARRAY<DOUBLE>), i), 0d) * 1000d) AS bigint))")
            .as("q"))
        .select(col("vec_id"), col("q"), jlProjectUdf(col("q")).as("y"))
      val d2 = "aggregate(zip_with(%s, %s, (x, z) -> (x - z) * (x - z)), 0L, (acc, w) -> acc + w)"
      iv.alias("a").join(iv.alias("b"), col("a.vec_id") + 1 === col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          expr(d2.format("a.q", "b.q")).as("dorig2"),
          expr(d2.format("a.y", "b.y")).as("dproj2"))
        .filter(col("dorig2") > 0)
        .select(col("vec_a"), col("vec_b"), col("dorig2"), col("dproj2"),
          expr(s"(3000000 * dproj2) div (2 * $JlK * dorig2)").as("ratio_ppm"))
        .orderBy(asc_nulls_first("vec_a"))
    },
    Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      iv AS MATERIALIZED (
        SELECT vec_id,
               list_transform(range(1, ${JlDim + 1}),
                 i -> CAST(floor(coalesce(v[CAST(i AS INTEGER)], 0) * 1000) AS BIGINT)) AS q
        FROM e),
      pl AS (
        SELECT js.j, ds.d,
          ((((($JlOff + js.j * $JlDim + ds.d + 1) * 2654435761) % $JlP)
              * ((($JlOff + js.j * $JlDim + ds.d + 1) * 2654435761) % $JlP) % $JlP)
            * 1103515245 + 12345) % $JlP % 3 - 1 AS w
        FROM (SELECT unnest(range(0, $JlK)) AS j) js,
             (SELECT unnest(range(0, $JlDim)) AS d) ds),
      pls AS (SELECT j, list(CAST(w AS DOUBLE) ORDER BY d) AS pw FROM pl GROUP BY j),
      yj AS (
        SELECT iv.vec_id, pls.j,
               CAST(list_dot_product(list_transform(iv.q, x -> CAST(x AS DOUBLE)), pls.pw) AS BIGINT) AS yv
        FROM iv CROSS JOIN pls),
      y AS MATERIALIZED (SELECT vec_id, list(yv ORDER BY j) AS y FROM yj GROUP BY vec_id),
      pr AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(list_sum([ (x[1] - x[2]) * (x[1] - x[2]) FOR x IN list_zip(a.q, b.q) ]) AS BIGINT) AS dorig2,
               CAST(list_sum([ (x[1] - x[2]) * (x[1] - x[2]) FOR x IN list_zip(ya.y, yb.y) ]) AS BIGINT) AS dproj2
        FROM iv a JOIN iv b ON a.vec_id + 1 = b.vec_id
        JOIN y ya ON ya.vec_id = a.vec_id JOIN y yb ON yb.vec_id = b.vec_id)
      SELECT vec_a, vec_b, dorig2, dproj2,
             CAST((3000000 * dproj2) // (2 * $JlK * dorig2) AS BIGINT) AS ratio_ppm
      FROM pr WHERE dorig2 > 0
      ORDER BY vec_a ASC NULLS FIRST"""),
    "sparse Johnson-Lindenstrauss projection (64 -> 16 dims, mod-3 +-1 weights) with an integer-exact distance-preservation audit")

  val all: Seq[Q] = Seq(q31, q105, q107, q113, q120, q192, q193, q218, q221, q230)
}
