package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Correctness of the near-dup detectors on planted duplicates (the driver
  * corpus is dup-free, so pair queries are legitimately empty there —
  * these tests prove the detectors actually fire). */
class DedupSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.TestSession.spark

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "spark sql engine runs declarative plans over columnar data " +
    "with predicate pushdown and whole stage codegen for fast scans"
  private val nearDup = base.replace("fast", "quick") // one token changed
  private val unrelated = "completely different words about cooking pasta with " +
    "tomato sauce basil garlic olive oil and fresh parmesan cheese grated"

  test("minhash LSH finds the planted near-dup pair and not the unrelated one") {
    val docs = docsDf(Seq((1L, base), (2L, nearDup), (3L, unrelated)))
    val pairs = Dedup.minhashPairs(spark, docs).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 2L)), s"expected (1,2) in $found")
    assert(!found.contains((1L, 3L)) && !found.contains((2L, 3L)))
    val j = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(3)
    assert(j > 0.5, s"exact jaccard of near-dup should be high, got $j")
  }

  test("q101 pipeline: planted clones cluster with their source; only the source keeps") {
    // distinct-vocab corpus + a near clone of doc 0 and an exact clone of
    // doc 1 — the pipeline must produce exactly two 2-doc clusters
    val rnd = new scala.util.Random(31)
    def sentence() = Iterator.fill(14)("w" + rnd.nextInt(8000)).mkString(" ")
    val docs = (0L until 60L).map(i => (i, Iterator.fill(6)(sentence()).mkString(". ")))
    val all = docs ++ Seq(
      (300000L, docs(0)._2 + " appended near dup suffix"),
      (400001L, docs(1)._2))
    val out = Dedup.dedupPipeline(spark, docsDf(all), 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(300000L) === ((0L, false)), s"near clone: ${out(300000L)}")
    assert(out(400001L) === ((1L, false)), s"exact clone: ${out(400001L)}")
    assert(out(0L) === ((0L, true)) && out(1L) === ((1L, true)))
    val others = out.filter { case (id, _) => id >= 2L && id < 60L }
    assert(others.forall { case (id, (cl, keep)) => cl == id && keep },
      "an unplanted doc was clustered away")
  }

  test("incremental dedup classifies each delta doc: exact beats near, unique stays clean") {
    val rnd = new scala.util.Random(47)
    def sentence() = Iterator.fill(14)("v" + rnd.nextInt(8000)).mkString(" ")
    val corpusRows = (1L to 40L).map(i => (i, Iterator.fill(6)(sentence()).mkString(". ")))
    val corpus = docsDf(corpusRows)
    val byId = corpusRows.toMap
    val delta = docsDf(Seq(
      (101L, byId(1L) + " appended near dup suffix"),          // near of 1
      (102L, byId(2L)),                                        // exact of 2
      (103L, Iterator.fill(6)(sentence()).mkString(". ")),     // genuinely new
      (104L, byId(3L))))                                       // exact of 3
    val out = Dedup.incrementalDedup(spark, corpus, delta, 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    assert(out.keySet === Set(101L, 102L, 103L, 104L), "every delta doc classified exactly once")
    assert(out(102L) === (("exact", 2L, 1.0)), s"verbatim copy: ${out(102L)}")
    assert(out(104L) === (("exact", 3L, 1.0)), s"verbatim copy: ${out(104L)}")
    val (kind101, dup101, j101) = out(101L)
    assert(kind101 == "near" && dup101 == 1L && j101 >= 0.8, s"near clone: ${out(101L)}")
    assert(out(103L) === (("unique", -1L, -1.0)), s"fresh doc: ${out(103L)}")
  }

  test("streaming incremental dedup: prefix semantics — every doc classified against earlier arrivals only") {
    val rnd = new scala.util.Random(53)
    def sentence() = Iterator.fill(14)("u" + rnd.nextInt(8000)).mkString(" ")
    val corpus = docsDf((1L to 100L).map(i => (i, Iterator.fill(6)(sentence()).mkString(". "))))
    val out = graft.streaming.Streams.streamIncrementalDedup(spark, corpus, 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    // 100 originals + 5 near (%20) + 2 exact (%50) + 1 reversed (%100);
    // planted family k lives at (k+1)*span (span-derived offsets, r14)
    val span = 101L // max doc_id 100 + 1
    assert(out.size === 108, s"got ${out.size} classifications")
    (1L to 100L).foreach(i => assert(out(i) === (("unique", -1L)), s"original $i: ${out(i)}"))
    Seq(20L, 40L, 60L, 80L, 100L).foreach { i =>
      assert(out(2 * span + i) === (("near", i)), s"near clone of $i: ${out(2 * span + i)}") }
    Seq(50L, 100L).foreach { i =>
      assert(out(3 * span + i) === (("exact", i)), s"exact clone of $i: ${out(3 * span + i)}") }
    assert(out(4 * span + 100L) === (("unique", -1L)), s"reversed doc: ${out(4 * span + 100L)}")
  }

  test("exact jaccard of identical docs is 1.0") {
    val docs = docsDf(Seq((1L, base), (2L, base)))
    val pairs = Dedup.minhashPairs(spark, docs).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getDouble(2) === 1.0) // est
    assert(pairs.head.getDouble(3) === 1.0) // exact
  }

  test("1k identical docs produce linear, not quadratic, pair counts") {
    // the classic LSH skew killer: 1000 byte-identical docs all share every
    // band hash — without the exact-collapse an O(n²) half-million pairs
    // explode inside one bucket; with it they surface as 999 (rep, member)
    // pairs and the LSH self-join sees a single representative
    val docs = docsDf((1L to 1000L).map(i => (i, base))
      :+ (2000L, nearDup) :+ (3000L, unrelated))
    val pairs = Dedup.minhashPairs(spark, docs).collect()
    val exact = pairs.filter(r => r.getDouble(3) == 1.0 && r.getDouble(2) == 1.0)
    assert(exact.length === 999, s"expected 999 linear rep pairs, got ${exact.length}")
    assert(exact.forall(r => r.getLong(0) === 1L), "rep must be the min doc_id")
    assert(pairs.length <= 1005, s"quadratic blowup: ${pairs.length} pairs")
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2000L),
      "near-dup of the representative must still be found")
    val simPairs = Dedup.simhashPairs(docs, maxHamming = 8).collect()
    assert(simPairs.count(_.getInt(2) == 0) === 999)
    assert(simPairs.length <= 1005, s"quadratic blowup: ${simPairs.length} simhash pairs")
  }

  test("oversized non-identical buckets are capped to bound the self-join") {
    // 40 DISTINCT docs sharing most shingles: band hashes collide heavily,
    // exact-collapse does not apply, so only the bucket cap bounds the join
    val docs = docsDf((1L to 40L).map(i => (i, base + " tail" + i)))
    val uncapped = Dedup.minhashPairs(spark, docs, maxBucket = 10000).count()
    val capped = Dedup.minhashPairs(spark, docs, maxBucket = 5).count()
    assert(uncapped > 100, s"fixture should collide heavily, got $uncapped pairs")
    assert(capped < uncapped, s"cap had no effect: $capped vs $uncapped")
  }

  test("simhash: near-dup close / unrelated far; within-guarantee pair always recovered") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sb = Dedup.simhashPoly60(base)
    assert(ham(sb, Dedup.simhashPoly60(nearDup)) <= 8,
      "one-token edit must stay hamming-close")
    assert(ham(sb, Dedup.simhashPoly60(unrelated)) > 12,
      "unrelated text must stay hamming-far")
    // Recovery is GUARANTEED only inside the pigeonhole-complete radius
    // (4 chunks ⇒ ham ≤ 3 always shares a chunk) — the earlier fixture
    // sat at ham 5 and passed on incidental chunk luck. Search a small
    // candidate family for a perturbation inside the radius and assert
    // the operator finds exactly that guaranteed pair.
    val within = (1 to 60).map(i => base + s" tok$i")
      .find(t => ham(sb, Dedup.simhashPoly60(t)) <= 3)
    assert(within.nonEmpty, "no candidate perturbation landed within radius 3")
    val docs = docsDf(Seq((1L, base), (2L, within.get), (3L, unrelated)))
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "within-guarantee near-dup missed")
  }

  test("embedding LSH near-dup: planted high-cosine pair found, exact cosine verified") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val v1 = Array.fill(Dedup.Dim)(r.nextGaussian().toFloat)
    // near-dup: tiny perturbation; unrelated: fresh random vector
    val v2 = v1.map(x => x + 0.01f * r.nextGaussian().toFloat)
    val v3 = Array.fill(Dedup.Dim)(r.nextGaussian().toFloat)
    val emb = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(spark, emb, 0.9).collect()
    assert(pairs.length === 1)
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) === (1L, 2L))
    assert(pairs.head.getDouble(2) > 0.99)
  }

  test("q27 planted near-dups are recovered on the driver embeddings") {
    val emb = graft.T(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = Dedup.plantedNearDups(spark, emb, 0.9).collect()
    assert(pairs.nonEmpty, "planted perturbed copies must surface as near-dup pairs")
    // every surfaced pair is (i, i+span) — the planted twin of vector i
    // (span-derived since r15: the constant +100000 collided at sf10)
    val span = Dedup.vecSpan(emb)
    assert(pairs.forall(r => r.getLong(1) === r.getLong(0) + span),
      pairs.map(r => (r.getLong(0), r.getLong(1))).mkString(", "))
    assert(pairs.length >= 3, s"expected most of the 5 planted pairs, got ${pairs.length}")
  }

  test("q205 integer-exact twin recovers planted pairs with a float-free threshold") {
    val emb = graft.T(spark, "/root/testdata/sf0.001", "embeddings")
    val rows = Dedup.embeddingNearDupsExact(spark, emb).collect()
    assert(rows.nonEmpty, "planted quantized copies must collide in >=1 of 6 tables")
    val span2 = Dedup.vecSpan(emb)
    assert(rows.forall(r => r.getLong(1) === r.getLong(0) + span2),
      rows.map(r => (r.getLong(0), r.getLong(1))).mkString(", "))
    // the carried dot is the exact integer dot — re-derivable and positive
    assert(rows.forall(_.getLong(2) > 0L))
  }

  test("planeInt is the documented squared-LCG mix (oracle replay contract)") {
    // pin a few values: changing the formula silently would break the
    // q205 oracle only at verify time — fail fast here instead.
    def ref(idx: Long): Long = {
      val p = 2147483647L
      val h0 = ((idx + 1) * 2654435761L) % p
      val h1 = (h0 * h0) % p
      ((h1 * 1103515245L + 12345L) % p) - (p - 1) / 2
    }
    for (i <- Seq(0L, 1L, 63L, 64L, 4607L))
      assert(Dedup.planeInt(i) === ref(i), s"planeInt($i)")
  }

  test("q206 poly shingles: sub-3-token and empty texts still sign; dup texts collide") {
    // empty text → the single all-empty-token shingle (x = 0)
    assert(Dedup.polyShingles("").toSeq === Seq(0L))
    // 2 tokens → one partial shingle (third token hashes as '')
    assert(Dedup.polyShingles("a b").length === 1)
    // 5 tokens → 3 shingles
    assert(Dedup.polyShingles("a b c d e").length === 3)
    // identical text → identical shingle set and identical band keys
    val t = "the quick brown fox jumps over the lazy dog"
    assert(Dedup.polyShingles(t).toSeq === Dedup.polyShingles(t).toSeq)
    assert(Dedup.polyBands(Dedup.polyShingles(t)).toSeq ===
      Dedup.polyBands(Dedup.polyShingles(t)).toSeq)
    // disjoint shingle sets → (with 4 bands) almost surely different keys
    val u = "completely different words in every position here now ok"
    assert(Dedup.polyBands(Dedup.polyShingles(t)).toSeq !==
      Dedup.polyBands(Dedup.polyShingles(u)).toSeq)
  }

  test("q206 end-to-end: exact duplicates pair with inter == uni") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, text), (2L, text),
      (3L, "unrelated content entirely here with other words present"))
      .toDF("doc_id", "text")
    val rows = Dedup.minhashPairsExact(spark, docs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(rows.head.getLong(2) === rows.head.getLong(3), "dup pair: inter == uni")
  }

  test("q207 poly simhash: 30-bit range, dup invariance, tokenless sentinel") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val f = Dedup.simhashPoly(t)
    assert(f >= 0 && f < (1L << 30))
    assert(Dedup.simhashPoly(t) === f, "deterministic")
    assert(Dedup.simhashPoly("") === -1L && Dedup.simhashPoly("   ") === -1L)
    // one-token change flips few of the 30 vote sums
    val f2 = Dedup.simhashPoly(t.replace("kappa", "lambda"))
    assert(java.lang.Long.bitCount(f ^ f2) <= 10, s"near-dup drift ${java.lang.Long.bitCount(f ^ f2)}")
  }

  test("q207 end-to-end: identical docs pair at ham 0; radius capped at 2") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, text), (2L, text),
      (3L, "unrelated content entirely here with other words present okay"))
      .toDF("doc_id", "text")
    val rows = Dedup.simhashPairsExact(spark, docs).collect()
    assert(rows.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 0L))
    assert(rows.forall(_.getLong(2) <= 2L))
  }

  test("q208 pipeline: dup triple clusters to min-id rep, keep flags canonical") {
    import spark.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (5L, text), (9L, text), (11L, text),            // one dup cluster
      (3L, "unrelated words occupying this other document right here ok"))
      .toDF("doc_id", "text")
    val rows = Dedup.dedupPipelineExact(spark, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(rows === Seq((3L, 3L, true), (5L, 5L, true), (9L, 5L, false), (11L, 5L, false)))
  }

  test("multi-probe keys are exactly the Hamming<=2 neighborhood of the query key") {
    // the r15 recall fix probes every <=2-flip bucket of the QUERY key
    // (Lv et al. 2007); the probe set must be the full distinct
    // neighborhood or recall silently degrades / duplicates inflate cost
    import spark.implicits._
    for (bits <- Seq(7, 12, 14)) {
      val key = 0x5a5a5a5aL & ((1L << bits) - 1)
      val got = Seq(key).toDF("k")
        .select(explode(Dedup.multiProbeKeys(bits)(col("k"))).as("p"))
        .as[Long].collect().toSeq
      val want = (0L until (1L << bits))
        .filter(m => java.lang.Long.bitCount(m) <= 2).map(key ^ _)
      assert(got.size === got.distinct.size, s"bits=$bits: duplicate probes")
      assert(got.toSet === want.toSet, s"bits=$bits: probe set wrong")
      assert(got.head === key, "the exact key probes first")
    }
  }

  test("ann top-k returns at most k per query with scores in [-1,1]") {
    import spark.implicits._
    val r = new scala.util.Random(13)
    val emb = (0L until 100L).map(i => (i, Seq.fill(Dedup.Dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val topk = Dedup.annTopK(spark, emb, 10).collect()
    val perQ = topk.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQ.keySet.subsetOf((0L until 5L).toSet))
    assert(perQ.values.forall(_ <= 10))
    assert(topk.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("BMP codec: wrapped payload round-trips exact header dimensions") {
    val payload = Array.tabulate(100)(_.toByte)
    val bmp = Codecs.wrapBmp(payload, 16)
    val parsed = Codecs.parseBmp(bmp)
    assert(parsed === Some(Codecs.Bmp(16, 3, 24, 54))) // 100 bytes / 48-byte rows → 3 rows
    assert(Codecs.parseBmp("not a bitmap".getBytes) === None)
    val (w, h, _, codec) = Multimodal.decode("img", bmp)
    assert((w, h, codec) === (16, 3, "bmp"))
  }

  test("WAV codec: wrapped payload round-trips rate/channels/bits") {
    val wav = Codecs.wrapWav(Array.tabulate(64)(_.toByte), 16000, 2)
    val parsed = Codecs.parseWav(wav)
    assert(parsed === Some(Codecs.Wav(16000, 2, 16, 64)))
    assert(Codecs.parseWav("RIFFxxxxJUNK".getBytes) === None)
    val (rate, ch, _, codec) = Multimodal.decode("audio", wav)
    assert((rate, ch, codec) === (16000, 2, "wav"))
  }

  test("WAV parse rejects out-of-range chunk sizes instead of throwing") {
    // crafted chunk size near Int.MaxValue used to overflow the Int offset
    // negative and throw StringIndexOutOfBoundsException from the task
    val wav = Codecs.wrapWav(Array.tabulate(64)(_.toByte), 16000, 2)
    val evil = wav.clone()
    val bb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(16, Int.MaxValue - 3) // fmt chunk size
    assert(Codecs.parseWav(evil) === None)
    val truncated = wav.clone()
    bb.clear(); java.nio.ByteBuffer.wrap(truncated)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(40, 1 << 30) // data size
    assert(Codecs.parseWav(truncated) === None)
  }

  test("media table exercises all three codec paths on driver data") {
    val out = Multimodal.extractFeatures(
      Multimodal.mediaTable(spark, "/root/testdata/sf0.001")).collect()
    val byCodec = out.groupBy(_.codec).view.mapValues(_.length).toMap
    assert(byCodec.keySet === Set("bmp", "wav", "stub"), byCodec.toString)
    // real BMP path: width is the wrap width, not a hash
    assert(out.filter(_.codec == "bmp").forall(_.width === 16))
    assert(out.filter(_.codec == "wav").forall(r => r.width === 16000 && r.height === 1))
  }

  test("multimodal feature extraction is deterministic with real batch shape") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "img", "hello world".getBytes),
      Multimodal.MediaRow(2L, "audio", Array[Byte](1, 2, 3, 4, 5)))
      .toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out.length === 2)
    assert(out(0).n_bytes === 11)
    assert(out(0).features.sum > 0.999 && out(0).features.sum < 1.001)
    // deterministic: same input → same fake dims
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out.map(_.width).toSeq === again.map(_.width).toSeq)
  }

  test("multimodal resize and frame sampling keep the typed batch shape") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "img", ("x" * 100).getBytes),
      Multimodal.MediaRow(2L, "video", ("y" * 240).getBytes)).toDS()
    val resized = Multimodal.resize(media, 224, 224).collect().sortBy(_.doc_id)
    assert(resized.forall(r => r.width === 224 && r.height === 224))
    assert(resized.forall(_.features.sum > 0.99))
    val frames = Multimodal.sampleFrames(media, 4).collect()
    assert(frames.length === 8) // 2 docs x 4 frames
    assert(frames.groupBy(_.doc_id).forall(_._2.map(_.frame).sorted.sameElements(0 until 4)))
  }

  test("stateful mapGroupsWithState counts equal batch groupBy counts") {
    val dir = "/root/testdata/sf0.001"
    val stateful = graft.streaming.Streams.statefulUserCounts(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val batch = graft.T(spark, dir, "events")
      .groupBy(org.apache.spark.sql.functions.col("user_id"))
      .count().collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(stateful === batch)
  }

  test("stream-stream interval join equals its batch twin on the same input") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dir = "/root/testdata/sf0.001"
    val stream = graft.streaming.Streams.streamIntervalJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val ev = graft.T(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("tss"), col("value"))
    val t = ev.filter(pmod(col("event_id"), lit(5)) === 0)
      .select(col("event_id").as("trade_id"), col("user_id"), col("tss").as("t_ts"))
    val q = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
      .select(col("user_id").as("q_user"), col("tss").as("q_ts"), col("value").as("qval"))
    val batch = t.join(q,
        col("user_id") === col("q_user") &&
          col("q_ts") >= col("t_ts") - expr("interval 24 hours") &&
          col("q_ts") <= col("t_ts"))
      .groupBy(col("trade_id"))
      .agg(count(lit(1)).as("n_quotes"),
        sum(col("qval").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qval"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(stream.nonEmpty && (stream.toSeq === batch.toSeq))
  }

  test("streaming tumbling agg equals batch twin on the same input") {
    val dir = "/root/testdata/sf0.001"
    val stream = graft.streaming.Streams.streamTumblingHour(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    val batch = graft.SparkEntry.queries("q17_tumbling_hour")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    assert(stream === batch)
  }
}
