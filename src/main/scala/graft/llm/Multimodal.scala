package graft.llm

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder-prompt surface): media as opaque
  * binary columns + typed metadata, decoded/feature-extracted in batched
  * per-partition passes.
  *
  * The Spark-side plumbing is real (schema, typed Dataset, mapPartitions
  * batch shape, partition-parallel decode), and so are two codecs: BMP
  * and WAV headers parse for real via [[Codecs]] (width/height resp.
  * sample-rate/channels come from the actual container bytes). Formats
  * without a JVM-parseable container in this environment fall back to
  * `decodeStub` — a deterministic stand-in that is disclosed, not passed
  * off as a codec. Swap the stub for a JNI/Java codec at deployment;
  * nothing else changes. */
object Multimodal {

  /** Input row: media blob + declared format ("img"/"audio"/"bin"). */
  final case class MediaRow(doc_id: Long, format: String, media: Array[Byte])

  /** Output row: decoded metadata + fixed-width feature vector.
    * For WAV payloads width/height carry sample-rate/channels (documented
    * overload of the two geometry slots). `codec` says which decoder ran. */
  final case class MediaFeatures(
      doc_id: Long, format: String, n_bytes: Int,
      width: Int, height: Int, codec: String, features: Array[Double])

  /** STUB decoder — deterministic stand-in for formats with no JVM codec
    * here. One call per media blob, executed inside a partition iterator
    * (so a real codec could batch/reuse native buffers across rows). */
  def decodeStub(format: String, bytes: Array[Byte]): (Int, Int, Array[Double]) = {
    val h = java.util.Arrays.hashCode(bytes)
    val width = 16 + math.floorMod(h, 1920)
    val height = 16 + math.floorMod(h / 7, 1080)
    (width, height, histogram(bytes, 0))
  }

  /** Normalized byte histogram over `bytes[from..)` — the stand-in feature
    * vector for every codec path. */
  private def histogram(bytes: Array[Byte], from: Int): Array[Double] = {
    val h = new Array[Double](8)
    var i = math.min(math.max(0, from), bytes.length)
    val n = math.max(1.0, (bytes.length - i).toDouble)
    while (i < bytes.length) { h(math.floorMod(bytes(i), 8)) += 1.0; i += 1 }
    h.map(_ / n)
  }

  /** Decode dispatch: sniff the container magic, parse for real when it is
    * BMP or WAV, else stub. Returns (width, height, features, codec). */
  def decode(format: String, bytes: Array[Byte]): (Int, Int, Array[Double], String) =
    Codecs.parseBmp(bytes) match {
      case Some(bmp) => (bmp.width, bmp.height, histogram(bytes, bmp.dataOffset), "bmp")
      case None => Codecs.parseWav(bytes) match {
        case Some(w) => (w.sampleRate, w.channels, histogram(bytes, 44), "wav")
        case None =>
          val (wd, ht, f) = decodeStub(format, bytes)
          (wd, ht, f, "stub")
      }
    }

  /** Media table synthesized from documents (the driver set has no binary
    * column): text bytes become REAL BMP and WAV containers for 2/3 of the
    * rows (exercising the actual parsers), raw bytes for the rest
    * (exercising the stub fallback). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    T(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.getBytes("UTF-8")
        id % 3 match {
          case 0 => MediaRow(id, "img", Codecs.wrapBmp(payload, 16))
          case 1 => MediaRow(id, "audio", Codecs.wrapWav(payload, 16000, 1))
          case _ => MediaRow(id, "bin", payload)
        }
      }
  }

  /** Decode + feature-extract, partition-parallel (no shuffle). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init point for a real codec (native context reuse)
      rows.map { r =>
        val (w, h, feats, codec) = decode(r.format, r.media)
        MediaFeatures(r.doc_id, r.format, r.media.length, w, h, codec, feats)
      }
    }
  }

  /** Resize to a target geometry: features re-derived from the decoded
    * payload (a real codec would rescale pixel data; the typed output
    * schema and per-partition batching are the real plumbing). */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (_, _, feats, codec) = decode(r.format, r.media)
        MediaFeatures(r.doc_id, r.format, r.media.length, w, h, codec, feats)
      }
    }
  }

  /** Frame sampling for "video" payloads: n evenly-spaced byte-range
    * frames, each with its own feature vector — the exploded (doc, frame)
    * shape a real video pipeline produces. */
  final case class FrameFeatures(doc_id: Long, frame: Int, features: Array[Double])

  def sampleFrames(media: Dataset[MediaRow], n: Int): Dataset[FrameFeatures] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val len = math.max(1, r.media.length / n)
      (0 until n).map { i =>
        val from = math.min(i * len, r.media.length)
        val until = math.min(from + len, r.media.length)
        val slice = java.util.Arrays.copyOfRange(r.media, from, until)
        FrameFeatures(r.doc_id, i, histogram(slice, 0))
      }
    }
  }

  private val q48 = Q(
    "q48_multimodal_features",
    (s, dir) => {
      import s.implicits._
      extractFeatures(mediaTable(s, dir)).toDF()
        .select(col("doc_id"), col("format"), col("codec"), col("n_bytes"),
          col("width"), col("height"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(element_at(col("features"), 8), 6).as("f7"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    None,
    "multimodal decode/feature plumbing: real BMP/WAV header codecs + stub fallback")

  /** q153: the resize + frame-sample halves of the multimodal surface as
    * a driver-checked query (q48 covers decode/features): every media row
    * resized to a fixed serving geometry joined against its n=4 sampled
    * frames — the (doc, frame) exploded shape a video/image pipeline
    * materializes before batch inference. Rows-only by design (binary
    * payload features have no SQL oracle); MultimodalSpec pins the codec
    * semantics. Map-only end to end: both legs are mapPartitions over the
    * same scan, the join is doc-keyed on frames already co-partitioned at
    * frame-explosion time — no wide shuffle carries media bytes. */
  private val q153 = Q(
    "q153_multimodal_resize_frames",
    (s, dir) => {
      import s.implicits._
      val media = mediaTable(s, dir)
      val resized = resize(media, 224, 224).toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("width"), col("height"),
          round(element_at(col("features"), 1), 6).as("f0"))
      val frames = sampleFrames(media, 4).toDF()
        .select(col("doc_id"), col("frame"),
          round(element_at(col("features"), 1), 6).as("frame_f0"))
      resized.join(frames, "doc_id")
        .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("frame"))
    },
    None,
    "multimodal resize-to-geometry + evenly-spaced frame sampling, exploded (doc, frame) serving shape (builder-prompt multimodal surface)")

  // ---- frame slicing under the ORACLE gate (q222) ----------------------

  /** q222's kernel: [[sampleFrames]]' slicing arithmetic — the SAME
    * floor-division frame length and min-clamped [from, until) bounds —
    * replayed over the text's code points, with the histogram kept as
    * INTEGER bucket counts instead of the normalized doubles the media
    * path emits. q48/q153 stay rows-only because container bytes have no
    * SQL representation; this twin puts the slicing/binning DECISIONS
    * (frame boundaries, mod-8 bucketing, empty-tail frames) under the
    * DuckDB hash gate, where a one-off boundary or a wrong bucket shifts
    * a count and breaks the hash. Code points (not UTF-16 units) so the
    * arithmetic matches DuckDB's character semantics on any input. */
  def charFrameCounts(text: String, n: Int): Seq[(Int, Int, Array[Long])] = {
    val cps = text.codePoints().toArray
    val len = math.max(1, cps.length / n)
    (0 until n).map { i =>
      val from = math.min(i * len, cps.length)
      val until = math.min(from + len, cps.length)
      val h = new Array[Long](8)
      var j = from
      while (j < until) { h(math.floorMod(cps(j), 8)) += 1L; j += 1 }
      (i, until - from, h)
    }
  }

  /** Map-only like q153's frame leg: one UDF pass per row, explode to the
    * (doc, frame) serving shape; the only exchange is the final sort. The
    * every-10th probe slice bounds the oracle's char-unnest replay. */
  private val q222 = Q(
    "q222_frame_slice_oracle",
    (s, dir) => {
      val fr = udf((t: String) => charFrameCounts(t, 4))
      val base = T(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), explode(fr(col("text"))).as("f"))
      val cols = Seq(col("doc_id"),
        col("f._1").cast("long").as("frame"),
        col("f._2").cast("long").as("frame_chars")) ++
        (0 until 8).map(k => element_at(col("f._3"), k + 1).as(s"c$k"))
      base.select(cols: _*)
        .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("frame"))
    },
    Some("""WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents WHERE doc_id % 10 = 0),
      f AS (
        SELECT doc_id, text, n, fs.frame,
               least(fs.frame * greatest(1, n // 4), n) AS f0,
               least(fs.frame * greatest(1, n // 4) + greatest(1, n // 4), n) AS u0
        FROM d, (SELECT unnest(range(0, 4)) AS frame) fs),
      ch AS (
        SELECT doc_id, frame,
               unnest(range(f0 + 1, u0 + 1)) AS i, text
        FROM f),
      cnt AS (
        SELECT doc_id, frame,
               ord(substr(text, CAST(i AS INTEGER), 1)) % 8 AS b,
               count(*) AS c
        FROM ch GROUP BY 1, 2, 3),
      out AS (
        SELECT f.doc_id, f.frame, f.u0 - f.f0 AS frame_chars,
               CAST(coalesce(MAX(CASE WHEN b = 0 THEN c END), 0) AS BIGINT) AS c0,
               CAST(coalesce(MAX(CASE WHEN b = 1 THEN c END), 0) AS BIGINT) AS c1,
               CAST(coalesce(MAX(CASE WHEN b = 2 THEN c END), 0) AS BIGINT) AS c2,
               CAST(coalesce(MAX(CASE WHEN b = 3 THEN c END), 0) AS BIGINT) AS c3,
               CAST(coalesce(MAX(CASE WHEN b = 4 THEN c END), 0) AS BIGINT) AS c4,
               CAST(coalesce(MAX(CASE WHEN b = 5 THEN c END), 0) AS BIGINT) AS c5,
               CAST(coalesce(MAX(CASE WHEN b = 6 THEN c END), 0) AS BIGINT) AS c6,
               CAST(coalesce(MAX(CASE WHEN b = 7 THEN c END), 0) AS BIGINT) AS c7
        FROM f LEFT JOIN cnt USING (doc_id, frame)
        GROUP BY 1, 2, 3)
      SELECT doc_id, frame, frame_chars, c0, c1, c2, c3, c4, c5, c6, c7
      FROM out
      ORDER BY doc_id ASC NULLS FIRST, frame ASC NULLS FIRST"""),
    "frame-sampling slice arithmetic (floor-division bounds, mod-8 binning, empty tails) under the DuckDB hash gate in integer char space")

  // ---- perceptual-hash (dHash) image near-dup under the ORACLE gate ----

  /** The whole corpus wrapped as real BMP containers — the "image corpus"
    * input for perceptual dedup. [[mediaTable]]'s 1/3 img split exercises
    * codec DISPATCH; dedup wants every row in one modality, as an image
    * pipeline's dedup stage sees it. */
  def imageTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    T(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        MediaRow(id, "img", Codecs.wrapBmp(text.getBytes("UTF-8"), 16))
      }
  }

  /** 64-bit difference hash (dHash — Krawetz, "Kinds of Like That", 2013:
    * downscale to a 9×8 grid, emit one bit per horizontally-adjacent cell
    * pair) kept as FOUR 16-bit chunks instead of one packed int64: the
    * chunks are simultaneously the LSH bands (pigeonhole: two hashes
    * within Hamming distance 3 agree on ≥1 of 4 chunks, so the chunk
    * bucket join is COMPLETE for ham ≤ 3 — q26/q207's SimHash argument)
    * and sign-safe in every engine (values 0..65535, shifts ≤ 15).
    *
    * Grid cells are flat floor-division slices of the decoded content
    * (q222's frame arithmetic with n=72), cell value = floor mean code
    * point; all-integer, so DuckDB replays the exact hash. */
  def dhashChunks(cps: Array[Int]): Array[Long] = {
    val n = cps.length
    val L = math.max(1, n / 72)
    val avg = new Array[Long](72)
    var k = 0
    while (k < 72) {
      val f = math.min(k * L, n); val u = math.min(f + L, n)
      if (u > f) {
        var s = 0L; var i = f
        while (i < u) { s += cps(i); i += 1 }
        avg(k) = s / (u - f)
      }
      k += 1
    }
    val ch = new Array[Long](4)
    var b = 0
    while (b < 64) {
      val k1 = b + b / 8 // grid (r, c) = (b/8, b%8) flattens to r*9+c = b + b/8
      if (avg(k1) < avg(k1 + 1)) ch(b / 16) |= (1L << (b % 16))
      b += 1
    }
    ch
  }

  /** Decode each BMP for real (container parse, pixel payload extraction,
    * encoder row-padding stripped — BMP stores a padded pixel grid, not a
    * payload length) and hash it map-side: the binary column never
    * shuffles, only (doc_id, 4×16-bit chunk) scalars do. Sub-grid-size
    * images (< 72 content units) are excluded — a perceptual hash of a
    * near-empty grid is all-degenerate bits, the classic pHash min-size
    * guard. */
  def dhashFrame(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Codecs.parseBmp(r.media).flatMap { bmp =>
          var end = r.media.length
          while (end > bmp.dataOffset && r.media(end - 1) == 0) end -= 1
          val text = new String(r.media, bmp.dataOffset, end - bmp.dataOffset, "UTF-8")
          val cps = text.codePoints().toArray
          if (cps.length >= 72) {
            val ch = dhashChunks(cps)
            Some((r.doc_id, ch(0), ch(1), ch(2), ch(3)))
          } else None
        }
      }
    }.toDF("doc_id", "c0", "c1", "c2", "c3")
  }

  /** q227: perceptual near-duplicate image pairs — the multimodal twin of
    * SimHash text dedup (q26/q207). Decode → dHash → exact-hash collapse
    * (ham-0 groups surface as LINEAR rep→member pairs, never a quadratic
    * in-bucket explosion — q25's collapse-first shape) → 16-bit chunk
    * bucket join over representatives only (complete for ham ≤ 3) →
    * exact bit_count verify. Hot-bucket guard shares [[Dedup.MaxBucketSize]]'s
    * rationale and value. Everything is integer-exact, so the WHOLE
    * operator sits directly under the DuckDB hash gate — the oracle
    * re-derives the grid averages, the 64 bits, the chunk packing, the
    * collapse, the banding, and the bit_count(xor) distances from
    * documents.text. At 100 TB: one compute-dense map pass over the
    * media, then hash-width shuffles (4 longs/doc); candidates are
    * bucket-bounded, never all-pairs. */
  private val q227 = Q(
    "q227_dhash_image_neardup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hashes = dhashFrame(imageTable(s, dir)).localCheckpoint(false)
      val withRep = hashes.withColumn("rep_id",
        min(col("doc_id")).over(
          Window.partitionBy(col("c0"), col("c1"), col("c2"), col("c3"))))
      val exact = withRep.filter(col("doc_id") =!= col("rep_id"))
        .select(col("rep_id").as("doc_a"), col("doc_id").as("doc_b"),
          lit(0L).as("hamming"))
      val reps = withRep.filter(col("doc_id") === col("rep_id"))
        .select(col("doc_id").as("rep"),
          col("c0"), col("c1"), col("c2"), col("c3"))
      val banded = reps.select(col("rep"),
        col("c0"), col("c1"), col("c2"), col("c3"),
        posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
          .as(Seq("j", "v")))
      val okBuckets = banded.groupBy("j", "v").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > 1 && col("bn") <= Dedup.MaxBucketSize)
        .select("j", "v")
      val pruned = banded.join(okBuckets, Seq("j", "v"), "left_semi")
      def side(p: String) = pruned.select(col("j"), col("v"),
        col("rep").as(s"doc_$p"), col("c0").as(s"${p}0"),
        col("c1").as(s"${p}1"), col("c2").as(s"${p}2"), col("c3").as(s"${p}3"))
      val cand = side("a").join(side("b"), Seq("j", "v"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3")
        .distinct()
      val near = cand.withColumn("hamming",
          (bit_count(col("a0").bitwiseXOR(col("b0"))) +
            bit_count(col("a1").bitwiseXOR(col("b1"))) +
            bit_count(col("a2").bitwiseXOR(col("b2"))) +
            bit_count(col("a3").bitwiseXOR(col("b3")))).cast("long"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
      exact.unionByName(near)
        .orderBy(asc_nulls_first("doc_a"), asc_nulls_first("doc_b"))
    },
    Some("""WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents WHERE length(text) >= 72),
      cells AS (
        SELECT doc_id, kk.k AS k,
               least(kk.k * greatest(1, n // 72), n) AS f,
               least(kk.k * greatest(1, n // 72) + greatest(1, n // 72), n) AS u,
               text
        FROM d, (SELECT unnest(range(0, 72)) AS k) kk),
      pos AS (
        SELECT doc_id, k, unnest(range(f + 1, u + 1)) AS i, text FROM cells),
      sums AS (
        SELECT doc_id, k,
               SUM(CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)) AS s,
               count(*) AS c
        FROM pos GROUP BY 1, 2),
      avgs AS (
        SELECT cells.doc_id, cells.k,
               CAST(coalesce(s // c, 0) AS BIGINT) AS a
        FROM cells LEFT JOIN sums USING (doc_id, k)),
      bits AS (
        SELECT a1.doc_id, bb.b AS b,
               CASE WHEN a1.a < a2.a THEN 1 ELSE 0 END AS bit
        FROM (SELECT unnest(range(0, 64)) AS b) bb
        JOIN avgs a1 ON a1.k = bb.b + bb.b // 8
        JOIN avgs a2 ON a2.doc_id = a1.doc_id AND a2.k = bb.b + bb.b // 8 + 1),
      chunks AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN b // 16 = 0 THEN bit << CAST(b % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN b // 16 = 1 THEN bit << CAST(b % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN b // 16 = 2 THEN bit << CAST(b % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS c2,
               CAST(SUM(CASE WHEN b // 16 = 3 THEN bit << CAST(b % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS c3
        FROM bits GROUP BY 1),
      grp AS (
        SELECT doc_id, c0, c1, c2, c3,
               MIN(doc_id) OVER (PARTITION BY c0, c1, c2, c3) AS rep
        FROM chunks),
      exact AS (
        SELECT rep AS doc_a, doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
        FROM grp WHERE doc_id <> rep),
      reps AS (
        SELECT doc_id AS rep, c0, c1, c2, c3 FROM grp WHERE doc_id = rep),
      banded AS (
        SELECT rep, c0, c1, c2, c3, jj.j AS j,
               CASE jj.j WHEN 0 THEN c0 WHEN 1 THEN c1
                         WHEN 2 THEN c2 ELSE c3 END AS v
        FROM reps, (SELECT unnest(range(0, 4)) AS j) jj),
      ok_buckets AS (
        SELECT j, v FROM banded GROUP BY 1, 2
        HAVING count(*) > 1 AND count(*) <= 10000),
      pruned AS (SELECT banded.* FROM banded JOIN ok_buckets USING (j, v)),
      cand AS (
        SELECT DISTINCT a.rep AS doc_a, b.rep AS doc_b,
               a.c0 AS a0, a.c1 AS a1, a.c2 AS a2, a.c3 AS a3,
               b.c0 AS b0, b.c1 AS b1, b.c2 AS b2, b.c3 AS b3
        FROM pruned a JOIN pruned b
          ON a.j = b.j AND a.v = b.v AND a.rep < b.rep),
      near AS (
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) +
                    bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS BIGINT) AS hamming
        FROM cand)
      SELECT doc_a, doc_b, hamming FROM (
        SELECT * FROM exact
        UNION ALL
        SELECT * FROM near WHERE hamming <= 3) u
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""),
    "perceptual-hash (dHash) image near-dup: real BMP decode, 9x8 grid difference hash as 4 LSH chunks, exact-collapse + chunk-bucket join + bit_count verify, fully under the DuckDB hash gate")

  val all: Seq[Q] = Seq(q48, q153, q222, q227)
}
