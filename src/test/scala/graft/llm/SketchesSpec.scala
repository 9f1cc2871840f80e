package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class SketchesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("CMS estimate is one-sided: never undercounts, bounded overcount") {
    val cms = new Array[Long](Sketches.Depth * Sketches.Width)
    val truth = (0 until 500).map(i => s"tok$i" -> (i % 7 + 1).toLong).toMap
    var total = 0L
    truth.foreach { case (t, n) => Sketches.add(cms, t, n); total += n }
    truth.foreach { case (t, n) =>
      val est = Sketches.estimate(cms, t)
      assert(est >= n, s"$t undercounted: $est < $n")
      // ε ≈ e/Width; allow 3× slack over the expected bound
      assert(est <= n + 3 * math.ceil(math.E / Sketches.Width * total).toLong + 1,
        s"$t overcounted: $est vs true $n (N=$total)")
    }
    assert(Sketches.estimate(cms, "never-seen") <= 3 * math.ceil(
      math.E / Sketches.Width * total).toLong + 1)
  }

  test("heavy hitters: planted frequent tokens recovered with exact counts") {
    import spark.implicits._
    // 200 docs of noise + the token "pizza" in every doc, "taco" in half
    val docs = (1L to 200L).map { i =>
      val noise = s"w${i}a w${i}b w${i}c"
      val taco = if (i % 2 == 0) " taco" else ""
      (i, s"pizza $noise$taco")
    }.toDF("doc_id", "text")
    val hh = Sketches.heavyHitters(spark, docs, 90L).collect()
    val byToken = hh.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byToken.keySet === Set("pizza", "taco"), byToken.keySet.toString)
    assert(byToken("pizza")._1 === 200L)
    assert(byToken("taco")._1 === 100L)
    // estimate is one-sided per the CMS guarantee
    assert(hh.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  test("HLL rollup: union of daily sketches == direct sketch, near-exact at small n") {
    val out = graft.SparkEntry.queries("q162_hll_sketch_rollup")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (merged, direct, exact) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(merged === direct,
        s"${r.getString(0)}: sketch union must be lossless ($merged vs $direct)")
      // lgK=12 → σ ≈ 1.04/√4096 ≈ 1.6%; allow 3σ plus integer slack
      assert(math.abs(merged - exact) <= math.max(2L, (exact * 0.05).toLong),
        s"${r.getString(0)}: estimate $merged too far from exact $exact")
    }
  }

  test("q216: mod-p CMS keeps the one-sided guarantee and the true heavy-hitter set") {
    import spark.implicits._
    val docs = (1L to 200L).map { i =>
      val noise = s"w${i}a w${i}b w${i}c"
      val taco = if (i % 2 == 0) " taco" else ""
      (i, s"pizza $noise$taco")
    }.toDF("doc_id", "text")
    val hh = Sketches.heavyHittersModP(spark, docs, 90L).collect()
    val byToken = hh.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byToken.keySet === Set("pizza", "taco"), byToken.keySet.toString)
    assert(byToken("pizza")._1 === 200L && byToken("taco")._1 === 100L)
    assert(hh.forall(r => r.getLong(2) >= r.getLong(1)),
      "mod-p estimates must stay one-sided")
  }

  test("q217: HLL register rollup is lossless and registers bound the cardinality") {
    val out = Sketches.hllRegistersExact(
      graft.T(spark, "/root/testdata/sf0.001", "events")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nm, sm, nd, sd, exact) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nm === nd && sm === sd,
        s"${r.getString(0)}: daily-rollup registers must equal direct ($nm/$sm vs $nd/$sd)")
      // a register only fills when some user hashes into it
      assert(nm <= math.min(256L, exact), s"${r.getString(0)}: $nm registers > $exact users")
      // readout numerator: 256 empty registers would give S = 256·2^24;
      // every filled register strictly lowers its term
      assert(sm < 256L * 16777216L || nm === 0L)
      assert(sm >= 256L, "S has one positive term per register")
    }
  }

  test("KMV kernel: insert/merge keep the K smallest distinct values, any split order") {
    val rnd = new scala.util.Random(42)
    val values = Array.fill(500)(rnd.nextLong(Sketches.KmvP)).distinct
    val expect = values.sorted.take(Sketches.KmvK)
    val direct = values.foldLeft(Array.emptyLongArray)(Sketches.kmvInsert)
    assert(direct.toSeq === expect.toSeq)
    // partition into odd chunk sizes and merge in a scrambled order —
    // the Aggregator's map-side partials take exactly this path
    val chunks = values.grouped(37).toSeq
    val partials = rnd.shuffle(chunks).map(_.foldLeft(Array.emptyLongArray)(Sketches.kmvInsert))
    val merged = partials.foldLeft(Array.emptyLongArray)(Sketches.kmvMerge)
    assert(merged.toSeq === expect.toSeq, "merge must equal the single-pass sketch")
    // duplicates never double-insert
    val dup = Sketches.kmvInsert(Sketches.kmvInsert(Array.emptyLongArray, 7L), 7L)
    assert(dup.toSeq === Seq(7L))
  }

  test("KMV estimate: exact below K, within KMV error above K") {
    // below K: theta = p and n·p/θ is the exact count
    val small = (1L to 20L).map(u => (2654435761L * u + 98765L) % Sketches.KmvP)
      .foldLeft(Array.emptyLongArray)(Sketches.kmvInsert)
    assert(Sketches.kmvTheta(small) === Sketches.KmvP)
    assert(small.length.toLong * Sketches.KmvP / Sketches.kmvTheta(small) === 20L)
    // above K: relative error within 6/√(K−2) (≈ 6σ of the KMV estimator)
    val n = 20000
    val big = (1L to n.toLong).map(u => (2654435761L * u + 98765L) % Sketches.KmvP)
      .foldLeft(Array.emptyLongArray)(Sketches.kmvInsert)
    val theta = Sketches.kmvTheta(big)
    assert(theta < Sketches.KmvP)
    val est = big.count(_ < theta).toLong * Sketches.KmvP / theta
    val relErr = math.abs(est - n).toDouble / n
    assert(relErr < 6.0 / math.sqrt(Sketches.KmvK - 2.0),
      s"KMV estimate $est vs true $n (relErr $relErr)")
  }

  test("q225: set-op estimates agree with exacts below K and obey set algebra") {
    val out = graft.SparkEntry.queries("q225_kmv_theta_setops")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val theta = r.getLong(2)
      val (nI, nU, nD) = (r.getLong(3), r.getLong(4), r.getLong(5))
      val (eI, eU, eD) = (r.getLong(6), r.getLong(7), r.getLong(8))
      val (xI, xU, xD) = (r.getLong(9), r.getLong(10), r.getLong(11))
      assert(nI + nD <= nU, "retained sets: |A∩B| + |A∖B| = |A| ≤ |A∪B|")
      if (theta === Sketches.KmvP) {
        // both sketches exact ⇒ estimates are the true set sizes
        assert(eI === xI && eU === xU && eD === xD,
          s"${r.getString(0)}/${r.getString(1)}: exact branch must match ($eI/$eU/$eD vs $xI/$xU/$xD)")
      } else {
        // capped: estimates within KMV error of the exact sizes (union is
        // the largest set and the tightest relative bound)
        assert(math.abs(eU - xU).toDouble / math.max(1L, xU) <
          6.0 / math.sqrt(Sketches.KmvK - 2.0))
      }
    }
  }

  test("q226: streaming daily KMV rollup equals the direct batch sketch") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q226_stream_kmv_distinct")(spark, dir).collect()
    assert(out.nonEmpty)
    // direct sketch per type from the batch table — the stream's daily
    // rollup must land on the identical (theta, n_retained) state
    val direct = graft.T(spark, dir, "events")
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("user_id"))
      .distinct().collect()
      .groupBy(_.getString(0))
      .map { case (t, rs) =>
        val sk = rs.map(r => (2654435761L * math.abs(r.getLong(1)) + 98765L) % Sketches.KmvP)
          .foldLeft(Array.emptyLongArray)(Sketches.kmvInsert)
        t -> sk
      }
    out.foreach { r =>
      val t = r.getString(0)
      val sk = direct(t)
      assert(r.getLong(2) === Sketches.kmvTheta(sk), s"$t theta")
      assert(r.getLong(3) === sk.count(_ < Sketches.kmvTheta(sk)).toLong, s"$t n_retained")
      // exact branch at this sf: estimate == exact distinct
      if (r.getLong(2) === Sketches.KmvP)
        assert(r.getLong(4) === r.getLong(5), s"$t exact-branch estimate")
    }
  }

  test("q131 linear-counting readout: every possible ln input is far from a rounding boundary") {
    // q131's only cross-engine float risk is the linear-counting branch
    // (Spark's Math.log vs DuckDB's libm ln may differ by ulps). Its input
    // domain is FINITE — V = empty registers in 1..1023 — so enumerate it:
    // each 1024*ln(1024/V) must sit >= 1e-6 from a .5 rounding boundary,
    // and ulp-scale drift (~1e-13 relative) can then never flip round().
    for (v <- 1 until 1024) {
      val x = 1024.0 * math.log(1024.0 / v)
      val frac = x - math.floor(x)
      assert(math.abs(frac - 0.5) > 1e-6,
        s"V=$v: 1024*ln(1024/$v)=$x is within 1e-6 of a rounding boundary")
    }
  }
}
