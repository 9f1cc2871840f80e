package graft.ops

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** q131 has no DuckDB oracle (cross-engine HLL sketches can't
  * hash-match); this spec is its correctness gate — the approximate
  * ANALYZE must agree with q126's exact ANALYZE on everything that IS
  * exact (min/max/null-count) and bound the NDV sketch error. HLL++ at
  * the default rsd=0.05 is deterministic for a given input, so the
  * assertion is stable, not flaky. */
class TableStatsApproxSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("approx ANALYZE: exact columns equal, NDV within 10% of exact") {
    val exact = SparkEntry.queries("q126_table_stats")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = SparkEntry.queries("q131_table_stats_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(approx.keySet === exact.keySet)
    for ((name, a) <- approx) {
      val e = exact(name)
      assert(a.getDouble(1) === e.getDouble(1), s"$name vmin")
      assert(a.getDouble(2) === e.getDouble(2), s"$name vmax")
      assert(a.getLong(4) === e.getLong(4), s"$name n_nulls")
      val err = math.abs(a.getLong(3) - e.getLong(3)).toDouble / e.getLong(3)
      assert(err <= 0.10, s"$name ndv: approx ${a.getLong(3)} vs exact ${e.getLong(3)} (err $err)")
    }
  }

  test("q220: register-state stats agree with exact min/max/nulls and bound NDV") {
    val exact = SparkEntry.queries("q126_table_stats")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    val gated = SparkEntry.queries("q220_stats_hll_oracle")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(gated.keySet === exact.keySet)
    for ((name, g) <- gated) {
      val e = exact(name)
      assert(g.getDouble(1) === e.getDouble(1), s"$name vmin")
      assert(g.getDouble(2) === e.getDouble(2), s"$name vmax")
      assert(g.getLong(3) === e.getLong(4), s"$name n_nulls")
      // a register fills only when some distinct key hashes into it —
      // and floor(v*100) is injective on these 2-decimal columns
      assert(g.getLong(4) <= math.min(256L, e.getLong(3)),
        s"$name: ${g.getLong(4)} registers > ndv ${e.getLong(3)}")
      assert(g.getLong(5) < 256L * 16777216L, s"$name: empty register state")
    }
  }
}
