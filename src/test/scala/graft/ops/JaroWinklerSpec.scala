package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Kernel tests for the native Jaro-Winkler expression. Expected values
  * are the textbook/Winkler-1990 results, cross-checked against DuckDB's
  * jaro_winkler_similarity (the q125 oracle engine) — any drift between
  * the two implementations also breaks the q125 hash at corpus scale. */
class JaroWinklerSpec extends AnyFunSuite {

  private def jw(a: String, b: String): Double =
    StringSimCodegen.jaroWinklerImpl(a, b)

  test("textbook pairs match DuckDB's values to 1e-6") {
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.961111),
      ("DWAYNE", "DUANE", 0.840000),
      ("DIXON", "DICKSONX", 0.813333),
      ("JON", "JOHN", 0.933333),
      ("frog", "fog", 0.925000),
      ("elephant", "hippo", 0.441667), // below 0.7: no prefix boost
      ("ABCDEFGH", "ABCDEXGH", 0.950000), // prefix capped at 4
      ("same", "same", 1.0),
      ("ab", "ba", 0.0), // window 0: no matches
      ("ABC", "XYZ", 0.0),
      // odd mismatched-alignment counts (unequal lengths): DuckDB floors
      // the transposition count (t = mismatched div 2) — these pin that
      ("Customer#00001207", "Customer#000001207", 0.977124183),
      ("abcdxyz", "abdcxy", 0.917460317),
      ("aXbYc", "abc", 0.688888889))
    for ((a, b, want) <- cases)
      assert(math.abs(jw(a, b) - want) < 1e-6, s"jw($a, $b) = ${jw(a, b)}")
  }

  test("non-ASCII pairs match DuckDB's UTF-8-byte scoring to 1e-6") {
    // expected values from duckdb jaro_winkler_similarity (v1.x) — DuckDB
    // scores the raw UTF-8 bytes, and so does the kernel
    val cases = Seq(
      ("café", "cafe", 0.848333333),
      ("señorita", "senorita", 0.907407407),
      ("münchen", "muenchen", 0.850000000),
      ("日本語テスト", "日本語テスト", 1.0),
      ("日本語", "本日語", 0.933333333),
      ("naïve", "naive", 0.857777778),
      ("crème brûlée", "creme brulee", 0.797037037))
    for ((a, b, want) <- cases)
      assert(math.abs(jw(a, b) - want) < 1e-6, s"jw($a, $b) = ${jw(a, b)}")
  }

  test("empty and degenerate inputs return 0 (DuckDB semantics)") {
    assert(jw("", "") === 0.0)
    assert(jw("a", "") === 0.0)
    assert(jw("", "abc") === 0.0)
  }

  test("symmetry and [0,1] range over random-ish pairs") {
    val words = Seq("almond", "amond", "always", "blush", "bluish", "plum",
      "navy", "navajo", "linen", "lemon", "melon", "")
    for (a <- words; b <- words) {
      val x = jw(a, b)
      assert(x >= 0.0 && x <= 1.0)
      assert(math.abs(x - jw(b, a)) < 1e-15, s"asymmetric for ($a, $b)")
    }
  }

  test("SQL surface: codegen expression agrees with the kernel") {
    val spark = graft.TestSession.spark
    import spark.implicits._
    val rows = Seq(("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("fly", "ant"))
      .toDF("a", "b")
    graft.geo.GeoExpressions.ensureRegistered(spark)
    val got = rows.selectExpr("jaro_winkler(a, b) AS s").collect().map(_.getDouble(0))
    val want = Seq(jw("MARTHA", "MARHTA"), jw("DWAYNE", "DUANE"), jw("fly", "ant"))
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }
}
