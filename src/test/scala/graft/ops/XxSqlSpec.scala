package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The XXH64 algorithm [[XxSql]] transcribes to DuckDB SQL, pinned
  * against Spark's own `xxhash64` on golden values. The DuckDB side of
  * the equivalence is gated end-to-end by the q46/q235 oracle rows
  * (crosscheck/driver compare) — this spec pins the SPARK side so a
  * Spark upgrade changing hash semantics is caught here, next to the
  * transcription, instead of as an opaque oracle mismatch. */
class XxSqlSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("spark xxhash64(long, int-salt) matches the transcribed algorithm's goldens") {
    // goldens captured from spark.sql("SELECT xxhash64(id, <salt>) ...")
    // — the same values the Python/DuckDB prototypes of XxSql reproduce
    val golden = Map(
      (0L, 1) -> 835402644902252646L,
      (0L, 2) -> -2020887559936417006L,
      (0L, 9) -> 3918241735030918586L,
      (1L, 1) -> 5986642287525340116L,
      (5L, 9) -> 1049791552274374873L,
      (7L, 2) -> 3407463166296364114L)
    import spark.implicits._
    val rows = (0L to 7L).toDF("id")
      .selectExpr("id", "xxhash64(id, 1) AS h1", "xxhash64(id, 2) AS h2",
        "xxhash64(id, 9) AS h9")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows(0L)._1 === golden((0L, 1)))
    assert(rows(0L)._2 === golden((0L, 2)))
    assert(rows(0L)._3 === golden((0L, 9)))
    assert(rows(1L)._1 === golden((1L, 1)))
    assert(rows(5L)._3 === golden((5L, 9)))
    assert(rows(7L)._2 === golden((7L, 2)))
  }

  test("generated SQL stages are well-formed and linear in op count") {
    val st = new XxSql.Stages("base", "t")
    val u = XxSql.uniform(st, "id", 1)
    assert(u.startsWith("t"))
    val sql = st.sql
    // one CTE per stage, each referencing only the previous stage
    val nStages = sql.split("AS \\(SELECT \\*").length - 1
    assert(nStages > 15 && nStages < 40, s"unexpected stage count $nStages")
    // the limb-split multiply never nests another multiply textually
    assert(!sql.contains("4294967296) * ((("))
  }
}
