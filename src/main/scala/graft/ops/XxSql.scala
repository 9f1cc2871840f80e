package graft.ops

/** Inline-SQL replay of Spark's `xxhash64` (the XXH64 variant Spark's
  * Catalyst `XxHash64` expression implements: seed 42, each field folded
  * through hashLong/hashInt with the running hash as seed) — so DuckDB
  * oracles can reproduce fixture columns built on xxhash64 jitter/hole
  * patterns BIT-EXACTLY instead of having to re-design the fixture.
  *
  * DuckDB has no wrap-around 64-bit arithmetic (BIGINT/UBIGINT ops error
  * on overflow), so every multiply runs in HUGEINT via 32-bit limb
  * splitting mod 2^64; rotations are shift-add (the halves cannot
  * overlap, so `+` is `|`); XOR is DuckDB's `xor`, exact on HUGEINT
  * values < 2^64. Each step lands in its own chained-CTE column because
  * the limb-split multiply references its argument twice — textual
  * nesting would grow exponentially, named stages grow linearly.
  *
  * Validated against Spark's own `xxhash64(id, salt)` output (long id,
  * int salt) — see `XxSqlSpec`.
  */
private[ops] object XxSql {

  private val M64 = BigInt(2).pow(64)
  private val P1 = BigInt("9E3779B185EBCA87", 16)
  private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val P3 = BigInt("165667B19E3779F9", 16)
  private val P4 = BigInt("85EBCA77C2B2AE63", 16)
  private val P5 = BigInt("27D4EB2F165667C5", 16)

  /** Chained-CTE builder: each `add` appends one `SELECT *, expr AS xK`
    * stage and returns the new column's name. Column/CTE names are
    * prefixed so several builders can share one WITH clause. */
  final class Stages(firstCte: String, prefix: String) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    private var prevCte = firstCte
    private var k = 0
    def add(expr: String): String = {
      k += 1
      val col = s"${prefix}x$k"
      val cte = s"${prefix}s$k"
      buf += s"$cte AS (SELECT *, $expr AS $col FROM $prevCte)"
      prevCte = cte
      col
    }
    def sql: String = buf.mkString(",\n")
    def lastCte: String = prevCte
  }

  /** (a * b) mod 2^64 via 32-bit limbs; `a` MUST be a column name (it is
    * referenced twice), `b` a constant. */
  private def mul64(a: String, b: BigInt): String =
    s"((($a % 4294967296) * $b + " +
      s"((($a // 4294967296) * $b) % 4294967296) * 4294967296) % $M64)"

  private def rotl(x: String, k: Int): String =
    s"((($x * ${BigInt(2).pow(k)}) % $M64) + ($x // ${BigInt(2).pow(64 - k)}))"

  private def shr(x: String, k: Int): String = s"($x // ${BigInt(2).pow(k)})"

  private def fmix(st: Stages, h: String): String = {
    val h2 = st.add(s"xor($h, ${shr(h, 33)})")
    val h3 = st.add(mul64(h2, P2))
    val h4 = st.add(s"xor($h3, ${shr(h3, 29)})")
    val h5 = st.add(mul64(h4, P3))
    st.add(s"xor($h5, ${shr(h5, 32)})")
  }

  /** XXH64 of one nonnegative long column, seed = constant or a prior
    * hash column; returns the column holding the unsigned hash. */
  def hashLong(st: Stages, longCol: String, seed: Either[Long, String]): String = {
    val s = seed.fold(_.toString, identity)
    val h0 = st.add(s"(($s + $P5 + 8) % $M64)")
    val k1 = st.add(mul64(s"($longCol % $M64)", P2))
    val k2 = st.add(rotl(k1, 31))
    val k3 = st.add(mul64(k2, P1))
    val h1 = st.add(s"xor($h0, $k3)")
    val h1r = st.add(rotl(h1, 27))
    val h2 = st.add(s"((${mul64(h1r, P1)} + $P4) % $M64)")
    fmix(st, h2)
  }

  /** XXH64 fold of one SMALL nonnegative int constant (a fixture salt)
    * into a prior hash column. */
  def hashIntConst(st: Stages, i: Int, seedCol: String): String = {
    require(i >= 0, "salts are small nonnegative constants")
    val h0 = st.add(s"(($seedCol + $P5 + 4) % $M64)")
    val c = (BigInt(i) * P1) % M64
    val h1 = st.add(s"xor($h0, $c)")
    val h1r = st.add(rotl(h1, 23))
    val h2 = st.add(s"((${mul64(h1r, P2)} + $P3) % $M64)")
    fmix(st, h2)
  }

  /** Signed-long view of an unsigned hash column (Spark's return type). */
  def signed(st: Stages, h: String): String =
    st.add(s"(CASE WHEN $h >= ${BigInt(2).pow(63)} THEN $h - $M64 ELSE $h END)")

  /** `pmod(xxhash64(longCol, salt), m) / m` — the fixture uniform
    * `Spatial.u`; returns the double-typed column in [0, 1). */
  def uniform(st: Stages, longCol: String, salt: Int, m: Long = 100000L): String = {
    val sg = signed(st, hashIntConst(st, salt, hashLong(st, longCol, Left(42L))))
    st.add(s"(CAST((($sg % $m) + $m) % $m AS DOUBLE) / $m.0)")
  }
}
