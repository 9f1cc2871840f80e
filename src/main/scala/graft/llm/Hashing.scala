package graft.llm

/** Karp–Rabin character-gram hashing mod [[BigP]] and the kernels built on
  * it: the min-gram [[fingerprint]] and the winnowing fingerprint set
  * [[winnow]]. Every value is pure int64 arithmetic that DuckDB replays,
  * which keeps q24's and q92's signatures under the oracle gate. (The
  * MinHash/SimHash signatures are [[Dedup]]'s mod-p kernels.) */
object Hashing {

  /** Modulus of the replayable Karp–Rabin gram hash (largest prime we
    * searched above 3.5·10¹⁶): (P−1)·257 + 127 < 2⁶³, so the Horner
    * step (h·257 + c) mod P is pure int64 in Spark AND DuckDB — which
    * puts the winnow/fingerprint kernels under the hash gate — while
    * the ~2⁵⁵ value space keeps fingerprint equi-join collisions
    * negligible at 100 TB (the reason the q215 twin's 10⁶ modulus was
    * never promoted to production). */
  final val BigP = 35000000000000023L

  /** Barrett constant floor(2⁶⁴ / BigP): 527·BigP ≤ 2⁶⁴ < 528·BigP. */
  private final val BigM = 527L

  /** `v mod BigP` for 0 ≤ v < 2⁶³ without the hardware divide (Barrett
    * reduction): q̂ = floor(v·BigM / 2⁶⁴) via `Math.multiplyHigh` is within
    * 2 of the true quotient, so at most two conditional subtracts finish.
    * Bit-identical to `%` on every non-negative input — the DuckDB oracle
    * keeps plain `%`; only the engine-side instruction count changes. */
  @inline def modBig(v: Long): Long = {
    var r = v - Math.multiplyHigh(v, BigM) * BigP
    while (r >= BigP) r -= BigP
    r
  }

  /** Karp–Rabin polynomial hash of a char range, base 257 mod [[BigP]]
    * (the rolling-hash family the winnowing paper itself builds on). */
  @inline def polyModP(s: String, from: Int, until: Int): Long = {
    var h = 0L
    var i = from
    while (i < until) { h = modBig(h * 257L + s.charAt(i)); i += 1 }
    h
  }

  /** 257⁷ mod BigP — the leading-char weight of an 8-gram. */
  private val Pow7: Long =
    (1 to 7).foldLeft(1L)((h, _) => modBig(h * 257L))

  /** (c · 257⁷) mod BigP for every UTF-16 code unit, precomputed once:
    * the rolling-hash subtract step needs this product reduced, and
    * c·Pow7 overflows 63 bits for c ≥ 2⁸ (table built with BigInt; the
    * hot loop then never multiplies wider than 63 bits). 512 KB, shared. */
  private lazy val Pow7Mul: Array[Long] = {
    val bp = java.math.BigInteger.valueOf(BigP)
    val pw = java.math.BigInteger.valueOf(Pow7)
    Array.tabulate(65536)(c =>
      java.math.BigInteger.valueOf(c.toLong).multiply(pw).mod(bp).longValue())
  }

  /** All n−k+1 Karp–Rabin 8-gram hashes of `text` in ONE rolling pass:
    * h' = (h − c_lead·257⁷)·257 + c_new (mod BigP) — 1 table lookup +
    * 2 multiplies per position instead of 8 multiply-divides. Values are
    * bit-identical to [[polyModP]] per gram (same Horner residues), so
    * the q92/q24 oracles replay unchanged. */
  private def rollGrams8(text: String, n: Int): Array[Long] = {
    val hs = new Array[Long](n)
    var h = polyModP(text, 0, 8)
    hs(0) = h
    var i = 1
    while (i < n) {
      var r = h + BigP - Pow7Mul(text.charAt(i - 1))
      if (r >= BigP) r -= BigP
      h = modBig(r * 257L + text.charAt(i + 7))
      hs(i) = h
      i += 1
    }
    hs
  }

  /** Winnowing-style fingerprint: min [[polyModP]] hash over char
    * 8-grams (whole text when shorter) — replayable as a plain SQL MIN
    * over the same Horner grams since r14. */
  def fingerprint(text: String): Long = {
    if (text.isEmpty) return 0L
    if (text.length < 8) return polyModP(text, 0, text.length)
    val n = text.length - 7
    var h = polyModP(text, 0, 8)
    var best = h
    var i = 1
    while (i < n) {
      var r = h + BigP - Pow7Mul(text.charAt(i - 1))
      if (r >= BigP) r -= BigP
      h = modBig(r * 257L + text.charAt(i + 7))
      if (h < best) best = h
      i += 1
    }
    best
  }

  /** Winnowing fingerprint SET (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    * hash all char k-grams, slide a window of w hashes, record the window
    * minimum (rightmost on ties), emitting only when the selected position
    * changes. The local guarantee: any shared substring of length ≥ w+k-1
    * chars contributes at least one shared fingerprint — which makes
    * fingerprint-set overlap a CONTAINMENT detector (doc-inside-doc), the
    * case MinHash misses when lengths differ a lot. */
  def winnow(text: String, k: Int, w: Int): Array[Long] = {
    val n = text.length - k + 1
    if (n <= 0) return Array(polyModP(text, 0, text.length))
    // gram hash = Karp–Rabin mod BigP since r14 (was a 64-bit avalanche
    // mix): identical selection semantics, DuckDB-replayable — q92 gains
    // a direct oracle; collision space ~2⁵⁵ stays join-safe at scale.
    // r15: one ROLLING pass (k=8 production shape) instead of a fresh
    // k-char Horner per position — measured 8×16 = O(n·(k+w)) work down
    // to O(n) and the sf10 q92 signing pass was the #2 absolute cost.
    val hs = if (k == 8) rollGrams8(text, n) else {
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = polyModP(text, i, i + k); i += 1 }
      a
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var prevPos = -1
    var j = 0
    val lastWin = math.max(0, n - w)
    // monotonic deque of gram positions with strictly increasing hash
    // values; pushing pops `>=` so the front is always the RIGHTMOST
    // minimum of the current window — the exact position the old
    // rescan-per-window loop selected (ties broke to the larger index)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var t = 0
    while (t < math.min(w, n)) { // seed the first window
      while (tail > head && hs(dq(tail - 1)) >= hs(t)) tail -= 1
      dq(tail) = t; tail += 1
      t += 1
    }
    while (j <= lastWin) {
      if (dq(head) < j) head += 1 // expire the slid-out position
      val pos = dq(head)
      if (pos != prevPos) { out.add(hs(pos)); prevPos = pos }
      if (t < n) { // extend to the next window's right edge
        while (tail > head && hs(dq(tail - 1)) >= hs(t)) tail -= 1
        dq(tail) = t; tail += 1
        t += 1
      }
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var a = 0
    while (it.hasNext) { arr(a) = it.next(); a += 1 }
    arr
  }
}
