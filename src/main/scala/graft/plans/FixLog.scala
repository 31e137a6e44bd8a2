package graft.plans

import org.apache.spark.sql.Column

/** Fixed-point base-2 logarithm WITHOUT libm — the engine's cross-engine
  * logarithm: log2q(x) = e * 2^16 + frac for integer x >= 1, where e is
  * the exact integer part (bit position of the MSB) and frac is 16
  * binary fraction digits computed by the classical repeated-squaring
  * algorithm (normalize the mantissa to [1, 2) in 20-bit fixed point;
  * square; each time the square reaches [2, 4) emit a 1-bit and halve).
  * Every step is integer shift/multiply/compare, so the result is
  * bit-identical in ANY engine with 64-bit integers — DuckDB replays
  * the same 16 squaring stages as a CTE chain over the (bounded) value
  * table, keeping the repo's no-libm discipline while unlocking the
  * log-domain operators (naive-Bayes log-odds, entropy) that exact
  * rationals cannot reach multiplicatively.
  *
  * Error: the integer part is exact; truncation makes the result a
  * lower bound within 2^-16 of floor(log2(x) * 2^16) up to one final
  * ulp — a DETERMINISTIC approximation (the contract is bit-stability,
  * not last-bit rounding of the real value). Overflow-free for every
  * positive long: the mantissa normalization only shifts right once the
  * argument exceeds 2^20, and the squared mantissa stays below 2^42.
  */
object FixLog {

  val FracBits = 16
  val Scale = 1L << FracBits // log2q(2) == Scale

  private val MBits = 20
  private val MOne = 1L << MBits // mantissa fixed-point 1.0

  /** log2q of one positive long — the reference arithmetic both the
    * compiled expression and the DuckDB chain must match bit for bit.
    */
  def log2q(x: Long): Long = {
    require(x >= 1L, s"log2q needs x >= 1, got $x")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var m = if (e >= MBits) x >> (e - MBits) else x << (MBits - e)
    var frac = 0L
    var i = 0
    while (i < FracBits) {
      m = (m * m) >> MBits
      if (m >= (MOne << 1)) { m >>= 1; frac = frac * 2 + 1 }
      else frac = frac * 2
      i += 1
    }
    e.toLong * Scale + frac
  }

  /** Column form over a long column (null-safe, errors on x < 1). */
  def log2qCol(c: Column): Column =
    Kernels.log2q(Seq(c))

  /** Exact floor integer square root (Newton, monotone-corrected) —
    * used to derive the exp2 constant ladder without touching libm.
    */
  private def isqrt(n: Long): Long = {
    require(n >= 0, s"isqrt needs n >= 0, got $n")
    if (n < 2) return n
    var x = java.lang.Long.highestOneBit(n) >> (java.lang.Long
      .numberOfTrailingZeros(java.lang.Long.highestOneBit(n)) / 2)
    x = math.max(x, 1L)
    var prev = -1L
    while (x != prev) { prev = x; x = (x + n / x) >> 1 }
    while (x * x > n) x -= 1
    while ((x + 1) * (x + 1) <= n) x += 1
    x
  }

  /** The exp2 fraction-bit ladder: Exp2C(k) = floor(2^(2^-(k+1)) · 2^20)
    * for k = 0..15, derived by repeated INTEGER square roots
    * (c_0 = isqrt(2^41); c_{k+1} = isqrt(c_k · 2^20)) — no libm even at
    * constant-build time, and the oracle interpolates the identical
    * literals.
    */
  val Exp2C: IndexedSeq[Long] = {
    val b = IndexedSeq.newBuilder[Long]
    var c = isqrt(1L << (2 * MBits + 1)) // 2^(1/2) in 2^20 fixed point
    var k = 0
    while (k < FracBits) { b += c; c = isqrt(c << MBits); k += 1 }
    b.result()
  }

  /** Fixed-point base-2 EXPONENTIAL — [[log2q]]'s inverse direction:
    * exp2q(q) = floor-ish(2^(q / 2^16) · 2^20) for a 16.16 fixed-point
    * exponent q (negative allowed), computed as the product of the
    * [[Exp2C]] constants selected by q's fraction bits (each step an
    * integer multiply + shift — bit-identical in any 64-bit engine,
    * replayed by the oracle as 16 CASE stages) followed by the exact
    * integer-part shift. Deterministic lower-bound approximation within
    * a few ulp at 2^20 scale, the same bit-stability contract as log2q.
    * Domain: q div 2^16 must stay in [-62, 41] (result must fit a
    * long); far-negative exponents saturate to 0 via the right shift.
    */
  def exp2q(q: Long): Long = {
    val e = q >> FracBits // arithmetic shift = floor division
    require(e >= -62 && e <= 41, s"exp2q exponent out of range: q=$q")
    val f = q & (Scale - 1L)
    var acc = MOne
    var k = 0
    while (k < FracBits) {
      if (((f >> (FracBits - 1 - k)) & 1L) == 1L)
        acc = (acc * Exp2C(k)) >> MBits
      k += 1
    }
    if (e >= 0) acc << e.toInt else acc >> (-e).toInt
  }

  /** Column form over a long column (null-safe). */
  def exp2qCol(c: Column): Column =
    Kernels.exp2q(Seq(c))
}
