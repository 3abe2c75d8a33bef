package graft.core

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007), pinned to a
  * cross-engine-deterministic subset so an independent re-derivation can
  * match it bit-for-bit:
  *
  *   - hash family: the engine-wide FxHash64 token hash
  *     ([[SimHash.tokenHash]] — length-prefixed code points), not a
  *     JVM-private hash;
  *   - register index = top `p` hash bits, rho = leading zeros of the
  *     remaining 64-p bits + 1 (all-zero remainder → 64-p+1);
  *   - estimator: the classic two-regime HLL estimate, every step pinned.
  *     Raw harmonic mean alpha_m * m^2 / sum_j 2^-M_j, summed in
  *     register-index order — each 2^-M_j term is an exact power of two
  *     (computed as 1.0 / (1L << M_j), never Math.pow) and IEEE addition is
  *     correctly rounded, so the fixed-order sum is bit-identical across
  *     engines. Below the raw regime (raw ≤ 2.5·m, some register empty)
  *     the standard linear-counting correction m·ln(m/V) applies — but
  *     libm ln() rounds differently across engines, so [[lnPinned]] is the
  *     engine's own ln (exact power-of-two range reduction to [1,2), then a
  *     fixed 14-term atanh series, |t| ≤ 1/3 → converged past double
  *     precision): deterministic by construction, a few ulps of libm. Same
  *     pin-both-sides trade as the log-free tf-idf score. Standard error in
  *     the raw regime ≈ 1.04/sqrt(m).
  *
  * The register array is the mergeable state: update is a per-register max,
  * so the sketch is insensitive to row order and partitioning — the property
  * that makes it a one-pass, shuffle-light distinct count at 100 TB (m bytes
  * per group cross the wire instead of the value set).
  */
object HyperLogLog {

  val MinP = 4
  val MaxP = 16

  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Fold one 64-bit hash into the register array (m = registers.length = 2^p). */
  def add(registers: Array[Byte], hash: Long, p: Int): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val w = hash << p
    val rho =
      if (w == 0L) (64 - p + 1).toByte
      else (java.lang.Long.numberOfLeadingZeros(w) + 1).toByte
    if (rho > registers(idx)) registers(idx) = rho
  }

  /** Elementwise max of `other` into `acc`. */
  def mergeInto(acc: Array[Byte], other: Array[Byte]): Unit = {
    require(acc.length == other.length,
      s"cannot merge HLL sketches of different precision: ${acc.length} vs ${other.length}")
    var i = 0
    while (i < acc.length) {
      if (other(i) > acc(i)) acc(i) = other(i)
      i += 1
    }
  }

  /** Raw harmonic-mean estimate, bit-deterministic (doc above). */
  private def rawEstimate(registers: Array[Byte]): Double = {
    val m = registers.length
    var sum = 0.0
    var i = 0
    while (i < m) {
      // registers(i) <= 64-p+1 <= 61 for p >= 4, so the shift never overflows
      sum += 1.0 / (1L << registers(i)).toDouble
      i += 1
    }
    alpha(m) * m.toDouble * m.toDouble / sum
  }

  /** Full estimate: raw harmonic mean, switching to linear counting
    * m·ln(m/V) when the raw estimate is below its calibrated range and an
    * empty register remains (Flajolet et al. 2007 §4; V = empty-register
    * count). Both branches bit-deterministic — ln is [[lnPinned]]. */
  def estimate(registers: Array[Byte]): Double = {
    val raw = rawEstimate(registers)
    val m = registers.length
    if (raw > 2.5 * m) return raw
    var zeros = 0
    var i = 0
    while (i < m) {
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    if (zeros == 0) raw else m.toDouble * lnPinned(m.toDouble / zeros)
  }

  private final val Ln2 = 0.6931471805599453 // nearest double to ln 2

  /** Natural log, pinned for cross-engine determinism: split x = 2^e · f
    * with f ∈ [1, 2) (exact — bit surgery), then
    * ln f = 2·atanh(t), t = (f−1)/(f+1) ∈ [0, 1/3], via the odd series
    * t + t³/3 + … + t²⁷/27 (the t²⁹ tail is < 1e-14 absolute — below the
    * double noise floor), summed in fixed ascending-power order.
    * Tracks libm ln to a few ulps on [1, ∞) — shifting a count estimate by
    * under one part in 10^14, far inside the sketch's error bar — and is
    * bit-identical wherever the recipe is followed. */
  def lnPinned(x: Double): Double = {
    require(x >= 1.0 && !x.isInfinite, s"lnPinned domain is [1, inf), got $x")
    val bits = java.lang.Double.doubleToLongBits(x)
    val e = ((bits >>> 52) & 0x7ff).toInt - 1023
    val f = java.lang.Double.longBitsToDouble((bits & 0x000fffffffffffffL) | 0x3ff0000000000000L)
    val t = (f - 1.0) / (f + 1.0)
    val t2 = t * t
    var term = t
    var s = t
    var k = 3
    while (k <= 27) {
      term *= t2
      s += term / k.toDouble
      k += 2
    }
    e.toDouble * Ln2 + 2.0 * s
  }
}
