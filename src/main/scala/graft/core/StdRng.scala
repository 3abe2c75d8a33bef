package graft.core

/** Bit-exact Scala re-derivation of Rust `rand::rngs::StdRng` (rand 0.8.5 =
  * ChaCha12, rand_chacha 0.3.1) seeded via `SeedableRng::seed_from_u64`
  * (rand_core 0.6 = PCG32-based key expansion), plus the exact samplers the
  * reference draws from it:
  *  - `Uniform::new(0u64, 20_000_000)` widening-multiply rejection sampling
  *    (minhasher.rs:16-20),
  *  - `Uniform::new(0.0, r)` mantissa-trick float sampling
  *    (euclidean_hasher.rs:23),
  *  - `Normal::new(0.0, 1.0)` 256-layer ziggurat (rand_distr 0.4.3)
  *    (euclidean_hasher.rs:16-26).
  * Recipe documented and golden-verified in SURVEY.md §2.4; independently
  * re-verified against every vector in /root/reference/test/sql/lsh/ by
  * tools/verify_kernels.py.
  */
final class StdRng(seed: Long) {
  // --- PCG32 seed expansion: 8 output u32s form the little-endian ChaCha key.
  private val key: Array[Int] = {
    val MUL = 6364136223846793005L
    val INC = -6812164046247290893L // 11634580027462260723 as signed
    var state = seed
    val k = new Array[Int](8)
    var i = 0
    while (i < 8) {
      state = state * MUL + INC
      val xorshifted = (((state >>> 18) ^ state) >>> 27).toInt
      val rot = (state >>> 59).toInt
      k(i) = Integer.rotateRight(xorshifted, rot)
      i += 1
    }
    k
  }

  // ChaCha12 keystream buffer: 4 sequential blocks of 16 u32 words each,
  // 64-bit block counter in words 12-13, nonce(=0) in 14-15.
  private val buf = new Array[Int](64)
  private var bufPos = 64
  private var counter = 0L

  private def refill(): Unit = {
    var blk = 0
    while (blk < 4) {
      chachaBlock(counter, buf, blk << 4)
      counter += 1
      blk += 1
    }
    bufPos = 0
  }

  private def chachaBlock(ctr: Long, out: Array[Int], off: Int): Unit = {
    val s0 = 0x61707865; val s1 = 0x3320646e; val s2 = 0x79622d32; val s3 = 0x6b206574
    val s12 = ctr.toInt; val s13 = (ctr >>> 32).toInt
    var x0 = s0; var x1 = s1; var x2 = s2; var x3 = s3
    var x4 = key(0); var x5 = key(1); var x6 = key(2); var x7 = key(3)
    var x8 = key(4); var x9 = key(5); var x10 = key(6); var x11 = key(7)
    var x12 = s12; var x13 = s13; var x14 = 0; var x15 = 0
    var round = 0
    while (round < 6) { // 12 rounds = 6 double rounds
      // column round
      x0 += x4; x12 = Integer.rotateLeft(x12 ^ x0, 16)
      x8 += x12; x4 = Integer.rotateLeft(x4 ^ x8, 12)
      x0 += x4; x12 = Integer.rotateLeft(x12 ^ x0, 8)
      x8 += x12; x4 = Integer.rotateLeft(x4 ^ x8, 7)
      x1 += x5; x13 = Integer.rotateLeft(x13 ^ x1, 16)
      x9 += x13; x5 = Integer.rotateLeft(x5 ^ x9, 12)
      x1 += x5; x13 = Integer.rotateLeft(x13 ^ x1, 8)
      x9 += x13; x5 = Integer.rotateLeft(x5 ^ x9, 7)
      x2 += x6; x14 = Integer.rotateLeft(x14 ^ x2, 16)
      x10 += x14; x6 = Integer.rotateLeft(x6 ^ x10, 12)
      x2 += x6; x14 = Integer.rotateLeft(x14 ^ x2, 8)
      x10 += x14; x6 = Integer.rotateLeft(x6 ^ x10, 7)
      x3 += x7; x15 = Integer.rotateLeft(x15 ^ x3, 16)
      x11 += x15; x7 = Integer.rotateLeft(x7 ^ x11, 12)
      x3 += x7; x15 = Integer.rotateLeft(x15 ^ x3, 8)
      x11 += x15; x7 = Integer.rotateLeft(x7 ^ x11, 7)
      // diagonal round
      x0 += x5; x15 = Integer.rotateLeft(x15 ^ x0, 16)
      x10 += x15; x5 = Integer.rotateLeft(x5 ^ x10, 12)
      x0 += x5; x15 = Integer.rotateLeft(x15 ^ x0, 8)
      x10 += x15; x5 = Integer.rotateLeft(x5 ^ x10, 7)
      x1 += x6; x12 = Integer.rotateLeft(x12 ^ x1, 16)
      x11 += x12; x6 = Integer.rotateLeft(x6 ^ x11, 12)
      x1 += x6; x12 = Integer.rotateLeft(x12 ^ x1, 8)
      x11 += x12; x6 = Integer.rotateLeft(x6 ^ x11, 7)
      x2 += x7; x13 = Integer.rotateLeft(x13 ^ x2, 16)
      x8 += x13; x7 = Integer.rotateLeft(x7 ^ x8, 12)
      x2 += x7; x13 = Integer.rotateLeft(x13 ^ x2, 8)
      x8 += x13; x7 = Integer.rotateLeft(x7 ^ x8, 7)
      x3 += x4; x14 = Integer.rotateLeft(x14 ^ x3, 16)
      x9 += x14; x4 = Integer.rotateLeft(x4 ^ x9, 12)
      x3 += x4; x14 = Integer.rotateLeft(x14 ^ x3, 8)
      x9 += x14; x4 = Integer.rotateLeft(x4 ^ x9, 7)
      round += 1
    }
    out(off) = x0 + s0; out(off + 1) = x1 + s1; out(off + 2) = x2 + s2; out(off + 3) = x3 + s3
    out(off + 4) = x4 + key(0); out(off + 5) = x5 + key(1); out(off + 6) = x6 + key(2); out(off + 7) = x7 + key(3)
    out(off + 8) = x8 + key(4); out(off + 9) = x9 + key(5); out(off + 10) = x10 + key(6); out(off + 11) = x11 + key(7)
    out(off + 12) = x12 + s12; out(off + 13) = x13 + s13; out(off + 14) = x14; out(off + 15) = x15
  }

  @inline private def nextU32(): Int = {
    if (bufPos >= 64) refill()
    val v = buf(bufPos)
    bufPos += 1
    v
  }

  /** rand_core BlockRng32 `next_u64`: two consecutive u32 words, lo then hi
    * (with the one-word-left stitch case preserved for exactness). */
  private def nextU64(): Long = {
    if (bufPos >= 64) refill()
    if (bufPos == 63) {
      val lo = buf(63).toLong & 0xffffffffL
      refill()
      val hi = buf(0).toLong & 0xffffffffL
      bufPos = 1
      (hi << 32) | lo
    } else {
      val lo = buf(bufPos).toLong & 0xffffffffL
      val hi = buf(bufPos + 1).toLong & 0xffffffffL
      bufPos += 2
      (hi << 32) | lo
    }
  }

  /** rand 0.8.5 `UniformInt<u64>` over [0, range): 128-bit widening multiply
    * with zone rejection. Returns the high 64 bits of v*range. */
  def uniformU64(range: Long): Long = {
    // ints_to_reject = (2^64 - range) % range, computed in unsigned arithmetic.
    val reject = java.lang.Long.remainderUnsigned(-range, range)
    val zone = -1L - reject // unsigned_max - reject
    while (true) {
      val v = nextU64()
      val hi = java.lang.Math.multiplyHigh(v, range) +
        (if (v < 0) range else 0L) + (if (range < 0) v else 0L) // unsigned correction
      val lo = v * range
      if (java.lang.Long.compareUnsigned(lo, zone) <= 0) return hi
    }
    0L // unreachable
  }

  /** rand 0.8.5 `UniformFloat<f64>` over [low, high): mantissa trick,
    * value1_2 = bits(1023<<52 | u>>12) in [1,2). */
  def uniformF64(low: Double, high: Double): Double = {
    val scale = high - low
    val v12 = java.lang.Double.longBitsToDouble((nextU64() >>> 12) | (1023L << 52))
    (v12 - 1.0) * scale + low
  }

  /** rand 0.8.5 `Standard` f64: (u >> 11) * 2^-53, in [0,1). */
  @inline private def stdF64(): Double = (nextU64() >>> 11) * 1.1102230246251565e-16

  /** rand 0.8.5 `Open01` f64: top-52-bit mantissa into [1,2), minus
    * (1 - EPSILON/2), giving (0,1) — ln() of it is always finite. This is
    * what rand_distr 0.4.3's ziggurat Marsaglia tail draws (normal.rs
    * zero_case); `Standard` would admit exactly 0 and ln(0) = -Inf. */
  @inline private def open01F64(): Double =
    java.lang.Double.longBitsToDouble((nextU64() >>> 12) | (1023L << 52)) -
      (1.0 - java.lang.Math.ulp(1.0) / 2.0)

  /** rand_distr 0.4.3 `StandardNormal` via the 256-layer ziggurat
    * (utils.rs `ziggurat`, symmetric): u in [-1,1) from the [2,4) mantissa
    * trick, layer from the low 8 bits, Marsaglia tail for layer 0. */
  def stdNormal(): Double = {
    val X = ZigguratTables.X
    val F = ZigguratTables.F
    while (true) {
      val bits = nextU64()
      val i = (bits & 0xff).toInt
      val u = java.lang.Double.longBitsToDouble((bits >>> 12) | (1024L << 52)) - 3.0
      val x = u * X(i)
      if (math.abs(x) < X(i + 1)) return x
      if (i == 0) {
        // Marsaglia tail (rand_distr 0.4.3 normal.rs zero_case): both draws
        // are Open01, x before y, one nextU64 each
        var xT = 1.0
        var yT = 0.0
        while (-2.0 * yT < xT * xT) {
          xT = math.log(open01F64()) / ZigguratTables.R
          yT = math.log(open01F64())
        }
        return if (u < 0.0) xT - ZigguratTables.R else ZigguratTables.R - xT
      }
      if (F(i + 1) + (F(i) - F(i + 1)) * stdF64() < math.exp(-x * x / 2.0)) return x
    }
    0.0 // unreachable
  }
}
