package graft.core

import java.util.concurrent.ConcurrentHashMap

/** The seeded p-stable (Gaussian) LSH family for `lsh_euclidean`/
  * `lsh_euclidean32`, bit-exact to /root/reference/src/euclidean_hash.rs +
  * euclidean_hash/euclidean_hasher.rs.
  *
  * Per band (in stream order, euclidean_hash.rs:86-91): draw
  * A ∈ R^{d×bandSize} row-major ~ N(0,1), then b ∈ [0, r)^{bandSize}
  * (euclidean_hasher.rs:16-26). Band value = FxHash64 of the u64 vector
  * `ceil((x·A + b)/r)` with Rust's saturating f64→u64 cast and ndarray's
  * Hash framing: shape slice ([bandSize]: length prefix 1 then the dim),
  * then the elements (euclidean_hasher.rs:28-38, SURVEY.md §2.4.2).
  *
  * The reference re-derives this family per ROW (RNG reset, SURVEY §2.2.3);
  * we derive once per (r, bandCount, bandSize, seed, d) and cache — identical
  * output (SURVEY §4.4).
  *
  * Layout: the bands' A matrices side by side as ONE row-major
  * d × (bandCount·bandSize) matrix (band i owns columns
  * [i·bandSize, (i+1)·bandSize)), filled in the reference's draw order. The
  * kernel accumulates 12 columns per pass over x, so 12 independent add
  * chains overlap and each row of the matrix is read contiguously. Every
  * column still adds k ascending, with a separate multiply and add — Java
  * never contracts them into an FMA — so each dot product has exactly the
  * bits of the sequential one (ndarray's accumulation; verified on goldens
  * at d=5, risk at larger d noted in SURVEY §7.5.3).
  */
final class EuclideanFamily(
    val r: Double, val bandCount: Int, val bandSize: Int, val seed: Long, val d: Int) {

  private val cols = bandCount * bandSize

  /** A: d × cols row-major; b: one offset per column. */
  private val (a, b): (Array[Double], Array[Double]) = {
    val aArr = new Array[Double](d * cols)
    val bArr = new Array[Double](cols)
    val rng = new StdRng(seed)
    var band = 0
    while (band < bandCount) {
      val c0 = band * bandSize
      var k = 0
      while (k < d) {
        var j = 0
        while (j < bandSize) { aArr(k * cols + c0 + j) = rng.stdNormal(); j += 1 }
        k += 1
      }
      var j = 0
      while (j < bandSize) { bArr(c0 + j) = rng.uniformF64(0.0, r); j += 1 }
      band += 1
    }
    (aArr, bArr)
  }

  /** Rust `f64 as u64`: saturating, NaN → 0 (SURVEY §2.4.8). */
  @inline private def f64ToU64(x: Double): Long = {
    if (!(x > 0.0)) 0L // NaN or <= 0
    else if (x >= 1.8446744073709552e19) -1L // >= 2^64 → u64::MAX
    else if (x < 9.223372036854775807e18) x.toLong
    else (x - 9.223372036854775808e18).toLong | Long.MinValue
  }

  /** x·A, one dot product per column. */
  private def project(x: Array[Double]): Array[Double] = {
    val dots = new Array[Double](cols)
    var c = 0
    while (c + 12 <= cols) {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var s4 = 0.0; var s5 = 0.0; var s6 = 0.0; var s7 = 0.0
      var s8 = 0.0; var s9 = 0.0; var s10 = 0.0; var s11 = 0.0
      var k = 0
      var row = c
      while (k < d) {
        val xk = x(k)
        s0 += xk * a(row); s1 += xk * a(row + 1); s2 += xk * a(row + 2)
        s3 += xk * a(row + 3); s4 += xk * a(row + 4); s5 += xk * a(row + 5)
        s6 += xk * a(row + 6); s7 += xk * a(row + 7); s8 += xk * a(row + 8)
        s9 += xk * a(row + 9); s10 += xk * a(row + 10); s11 += xk * a(row + 11)
        k += 1
        row += cols
      }
      dots(c) = s0; dots(c + 1) = s1; dots(c + 2) = s2; dots(c + 3) = s3
      dots(c + 4) = s4; dots(c + 5) = s5; dots(c + 6) = s6; dots(c + 7) = s7
      dots(c + 8) = s8; dots(c + 9) = s9; dots(c + 10) = s10; dots(c + 11) = s11
      c += 12
    }
    while (c < cols) {
      var s = 0.0
      var k = 0
      while (k < d) { s += x(k) * a(k * cols + c); k += 1 }
      dots(c) = s
      c += 1
    }
    dots
  }

  /** Band hashes (u64 bit patterns) for one vector of length d. */
  def hash(x: Array[Double]): Array[Long] = {
    val dots = project(x)
    val out = new Array[Long](bandCount)
    var band = 0
    while (band < bandCount) {
      var h = FxHash.add(FxHash.add(0L, 1L), bandSize.toLong) // ndarray shape hash
      var c = band * bandSize
      while (c < (band + 1) * bandSize) {
        h = FxHash.add(h, f64ToU64(math.ceil((dots(c) + b(c)) / r)))
        c += 1
      }
      out(band) = h
      band += 1
    }
    out
  }
}

object EuclideanFamily {
  private val cache = new ConcurrentHashMap[(Double, Int, Int, Long, Int), EuclideanFamily]()

  def apply(r: Double, bandCount: Int, bandSize: Int, seed: Long, d: Int): EuclideanFamily =
    cache.computeIfAbsent((r, bandCount, bandSize, seed, d),
      k => new EuclideanFamily(k._1, k._2, k._3, k._4, k._5))
}
