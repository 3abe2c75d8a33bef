package graft.core

import java.util.concurrent.ConcurrentHashMap

/** The seeded MinHash family for `lsh_min`/`lsh_min32`.
  *
  * Semantics (bit-exact to /root/reference/src/minhash.rs:72-75 +
  * minhash/minhasher.rs): the reference re-creates
  * `StdRng::seed_from_u64(seed)` for EVERY row and, per band, draws
  * `bandSize` seeds ~ Uniform[0, 20_000_000) u64 — so every row sees the same
  * hash family (SURVEY.md §2.2.3). We exploit that purity and derive the
  * seeds ONCE per (bandCount, bandSize, seed), cached process-wide
  * (SURVEY.md §4.4) — identical output, O(rows·RNG) less work.
  *
  * Per band: band value = FxHash64 over the `bandSize` per-seed minima, where
  * each minimum is min over shingles of FxHash64(seed:u64, shingle:u32);
  * empty shingle set leaves every minimum at u64::MAX (minhasher.rs:22-45).
  *
  * The kernel is [[hashWindows]]: it takes the window hashes with
  * duplicates kept ([[Shingles.windowHashesUtf8]]), because a minimum over a
  * multiset equals the minimum over its set — the text path never builds
  * the shingle set. FxHash64(seed, x) = (rotl(seed·K, 5) ^ x)·K, so the
  * per-seed prefix rotl(seed·K, 5) is derived once with the seeds, and one
  * pass over the windows keeps 4 independent minima (4 seeds), compared
  * unsigned as signed values with the sign bit flipped.
  *
  * Not taken: 8 seeds per pass (8 minima, half the passes over the
  * windows). Measured on a 4-vCPU VM: a Spark-free microbench (one thread,
  * 8×3 family, w=4, ~300-char docs) read 4.6-7.8 against 5.0-8.2 us/doc,
  * and perfbench's `expr.lsh_min_ns_per_row` (`hash_scan`, two runs each,
  * alternating) 9.9-14.4 against 11.3-13.2 us — no gain beyond run-to-run
  * noise, so the kernel keeps the smaller block.
  */
final class MinHashFamily(val bandCount: Int, val bandSize: Int, val seed: Long) {
  /** Flat [bandCount * bandSize] seed array, band-major — band i uses draws
    * [i*bandSize, (i+1)*bandSize) of the stream (minhash.rs:73-75). */
  val seeds: Array[Long] = {
    val rng = new StdRng(seed)
    val out = new Array[Long](bandCount * bandSize)
    var i = 0
    while (i < out.length) {
      out(i) = rng.uniformU64(20000000L)
      i += 1
    }
    out
  }

  /** Per seed, the FxHash state after the seed word, rotated: the seed half
    * of every FxHash64(seed, shingle). */
  private val prefixes: Array[Long] = {
    val out = new Array[Long](seeds.length)
    var i = 0
    while (i < out.length) { out(i) = java.lang.Long.rotateLeft(FxHash.hash1(seeds(i)), 5); i += 1 }
    out
  }

  /** Band hashes (u64 bit patterns) for one shingle set. */
  def hash(set: IntHashSet): Array[Long] = hashWindows(set.toArray)

  /** Band hashes (u64 bit patterns) over window hashes; duplicates and
    * order do not change the result, an empty array gives the empty-set
    * hashes. */
  def hashWindows(windows: Array[Int]): Array[Long] = {
    val K = FxHash.K
    val F = Long.MinValue // sign flip: unsigned order as signed order
    val ns = prefixes.length
    val mins = new Array[Long](ns)
    var s = 0
    while (s + 4 <= ns) {
      val p0 = prefixes(s); val p1 = prefixes(s + 1)
      val p2 = prefixes(s + 2); val p3 = prefixes(s + 3)
      var m0 = Long.MaxValue; var m1 = Long.MaxValue // u64::MAX, flipped
      var m2 = Long.MaxValue; var m3 = Long.MaxValue
      var k = 0
      while (k < windows.length) {
        val x = windows(k).toLong & 0xffffffffL
        m0 = math.min(m0, ((p0 ^ x) * K) ^ F)
        m1 = math.min(m1, ((p1 ^ x) * K) ^ F)
        m2 = math.min(m2, ((p2 ^ x) * K) ^ F)
        m3 = math.min(m3, ((p3 ^ x) * K) ^ F)
        k += 1
      }
      mins(s) = m0 ^ F; mins(s + 1) = m1 ^ F
      mins(s + 2) = m2 ^ F; mins(s + 3) = m3 ^ F
      s += 4
    }
    while (s < ns) {
      val p = prefixes(s)
      var m = Long.MaxValue
      var k = 0
      while (k < windows.length) {
        m = math.min(m, ((p ^ (windows(k).toLong & 0xffffffffL)) * K) ^ F)
        k += 1
      }
      mins(s) = m ^ F
      s += 1
    }
    val out = new Array[Long](bandCount)
    var b = 0
    while (b < bandCount) {
      var h = 0L // band accumulator: FxHash over the minima, no length prefix
      var j = b * bandSize
      while (j < (b + 1) * bandSize) { h = FxHash.add(h, mins(j)); j += 1 }
      out(b) = h
      b += 1
    }
    out
  }
}

object MinHashFamily {
  private val cache = new ConcurrentHashMap[(Int, Int, Long), MinHashFamily]()

  def apply(bandCount: Int, bandSize: Int, seed: Long): MinHashFamily =
    cache.computeIfAbsent((bandCount, bandSize, seed),
      k => new MinHashFamily(k._1, k._2, k._3))
}
