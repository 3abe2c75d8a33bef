package graft.core

/** Bloom filter, Count-Min and HDR-histogram kernels — with [[HyperLogLog]],
  * the engine's mergeable-sketch family. All four share the properties that
  * make them pinnable across engines and correct under Spark's execution
  * model: updates commute (bit-OR / counter-add / register-max), so the
  * result is independent of row order and partitioning, and the fixed-size
  * state is what crosses the shuffle, never the value set.
  *
  * Shared hash schedule (documented spec, re-derived independently by the
  * oracle tooling): h1 = the engine-wide FxHash64 token hash of the value's
  * code points ([[SimHash.tokenHash]]); h2 = one extra FxHash round folding
  * the golden-ratio gamma into h1; probe i uses g_i = h1 + i·h2 (wrapping),
  * taking the TOP `log2 size` bits — classic Kirsch–Mitzenmacher double
  * hashing, k independent-enough probes from two hash values.
  *
  * Wire format (BinaryType): little-endian u64 words, one header word, then
  * the state. Bloom header = (log2m << 8) | k; CMS header = (d << 32) |
  * log2w; histogram header = (9 << 32) | b; HLL header = p (registers follow
  * as raw bytes). The header ranges are disjoint
  * (p ≤ 16 < 1537 ≤ bloom < 2^13 < 2^32 ≤ cms < 9·2^32 ≤ hist), so
  * [[mergeBytes]] can dispatch the right merge — byte-max / bit-OR /
  * counter-add (CMS and histogram both) — from the bytes alone: sketches
  * persisted by different runs re-aggregate without the original build
  * parameters.
  */
object Sketches {

  final val HashGamma: Long = 0x9e3779b97f4a7c15L

  @inline private def h2Of(h1: Long): Long = FxHash.add(h1, HashGamma)

  @inline private def probe(h1: Long, h2: Long, i: Int, logSize: Int): Int =
    ((h1 + i.toLong * h2) >>> (64 - logSize)).toInt

  // ---- Bloom ----

  private def bloomWords(logm: Int): Int = 1 << (logm - 6) // m bits / 64

  def bloomAdd(words: Array[Long], h1: Long, k: Int, logm: Int): Unit = {
    val h2 = h2Of(h1)
    var i = 0
    while (i < k) {
      val bit = probe(h1, h2, i, logm)
      words(1 + (bit >>> 6)) |= (1L << (bit & 63)) // words(0) is the header
      i += 1
    }
  }

  def bloomEmpty(logm: Int, k: Int): Array[Long] = {
    val words = new Array[Long](1 + bloomWords(logm))
    words(0) = (logm.toLong << 8) | k.toLong
    words
  }

  // ---- Count-Min ----

  def cmsEmpty(d: Int, logw: Int): Array[Long] = {
    val counters = new Array[Long](1 + (d << logw))
    counters(0) = (d.toLong << 32) | logw.toLong
    counters
  }

  def cmsAdd(counters: Array[Long], h1: Long, d: Int, logw: Int): Unit = {
    val h2 = h2Of(h1)
    var i = 0
    while (i < d) {
      counters(1 + (i << logw) + probe(h1, h2, i, logw)) += 1L
      i += 1
    }
  }

  /** Merge `other` into `acc`: bit-OR for Bloom, counter-add for CMS.
    * Headers must agree (same shape), and header | header == header + ... —
    * so the header word is merged by the caller keeping acc's. */
  def mergeOr(acc: Array[Long], other: Array[Long]): Unit = {
    checkShape(acc, other)
    var i = 1
    while (i < acc.length) { acc(i) |= other(i); i += 1 }
  }

  def mergeAdd(acc: Array[Long], other: Array[Long]): Unit = {
    checkShape(acc, other)
    var i = 1
    while (i < acc.length) { acc(i) += other(i); i += 1 }
  }

  private def checkShape(acc: Array[Long], other: Array[Long]): Unit =
    require(acc.length == other.length && acc(0) == other(0),
      s"cannot merge sketches of different shape: header ${acc(0)}/${acc.length} vs ${other(0)}/${other.length}")

  // ---- wire format ----

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(words)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length % 8 == 0, s"sketch binary must be 8-byte aligned, got ${bytes.length}")
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  @inline private def wordAt(bytes: Array[Byte], word: Int): Long = {
    val off = word * 8
    var w = 0L
    var j = 7
    while (j >= 0) { w = (w << 8) | (bytes(off + j) & 0xffL); j -= 1 }
    w
  }

  // ---- HDR-style log-linear quantile histogram ----
  // Non-negative longs bucket by bit surgery (exact): values < 2^b land in
  // 2^b linear buckets; above that, each octave splits into 2^b log-linear
  // sub-buckets, so relative error is bounded by 2^-b. Counts merge by add
  // (the same CMS merge branch), quantiles read off the cumulative walk with
  // the nearest-rank rule — every step integer-exact, so the whole sketch is
  // bit-deterministic like the rest of the family. Header = (9 << 32) | b
  // (above the CMS range, merges as counter-add).

  private def histBuckets(b: Int): Int = (64 - b) << b

  def histEmpty(b: Int): Array[Long] = {
    val counters = new Array[Long](1 + histBuckets(b))
    counters(0) = (9L << 32) | b.toLong
    counters
  }

  private def histBucketOf(v: Long, b: Int): Int = {
    require(v >= 0, s"histogram values must be non-negative, got $v")
    if (v < (1L << b)) v.toInt
    else {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val o = msb - b + 1
      val sub = ((v >>> (msb - b)) & ((1L << b) - 1)).toInt
      (o << b) + sub
    }
  }

  /** Lower bound of bucket i — the quantile estimate returned for ranks
    * landing in it (≤ true value < bound · (1 + 2^-b) in the log region). */
  private def histBucketLow(i: Int, b: Int): Long = {
    if (i < (1 << b)) i.toLong
    else {
      val o = i >>> b
      val sub = (i & ((1 << b) - 1)).toLong
      (1L << (b + o - 1)) + (sub << (o - 1))
    }
  }

  def histAdd(counters: Array[Long], v: Long, b: Int): Unit =
    counters(1 + histBucketOf(v, b)) += 1L

  /** Nearest-rank quantile straight off the wire bytes: rank = ceil(q·n)
    * clamped to [1, n]; walk the cumulative counts. Returns -1 for an empty
    * histogram. */
  def histQuantileBytes(bytes: Array[Byte], q: Double): Long = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0, 1], got $q")
    require(bytes.length >= 16 && bytes.length % 8 == 0,
      s"not a sketch binary: ${bytes.length} bytes")
    val header = wordAt(bytes, 0)
    val b = (header & 0xffffffffL).toInt
    require((header >>> 32) == 9L && b >= 1 && b <= 8 &&
      bytes.length == 8 * (1 + histBuckets(b)),
      s"hist binary shape mismatch: header $header, ${bytes.length} bytes")
    val words = bytes.length / 8
    var n = 0L
    var w = 1
    while (w < words) { n += wordAt(bytes, w); w += 1 }
    if (n == 0L) return -1L
    val rank = math.min(n, math.max(1L, math.ceil(q * n.toDouble).toLong))
    var cum = 0L
    w = 1
    while (w < words) {
      cum += wordAt(bytes, w)
      if (cum >= rank) return histBucketLow(w - 1, b)
      w += 1
    }
    -1L // unreachable: cum == n >= rank after the last bucket
  }

  // ---- HLL wire + cross-kind merge (sketch persistence/rollup) ----

  /** HLL registers → wire bytes: header word = p, then the 2^p registers. */
  def hllToBytes(registers: Array[Byte], p: Int): Array[Byte] = {
    require(registers.length == (1 << p), s"register count ${registers.length} != 2^$p")
    val out = new Array[Byte](8 + registers.length)
    out(0) = p.toByte // header little-endian; p < 128 so one byte suffices
    System.arraycopy(registers, 0, out, 8, registers.length)
    out
  }

  /** Estimate straight off [[hllToBytes]] wire bytes. */
  def hllEstimateBytes(bytes: Array[Byte]): Double = {
    require(bytes.length >= 8, s"not a sketch binary: ${bytes.length} bytes")
    val p = wordAt(bytes, 0)
    require(p >= HyperLogLog.MinP && p <= HyperLogLog.MaxP &&
      bytes.length == 8 + (1L << p),
      s"hll binary shape mismatch: header says p=$p, got ${bytes.length} bytes")
    val regs = new Array[Byte]((1 << p.toInt))
    System.arraycopy(bytes, 8, regs, 0, regs.length)
    HyperLogLog.estimate(regs)
  }

  /** Merge two wire-format sketches in place (`other` into `acc`),
    * dispatching on the disjoint header ranges: HLL → per-register byte
    * max, Bloom → bit-OR, CMS → 64-bit counter add. Shapes must match. */
  def mergeBytes(acc: Array[Byte], other: Array[Byte]): Unit = {
    require(acc.length == other.length && acc.length >= 8,
      s"cannot merge sketches of different size: ${acc.length} vs ${other.length}")
    val h = wordAt(acc, 0)
    require(h == wordAt(other, 0),
      s"cannot merge sketches of different shape: header $h vs ${wordAt(other, 0)}")
    if (h <= HyperLogLog.MaxP) { // HLL: byte max over registers
      var i = 8
      while (i < acc.length) {
        if (other(i) > acc(i)) acc(i) = other(i)
        i += 1
      }
    } else if (h < (1L << 32)) { // Bloom: bitwise OR (byte OR == word OR)
      var i = 8
      while (i < acc.length) {
        acc(i) = (acc(i) | other(i)).toByte
        i += 1
      }
    } else { // CMS: 64-bit little-endian counter adds
      var w = 1
      val words = acc.length / 8
      while (w < words) {
        putWordAt(acc, w, wordAt(acc, w) + wordAt(other, w))
        w += 1
      }
    }
  }

  @inline private def putWordAt(bytes: Array[Byte], word: Int, v: Long): Unit = {
    val off = word * 8
    var j = 0
    while (j < 8) { bytes(off + j) = ((v >>> (8 * j)) & 0xff).toByte; j += 1 }
  }

  /** Probe the wire bytes directly — the per-row path. A probe touches only
    * the header and k (Bloom) / d (CMS) words; materializing the whole
    * sketch per row would copy the full state for every probe-side row,
    * which at probe-scan scale is the dominant cost, not the hashing. */
  def bloomContainsBytes(bytes: Array[Byte], h1: Long): Boolean = {
    require(bytes.length >= 16 && bytes.length % 8 == 0,
      s"not a sketch binary: ${bytes.length} bytes")
    val header = wordAt(bytes, 0)
    val logm = ((header >>> 8) & 0xff).toInt
    val k = (header & 0xff).toInt
    require(logm >= 6 && logm <= 30 && k >= 1 && k <= 16 &&
      bytes.length == 8 * (1 + bloomWords(logm)),
      s"bloom binary shape mismatch: header says log2m=$logm k=$k, got ${bytes.length} bytes")
    val h2 = h2Of(h1)
    var i = 0
    while (i < k) {
      val bit = probe(h1, h2, i, logm)
      if ((wordAt(bytes, 1 + (bit >>> 6)) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def cmsEstimateBytes(bytes: Array[Byte], h1: Long): Long = {
    require(bytes.length >= 16 && bytes.length % 8 == 0,
      s"not a sketch binary: ${bytes.length} bytes")
    val header = wordAt(bytes, 0)
    val d = (header >>> 32).toInt
    val logw = (header & 0xffffffffL).toInt
    require(d >= 1 && d <= 8 && logw >= 4 && logw <= 20 &&
      bytes.length == 8 * (1 + (d << logw)),
      s"cms binary shape mismatch: header says d=$d log2w=$logw, got ${bytes.length} bytes")
    val h2 = h2Of(h1)
    var min = Long.MaxValue
    var i = 0
    while (i < d) {
      val c = wordAt(bytes, 1 + (i << logw) + probe(h1, h2, i, logw))
      if (c < min) min = c
      i += 1
    }
    min
  }
}
