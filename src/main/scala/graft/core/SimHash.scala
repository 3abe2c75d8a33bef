package graft.core

/** SimHash and rolling-fingerprint kernels for near-dup detection at scale —
  * additions beyond the reference surface (it ships only MinHash/Euclidean
  * LSH + Jaccard; these cover the SimHash and document-fingerprint rows of a
  * training-data pipeline). Hashing reuses the engine-wide FxHash64 so the
  * whole fingerprint column derives from one documented hash family.
  */
object SimHash {

  /** FxHash64 of one token's code points (length-prefixed, like the shingle
    * hash but without the u32 truncation). */
  private[graft] def tokenHash(cps: Array[Int], len: Int): Long = hashAt(cps, 0, len)

  /** [[tokenHash]] straight off UTF-8 bytes — the aggregate/probe hot path:
    * two passes (count code points for the length prefix, then fold), zero
    * allocation. Identical output to tokenHash(codePoints(s)) for any
    * well-formed UTF-8 (decoder mirrors Shingles.codePointsUtf8). */
  def tokenHashUtf8(bytes: Array[Byte], offset: Int, len: Int): Long = {
    val end = offset + len
    var i = offset
    var n = 0
    while (i < end) {
      val b0 = bytes(i) & 0xff
      i += (if (b0 < 0x80) 1 else if (b0 < 0xe0) 2 else if (b0 < 0xf0) 3 else 4)
      n += 1
    }
    var h = FxHash.add(0L, n.toLong)
    i = offset
    while (i < end) {
      val b0 = bytes(i) & 0xff
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 < 0xe0) { cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2 }
      else if (b0 < 0xf0) {
        cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
        i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
        i += 4
      }
      h = FxHash.add(h, cp.toLong & 0xffffffffL)
    }
    h
  }

  /** [[tokenHash]] of cps[off, off+len) without a window copy. */
  @inline private def hashAt(cps: Array[Int], off: Int, len: Int): Long = {
    var h = FxHash.add(0L, len.toLong)
    var i = off
    val end = off + len
    while (i < end) {
      h = FxHash.add(h, cps(i).toLong & 0xffffffffL)
      i += 1
    }
    h
  }

  /** 64-bit SimHash over whitespace tokens: each token votes its hash bits
    * (+1 for a set bit, -1 for clear); result bit b is 1 iff the vote sum is
    * positive. Empty input → 0L. */
  def simhash64(text: String): Long = {
    // decode once and slice tokens by index — token boundaries are the
    // space code point (BMP, never part of a surrogate pair), so index
    // slicing over code points yields exactly the substring tokens
    val cps = Shingles.codePoints(text)
    val votes = new Array[Int](64)
    var i = 0
    val n = cps.length
    while (i < n) {
      while (i < n && cps(i) == ' ') i += 1
      val start = i
      while (i < n && cps(i) != ' ') i += 1
      if (i > start) {
        val h = hashAt(cps, start, i - start)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hamming distance between two SimHash values. */
  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Rolling k-gram fingerprint: FxHash64 every k-code-point window and keep
    * the minimum (unsigned) — a 1-word document sketch; equal texts agree,
    * and heavy overlap makes agreement likely. Shorter-than-k input → 0L. */
  def minFingerprint(text: String, k: Int): Long = {
    val cps = Shingles.codePoints(text)
    val n = cps.length - k + 1
    if (n <= 0) return 0L
    var best = -1L // u64::MAX
    var i = 0
    while (i < n) {
      val h = hashAt(cps, i, k)
      if (java.lang.Long.compareUnsigned(h, best) < 0) best = h
      i += 1
    }
    best
  }

  /** Winnowed fingerprint set: the minimum k-gram hash of every window of
    * `w` consecutive k-gram positions, the window SLIDING by one position
    * (classic winnowing; Schleimer et al. 2003 §2, rightmost minimum per
    * window), deduplicated, ascending unsigned order.
    *
    * Sliding — not tiling — is what makes the fingerprint content-position
    * robust: a one-character prefix insertion shifts every k-gram position,
    * but each selected minimum is a local property of w adjacent k-grams, so
    * all windows not touching the edit still select the same hash and the
    * two fingerprint sets overlap in all but O(1) elements. (A tiled scan —
    * `start += w` — is alignment-sensitive: the same insertion moves every
    * tile boundary and can replace the entire set.) Fewer than w k-grams →
    * one window over all of them. Bounded size (expected 2n/(w+1) distinct
    * selections), the practical doc-fingerprint for 100 TB near-dup mining. */
  def winnow(text: String, k: Int, w: Int): Array[Long] = {
    val cps = Shingles.codePoints(text)
    val n = cps.length - k + 1
    if (n <= 0) return Array.empty
    // flip the sign bit once so plain signed compares give unsigned order
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) = hashAt(cps, i, k) ^ Long.MinValue
      i += 1
    }
    // O(n) ascending-minima deque of positions; evicting on >= keeps the
    // RIGHTMOST minimum per window (robust winnowing's tie rule). A
    // selection is recorded only when the winning position changes —
    // winnowing's density bound (2/(w+1)) makes that rare — into a
    // primitive buffer; no boxed TreeSet in the per-position loop.
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0
    val sel = new Array[Long](math.min(n, math.max(1, n - w + 1)))
    var selLen = 0
    var lastPos = -1
    i = 0
    while (i < n) {
      val v = hashes(i)
      while (tail > head && hashes(deque(tail - 1)) >= v) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1 || i == n - 1) { // window complete (or single short window)
        val p = deque(head)
        if (p != lastPos) {
          sel(selLen) = hashes(p)
          selLen += 1
          lastPos = p
        }
      }
      i += 1
    }
    // ascending unsigned dedup (values are still sign-flipped: signed sort
    // IS the unsigned order; flip back on emit)
    val arr = java.util.Arrays.copyOf(sel, selLen)
    java.util.Arrays.sort(arr)
    var m = 0
    i = 0
    while (i < arr.length) {
      if (m == 0 || arr(i) != arr(m - 1)) { arr(m) = arr(i); m += 1 }
      i += 1
    }
    val out = new Array[Long](m)
    i = 0
    while (i < m) { out(i) = arr(i) ^ Long.MinValue; i += 1 }
    out
  }
}
