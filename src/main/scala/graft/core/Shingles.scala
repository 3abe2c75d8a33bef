package graft.core

/** Character-n-gram shingling, bit-exact to the reference's `ShingleSet`
  * (/root/reference/src/minhash/shingleset.rs).
  *
  * The reference iterates Rust `char`s = Unicode scalar values
  * (shingleset.rs:27-31); JVM Strings are UTF-16, so we expand to code points
  * first (surrogate pair = one shingle element), SURVEY.md §7.5.2.
  * Each window of `ngramWidth` code points is FxHash64-hashed with Rust
  * slice framing and truncated to u32 (shingleset.rs:37-47). The reference's
  * salt hook (shingleset.rs:12-47, always None from its SQL surface) is
  * mirrored as an `Option[String]` default-None parameter: a salted hasher
  * state is derived once per set via [[FxHash.saltState]] and every window
  * hash resumes from it.
  * Strings shorter than `ngramWidth` produce an empty set (windows() yields
  * nothing) — all-bands-collide footgun documented in SURVEY.md §2.2.4.
  */
object Shingles {

  /** Expand a String to Unicode code points. */
  def codePoints(s: String): Array[Int] = {
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var ci = 0
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(ci)
      out(i) = cp
      ci += Character.charCount(cp)
      i += 1
    }
    out
  }

  /** Decode UTF-8 bytes straight to code points — the hot path used by the
    * Catalyst expressions, avoiding a UTF-16 String round trip. Spark
    * guarantees valid UTF-8 in `UTF8String`, and Rust `chars()` over a
    * `&str` yields exactly these scalar values (shingleset.rs:27). */
  def codePointsUtf8(bytes: Array[Byte], offset: Int, len: Int): Array[Int] = {
    val out = new Array[Int](len) // upper bound; trimmed below
    val n = decodeUtf8(bytes, offset, len, out)
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Decode into `out` (length >= `len`); returns the code point count. */
  private def decodeUtf8(bytes: Array[Byte], offset: Int, len: Int, out: Array[Int]): Int = {
    var i = offset
    val end = offset + len
    var n = 0
    while (i < end) {
      val b0 = bytes(i) & 0xff
      if (b0 < 0x80) { out(n) = b0; i += 1 }
      else if (b0 < 0xe0) { out(n) = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f); i += 2 }
      else if (b0 < 0xf0) {
        out(n) = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
        i += 3
      } else {
        out(n) = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
        i += 4
      }
      n += 1
    }
    n
  }

  /** The u32 hash of every `w`-code-point window of `cps[0, n)`, in window
    * order, duplicates kept. Each window hash is
    * [[FxHash.hashCodePointsSalted]] from `state`, read straight from `cps`
    * (the length word is folded once into the start state). */
  private def windowHashes(state: Long, cps: Array[Int], n: Int, w: Int): Array[Int] = {
    // a negative width is an error, as it was when it sized a window buffer
    if (w < 0) throw new NegativeArraySizeException(w.toString)
    val windows = n - w + 1
    if (windows <= 0) return Array.emptyIntArray
    val h0 = FxHash.add(state, w.toLong)
    val out = new Array[Int](windows)
    var i = 0
    while (i < windows) {
      var h = h0
      var k = i
      val end = i + w
      while (k < end) { h = FxHash.add(h, cps(k).toLong & 0xffffffffL); k += 1 }
      out(i) = h.toInt
      i += 1
    }
    out
  }

  /** Every window's u32 FxHash over UTF-8 bytes (no salt), duplicates kept:
    * the multiset whose distinct members are the shingle set. MinHash needs
    * only minima over it ([[MinHashFamily.hashWindows]]), so the text path
    * of `lsh_min` never builds the set. Strings shorter than `w` give an
    * empty array. */
  def windowHashesUtf8(bytes: Array[Byte], offset: Int, len: Int, w: Int): Array[Int] = {
    val cps = new Array[Int](len)
    windowHashes(0L, cps, decodeUtf8(bytes, offset, len, cps), w)
  }

  private def toSet(windows: Array[Int]): IntHashSet = {
    val set = new IntHashSet(math.max(8, windows.length))
    var i = 0
    while (i < windows.length) { set.add(windows(i)); i += 1 }
    set
  }

  /** Shingle set over UTF-8 bytes (same semantics as fromText). */
  private[core] def fromTextUtf8(bytes: Array[Byte], offset: Int, len: Int, ngramWidth: Int,
                                 salt: Option[String] = None): IntHashSet = {
    val cps = new Array[Int](len)
    val n = decodeUtf8(bytes, offset, len, cps)
    toSet(windowHashes(FxHash.saltState(salt), cps, n, ngramWidth))
  }

  /** Shingle set of all `ngramWidth`-code-point windows (shingleset.rs:24-35). */
  def fromText(s: String, ngramWidth: Int, salt: Option[String] = None): IntHashSet = {
    val cps = codePoints(s)
    toSet(windowHashes(FxHash.saltState(salt), cps, cps.length, ngramWidth))
  }

  /** Shingle set from caller-provided shingle strings: each string hashed
    * whole as its code-point sequence (shingleset.rs:12-22). */
  private[graft] def fromShingles(shingles: Iterator[String],
                                  salt: Option[String] = None): IntHashSet = {
    val st = FxHash.saltState(salt)
    val set = new IntHashSet(16)
    while (shingles.hasNext) {
      val s = shingles.next()
      val cps = codePoints(s)
      set.add(FxHash.hashCodePointsSalted(st, cps, cps.length))
    }
    set
  }

  /** Shingle set as a sorted (unsigned) int array — the cache-friendly form
    * for repeated pairwise Jaccard: 4 bytes per shingle and intersection by
    * linear merge instead of hash probes. Same set, different layout: the
    * window hashes with the sign bit flipped (unsigned order becomes signed
    * order), sorted, then made unique in place — no hash set. */
  def sortedShinglesUtf8(bytes: Array[Byte], offset: Int, len: Int, ngramWidth: Int): Array[Int] = {
    val arr = windowHashesUtf8(bytes, offset, len, ngramWidth)
    var i = 0
    while (i < arr.length) { arr(i) = arr(i) ^ Int.MinValue; i += 1 }
    if (arr.length < RadixMin) java.util.Arrays.sort(arr) else radixSort(arr)
    var n = math.min(arr.length, 1)
    i = 1
    while (i < arr.length) {
      if (arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  /** Below this many windows `Arrays.sort` beats [[radixSort]], whose 4 KB
    * histogram is a fixed cost. Measured (Spark-free microbench, one thread,
    * 4-vCPU VM, w=4, both sorts on the same window hashes): 17 chars
    * Arrays.sort 0.45-0.8 us against radix 1.7-2.1 us; 40 chars 1.3-1.8
    * against 2.0-2.7; 80 chars 2.7-4.4 against 2.6-3.6; 300 chars 14-20
    * against 7.6-9.4 us/doc. On perfbench's `hash_scan` (~300-char pairs)
    * `expr.lsh_jaccard_ns_per_row` read 23.4 us with the radix sort against
    * 41.3 us with `Arrays.sort` alone. */
  private final val RadixMin = 64

  /** In-place ascending (signed) LSD radix sort, 8 bits per pass: one
    * histogram pass for all 4 digits (the top digit's sign bit flipped, so
    * negatives sort first), then 4 stable scatter passes — an even count,
    * so the result lands back in `arr`. */
  private def radixSort(arr: Array[Int]): Unit = {
    val n = arr.length
    val count = new Array[Int](4 * 256)
    var i = 0
    while (i < n) {
      val v = arr(i)
      count(v & 0xff) += 1
      count(256 + ((v >>> 8) & 0xff)) += 1
      count(512 + ((v >>> 16) & 0xff)) += 1
      count(768 + ((v >>> 24) ^ 0x80)) += 1
      i += 1
    }
    var src = arr
    var dst = new Array[Int](n)
    var digit = 0
    while (digit < 4) {
      val base = digit * 256
      var sum = 0
      i = 0
      while (i < 256) { val c = count(base + i); count(base + i) = sum; sum += c; i += 1 }
      val shift = digit * 8
      val top = if (digit == 3) 0x80 else 0
      i = 0
      while (i < n) {
        val v = src(i)
        val slot = base + (((v >>> shift) & 0xff) ^ top)
        dst(count(slot)) = v
        count(slot) += 1
        i += 1
      }
      val t = src; src = dst; dst = t
      digit += 1
    }
  }

  /** Jaccard over two sorted shingle arrays (merge-count); either empty → 0.0. */
  def jaccardSorted(a: Array[Int], b: Array[Int]): Double = {
    if (a.length == 0 || b.length == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter).toDouble
  }

  /** Exact Jaccard |A∩B|/|A∪B| over shingle sets; either side empty → 0.0
    * (shingleset.rs:49-57). */
  def jaccard(a: IntHashSet, b: IntHashSet): Double = {
    if (a.size == 0 || b.size == 0) 0.0
    else {
      val inter = a.intersectionSize(b)
      val union = a.size + b.size - inter
      inter.toDouble / union.toDouble
    }
  }

  /** Fused text-to-text Jaccard (lsh_jaccard semantics, minhash.rs:236-296). */
  def jaccardText(a: String, b: String, ngramWidth: Int): Double =
    jaccard(fromText(a, ngramWidth), fromText(b, ngramWidth))
}
