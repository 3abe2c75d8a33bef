package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests from SURVEY.md §5.3.3: invariants the kernels must hold for
  * arbitrary inputs, complementing the fixed golden vectors. Uses ScalaCheck
  * generators with a fixed seed walk (no scalatestplus bridge in the offline
  * cache), so failures are reproducible.
  */
class KernelPropertiesSpec extends AnyFunSuite {

  private def forSamples[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private val text: Gen[String] = Gen.chooseNum(0, 40).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', 'é', '語'))).map(_.mkString))

  private val textPair: Gen[(String, String)] = Gen.zip(text, text)

  test("jaccard ∈ [0,1], symmetric, self-similarity") {
    forSamples(textPair) { case (a, b) =>
      val j = Shingles.jaccardText(a, b, 2)
      assert(j >= 0.0 && j <= 1.0)
      assert(j == Shingles.jaccardText(b, a, 2))
      val self = Shingles.jaccardText(a, a, 2)
      if (Shingles.codePoints(a).length >= 2) assert(self == 1.0) else assert(self == 0.0)
    }
  }

  test("lsh_min: band count, determinism") {
    forSamples(Gen.zip(text, Gen.chooseNum(1, 5), Gen.chooseNum(1, 4), Gen.long), 150) {
      case (s, bands, size, seed) =>
        val h1 = MinHashFamily(bands, size, seed).hash(Shingles.fromText(s, 2))
        val h2 = MinHashFamily(bands, size, seed).hash(Shingles.fromText(s, 2))
        assert(h1.length == bands)
        assert(h1.toSeq == h2.toSeq)
    }
  }

  test("UTF-8 shingling path equals String code-point path") {
    forSamples(Gen.zip(text, Gen.chooseNum(1, 4))) { case (s, w) =>
      val bytes = s.getBytes("UTF-8")
      assert(Shingles.fromTextUtf8(bytes, 0, bytes.length, w).toArray.sorted.toSeq ==
        Shingles.fromText(s, w).toArray.sorted.toSeq)
    }
  }

  test("sorted-array jaccard equals hash-set jaccard") {
    forSamples(textPair) { case (a, b) =>
      val ab = a.getBytes("UTF-8")
      val bb = b.getBytes("UTF-8")
      val sorted = Shingles.jaccardSorted(
        Shingles.sortedShinglesUtf8(ab, 0, ab.length, 2),
        Shingles.sortedShinglesUtf8(bb, 0, bb.length, 2))
      assert(sorted == Shingles.jaccardText(a, b, 2))
    }
  }

  test("euclidean: band count, determinism, translation sensitivity") {
    val vecGen = Gen.chooseNum(1, 8).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-100.0, 100.0)).map(_.toArray))
    forSamples(Gen.zip(vecGen, Gen.chooseNum(1, 4), Gen.chooseNum(1, 3), Gen.long), 100) {
      case (v, bands, size, seed) =>
        val fam = EuclideanFamily(0.5, bands, size, seed, v.length)
        val h = fam.hash(v)
        assert(h.length == bands)
        assert(h.toSeq == fam.hash(v.clone()).toSeq)
        // NOTE: no universal translation-sensitivity property exists — the
        // saturating f64→u64 cast (SURVEY §2.4.8) clamps all-negative bucket
        // coordinates to 0, so shifts deeper into that regime may not change
        // the hash. Sensitivity is asserted on a fixed case below.
    }
    val fam = EuclideanFamily(0.5, 2, 3, 123, 5)
    val base = Array(1.1, 2.2, 3.3, 5.8, 3.9)
    assert(fam.hash(base.map(_ + 10.0)).toSeq != fam.hash(base).toSeq)
  }

  test("simhash: hamming(a,a)=0; winnow sorted unsigned unique") {
    forSamples(text) { s =>
      val h = SimHash.simhash64(s)
      assert(SimHash.hamming(h, h) == 0)
      val w = SimHash.winnow(s, 3, 4)
      val sorted = w.sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
      assert(w.toSeq == sorted.toSeq && w.distinct.length == w.length)
    }
  }

  test("shingle salt hook: None is identity; salts partition the hash space") {
    // No reference goldens exist (its SQL surface always passes None,
    // minhash.rs:71,136) — these pin the structural contract: default/None
    // must be byte-identical to the unsalted path (all golden vectors keep
    // passing), salted sets are deterministic, and distinct salts disagree.
    forSamples(text) { s =>
      val plain = Shingles.fromText(s, 2).toArray.toSet
      assert(Shingles.fromText(s, 2, None).toArray.toSet == plain)
      val salted = Shingles.fromText(s, 2, Some("pepper")).toArray.toSet
      assert(Shingles.fromText(s, 2, Some("pepper")).toArray.toSet == salted)
      if (s.length >= 3) {
        assert(salted != plain)
        assert(Shingles.fromText(s, 2, Some("other")).toArray.toSet != salted)
      }
      // same cardinality: salting re-keys windows, it must not merge them
      // (collisions aside — none observed over the sample corpus)
      assert(salted.size == plain.size)
    }
    // FxHasher::write chunking boundaries: salts of length 1,2,3,4,7,8,9
    // exercise every remainder branch (8/4/2/1-byte words)
    val base = Shingles.fromText("boundary case text", 3).toArray.toSet
    val all = Seq("a", "ab", "abc", "abcd", "abcdefg", "abcdefgh", "abcdefghi")
      .map(sl => Shingles.fromText("boundary case text", 3, Some(sl)).toArray.toSet)
    assert((all :+ base).distinct.size == all.size + 1, "some salt collided a whole set")
  }

  test("IntHashSet agrees with scala Set") {
    forSamples(Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue))) { xs =>
      val s = new IntHashSet(4)
      xs.foreach(s.add)
      val ref = xs.toSet
      assert(s.size == ref.size)
      assert(s.toArray.toSet == ref)
      xs.foreach(x => assert(s.contains(x)))
    }
  }

  test("tokenHashUtf8 == code-point token hash for arbitrary unicode") {
    val uni: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "語", "中", "ß"),
      1 -> Gen.oneOf("😀", "🌀", "𝕏"))).map(_.mkString) // incl. surrogate pairs
    forSamples(uni) { s =>
      val cps = Shingles.codePoints(s)
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      assert(SimHash.tokenHashUtf8(bytes, 0, bytes.length) ==
        SimHash.tokenHash(cps, cps.length))
    }
  }

  test("sketch algebra law: sketch(A) ⊕ sketch(B) == sketch(A ++ B), all kinds") {
    def h(s: String) = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      SimHash.tokenHashUtf8(b, 0, b.length)
    }
    val values: Gen[(List[String], List[String])] =
      Gen.zip(Gen.listOf(text), Gen.listOf(text))
    forSamples(values, n = 100) { case (as, bs) =>
      // HLL: register max
      def hll(vs: Seq[String]) = {
        val r = new Array[Byte](1 << 6)
        vs.foreach(v => HyperLogLog.add(r, h(v), 6))
        Sketches.hllToBytes(r, 6)
      }
      val mergedH = hll(as)
      Sketches.mergeBytes(mergedH, hll(bs))
      assert(java.util.Arrays.equals(mergedH, hll(as ++ bs)))
      // Bloom: bit OR
      def bloom(vs: Seq[String]) = {
        val w = Sketches.bloomEmpty(8, 3)
        vs.foreach(v => Sketches.bloomAdd(w, h(v), 3, 8))
        Sketches.toBytes(w)
      }
      val mergedB = bloom(as)
      Sketches.mergeBytes(mergedB, bloom(bs))
      assert(java.util.Arrays.equals(mergedB, bloom(as ++ bs)))
      // CMS: counter add
      def cms(vs: Seq[String]) = {
        val c = Sketches.cmsEmpty(2, 6)
        vs.foreach(v => Sketches.cmsAdd(c, h(v), 2, 6))
        Sketches.toBytes(c)
      }
      val mergedC = cms(as)
      Sketches.mergeBytes(mergedC, cms(bs))
      assert(java.util.Arrays.equals(mergedC, cms(as ++ bs)))
    }
  }

  test("CosineSim.computeBoxed is bit-equal to the sequential HOF fold it replaced") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val vec: Gen[Array[Double]] = Gen.chooseNum(1, 48).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3)).map(_.toArray))
    forSamples(Gen.zip(vec, vec), n = 300) { case (a0, b0) =>
      // equal lengths: truncate to the shorter (mismatch -> null, tested in SQL spec)
      val n = math.min(a0.length, b0.length)
      val a = a0.take(n); val b = b0.take(n)
      // reference fold, exactly as aggregate(zip_with(a,b,_*_),0.0,_+_) evaluated:
      // per element multiply-then-add in array order, separate norm passes
      var dot = 0.0; var i = 0
      while (i < n) { dot += a(i) * b(i); i += 1 }
      var na = 0.0; i = 0
      while (i < n) { na += a(i) * a(i); i += 1 }
      var nb = 0.0; i = 0
      while (i < n) { nb += b(i) * b(i); i += 1 }
      val want = dot / (math.sqrt(na) * math.sqrt(nb))
      val got = org.apache.spark.sql.graft.CosineSim.computeBoxed(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      assert(java.lang.Double.doubleToRawLongBits(got.doubleValue()) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"cosine bits differ: got $got want $want")
    }
  }

  // ---- the loops the window-hash / column-blocked kernels replaced, kept
  // verbatim as the bit-equality oracle ----

  /** Old shingling: copy each window into a buffer, hash it, add to a set. */
  private def oldShingleSet(cps: Array[Int], w: Int, salt: Option[String]): IntHashSet = {
    val st = FxHash.saltState(salt)
    val set = new IntHashSet(math.max(8, cps.length))
    val n = cps.length - w + 1
    val window = new Array[Int](w)
    var i = 0
    while (i < n) {
      System.arraycopy(cps, i, window, 0, w)
      set.add(FxHash.hashCodePointsSalted(st, window, w))
      i += 1
    }
    set
  }

  /** Old sorted set: hash set -> toArray -> flip the sign bit -> sort. */
  private def oldSorted(cps: Array[Int], w: Int): Array[Int] = {
    val arr = oldShingleSet(cps, w, None).toArray
    var i = 0
    while (i < arr.length) { arr(i) = arr(i) ^ Int.MinValue; i += 1 }
    java.util.Arrays.sort(arr)
    arr
  }

  /** Old MinHash: one seed at a time over the set, unsigned compare. */
  private def oldMinHash(fam: MinHashFamily, set: IntHashSet): Array[Long] = {
    val shingles = set.toArray
    val out = new Array[Long](fam.bandCount)
    var b = 0
    while (b < fam.bandCount) {
      var h = 0L
      var j = 0
      while (j < fam.bandSize) {
        val s = fam.seeds(b * fam.bandSize + j)
        var m = -1L
        var k = 0
        while (k < shingles.length) {
          val v = FxHash.add(FxHash.hash1(s), shingles(k).toLong & 0xffffffffL)
          if (java.lang.Long.compareUnsigned(v, m) < 0) m = v
          k += 1
        }
        h = FxHash.add(h, m)
        j += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Old Euclidean: per-band A (d × bandSize row-major) and b, one
    * sequential dot product per column with strided reads. */
  private def oldEuclid(r: Double, bandCount: Int, bandSize: Int, seed: Long,
                        x: Array[Double]): Array[Long] = {
    val d = x.length
    val rng = new StdRng(seed)
    val bands = Array.fill(bandCount) {
      val a = Array.fill(d * bandSize)(rng.stdNormal())
      val b = Array.fill(bandSize)(rng.uniformF64(0.0, r))
      (a, b)
    }
    def f64ToU64(v: Double): Long =
      if (!(v > 0.0)) 0L
      else if (v >= 1.8446744073709552e19) -1L
      else if (v < 9.223372036854775807e18) v.toLong
      else (v - 9.223372036854775808e18).toLong | Long.MinValue
    bands.map { case (a, b) =>
      var h = FxHash.add(FxHash.add(0L, 1L), bandSize.toLong)
      var j = 0
      while (j < bandSize) {
        var acc = 0.0
        var k = 0
        while (k < d) { acc += x(k) * a(k * bandSize + j); k += 1 }
        h = FxHash.add(h, f64ToU64(math.ceil((acc + b(j)) / r)))
        j += 1
      }
      h
    }
  }

  /** Unicode text incl. 4-byte code points (surrogate pairs): mostly 0..24
    * code points, so strings shorter than every w in 1..6 and the empty
    * string occur; some 60..300, so sets past the radix-sort cutoff (64
    * windows) occur too. */
  private val uniText: Gen[String] = Gen.frequency(
      3 -> Gen.chooseNum(0, 24), 1 -> Gen.chooseNum(60, 300)).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "é", "ß", "語", "中"),
      2 -> Gen.oneOf("😀", "🌀", "𝕏", "\uD800\uDC00", "\uDBFF\uDFFF"))).map(_.mkString))

  private def sortedDistinct(a: Array[Int]): Seq[Int] = a.distinct.sorted.toSeq

  test("window-hash shingling and sort-dedup sets are bit-equal to the hash-set loops they replaced") {
    val salts: Gen[Option[String]] = Gen.oneOf(None, Some("pepper"), Some("abcdefghi"))
    forSamples(Gen.zip(uniText, Gen.chooseNum(1, 6), salts), n = 600) { case (s, w, salt) =>
      val cps = Shingles.codePoints(s)
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val want = sortedDistinct(oldShingleSet(cps, w, salt).toArray)
      assert(sortedDistinct(Shingles.fromText(s, w, salt).toArray) == want)
      assert(sortedDistinct(Shingles.fromTextUtf8(bytes, 0, bytes.length, w, salt).toArray) == want)
      val windows = Shingles.windowHashesUtf8(bytes, 0, bytes.length, w)
      assert(windows.length == math.max(0, cps.length - w + 1))
      if (salt.isEmpty) {
        assert(sortedDistinct(windows) == want)
        assert(Shingles.sortedShinglesUtf8(bytes, 0, bytes.length, w).toSeq == oldSorted(cps, w).toSeq)
      }
    }
    // a slice of a larger buffer decodes only the slice
    val pre = "xy😀".getBytes("UTF-8"); val body = "語z😀ab".getBytes("UTF-8")
    val buf = pre ++ body ++ "tail".getBytes("UTF-8")
    assert(Shingles.windowHashesUtf8(buf, pre.length, body.length, 2).toSeq ==
      Shingles.windowHashesUtf8(body, 0, body.length, 2).toSeq)
  }

  test("MinHashFamily.hashWindows is bit-equal to the per-seed set loop it replaced") {
    // bandCount·bandSize over 1..35 hits every remainder mod 4 (the seed block)
    forSamples(Gen.zip(uniText, Gen.chooseNum(1, 6), Gen.chooseNum(1, 7), Gen.chooseNum(1, 5), Gen.long),
        n = 400) { case (s, w, bands, size, seed) =>
      val fam = MinHashFamily(bands, size, seed)
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val set = oldShingleSet(Shingles.codePoints(s), w, None)
      val want = oldMinHash(fam, set).toSeq
      assert(fam.hashWindows(Shingles.windowHashesUtf8(bytes, 0, bytes.length, w)).toSeq == want)
      assert(fam.hash(set).toSeq == want)
    }
    // empty input: every minimum stays u64::MAX
    val fam = MinHashFamily(3, 5, 7L)
    assert(fam.hashWindows(Array.emptyIntArray).toSeq == oldMinHash(fam, new IntHashSet()).toSeq)
    // windows with the sign bit set and duplicates in any order
    forSamples(Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue)), n = 200) { xs =>
      val set = new IntHashSet(4); xs.foreach(set.add)
      val dup = (xs ++ xs.reverse).toArray
      assert(fam.hashWindows(dup).toSeq == oldMinHash(fam, set).toSeq)
    }
  }

  test("EuclideanFamily 12-column projection is bit-equal to the per-band sequential loop it replaced") {
    val component: Gen[Double] = Gen.frequency(
      20 -> Gen.chooseNum(-100.0, 100.0),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        0.0, -0.0, 1e300, -1e300))
    // bandCount·bandSize over 1..35 hits every remainder mod 12 (the column
    // block). r = 1e-15 makes (x·a + b)/r ~1e16..1e18, an integral double
    // whose u64 carries the dot product's low mantissa bits, so a 1-ulp
    // difference (an FMA, a reordered sum) changes the hash.
    val cases = Gen.zip(Gen.oneOf(1, 5, 384), Gen.chooseNum(1, 7), Gen.chooseNum(1, 5), Gen.long,
      Gen.oneOf(0.5, 4.0, 1e-15)).flatMap { shape =>
      Gen.listOfN(2, Gen.listOfN(shape._1, component).map(_.toArray)).map(xs => (shape, xs))
    }
    forSamples(cases, n = 150) { case ((d, bands, size, seed, r), xs) =>
      val fam = EuclideanFamily(r, bands, size, seed, d)
      xs.foreach { x =>
        assert(fam.hash(x).toSeq == oldEuclid(r, bands, size, seed, x).toSeq,
          s"d=$d bands=$bands size=$size seed=$seed")
      }
      // all-finite (at d=384 nearly every random vector above holds a NaN)
      val finite = Array.tabulate(d)(k => math.sin(seed.toDouble + k) * 37.0)
      assert(fam.hash(finite).toSeq == oldEuclid(r, bands, size, seed, finite).toSeq)
    }
  }
}
