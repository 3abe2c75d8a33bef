package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Each generator draws only from the
  * `SplittableRandom` it is handed, so the same seed gives the same rows on
  * any JVM; the program under test only ever sees the generated rows. */
object Gen {

  /** A synthetic vocabulary: `size` random lower-case words of 3-10 letters,
    * drawn with Zipf(`s`) frequencies, so documents share common words the
    * way real text does without sharing most of their character n-grams. */
  final class Vocab(rng: SplittableRandom, size: Int, s: Double) {
    val words: Array[String] = Array.fill(size)(letters(rng, 3 + rng.nextInt(8)))
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def word(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
  }

  def letters(r: SplittableRandom, n: Int): String = {
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
    new String(cs)
  }

  /** A document of about `meanLen` characters (uniform in 0.6x..1.4x). */
  def doc(v: Vocab, r: SplittableRandom, meanLen: Int): String = {
    val target = (meanLen * (0.6 + 0.8 * r.nextDouble())).toInt
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb += ' '
      sb ++= v.word(r)
    }
    sb.toString
  }

  /** Word-level edit of `text`: each word is, with probability `rate`,
    * replaced (70%), dropped (15%) or followed by an inserted word (15%). */
  def mutate(text: String, rate: Double, v: Vocab, r: SplittableRandom): String = {
    val out = new StringBuilder
    def emit(w: String): Unit = { if (out.nonEmpty) out += ' '; out ++= w }
    for (w <- text.split(' ')) {
      if (r.nextDouble() < rate) {
        val k = r.nextDouble()
        if (k < 0.70) emit(v.word(r))
        else if (k >= 0.85) { emit(w); emit(v.word(r)) }
      } else emit(w)
    }
    if (out.isEmpty) text else out.toString
  }

  /** `edits` character typos: substitution, deletion, insertion or
    * transposition of adjacent letters, at random positions. */
  def typo(s: String, edits: Int, r: SplittableRandom): String = {
    val sb = new StringBuilder(s)
    for (_ <- 0 until edits if sb.length > 3) {
      val i = 1 + r.nextInt(sb.length - 2)
      r.nextInt(4) match {
        case 0 => sb.setCharAt(i, ('a' + r.nextInt(26)).toChar)
        case 1 => sb.deleteCharAt(i)
        case 2 => sb.insert(i, ('a' + r.nextInt(26)).toChar)
        case _ => val c = sb.charAt(i); sb.setCharAt(i, sb.charAt(i + 1)); sb.setCharAt(i + 1, c)
      }
    }
    sb.toString
  }

  /** A person-like key: two or three capitalised syllable words. */
  def name(syllables: Array[String], r: SplittableRandom): String = {
    def part(): String = {
      val n = 2 + r.nextInt(2)
      val w = (0 until n).map(_ => syllables(r.nextInt(syllables.length))).mkString
      w.capitalize
    }
    (0 until 2 + r.nextInt(2)).map(_ => part()).mkString(" ")
  }

  def syllables(r: SplittableRandom, n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    Array.fill(n) {
      s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}" +
        (if (r.nextBoolean()) cons(r.nextInt(cons.length)).toString else "")
    }
  }

  def vector(r: SplittableRandom, d: Int): Array[Double] = {
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      // Box-Muller; SplittableRandom has no nextGaussian
      val u = 1.0 - r.nextDouble()
      out(i) = math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
      i += 1
    }
    out
  }

  /** Zipf(`s`)-distributed integer in [lo, hi]. */
  def zipf(r: SplittableRandom, lo: Int, hi: Int, s: Double): Int = {
    val w = (lo to hi).map(k => 1.0 / math.pow(k.toDouble, s))
    var x = r.nextDouble() * w.sum
    var k = lo
    for (wk <- w) { if (x < wk) return k; x -= wk; k += 1 }
    hi
  }

  /** Deterministic permutation of 0 until n (Fisher-Yates). */
  def shuffle(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Hex SHA-256 (first 16 chars) over the given fields, in order. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    def add(x: Long): Unit = add(x.toString)
    def add(xs: Array[Double]): Unit = {
      val bb = java.nio.ByteBuffer.allocate(8 * xs.length)
      xs.foreach(bb.putDouble)
      md.update(bb.array())
    }
    def hex: String = md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
