package graft.core

/** Perceptual audio fingerprinting over DECODED PCM — the audio-side
  * analog of [[ImageHash]]: two encodings of the same clip (or a
  * lightly-retouched copy) land within a few bits, so the SimHash
  * banded-Hamming machinery blocks them without all-pairs work. The
  * recipe is a time-domain simplification of Haitsma & Kalker's
  * sign-of-energy-delta robust hash (ICMIR 2002, public): instead of
  * FFT sub-bands it uses two integer-exact signals — full-band energy
  * and first-difference (high-pass) energy — so the Python oracle can
  * re-derive every fingerprint from a sample RECIPE with no audio
  * libraries, and no floating point enters the hash.
  *
  * Every step is integer-exact and stated:
  *
  *   - mono(t) = Σ over channels of the signed 16-bit sample (long sum —
  *     no division, channel balance preserved in the sign structure);
  *   - d(t) = mono(t) − mono(t−1), with d(0) = mono(0) (the first-
  *     difference signal: a crude high-pass that reacts to texture where
  *     mono reacts to level);
  *   - the clip divides into [[Segments]] = 33 time segments with floor
  *     boundaries: segment k covers t ∈ [⌊k·F/33⌋, ⌊(k+1)·F/33⌋); clips
  *     shorter than 33 frames hash to null — stretching tiny clips
  *     would manufacture identity that isn't there;
  *   - E(k) = Σ |mono(t)|, Z(k) = Σ |d(t)| over segment k (long sums;
  *     |mono| ≤ channels·2¹⁵ and frames·channels is capped at
  *     Int.MaxValue/2 by [[readPcm]], so both fit a long with room);
  *   - fingerprint bit k (k ∈ 0..31) is set iff E(k+1) > E(k), bit
  *     32+k iff Z(k+1) > Z(k) — 64 sign-of-delta bits, robust to
  *     uniform gain (scaling every sample leaves every comparison) and
  *     local edits (damage confined in time is confined in bits, the
  *     property the pigeonhole banding needs).
  *
  * Container bytes never enter the hash: any lossless encoder of the
  * same samples yields the same value (pinned by the byte-identical
  * twins in the gate fixture). */
object AudioFingerprint {

  /** Time segments; Segments−1 = 32 delta bits per signal → 64 total. */
  val Segments = 33

  /** Guarded PCM read: (interleaved signed 16-bit samples, frames,
    * channels), or null for unparseable containers, non-PCM/non-16-bit
    * encodings, empty or over-`maxFrames` clips, header-declared sizes
    * past Int.MaxValue/2 samples, and truncated data — the single owner
    * of the WAV-decode guard rails; [[graft.api.Multimodal.WavDecoder]]
    * routes through it (same ownership pattern as [[ImageHash.readImage]]
    * for images). Long math on frames·channels: a corrupt header must
    * hit the guard, not wrap Int into garbage bounds. */
  def readPcm(bytes: Array[Byte], maxFrames: Long): (Array[Int], Int, Int) = {
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16 || frames <= 0 || frames > maxFrames) {
          null
        } else {
          val ch = fmt.getChannels
          val nL = frames * ch
          if (nL <= 0 || nL > Int.MaxValue / 2) null
          else {
            val n = nL.toInt
            val data = ais.readAllBytes()
            if (data.length < n * 2) null
            else {
              val hiOff = if (fmt.isBigEndian) 0 else 1
              val out = new Array[Int](n)
              var i = 0
              while (i < n) {
                val u = ((data(2 * i + hiOff) & 0xff) << 8) |
                  (data(2 * i + (1 - hiOff)) & 0xff)
                out(i) = if (u >= 0x8000) u - 0x10000 else u
                i += 1
              }
              (out, frames.toInt, ch)
            }
          }
        }
      } finally ais.close()
    } catch {
      case _: java.io.IOException |
           _: javax.sound.sampled.UnsupportedAudioFileException |
           _: RuntimeException => null
    }
  }

  /** 64-bit fingerprint of interleaved samples per the recipe above;
    * null (no hash is honest) for clips shorter than [[Segments]]
    * frames. */
  private def fp64(samples: Array[Int], frames: Int, channels: Int): java.lang.Long = {
    if (frames < Segments) return null
    val mono = new Array[Long](frames)
    var t = 0
    while (t < frames) {
      var s = 0L
      var c = 0
      while (c < channels) { s += samples(t * channels + c); c += 1 }
      mono(t) = s
      t += 1
    }
    val e = new Array[Long](Segments)
    val z = new Array[Long](Segments)
    var k = 0
    while (k < Segments) {
      val t0 = (k.toLong * frames / Segments).toInt
      val t1 = ((k + 1).toLong * frames / Segments).toInt
      var es = 0L
      var zs = 0L
      var i = t0
      while (i < t1) {
        es += math.abs(mono(i))
        zs += math.abs(if (i == 0) mono(0) else mono(i) - mono(i - 1))
        i += 1
      }
      e(k) = es
      z(k) = zs
      k += 1
    }
    var bits = 0L
    var i = 0
    while (i < Segments - 1) {
      if (e(i + 1) > e(i)) bits |= 1L << i
      if (z(i + 1) > z(i)) bits |= 1L << (32 + i)
      i += 1
    }
    java.lang.Long.valueOf(bits)
  }

  /** Decode + fingerprint in one call — the expression's eval target. */
  def fingerprint(bytes: Array[Byte], maxFrames: Long): java.lang.Long = {
    val pcm = readPcm(bytes, maxFrames)
    if (pcm == null) null else fp64(pcm._1, pcm._2, pcm._3)
  }
}
