package graft.api

import graft.core.FxHash

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnShim, DecodeMedia, MediaDecoder}
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media travel as opaque `binary` columns with a
  * typed metadata struct; decode/feature-extraction runs as a Catalyst
  * expression ([[org.apache.spark.sql.graft.DecodeMedia]]) so the whole pass
  * stays inside WholeStageCodegen — no RDD drop-out, no Row conversion per
  * payload. The decoder is an injected [[MediaDecoder]]: a real codec
  * implementation (image/audio libs are not in this container) replaces only
  * the decoder object, holding its native contexts in `@transient lazy val`s
  * for per-executor-JVM lazy init; schema, plan shape, and the driver queries
  * don't change.
  *
  * The default [[StubDecoder]] is deterministic: byte-level stats + an
  * FxHash64 checksum + fake dimensions parsed from the first bytes, so tests
  * and oracles can pin outputs while the Spark-side shape (binary columns,
  * codegen'd decode, feature schema) is the real production shape.
  */
object Multimodal {

  /** Schema of a media column: payload + sidecar metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Deterministic stand-in for a media decoder (no codec libraries in this
    * container — the "???" of the exercise). A real implementation supplies
    * its own [[MediaDecoder]]; only the decoder object changes. */
  object StubDecoder extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Long, Int, Int, Double) = {
      var h = 0L
      var sum = 0L
      var i = 0
      while (i < bytes.length) {
        h = FxHash.add(h, bytes(i).toLong & 0xffL)
        sum += bytes(i).toLong & 0xffL
        i += 1
      }
      val width = if (bytes.length >= 2) ((bytes(0) & 0xff) << 8 | (bytes(1) & 0xff)) else 0
      val height = if (bytes.length >= 4) ((bytes(2) & 0xff) << 8 | (bytes(3) & 0xff)) else 0
      val mean = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length
      (h, width, height, mean)
    }
  }

  /** A REAL image decoder on `javax.imageio` (public JDK surface — no
    * external codec libraries needed): decodes PNG/JPEG/GIF/BMP payloads
    * and emits pixel-derived features, so the [[DecodeMedia]] seam carries
    * an actual codec, not just the stub. Features are defined off the
    * decoded raster, never the container bytes (two encoders producing
    * different PNG byte streams of the same pixels get identical features):
    *  - checksum: FxHash64 chain over (r, g, b) of every pixel, row-major;
    *  - width/height: raster dims;
    *  - mean_byte: mean of all RGB channel values (sum/count — exact
    *    integer arithmetic until one final division, so bit-reproducible).
    * Undecodable payloads (ImageIO finds no reader, or the stream is
    * corrupt) map to the deterministic sentinel (0L, -1, -1, -1.0) rather
    * than throwing — a poisoned row must not kill a 100 TB scan, and -1
    * dims are distinguishable from every real image. `ImageIO.read`
    * allocates a fresh reader per call, so the object is executor-thread
    * safe with no shared native context. */
  class ImageIoDecoder(val maxPixels: Long) extends MediaDecoder {
    // ImageIO's default useCache=true spools every InputStream decode
    // through a temp FILE — one create/write/delete per row on a scan hot
    // path, for payloads already in memory. Disable once per JVM (lazy val:
    // runs on first decode in each executor).
    @transient private lazy val inMemoryIo: Unit =
      javax.imageio.ImageIO.setUseCache(false)

    private val sentinel = (0L, -1, -1, -1.0)

    // Header-only dimension read, then a bounded full decode. A
    // few-hundred-byte payload can DECLARE a 60000×60000 raster; decoding it
    // allocates ~14 GB and dies with OutOfMemoryError — which the
    // decode-failure catch must not swallow (a real heap exhaustion
    // elsewhere would be masked), so the guard has to fire BEFORE pixel
    // decode. ImageReader.getWidth/getHeight parse only the header.
    def decode(bytes: Array[Byte]): (Long, Int, Int, Double) = {
      inMemoryIo
      // guarded read shared with the perceptual-hash expression —
      // graft.core.ImageHash.readImage is the single owner of the
      // header-probe-before-pixel-decode logic described above
      val img = graft.core.ImageHash.readImage(bytes, maxPixels)
      if (img == null) sentinel
      else {
        val w = img.getWidth
        val h = img.getHeight
        var chk = 0L
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            chk = FxHash.add(FxHash.add(FxHash.add(chk, r), g), b)
            sum += r + g + b
            x += 1
          }
          y += 1
        }
        (chk, w, h, sum.toDouble / (w.toLong * h * 3))
      }
    }
  }

  /** Default instance: 64 MP cap (~256 MB of INT_RGB raster — far above any
    * legitimate thumbnail/feature payload, far below executor-killing). */
  object ImageIoDecoder extends ImageIoDecoder(64L * 1024 * 1024)

  /** Deterministic PNG fixtures for gating [[ImageIoDecoder]]: `n` images
    * whose dims vary with id (16+id%9 × 16+id%7) and whose pixel channel
    * bytes are `FxHash(add(add(add(add(0,id),x),y),c)) & 0xff` — a recipe an
    * independent re-derivation can compute WITHOUT any PNG machinery. The
    * PNG encode runs once on the driver (n tiny images — a fixture, not a
    * data path); the decode runs distributed through [[DecodeMedia]].
    * Because PNG is lossless and these images carry no ICC profile, the
    * decoded raster must equal the recipe exactly. */
  def syntheticPngs(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { m =>
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(recipeRaster(m), "png", out)
      (m.toLong, out.toByteArray)
    }
    import spark.implicits._
    rows.toDF("media_id", "bytes")
  }

  /** The shared deterministic raster recipe behind [[syntheticPngs]] and
    * [[syntheticJpegs]]: dims 16+id%9 × 16+id%7, channel byte =
    * `FxHash(add(add(add(add(0,id),x),y),c)) & 0xff`. */
  private def recipeRaster(m: Int): java.awt.image.BufferedImage = {
    val w = 16 + m % 9
    val h = 16 + m % 7
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      def ch(c: Int): Int =
        (FxHash.add(FxHash.add(FxHash.add(FxHash.add(0L, m.toLong), x.toLong), y.toLong), c.toLong) & 0xffL).toInt
      img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
    }
    img
  }

  /** A REAL audio decoder on `javax.sound.sampled` (public JDK, like
    * [[ImageIoDecoder]]'s `javax.imageio`): 16-bit signed PCM WAV through
    * the same [[MediaDecoder]] seam, so the audio modality carries an
    * actual codec too. The fixed 4-tuple maps to audio as
    * (checksum, n_frames, channels, mean_abs):
    *  - checksum: FxHash64 chain over the unsigned-16 sample values in
    *    stream order (frame-major, channels interleaved) — defined off the
    *    DECODED samples, never the container bytes, so any correct WAV
    *    writer of the same PCM yields the same value;
    *  - n_frames / channels: the duration and layout facts;
    *  - mean_abs: mean |sample| (integer sums, one final division — the
    *    bit-reproducible amplitude proxy).
    * Sample rate doesn't fit the 4-wide contract and belongs in the media
    * `meta` sidecar. Non-PCM/non-16-bit encodings, frame counts past
    * `maxFrames`, truncated data, and unparseable containers all map to
    * the deterministic sentinel (0L, -1, -1, -1.0) — same
    * poisoned-row-must-not-kill-the-scan rule as images.
    * `AudioSystem.getAudioInputStream` allocates per call: executor-thread
    * safe, no shared native context. */
  class WavDecoder(val maxFrames: Long) extends MediaDecoder {
    private val sentinel = (0L, -1, -1, -1.0)

    def decode(bytes: Array[Byte]): (Long, Int, Int, Double) = {
      // guarded decode owned by graft.core.AudioFingerprint.readPcm (the
      // single owner of the WAV guard rails, shared with the audio_fp
      // expression — the ImageHash.readImage ownership pattern); the
      // checksum runs over the UNSIGNED 16-bit values in stream order,
      // which `s & 0xffff` recovers exactly from the signed samples
      val pcm = graft.core.AudioFingerprint.readPcm(bytes, maxFrames)
      if (pcm == null) sentinel
      else {
        val (samples, frames, ch) = pcm
        var chk = 0L
        var sumAbs = 0L
        var i = 0
        while (i < samples.length) {
          val s = samples(i)
          chk = FxHash.add(chk, (s & 0xffff).toLong)
          sumAbs += math.abs(s)
          i += 1
        }
        (chk, frames, ch, sumAbs.toDouble / samples.length)
      }
    }
  }

  /** Default instance: cap at one hour of 48 kHz frames (~700 MB of stereo
    * PCM — far above any feature-extraction payload). */
  object WavDecoder extends WavDecoder(48000L * 3600)

  /** Deterministic WAV fixtures for gating [[WavDecoder]] — the audio
    * analog of [[syntheticPngs]]: id `m` gets `1 + m%2` channels and
    * `400 + (m%5)·37` frames at `8000 + 1000·(m%3)` Hz, and interleaved
    * sample k is the unsigned 16-bit value `FxHash(add(add(0,m),k)) &
    * 0xffff` — re-derivable with no WAV machinery. PCM is lossless, so the
    * encode→decode roundtrip must reproduce the samples exactly. */
  def syntheticWavs(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { m =>
      val channels = 1 + m % 2
      val frames = 400 + (m % 5) * 37
      val rate = 8000f + 1000f * (m % 3)
      val pcm = new Array[Byte](frames * channels * 2)
      var k = 0
      while (k < frames * channels) {
        val u = (FxHash.add(FxHash.add(0L, m.toLong), k.toLong) & 0xffffL).toInt
        pcm(2 * k) = (u & 0xff).toByte        // little-endian: low byte first
        pcm(2 * k + 1) = ((u >> 8) & 0xff).toByte
        k += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
        true /* signed */, false /* little-endian */)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      (m.toLong, out.toByteArray)
    }
    import spark.implicits._
    rows.toDF("media_id", "bytes")
  }

  /** WAV fixture for the perceptual audio-dedup gate: the
    * [[syntheticWavs]] originals (ids 0..n−1) plus NEAR twins for every
    * id ≡ 0 (mod 3) — id 100+m, the same sample stream with every
    * sample in the FIRST fingerprint segment (frame t < ⌊F/33⌋, all
    * channels) shifted by +9973 (mod 2¹⁶): a decisive local edit whose
    * fingerprint damage is CONFINED to E(0) and Z(0)/Z(1), i.e. at most
    * bits {0, 32, 33} (Hamming ≤ 3, bands 1 and 3 untouched), so the
    * pigeonhole guarantee finds every twin — plus byte-identical EXACT
    * twins for every id ≡ 0 (mod 5) — id 200+m, the same WAV bytes
    * under a new id (distance 0 — the commonest real dup). All sample
    * values derive from the recipe, so the Python oracle recomputes
    * every fingerprint with no audio libraries. */
  def syntheticWavTwins(spark: org.apache.spark.sql.SparkSession,
                        n: Int): DataFrame = {
    def wav(m: Int, perturbFirstSeg: Boolean): Array[Byte] = {
      val channels = 1 + m % 2
      val frames = 400 + (m % 5) * 37
      val segEnd = frames / graft.core.AudioFingerprint.Segments
      val pcm = new Array[Byte](frames * channels * 2)
      var k = 0
      while (k < frames * channels) {
        val base = (FxHash.add(FxHash.add(0L, m.toLong), k.toLong) & 0xffffL).toInt
        val u = if (perturbFirstSeg && k / channels < segEnd)
          (base + 9973) & 0xffff else base
        pcm(2 * k) = (u & 0xff).toByte
        pcm(2 * k + 1) = ((u >> 8) & 0xff).toByte
        k += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f + 1000f * (m % 3),
        16, channels, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val rows =
      (0 until n).map(m => (m.toLong, wav(m, perturbFirstSeg = false))) ++
        (0 until n).filter(_ % 3 == 0)
          .map(m => ((100 + m).toLong, wav(m, perturbFirstSeg = true))) ++
        (0 until n).filter(_ % 5 == 0)
          .map(m => ((200 + m).toLong, wav(m, perturbFirstSeg = false)))
    import spark.implicits._
    rows.toDF("media_id", "bytes")
  }

  /** JPEG fixtures for the SECOND [[ImageIoDecoder]] codec path — same
    * pixel recipe as [[syntheticPngs]], encoded lossy at quality 0.95. JPEG
    * cannot be gated bit-exact (its decoded raster is codec-defined, not
    * recipe-defined), so each row also carries the pre-encode raster's
    * `recipe_mean`: the gate pins dims EXACTLY (JPEG preserves them) and
    * the decoded mean byte to within a small tolerance of the recipe mean
    * — a garbage decode (wrong reader, wrong color space, truncated
    * raster) lands far outside it, while codec-legal quantization noise
    * stays well inside. */
  def syntheticJpegs(spark: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
    val rows = (0 until n).map { m =>
      val img = recipeRaster(m)
      var sum = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      val recipeMean = sum.toDouble / (img.getWidth.toLong * img.getHeight * 3)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.95f)
      val out = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      } finally {
        writer.dispose()
        ios.close()
      }
      (m.toLong, out.toByteArray, recipeMean)
    }
    import spark.implicits._
    rows.toDF("media_id", "bytes", "recipe_mean")
  }

  /** image_dhash/image_ahash(bytes) as a Column: 64-bit perceptual hash
    * over the decoded raster, NULL for undecodable / over-cap / narrower-
    * than-grid payloads ([[graft.core.ImageHash]] for the pinned spec). */
  private[api] def imageHash(bytes: Column, kind: String = "dhash"): Column =
    ColumnShim.column(org.apache.spark.sql.graft.ImageHash64(
      ColumnShim.expression(bytes), kind))

  /** Perceptual image near-dup pairs — the image-side analog of the text
    * near-dup family: hash every image ONCE (the decode is the per-row
    * cost; it runs before the banding exchange and never again), block
    * with the one banded-Hamming pairing [[Dedup.simhashDupPairs]] also
    * runs (64-bit dHash in `bands` chunks; Hamming ≤ bands-1 guarantees
    * a chunk match), verify candidates with exact Hamming over the two
    * longs. Never all-pairs:
    * candidate volume is bounded by chunk-collision degree, ids+hashes
    * only cross the exchange, and payload bytes never shuffle. Output
    * `(id_a, id_b, hamming)` with id_a < id_b, hamming ≤ `maxHamming`;
    * un-hashable images (NULL hash) silently can't pair — dedup over
    * junk is not meaningful. */
  def imageNearDupPairs(media: DataFrame, idCol: String, bytesCol: String,
                        bands: Int = 4, maxHamming: Int = 10): DataFrame =
    Dedup.hammingPairs(media.select(col(idCol).as("id"),
      imageHash(col(bytesCol), "dhash").as("h")), bands, maxHamming)

  /** Perceptual audio near-dup pairs — [[imageNearDupPairs]] with the
    * clip fingerprint ([[graft.core.AudioFingerprint]]) in place of the
    * raster hash: decode + fingerprint each clip ONCE before the banding
    * exchange, block with the pigeonhole rule, verify with exact
    * Hamming. Same scale posture: ids+hashes only cross the exchange,
    * payload bytes never shuffle, un-hashable clips can't pair. */
  def audioNearDupPairs(media: DataFrame, idCol: String, bytesCol: String,
                        bands: Int = 4, maxHamming: Int = 6): DataFrame =
    Dedup.hammingPairs(media.select(col(idCol).as("id"),
      graft.functions.audio_fp(col(bytesCol)).as("h")), bands, maxHamming)

  /** PNG fixture for the perceptual-dedup gate: the [[syntheticPngs]]
    * originals (ids 0..n-1) plus NEAR twins for every id ≡ 0 (mod 3) —
    * id 100+m, the same raster with its 4×4 top-left corner's channel
    * bytes shifted by +64 (mod 256): a decisive few-cell luma change
    * whose dHash damage is CONFINED to grid rows 0-1 × cols 0-3, i.e.
    * to band 0, so the pigeonhole guarantee finds every twin — plus
    * EXACT re-encodes for every id ≡ 0 (mod 5) — id 200+m, the
    * identical raster encoded again (hash identity must be pixel-
    * defined, distance 0). All pixel values derive from the recipe, so
    * the Python oracle recomputes every hash with no image libraries. */
  def syntheticPngTwins(spark: org.apache.spark.sql.SparkSession,
                        n: Int): DataFrame = {
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rows =
      (0 until n).map(m => (m.toLong, png(recipeRaster(m)))) ++
        (0 until n).filter(_ % 3 == 0).map { m =>
          val img = recipeRaster(m)
          for (y <- 0 until math.min(4, img.getHeight);
               x <- 0 until math.min(4, img.getWidth)) {
            val rgb = img.getRGB(x, y)
            def sh(v: Int): Int = (v + 64) & 0xff
            img.setRGB(x, y, (sh((rgb >> 16) & 0xff) << 16) |
              (sh((rgb >> 8) & 0xff) << 8) | sh(rgb & 0xff))
          }
          ((100 + m).toLong, png(img))
        } ++
        (0 until n).filter(_ % 5 == 0)
          .map(m => ((200 + m).toLong, png(recipeRaster(m))))
    import spark.implicits._
    rows.toDF("media_id", "bytes")
  }

  /** decode_media(bytes) as a Column: struct(checksum, width, height,
    * mean_byte), NULL payload → NULL struct. */
  private def decodeMedia(bytes: Column, decoder: MediaDecoder = StubDecoder): Column =
    ColumnShim.column(DecodeMedia(ColumnShim.expression(bytes), decoder))

  /** Feature extraction as one codegen'd projection: a single decode per row
    * (downstream field reads are GetStructFields over the shared call —
    * subexpression-eliminated), evaluated inside the scan's codegen stage. */
  def extractFeatures(media: DataFrame, decoder: MediaDecoder = StubDecoder): DataFrame =
    media.select(col("media_id"), col("bytes"),
        decodeMedia(col("bytes"), decoder).as("f"))
      .select(col("media_id"),
        when(col("bytes").isNotNull, length(col("bytes")).cast("long")).as("size_bytes"),
        col("f.checksum").as("checksum"),
        col("f.width").as("width"),
        col("f.height").as("height"),
        col("f.mean_byte").as("mean_byte"))

  /** Resize/thumbnail stub: decode (injected decoder) + aspect-preserving
    * target dims against `maxDim` (integer arithmetic — reproducible
    * anywhere) + a deterministic fake thumbnail (the leading out_w-byte
    * slice; a real implementation swaps the decoder and replaces the slice
    * with an encode expression — row shape stays). Dims of 0 (payload too
    * short for the stub header) pass through with an empty thumb. All
    * built-ins over one decode struct: the whole thing is a single
    * codegen'd projection, like [[extractFeatures]]. Output:
    * (media_id, width, height, out_w, out_h, thumb_bytes). */
  def resizeStub(media: DataFrame, maxDim: Int,
                 decoder: MediaDecoder = StubDecoder): DataFrame = {
    require(maxDim > 0, s"maxDim must be positive, got $maxDim")
    val w = col("f.width")
    val h = col("f.height")
    // integer scaling exactly as a native resizer would: long side → maxDim,
    // short side → floor(short * maxDim / long)
    val outW = when(w <= maxDim && h <= maxDim, w)
      .otherwise(when(w >= h, lit(maxDim))
        .otherwise((w.cast("long") * maxDim / h).cast("int")))
    val outH = when(w <= maxDim && h <= maxDim, h)
      .otherwise(when(w >= h, (h.cast("long") * maxDim / w).cast("int"))
        .otherwise(lit(maxDim)))
    // the isNotNull guards keep NULL payloads all-NULL: a CASE chain's
    // `otherwise` would otherwise turn a NULL condition into the literal
    // fallback (out_h = maxDim for a NULL payload)
    val live = col("bytes").isNotNull
    media.select(col("media_id"), col("bytes"),
        decodeMedia(col("bytes"), decoder).as("f"))
      .select(col("media_id"), col("bytes"),
        w.as("width"), h.as("height"),
        when(live, outW).as("out_w"), when(live, outH).as("out_h"))
      // substr on BinaryType is the byte slice [0, out_w) — clamps to the
      // payload length by itself, and out_w = 0 yields the empty array
      .select(col("media_id"), col("width"), col("height"),
        col("out_w"), col("out_h"),
        col("bytes").substr(lit(1), col("out_w")).as("thumb_bytes"))
  }

  /** Frame sampling for a (fake) video payload: every `stride`-th 16-byte
    * block becomes one "frame" row — demonstrates the explode-with-ordinal
    * shape a real frame sampler produces. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    media.select(col("media_id"), col("bytes"),
        explode(sequence(lit(0L),
          floor((length(col("bytes")) - 1).cast("double") / (16 * stride)).cast("long"))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        substring(col("bytes"), (col("frame_idx") * (16 * stride) + 1).cast("int"), lit(16)).as("frame_bytes"))
  }

  /** The `curate_web` analog for (media, caption) rows — the composed
    * recipe a paired image/audio-caption corpus runs before training:
    *
    *  1. caption rules, per-row and integer-exact: a non-null caption
    *     with at least 4 whitespace tokens and at most 200 chars
    *     (alt-text stubs — "thumbnail", file
    *     names — are the dominant junk class in paired corpora);
    *  2. caption EXACT dedup, first-come GLOBALLY (template alt-text
    *     repeats across pages and modalities): min id per caption
    *     string wins;
    *  3. perceptual media near-dup per modality —
    *     [[imageNearDupPairs]] over `kind = "image"` rows (4 bands,
    *     Hamming ≤ 10), [[audioNearDupPairs]] over `kind = "audio"` rows
    *     (4 bands, Hamming ≤ 6), both on the stage-2 survivors — then the GREEDY keep-earliest rule: any
    *     clip with a verified near-dup of smaller id drops. Greedy is
    *     the stated contract, not transitive closure: with A~B and B~C
    *     (but not A~C), B and C both drop even though C's only partner
    *     was itself dropped — deterministic and one anti-join; callers
    *     needing component-exact survivors can union-find the exposed
    *     pair frames instead.
    *
    * Scale: stage 1 is map-only; captions and ids cross the dedup
    * exchanges, payload bytes never shuffle (each pair operator hashes
    * before its banding exchange). Output: the surviving rows, input
    * schema unchanged. */
  def curateMultimodal(media: DataFrame, idCol: String = "media_id",
                       kindCol: String = "kind", bytesCol: String = "bytes",
                       captionCol: String = "caption"): DataFrame = {
    val s1 = media.filter(col(captionCol).isNotNull &&
      size(split(trim(col(captionCol)), "\\s+")) >= 4 &&
      length(col(captionCol)) <= 200)
    val capWinner = s1.groupBy(col(captionCol))
      .agg(min(col(idCol)).as("__cap_keep"))
    val s2 = s1.join(capWinner, Seq(captionCol))
      .filter(col(idCol) === col("__cap_keep")).drop("__cap_keep")
    val imgDrops = imageNearDupPairs(s2.filter(col(kindCol) === "image"),
        idCol, bytesCol, 4, 10)
      .select(col("id_b").as(idCol))
    val audDrops = audioNearDupPairs(s2.filter(col(kindCol) === "audio"),
        idCol, bytesCol, 4, 6)
      .select(col("id_b").as(idCol))
    s2.join(imgDrops.unionByName(audDrops).distinct(), Seq(idCol), "left_anti")
  }
}
