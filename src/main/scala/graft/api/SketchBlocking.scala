package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared pigeonhole blocking layout for 64-bit sketches: split a sketch
  * into `bands` equal bit-chunks; rows sharing any (band, chunk) pair are
  * candidates. Used by SimHash (Hamming) and cosine sign-sketch pair mining
  * and by the streaming embedding blocker — one implementation so fixes
  * reach every family. */
private[graft] object SketchBlocking {

  /** All-ones mask for a `width`-bit chunk. Scala shifts are mod 64, so the
    * naive `(1L << width) - 1` at width = 64 (bands = 1) is 0 — which would
    * send every row to chunk 0, i.e. ONE bucket and a quadratic all-pairs
    * join (correct output, catastrophic cost). */
  def chunkMask(width: Int): Long =
    if (width == 64) -1L else (1L << width) - 1L

  /** The sketch's `bands` equal bit-chunks as an array column — posexplode
    * to (band, chunk) rows. `nbits` is the sketch's populated low bits
    * (64 for SimHash; cosine sketches may use fewer). */
  def chunks(sketch: Column, bands: Int, nbits: Int = 64): Column = {
    require(bands >= 1 && nbits % bands == 0,
      s"bands must divide nbits, got nbits=$nbits bands=$bands")
    val width = nbits / bands
    array((0 until bands).map(b =>
      shiftrightunsigned(sketch, b * width).bitwiseAND(lit(chunkMask(width)))): _*)
  }

  /** `keep` plus one `(band, chunk)` row per band of the sketch column
    * `sketch`. It must name an already-projected column, not a kernel
    * call: [[chunks]] reads its argument once per band. A NULL sketch
    * explodes to no rows. */
  def bandRows(rows: DataFrame, keep: Seq[Column], sketch: String, bands: Int,
               nbits: Int): DataFrame =
    rows.select(keep :+ posexplode(chunks(col(sketch), bands, nbits)).as(Seq("band", "chunk")): _*)
}
