package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered layout: interleave the bits of two
  * dimension columns and range-partition + sort the write on the resulting
  * z-value, so every output file covers a small contiguous curve segment —
  * i.e. a narrow min/max BOX in BOTH dimensions at once. Parquet readers
  * then skip files/row groups on either dimension's predicate from the
  * ordinary column statistics: multi-dimensional data skipping with zero
  * reader-side cooperation, the lakehouse layout move for 100 TB tables
  * queried by more than one key (a plain sort clusters one dimension and
  * scatters the other; hive partitioning only fits low-cardinality
  * columns).
  *
  * Everything here is built-in column ops — the bit-spread is 12 shift/
  * mask expressions, fully inside whole-stage codegen, no UDF and no
  * custom Expression needed.
  */
object ZOrder {

  /** Bit-spread: place the low 31 bits of `x` at even positions 0,2,..,60
    * (the standard parallel-prefix Morton spread, e.g. Interleave() in
    * graphics literature). */
  private def spread(x: Column): Column = {
    var v = x.bitwiseAND(lit(0x7FFFFFFFL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
    v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** The 62-bit Morton code of two dimensions: bit i of `a` lands at
    * position 2i, bit i of `b` at 2i+1, so longs compare in curve order
    * (always non-negative — signed ordering is safe).
    *
    * CONTRACT: inputs are cast to long and their low 31 bits are used;
    * callers with negative, fractional or >2^31 domains must pre-scale
    * (quantize prices to cents, days since epoch, etc.). Locality follows
    * bit distance, so dimensions should be roughly uniformly spread over
    * their range for balanced curve segments — ranks or quantile codes
    * beat raw heavy-tailed values. */
  def zvalue2(a: Column, b: Column): Column =
    spread(a.cast("long")).bitwiseOR(shiftleft(spread(b.cast("long")), 1))

  /** Bit-spread for 3 dims: low 21 bits of `x` at positions 0,3,..,60
    * (the standard 3-D Morton magic-mask sequence). */
  private def spread3(x: Column): Column = {
    var v = x.bitwiseAND(lit(0x1FFFFFL))
    v = v.bitwiseOR(shiftleft(v, 32)).bitwiseAND(lit(0x001F00000000FFFFL))
    v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x001F0000FF0000FFL))
    v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
    v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
    v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** The 63-bit Morton code of THREE dimensions — bit i of `a` at 3i, of
    * `b` at 3i+1, of `c` at 3i+2 (non-negative, signed ordering safe).
    * Lakehouse tables typically cluster on a (source, time, length)-shaped
    * triple; two dims leave the third scattered across every file.
    *
    * CONTRACT: low 21 bits per dim (2^21 = 2M distinct codes). Same
    * pre-scaling rules as [[zvalue2]]: quantize/rank first, negatives and
    * >2^21 domains are the caller's to fold in. */
  def zvalue3(a: Column, b: Column, c: Column): Column =
    spread3(a.cast("long"))
      .bitwiseOR(shiftleft(spread3(b.cast("long")), 1))
      .bitwiseOR(shiftleft(spread3(c.cast("long")), 2))

  /** Write `df` as parquet clustered on the z-curve of (dimA, dimB):
    * range-partition into `nFiles` curve segments, sort each segment, drop
    * the helper column. One shuffle (the range exchange, with its sampling
    * pass) — the same cost as any global sort-for-layout write; the
    * payoff is every subsequent box-query read. */
  def writeZOrdered(df: DataFrame, path: String, dimA: Column, dimB: Column,
                    nFiles: Int): Unit =
    writeByCurve(df, path, zvalue2(dimA, dimB), nFiles)

  /** Three-dimension variant: files cover narrow min/max boxes in ALL
    * three dims; any one- or two-dim predicate still prunes from ordinary
    * parquet stats. */
  def writeZOrdered3(df: DataFrame, path: String, dimA: Column, dimB: Column,
                     dimC: Column, nFiles: Int): Unit =
    writeByCurve(df, path, zvalue3(dimA, dimB, dimC), nFiles)

  private def writeByCurve(df: DataFrame, path: String, z: Column,
                           nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
