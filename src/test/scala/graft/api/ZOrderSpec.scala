package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ZOrder]]: the Morton code against a bit-by-bit reference
  * interleave, curve-order locality, and the actual point of the layout —
  * a 2-D box query over the z-clustered files must touch measurably fewer
  * files than the same query over a hash-partitioned layout, using nothing
  * but parquet min/max stats.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Reference interleave: bit i of a -> 2i, bit i of b -> 2i+1. */
  private def mortonRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zvalue2 equals the bit-by-bit reference interleave") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), ((1L << 31) - 1, (1L << 31) - 1)) ++
      (0 until 200).map(_ => (rng.nextLong().abs & 0x7FFFFFFFL, rng.nextLong().abs & 0x7FFFFFFFL))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zvalue2(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, z) =>
      assert(z == mortonRef(a, b), s"($a, $b): got $z, want ${mortonRef(a, b)}")
      assert(z >= 0, "62-bit code must stay non-negative under signed ordering")
    }
    // bits above 31 are masked off, not allowed to corrupt neighbours
    val masked = Seq(((1L << 33) | 5L, 3L)).toDF("a", "b")
      .select(ZOrder.zvalue2(col("a"), col("b"))).head().getLong(0)
    assert(masked == mortonRef(5L, 3L))
  }

  test("a 2-D box query prunes z-ordered files far below a hash layout") {
    import spark.implicits._
    // 40k points uniform on [0,512)^2, 32 files each layout
    val rng = new scala.util.Random(17)
    val pts = (0 until 40000).map(i =>
      (i.toLong, rng.nextInt(512).toLong, rng.nextInt(512).toLong))
    val df = pts.toDF("id", "x", "y")
    val tmp = sys.props("java.io.tmpdir")
    val zPath = s"$tmp/graft_zorder_spec_z"
    val hPath = s"$tmp/graft_zorder_spec_h"
    ZOrder.writeZOrdered(df, zPath, col("x"), col("y"), nFiles = 32)
    df.repartition(32, col("id")).write.mode("overwrite").parquet(hPath)

    def filesTouched(path: String): (Long, Long) = {
      val box = spark.read.parquet(path)
        .filter(col("x").between(100, 163) && col("y").between(200, 263))
      val files = box.select(input_file_name()).distinct().count()
      (files, box.count())
    }
    val (zFiles, zRows) = filesTouched(zPath)
    val (hFiles, hRows) = filesTouched(hPath)
    assert(zRows == hRows, "layouts must return identical row sets")
    // the box is (64/512)^2 = 1.6% of the plane: hash scatters its rows
    // over every file; the curve confines them to a handful of segments.
    // (input_file_name counts files with MATCHING rows — the reader-side
    // stats skip at least the files that can't match, so fewer matching
    // files is exactly what min/max pruning converts into skipped I/O.)
    assert(hFiles >= 28, s"hash layout should scatter the box, touched $hFiles")
    assert(zFiles <= 8, s"z layout should confine the box, touched $zFiles")
  }

  /** Reference interleave for 3 dims: bit i of a -> 3i, b -> 3i+1, c -> 3i+2. */
  private def mortonRef3(a: Long, b: Long, c: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 21) {
      z |= ((a >> i) & 1L) << (3 * i)
      z |= ((b >> i) & 1L) << (3 * i + 1)
      z |= ((c >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    z
  }

  test("zvalue3 equals the bit-by-bit reference interleave") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val m21 = (1L << 21) - 1
    val triples = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (m21, m21, m21)) ++
      (0 until 200).map(_ => (rng.nextLong().abs & m21, rng.nextLong().abs & m21,
        rng.nextLong().abs & m21))
    val got = triples.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        ZOrder.zvalue3(col("a"), col("b"), col("c")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.foreach { case (a, b, c, z) =>
      assert(z == mortonRef3(a, b, c), s"($a, $b, $c): got $z, want ${mortonRef3(a, b, c)}")
      assert(z >= 0, "63-bit code must stay non-negative under signed ordering")
    }
    // bits above 21 are masked off per dim
    val masked = Seq(((1L << 22) | 5L, (1L << 30) | 3L, 2L)).toDF("a", "b", "c")
      .select(ZOrder.zvalue3(col("a"), col("b"), col("c"))).head().getLong(0)
    assert(masked == mortonRef3(5L, 3L, 2L))
  }

  test("a 3-D box query prunes z3-ordered files far below a hash layout") {
    import spark.implicits._
    // 40k points uniform on [0,64)^3, 32 files each layout
    val rng = new scala.util.Random(29)
    val pts = (0 until 40000).map(i =>
      (i.toLong, rng.nextInt(64).toLong, rng.nextInt(64).toLong, rng.nextInt(64).toLong))
    val df = pts.toDF("id", "x", "y", "t")
    val tmp = sys.props("java.io.tmpdir")
    val zPath = s"$tmp/graft_zorder3_spec_z"
    val hPath = s"$tmp/graft_zorder3_spec_h"
    ZOrder.writeZOrdered3(df, zPath, col("x"), col("y"), col("t"), nFiles = 32)
    df.repartition(32, col("id")).write.mode("overwrite").parquet(hPath)

    def filesTouched(path: String): (Long, Long) = {
      // box = top octant-of-octant on each dim: 1/8 per dim -> 0.2% volume
      val box = spark.read.parquet(path)
        .filter(col("x").between(16, 23) && col("y").between(32, 39) &&
          col("t").between(8, 15))
      (box.select(input_file_name()).distinct().count(), box.count())
    }
    val (zFiles, zRows) = filesTouched(zPath)
    val (hFiles, hRows) = filesTouched(hPath)
    assert(zRows == hRows, "layouts must return identical row sets")
    assert(hFiles >= 28, s"hash layout should scatter the box, touched $hFiles")
    assert(zFiles <= 8, s"z3 layout should confine the box, touched $zFiles")
  }

  test("within a file, rows are in non-decreasing z order (curve locality)") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val pts = (0 until 5000).map(i =>
      (i.toLong, rng.nextInt(256).toLong, rng.nextInt(256).toLong))
    val path = s"${sys.props("java.io.tmpdir")}/graft_zorder_spec_sorted"
    ZOrder.writeZOrdered(pts.toDF("id", "x", "y"), path, col("x"), col("y"), nFiles = 8)
    val perFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), ZOrder.zvalue2(col("x"), col("y")).as("z"))
      .groupBy("f")
      .agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    // range partitioning: file z-ranges must not interleave
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2,
        s"file z-ranges overlap: $perFile")
      case _ =>
    }
  }
}
