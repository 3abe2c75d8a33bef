package perfbench

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.{EuclideanFamily, MinHashFamily, Shingles}

/** Layer rows measured outside the workload's passes: the `graft.core`
  * kernels with no Spark involved (one thread), and each reference
  * expression alone in a projection (executor CPU per row). Both run on the
  * workload's own generated inputs. */
object Micro {
  @volatile private var sink = 0L

  private def consume(x: Any): Unit = x match {
    case a: Array[Long] => sink += a(0)
    case d: Double => sink += java.lang.Double.doubleToRawLongBits(d)
    case o => sink += System.identityHashCode(o)
  }

  /** Median over `reps` rounds of the nanoseconds per item; each round
    * loops over `items` until at least `minMs` have passed, after an
    * untimed round of 500 ms that lets the JIT compile the kernel. */
  def nsPer[T](items: Array[T], reps: Int = 5, minMs: Double = 150)(f: T => Any): Double = {
    val rounds = (0 until reps + 1).map { round =>
      val ms = if (round == 0) 500 else minMs
      var n = 0L
      val t0 = System.nanoTime()
      var elapsed = 0L
      while (elapsed < ms * 1e6) {
        var i = 0
        while (i < items.length) { consume(f(items(i))); i += 1 }
        n += items.length
        elapsed = System.nanoTime() - t0
      }
      elapsed.toDouble / n
    }.drop(1)
    rounds.sorted.apply(reps / 2)
  }

  def core(w: Workload, seed: Long): Map[String, Double] = {
    val texts = w.texts.take(2000)
    val pairs = w.pairs.take(2000)
    val vecs = w.vectors.take(500)
    val sets = texts.map(Shingles.fromText(_, Lsh.W))
    val family = MinHashFamily(Lsh.Bands, Lsh.BandSize, seed)
    val sortedPairs = pairs.map(p => (Lsh.sorted(p._1, w.pairWidth), Lsh.sorted(p._2, w.pairWidth)))
    val euclid = EuclideanFamily(Lsh.BucketWidth, Lsh.Bands, Lsh.BandSize, seed, Lsh.Dim)
    val seeds = Array.tabulate(20)(i => seed + 1000 + i)
    Map(
      "core.shingle_ns_per_doc" -> nsPer(texts)(Shingles.fromText(_, Lsh.W)),
      "core.minhash_ns_per_doc" -> nsPer(sets)(family.hash),
      "core.jaccard_ns_per_pair" -> nsPer(sortedPairs)(p => Shingles.jaccardSorted(p._1, p._2)),
      "core.jaccard_text_ns_per_pair" -> nsPer(pairs)(p => Shingles.jaccardText(p._1, p._2, w.pairWidth)),
      "core.euclid_ns_per_vec" -> nsPer(vecs)(euclid.hash),
      "core.family_minhash_us" -> nsPer(seeds)(s => new MinHashFamily(Lsh.Bands, Lsh.BandSize, s)) / 1e3,
      "core.family_euclid_us" -> nsPer(seeds)(s =>
        new EuclideanFamily(Lsh.BucketWidth, Lsh.Bands, Lsh.BandSize, s, Lsh.Dim)) / 1e3)
  }

  /** Executor CPU nanoseconds per row of each reference expression, alone
    * in a projection over 4000 cached rows; the recorder must be attached. */
  def expr(spark: SparkSession, w: Workload, seed: Long, rec: Recorder): Map[String, Double] = {
    import graft.functions._
    val n = 4000
    val (texts, pairs, vecs) = (w.texts, w.pairs, w.vectors)
    val rows = (0 until n).map(i => Row(texts(i % texts.length), pairs(i % pairs.length)._1,
      pairs(i % pairs.length)._2, vecs(i % vecs.length)))
    val schema = StructType(Seq(StructField("a", StringType), StructField("pa", StringType),
      StructField("pb", StringType), StructField("v", ArrayType(DoubleType, containsNull = false))))
    val sc = spark.sparkContext
    val df = spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), schema).cache()
    df.count()
    val (b, s) = (Lsh.Bands, Lsh.BandSize)
    val exprs: Seq[(String, Column)] = Seq(
      "lsh_min" -> lsh_min(col("a"), Lsh.W, b, s, seed),
      "lsh_min32" -> lsh_min32(col("a"), Lsh.W, b, s, seed),
      "lsh_jaccard" -> lsh_jaccard(col("pa"), col("pb"), w.pairWidth),
      "lsh_euclidean" -> lsh_euclidean(col("v"), Lsh.BucketWidth, b, s, seed),
      "lsh_euclidean32" -> lsh_euclidean32(col("v"), Lsh.BucketWidth, b, s, seed))
    val out = exprs.map { case (name, e) =>
      val perRow = (0 until 4).map { _ =>
        rec.drain()
        val t0 = Calls.nowMs
        df.select(e.as("h")).write.format("noop").mode("overwrite").save()
        rec.drain()
        rec.tasksSince(t0).map(_(4)).sum / n
      }.drop(1).sorted
      s"expr.${name}_ns_per_row" -> perRow(1)
    }.toMap
    df.unpersist()
    out
  }
}
