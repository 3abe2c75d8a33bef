package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.BandedLsh
import graft.core.Shingles

/** LSH parameters shared by the workloads. Documents use character
  * 4-grams, 8 bands of 3 rows; short keys use the README blocking pattern:
  * bigrams, 2 seeds x 1 band of 3, threshold 0.8. */
object Lsh {
  val W = 4
  val Bands = 8
  val BandSize = 3
  val Threshold = 0.6
  val BucketWidth = 4.0
  val Dim = 384
  val KeyW = 2
  val KeyBandSize = 3
  val KeyThreshold = 0.8

  /** P(a pair of similarity s shares at least one band) — the S-curve. */
  def sCurve(s: Double, bands: Int, size: Int): Double = 1.0 - math.pow(1.0 - math.pow(s, size), bands)

  def sorted(s: String, w: Int): Array[Int] = {
    val b = s.getBytes("UTF-8")
    Shingles.sortedShinglesUtf8(b, 0, b.length, w)
  }

  /** Checks that recall over planted above-threshold pairs is no lower than
    * the S-curve predicts (minus four standard deviations and 0.01). */
  def recallCheck(name: String, sims: Seq[Double], found: Seq[Boolean], curve: Double => Double): Double = {
    val n = sims.length
    if (n == 0) { Calls.check(s"$name.planted", ok = false, "no planted pair above the threshold"); return 0.0 }
    val p = sims.map(curve)
    val expected = p.sum / n
    val sigma = math.sqrt(p.map(x => x * (1 - x)).sum) / n
    val recall = found.count(identity).toDouble / n
    Calls.check(s"$name.recall", recall >= expected - 4 * sigma - 0.01,
      f"recall $recall%.4f below the S-curve's $expected%.4f (n=$n)")
    recall
  }
}

/** One benchmark workload: seeded inputs, a timed pass built from public
  * calls into the program, and checks of the last pass's outputs. */
trait Workload {
  def name: String
  /** Generate the inputs from `seed` on the driver; returns their digest
    * and generator stats. */
  def generate(seed: Long): Map[String, Any]
  /** Load the generated inputs into `spark` as cached views. */
  def load(spark: SparkSession): Unit
  def pass(spark: SparkSession): Unit
  /** Untimed passes before the timed ones. */
  def warmupPasses: Int = 1
  /** Check the outputs of the last pass; returns the recall and details. */
  def verify(spark: SparkSession): Map[String, Any]
  /** Domain counters of the traced run (`api.*`), at call boundaries. */
  def counters(spark: SparkSession): Map[String, Double]
  /** Input rows read and documents hashed by one pass. */
  def rows: Long
  def docs: Long
  /** A SQL query over the workload's view, for the planning-time row. */
  def planQuery: String
  /** Generated inputs for the Spark-free kernel rows and the expression rows:
    * documents, text pairs (with their n-gram width) and d=384 vectors. */
  def texts: Array[String]
  def pairs: Array[(String, String)]
  def pairWidth: Int
  def vectors: Array[Array[Double]]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "hash_scan" => new HashScan
    case "dedup_batch" => new DedupBatch
    case "index_ingest" => new IndexIngest
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Distribute driver-generated rows over the session's cores, cache them
    * and materialise the cache, so passes never pay for generation. */
  def load(spark: SparkSession, rows: Seq[Row], schema: StructType, view: String): DataFrame = {
    val sc = spark.sparkContext
    val df = spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), schema).cache()
    df.count()
    df.createOrReplaceTempView(view)
    df
  }

  /** The documents' vocabulary. A flat Zipf keeps every word rare enough
    * that no character 4-gram sits in a large share of the documents: with
    * a steep one (s=0.9 over 30k words) a seed whose minima land on the
    * commonest word's 4-grams puts thousands of documents in one bucket,
    * and the band join's cost varied 6x from seed to seed. */
  def vocab(r: SplittableRandom): Gen.Vocab = new Gen.Vocab(r, 50000, 0.5)

  def vectors(seed: Long, n: Int): Array[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.fill(n)(Gen.vector(r, Lsh.Dim))
  }

  def meanLen(xs: Iterable[String]): Double = xs.map(_.length.toLong).sum.toDouble / math.max(1, xs.size)

  val docSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Near-dup clusters of Zipf-distributed size: a base document plus
    * mutated copies whose similarity to it spreads across the threshold.
    * Returns the documents with their cluster number (-1 = background). */
  def clusteredDocs(v: Gen.Vocab, r: SplittableRandom, total: Int, clusteredShare: Double,
                    meanLen: Int, maxCluster: Int): Array[(String, Int)] = {
    val out = mutable.ArrayBuffer[(String, Int)]()
    var c = 0
    while (out.length < total * clusteredShare) {
      val size = Gen.zipf(r, 2, maxCluster, 2.0)
      val base = Gen.doc(v, r, meanLen)
      out += ((base, c))
      for (_ <- 1 until size) out += ((Gen.mutate(base, 0.35 * r.nextDouble(), v, r), c))
      c += 1
    }
    while (out.length < total) out += ((Gen.doc(v, r, meanLen), -1))
    val perm = Gen.shuffle(out.length, r)
    perm.map(out)
  }

  /** All within-cluster pairs (id_a < id_b) with their exact similarity. */
  def plantedPairs(cluster: Array[Int], sets: Array[Array[Int]]): Seq[(Long, Long, Double)] = {
    val members = cluster.indices.filter(cluster(_) >= 0).groupBy(cluster(_))
    members.values.toSeq.flatMap { ids =>
      for (i <- ids; j <- ids if i < j) yield (i.toLong, j.toLong, Shingles.jaccardSorted(sets(i), sets(j)))
    }
  }
}

/** `hash_scan`: one SQL projection calling all five reference functions
  * over generated documents, near-variant document pairs and d=384 vectors,
  * written to the noop sink. */
final class HashScan extends Workload {
  val name = "hash_scan"
  private val NRows = 16000
  private val MeanLen = 300
  private var lshSeed = 0L
  private var table: DataFrame = _
  private var data: Array[(String, String, Array[Double])] = _

  def rows: Long = NRows
  def docs: Long = 2L * NRows

  def generate(seed: Long): Map[String, Any] = {
    lshSeed = seed
    val r = new SplittableRandom(seed)
    val v = Workload.vocab(r.split())
    val digest = new Gen.Digest
    data = Array.tabulate(NRows) { i =>
      val a = Gen.doc(v, r, MeanLen)
      val b = Gen.mutate(a, 0.4 * r.nextDouble(), v, r)
      val vec = Gen.vector(r, Lsh.Dim)
      digest.add(i.toLong); digest.add(a); digest.add(b); digest.add(vec)
      (a, b, vec)
    }
    Map("digest" -> digest.hex, "rows" -> NRows,
      "mean_len" -> Workload.meanLen(data.flatMap(d => Seq(d._1, d._2))),
      "planted_pairs" -> NRows, "largest_cluster" -> 2, "dim" -> Lsh.Dim)
  }

  def load(spark: SparkSession): Unit = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text_a", StringType, nullable = false), StructField("text_b", StringType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
    if (table != null) table.unpersist()
    table = Workload.load(spark, data.indices.map(i => Row(i.toLong, data(i)._1, data(i)._2, data(i)._3)),
      schema, "hs_docs")
  }

  private def query: String = {
    val s = lshSeed
    s"""SELECT id,
       |  lsh_min(text_a, ${Lsh.W}, ${Lsh.Bands}, ${Lsh.BandSize}, $s) AS m,
       |  lsh_min32(text_b, ${Lsh.W}, ${Lsh.Bands}, ${Lsh.BandSize}, $s) AS m32,
       |  lsh_jaccard(text_a, text_b, ${Lsh.W}) AS j,
       |  lsh_euclidean(vec, ${Lsh.BucketWidth}, ${Lsh.Bands}, ${Lsh.BandSize}, $s) AS e,
       |  lsh_euclidean32(vec, ${Lsh.BucketWidth}, ${Lsh.Bands}, ${Lsh.BandSize}, $s) AS e32
       |FROM hs_docs""".stripMargin
  }
  def planQuery: String = query

  def pass(spark: SparkSession): Unit =
    Calls.call("sql", "hash_scan.projection") {
      spark.sql(query).write.format("noop").mode("overwrite").save()
    }

  def verify(spark: SparkSession): Map[String, Any] = {
    import graft.core.{EuclideanFamily, MinHashFamily}
    val r = new SplittableRandom(lshSeed + 17)
    val ids = Array.fill(200)(r.nextInt(NRows)).distinct.sorted
    val got = spark.sql(s"$query WHERE id IN (${ids.mkString(",")})").collect()
    Calls.check("hash_scan.sample_rows", got.length == ids.length, s"${got.length} rows for ${ids.length} ids")
    val mf = MinHashFamily(Lsh.Bands, Lsh.BandSize, lshSeed)
    val ef = EuclideanFamily(Lsh.BucketWidth, Lsh.Bands, Lsh.BandSize, lshSeed, Lsh.Dim)
    var bad = 0
    for (row <- got) {
      val (a, b, vec) = data(row.getLong(0).toInt)
      val m = mf.hash(Shingles.fromText(a, Lsh.W)).toSeq
      val m32 = mf.hash(Shingles.fromText(b, Lsh.W)).map(_.toInt).toSeq
      val e = ef.hash(vec).toSeq
      if (row.getSeq[Long](1) != m || row.getSeq[Int](2) != m32 ||
          row.getDouble(3) != Shingles.jaccardText(a, b, Lsh.W) ||
          row.getSeq[Long](4) != e || row.getSeq[Int](5) != e.map(_.toInt)) bad += 1
    }
    Calls.check("hash_scan.kernels_agree", bad == 0, s"$bad of ${got.length} sampled rows differ from graft.core")
    // recall of the banded blocking over the planted (text_a, text_b) pairs:
    // a pair above the threshold is found when a band of lsh_min(text_a)
    // equals the same band of lsh_min32(text_b) in its low 32 bits
    val rec = spark.sql(
      s"""SELECT j, exists(zip_with(m, m32, (x, y) -> (x & 4294967295) = (y & 4294967295)), b -> b) AS hit
         |FROM ($query) WHERE j > ${Lsh.Threshold}""".stripMargin).collect()
    val recall = Lsh.recallCheck("hash_scan", rec.map(_.getDouble(0)).toSeq, rec.map(_.getBoolean(1)).toSeq,
      Lsh.sCurve(_, Lsh.Bands, Lsh.BandSize))
    Map("recall" -> recall, "planted_above" -> rec.length, "sampled_rows" -> got.length)
  }

  def counters(spark: SparkSession): Map[String, Double] = Map.empty

  def texts: Array[String] = data.map(_._1)
  def pairs: Array[(String, String)] = data.map(d => (d._1, d._2))
  def pairWidth: Int = Lsh.W
  def vectors: Array[Array[Double]] = data.map(_._3)
}

/** `dedup_batch`: a corpus with planted near-dup clusters through
  * `nearDupPairs` -> `dupClusters`, and a short-key table with planted typo
  * clusters through the fused `bandedSelfJoinPairs`. */
final class DedupBatch extends Workload {
  val name = "dedup_batch"
  // above the lsh_jaccard shingle memo's 2^17 entries
  private val NDocs = 140000
  private val MeanLen = 80
  private val NKeys = 20000
  private var lshSeed = 0L
  private var corpus: DataFrame = _
  private var keys: DataFrame = _
  private var docTexts: Array[String] = _
  private var keyTexts: Array[String] = _
  private var planted: Seq[(Long, Long, Double)] = _
  private var keyPlanted: Seq[(Long, Long, Double)] = _
  private var last: (DataFrame, DataFrame, DataFrame) = _

  def rows: Long = NDocs + NKeys
  def docs: Long = NDocs
  def keySeeds: Seq[Long] = Seq(lshSeed * 2 + 1, lshSeed * 2 + 2)

  def generate(seed: Long): Map[String, Any] = {
    lshSeed = seed
    val r = new SplittableRandom(seed)
    val v = Workload.vocab(r.split())
    val docs = Workload.clusteredDocs(v, r.split(), NDocs, 0.3, MeanLen, 30)
    docTexts = docs.map(_._1)
    planted = Workload.plantedPairs(docs.map(_._2), docTexts.map(Lsh.sorted(_, Lsh.W)))
    // short keys: names, 30% of them in typo clusters of 2-5
    val kr = r.split()
    val syl = Gen.syllables(kr, 300)
    val ks = mutable.ArrayBuffer[(String, Int)]()
    var c = 0
    while (ks.length < NKeys * 0.3) {
      val base = Gen.name(syl, kr)
      ks += ((base, c))
      for (_ <- 1 until 2 + kr.nextInt(4)) ks += ((Gen.typo(base, 1 + kr.nextInt(2), kr), c))
      c += 1
    }
    while (ks.length < NKeys) ks += ((Gen.name(syl, kr), -1))
    val keyed = Gen.shuffle(ks.length, kr).map(ks).take(NKeys)
    keyTexts = keyed.map(_._1)
    keyPlanted = Workload.plantedPairs(keyed.map(_._2), keyTexts.map(Lsh.sorted(_, Lsh.KeyW)))
    val digest = new Gen.Digest
    docTexts.foreach(digest.add); keyTexts.foreach(digest.add)
    val sizes = docs.map(_._2).filter(_ >= 0).groupBy(identity).values.map(_.length)
    Map("digest" -> digest.hex, "rows" -> (NDocs + NKeys), "docs" -> NDocs, "keys" -> NKeys,
      "mean_len" -> Workload.meanLen(docTexts), "key_mean_len" -> Workload.meanLen(keyTexts),
      "planted_pairs" -> (planted.length + keyPlanted.length),
      "planted_above" -> (planted.count(_._3 > Lsh.Threshold) + keyPlanted.count(_._3 > Lsh.KeyThreshold)),
      "largest_cluster" -> sizes.max, "clusters" -> sizes.size)
  }

  def load(spark: SparkSession): Unit = {
    Seq(corpus, keys).filter(_ != null).foreach(_.unpersist())
    corpus = Workload.load(spark, docTexts.indices.map(i => Row(i.toLong, docTexts(i))), Workload.docSchema, "dd_docs")
    keys = Workload.load(spark, keyTexts.indices.map(i => Row(i.toLong, keyTexts(i))), Workload.docSchema, "dd_keys")
  }

  def planQuery: String =
    s"SELECT id, lsh_min(text, ${Lsh.W}, ${Lsh.Bands}, ${Lsh.BandSize}, $lshSeed) AS m FROM dd_docs"

  def pass(spark: SparkSession): Unit = {
    if (last != null) Seq(last._1, last._2, last._3).foreach(_.unpersist())
    val pairs = Calls.call("api", "nearDupPairs") {
      BandedLsh.nearDupPairs(corpus, "id", "text", Lsh.W, Lsh.Bands, Lsh.BandSize, lshSeed, Lsh.Threshold)
        .localCheckpoint(true)
    }
    val clusters = Calls.call("api", "dupClusters") { BandedLsh.dupClusters(pairs).localCheckpoint(true) }
    val keyPairs = Calls.call("api", "bandedSelfJoinPairs") {
      BandedLsh.bandedSelfJoinPairs(keys, "id", "text", Lsh.KeyW, 1, Lsh.KeyBandSize, keySeeds,
        Lsh.KeyThreshold).localCheckpoint(true)
    }
    last = (pairs, clusters, keyPairs)
  }

  private def checkPairs(label: String, got: Array[Row], texts: Array[String], w: Int, t: Double): Int = {
    var bad = 0
    for (row <- got) {
      val (a, b, sim) = (row.getLong(0).toInt, row.getLong(1).toInt, row.getDouble(2))
      if (!(a < b) || sim <= t || sim != Shingles.jaccardText(texts(a), texts(b), w)) bad += 1
    }
    Calls.check(s"$label.pairs_verified", bad == 0, s"$bad of ${got.length} pairs fail re-verification")
    bad
  }

  def verify(spark: SparkSession): Map[String, Any] = {
    val (pairsDf, clustersDf, keyPairsDf) = last
    val pairs = pairsDf.select("id_a", "id_b", "sim").collect()
    val keyPairs = keyPairsDf.select("id_a", "id_b", "sim").collect()
    checkPairs("nearDupPairs", pairs, docTexts, Lsh.W, Lsh.Threshold)
    checkPairs("bandedSelfJoinPairs", keyPairs, keyTexts, Lsh.KeyW, Lsh.KeyThreshold)
    Calls.check("nearDupPairs.distinct", pairs.map(r => (r.getLong(0), r.getLong(1))).distinct.length == pairs.length,
      "duplicate pairs in the output")
    // clusters: each id's label is the smallest id of its connected component
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val q = find(p); parent(x) = q; q } }
    for (r <- pairs) {
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = clustersDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    Calls.check("dupClusters.components", labels.size == nodes.length && nodes.forall(n => labels(n) == find(n)),
      s"${labels.size} labels for ${nodes.length} nodes")
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val keyFound = keyPairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val above = planted.filter(_._3 > Lsh.Threshold)
    val keyAbove = keyPlanted.filter(_._3 > Lsh.KeyThreshold)
    val docRecall = Lsh.recallCheck("nearDupPairs", above.map(_._3), above.map(p => found((p._1, p._2))),
      Lsh.sCurve(_, Lsh.Bands, Lsh.BandSize))
    val keyRecall = Lsh.recallCheck("bandedSelfJoinPairs", keyAbove.map(_._3),
      keyAbove.map(p => keyFound((p._1, p._2))), Lsh.sCurve(_, keySeeds.length, Lsh.KeyBandSize))
    val n = above.length + keyAbove.length
    Map("recall" -> (docRecall * above.length + keyRecall * keyAbove.length) / math.max(1, n),
      "doc_recall" -> docRecall, "key_recall" -> keyRecall,
      "pairs" -> pairs.length, "key_pairs" -> keyPairs.length, "clustered_ids" -> labels.size)
  }

  def counters(spark: SparkSession): Map[String, Double] = {
    val (cand, maxBucket, _) = BandedLsh.candidateCensus(corpus, "id", "text", Lsh.W, Lsh.Bands, Lsh.BandSize, lshSeed)
    val keyCensus = keySeeds.map(s => BandedLsh.candidateCensus(keys, "id", "text", Lsh.KeyW, 1, Lsh.KeyBandSize, s))
    val verified = last._1.count() + last._3.count()
    val candidates = cand + keyCensus.map(_._1).sum
    Map("api.candidate_pairs" -> candidates.toDouble, "api.verified_pairs" -> verified.toDouble,
      "api.verify_ratio" -> verified.toDouble / math.max(1L, candidates),
      "api.max_bucket_rows" -> (maxBucket +: keyCensus.map(_._2)).max.toDouble)
  }

  def texts: Array[String] = docTexts
  def pairs: Array[(String, String)] = {
    val planted = keyPlanted.map(p => (keyTexts(p._1.toInt), keyTexts(p._2.toInt))).toArray
    planted ++ keyTexts.indices.drop(1).map(i => (keyTexts(i - 1), keyTexts(i)))
  }
  def pairWidth: Int = Lsh.KeyW
  lazy val vectors: Array[Array[Double]] = Workload.vectors(lshSeed, 4000)
}

/** `index_ingest`: build a signature index over a base corpus, admit small
  * batches against it (probe, materialise the admitted docs, append), then
  * compact with a takedown list and scan index health. One pass is the whole
  * lifecycle from a fresh build, so every pass does the same work. */
final class IndexIngest extends Workload {
  val name = "index_ingest"
  private val NBase = 10000
  private val MeanLen = 200
  private val Batches = 3
  private val BatchDocs = 400
  private val Takedowns = 40
  private val Table = "bench_sig"
  private var lshSeed = 0L
  private var allDocs: DataFrame = _ // base docs, then every batch's docs
  private var allTexts: Array[String] = _
  private var plantedTarget: Map[Long, (Long, Double)] = _ // batch doc -> (base target, similarity)
  private var takedownIds: Array[Long] = _
  private val hits = mutable.ArrayBuffer[Row]()

  // a pass is dozens of small jobs, and the driver's JIT is still getting
  // faster after one of them
  override def warmupPasses: Int = 2

  def rows: Long = NBase + Batches * BatchDocs
  def docs: Long = Batches * BatchDocs

  def generate(seed: Long): Map[String, Any] = {
    lshSeed = seed
    val r = new SplittableRandom(seed)
    val v = Workload.vocab(r.split())
    val baseTexts = Array.fill(NBase)(Gen.doc(v, r, MeanLen))
    // takedowns come from a reserved slice of the base ids; planted
    // near-dups target only the rest, so a takedown never hides a planted pair
    val perm = Gen.shuffle(NBase, r)
    takedownIds = perm.take(Takedowns).map(_.toLong).sorted
    val targets = perm.drop(Takedowns)
    val planted = mutable.Map[Long, (Long, Double)]()
    val batchTexts = Array.tabulate(Batches * BatchDocs) { j =>
      val id = (NBase + j).toLong
      if (r.nextDouble() < 0.3) {
        val target = targets(r.nextInt(targets.length))
        val text = Gen.mutate(baseTexts(target), 0.35 * r.nextDouble(), v, r)
        planted(id) = (target.toLong, Shingles.jaccardSorted(Lsh.sorted(text, Lsh.W), Lsh.sorted(baseTexts(target), Lsh.W)))
        text
      } else Gen.doc(v, r, MeanLen)
    }
    plantedTarget = planted.toMap
    allTexts = baseTexts ++ batchTexts
    val digest = new Gen.Digest
    allTexts.foreach(digest.add); takedownIds.foreach(digest.add)
    Map("digest" -> digest.hex, "rows" -> allTexts.length, "base_docs" -> NBase, "batch_docs" -> batchTexts.length,
      "batches" -> Batches, "mean_len" -> Workload.meanLen(allTexts.toSeq),
      "planted_pairs" -> planted.size, "planted_above" -> planted.values.count(_._2 > Lsh.Threshold),
      "largest_cluster" -> (planted.values.groupBy(_._1).values.map(_.size).max + 1),
      "takedowns" -> Takedowns)
  }

  def load(spark: SparkSession): Unit = {
    if (allDocs != null) allDocs.unpersist()
    allDocs = Workload.load(spark, allTexts.indices.map(i => Row(i.toLong, allTexts(i))), Workload.docSchema, "ii_docs")
  }

  private def base: DataFrame = allDocs.filter(col("id") < NBase)
  private def batch(b: Int): DataFrame =
    allDocs.filter(col("id") >= NBase + b * BatchDocs && col("id") < NBase + (b + 1) * BatchDocs)

  def planQuery: String =
    s"SELECT id, lsh_min(text, ${Lsh.W}, ${Lsh.Bands}, ${Lsh.BandSize}, $lshSeed) AS m FROM ii_docs"

  private def indexRows(spark: SparkSession): Long =
    spark.table(Table).count() + spark.table(s"${Table}_hot").count()

  def pass(spark: SparkSession): Unit = {
    hits.clear()
    Calls.call("api", "saveSignatureIndex") {
      BandedLsh.saveSignatureIndex(base, Table, spark.sparkContext.defaultParallelism, "id", "text",
        Lsh.W, Lsh.Bands, Lsh.BandSize, lshSeed)
    }
    var indexed = NBase.toLong
    for (b <- 0 until Batches) {
      val batchDocs = batch(b)
      val admitted = Calls.call("bench", "admit") {
        val found = Calls.call("api", "nearDupAgainstIndex") {
          BandedLsh.nearDupAgainstIndex(Table, allDocs, batchDocs, "id", "text",
            Lsh.W, Lsh.Bands, Lsh.BandSize, lshSeed, Lsh.Threshold).localCheckpoint(true)
        }
        val adm = Calls.call("bench", "materializeAdmitted") {
          batchDocs.join(found.select(col("batch_id").as("id")).distinct(), Seq("id"), "left_anti").localCheckpoint(true)
        }
        Calls.call("api", "appendToSignatureIndex") {
          BandedLsh.appendToSignatureIndex(adm, Table, "id", "text", Lsh.W, Lsh.Bands, Lsh.BandSize, lshSeed)
        }
        (found, adm)
      }
      indexed += Calls.call("bench", "collectHits") {
        hits ++= admitted._1.collect()
        admitted._2.count()
      }
    }
    Calls.call("api", "compactSignatureIndex") {
      BandedLsh.compactSignatureIndex(spark, Table, spark.createDataFrame(
        java.util.Arrays.asList(takedownIds.map(Row(_)): _*),
        StructType(Seq(StructField("id", LongType))))).collect()
    }
    indexed -= Takedowns
    Calls.call("api", "signatureIndexHealth") { BandedLsh.signatureIndexHealth(spark, Table, 100000L).collect() }
    val n = Calls.call("bench", "indexRows") { indexRows(spark) }
    Calls.check("index_ingest.index_rows", n == Lsh.Bands * indexed,
      s"index holds $n rows, expected ${Lsh.Bands} x $indexed")
  }

  def verify(spark: SparkSession): Map[String, Any] = {
    var bad = 0
    for (h <- hits) {
      val (b, c, sim) = (h.getLong(0).toInt, h.getLong(1).toInt, h.getDouble(2))
      if (sim <= Lsh.Threshold || sim != Shingles.jaccardText(allTexts(b), allTexts(c), Lsh.W)) bad += 1
    }
    Calls.check("nearDupAgainstIndex.hits_verified", bad == 0, s"$bad of ${hits.length} hits fail re-verification")
    val found = hits.map(h => (h.getLong(0), h.getLong(1))).toSet
    val above = plantedTarget.toSeq.filter(_._2._2 > Lsh.Threshold)
    val recall = Lsh.recallCheck("nearDupAgainstIndex", above.map(_._2._2),
      above.map { case (doc, (target, _)) => found((doc, target)) }, Lsh.sCurve(_, Lsh.Bands, Lsh.BandSize))
    Map("recall" -> recall, "hits" -> hits.length)
  }

  def counters(spark: SparkSession): Map[String, Double] = {
    val last = batch(Batches - 1)
    val candidates = BandedLsh.bandedRows(last, "id", "text", Lsh.W, Lsh.Bands, Lsh.BandSize, lshSeed)
      .select(col("id").as("batch_id"), col("band"), col("band_hash"))
      .join(spark.table(Table).unionByName(spark.table(s"${Table}_hot")), Seq("band", "band_hash"))
      .filter(col("batch_id") =!= col("corpus_id")).select("batch_id", "corpus_id").distinct().count()
    val verified = hits.count(_.getLong(0) >= NBase + (Batches - 1) * BatchDocs)
    val buckets = BandedLsh.signatureIndexHealth(spark, Table, 0L).agg(max("bucket_rows")).collect()(0)
    val hot = spark.table(s"${Table}_hot").count()
    val files = Seq(Table, s"${Table}_hot").map { t =>
      spark.table(t).inputFiles.length
    }.sum
    Map("api.candidate_pairs" -> candidates.toDouble, "api.verified_pairs" -> verified.toDouble,
      "api.verify_ratio" -> verified.toDouble / math.max(1L, candidates),
      "api.max_bucket_rows" -> (if (buckets.isNullAt(0)) 0.0 else buckets.getLong(0).toDouble),
      "api.hot_bucket_rows" -> hot.toDouble, "api.index_rows" -> indexRows(spark).toDouble,
      "api.index_files" -> files.toDouble)
  }

  def texts: Array[String] = allTexts
  def pairs: Array[(String, String)] =
    plantedTarget.toSeq.sortBy(_._1).map { case (d, (t, _)) => (allTexts(d.toInt), allTexts(t.toInt)) }.toArray ++
      allTexts.indices.drop(1).map(i => (allTexts(i - 1), allTexts(i)))
  def pairWidth: Int = Lsh.W
  lazy val vectors: Array[Array[Double]] = Workload.vectors(lshSeed, 4000)
}
