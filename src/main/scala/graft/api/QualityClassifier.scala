package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.HyperLogLog.lnPinned

/** Hashed-feature multinomial Naive Bayes quality classifier — the
  * "train a linear classifier to separate a curated seed from the raw
  * crawl, keep what scores high" step of the published LLM curation
  * pipelines (GPT-3, Brown et al. 2020 App. A; LLaMA; PaLM). fastText's
  * supervised mode is architecturally this: hashed unigram+bigram
  * features, a linear decision — NB is its closed-form, bit-deterministic
  * cousin (no SGD order dependence, so the model is exactly reproducible
  * cross-engine, which SGD never is).
  *
  * Shares the DSIR feature pipeline ([[Sampling.dsirFeatures]]: asciiWords
  * unigrams then bigrams, crc32-bucketed — crc32 because zlib gives the
  * Python oracle a bit-exact twin) and its add-one-smoothed log-ratio
  * algebra, every log argument ≥ 1 so [[graft.core.HyperLogLog.lnPinned]]
  * covers the whole model.
  *
  * Scale shape: training = ONE map-side-combined aggregate over the
  * labeled corpus (both classes' bucket counts and both document counts
  * fused into a single pass), output bounded by `buckets`; the model is
  * `buckets` doubles + one prior, riding the scoring plan as a literal
  * array. Scoring = one corpus pass, whole-stage-codegen'd fold, no
  * shuffle, no UDF. At 100 TB nothing here grows with the corpus except
  * the one count scan.
  */
object QualityClassifier {

  /** The class prior term `ln(nPos) − ln(nNeg)` (document counts; both
    * sides must be non-empty). */
  private[api] def nbPrior(nPos: Long, nNeg: Long): Double = {
    require(nPos >= 1 && nNeg >= 1, s"need non-empty classes, got $nPos/$nNeg")
    lnPinned(nPos.toDouble) - lnPinned(nNeg.toDouble)
  }

  /** Score every document: `prior + Σ_f lo(bucket(f))` over the feature
    * stream in array order (sequential fold — bit-exact, mirroring
    * [[Sampling.dsirScore]]). Positive score ⇒ the seed class is more
    * likely. Adds `out` (the prior alone for featureless docs). */
  def nbScore(df: DataFrame, textCol: String, logOdds: Array[Double],
              prior: Double, out: String = "nb_score"): DataFrame = {
    val loLit = lit(logOdds)
    df.withColumn(out,
      aggregate(Sampling.dsirFeatures(col(textCol)), lit(prior), (acc, f) =>
        acc + element_at(loLit,
          pmod(crc32(f.cast("binary")), lit(logOdds.length.toLong)).cast("int") + 1)))
  }

  /** Train on `labelCol` (boolean: true = curated seed) and score the
    * whole corpus in one call — the pipeline-step shape. Two training
    * scans + one scoring pass. */
  def trainScore(docs: DataFrame, textCol: String, labelCol: Column,
                 buckets: Int, out: String = "nb_score"): DataFrame = {
    // one fused pass for all four training statistics (was: two count-only
    // scans + two per-class feature scans); same integer counts ⇒ the same
    // lnPinned arguments ⇒ a bit-identical model
    val (lo, prior) = modelFromArrays(classBucketCounts(docs, textCol, labelCol, buckets))
    nbScore(docs, textCol, lo, prior, out)
  }

  /** Key under which [[nbCountsDf]] stores the class DOCUMENT counts
    * (the prior's inputs) alongside the per-bucket feature counts. */
  private val DocCountBucket = -1

  /** The NB model's SUFFICIENT STATISTICS as a tiny DataFrame — the
    * persistable, MERGEABLE form of what [[trainScore]] computes
    * transiently: one row per feature bucket `(bucket, pos_cnt,
    * neg_cnt)` plus one `bucket = -1` row carrying the class document
    * counts. Everything downstream ([[modelFromArrays]]' smoothed log-ratios,
    * [[nbPrior]]) is a pure function of these counts, and counts are
    * ADDITIVE across corpus slices — so a model "trained on A ∪ B" is
    * exactly `nbCountsDf(A) + nbCountsDf(B)` summed per bucket, the
    * fact the incremental-curation day-2 path is built on
    * ([[IncrementalCuration]]). `buckets + 1` rows total: persist it as
    * a plain table, append per batch, and [[modelFromCounts]]
    * reconstitutes the model bit-exactly. */
  def nbCountsDf(docs: DataFrame, textCol: String, labelCol: Column,
                 buckets: Int): DataFrame =
    countsToDf(docs.sparkSession,
      classBucketCounts(docs, textCol, labelCol, buckets))

  /** [[nbCountsDf]]'s table rows from ALREADY-COLLECTED counts — the
    * split lets a caller compute [[classBucketCounts]] once and reuse the
    * same integers for both the persisted generation and the in-memory
    * model ([[IncrementalCuration.admitBatch]] overlaps the count scan
    * with its near-dup minings and then writes + models from one pass). */
  private[api] def countsToDf(spark: org.apache.spark.sql.SparkSession,
                              counts: (Array[Long], Array[Long], Long, Long))
      : DataFrame = {
    import spark.implicits._
    val (p, n, nPos, nNeg) = counts
    val rows = (DocCountBucket, nPos, nNeg) +:
      Array.tabulate(p.length)(b => (b, p(b), n(b))).toIndexedSeq
    // one file per persisted generation, not defaultParallelism of them:
    // buckets+1 driver-local rows otherwise land as ~32 near-empty part
    // files per append, and the day-N model read lists all of them
    rows.toDF("bucket", "pos_cnt", "neg_cnt").coalesce(1)
  }

  /** Both classes' dense per-bucket feature counts plus the class document
    * counts, in ONE corpus pass (guide §1.2: the statistics are four
    * aggregates over the same scan — computed separately they cost four
    * full input evaluations, fused they cost one). Each doc contributes a
    * sentinel element (the document-count row) plus its feature stream to
    * a single exploded aggregation keyed by (bucket, label); counts are
    * integers, so the fused form is bit-identical to the per-class scans
    * it replaced ([[Sampling.dsirBucketCounts]] semantics: same crc32 pmod
    * bucketing, docs whose label is NULL belong to neither class). */
  private[api] def classBucketCounts(docs: DataFrame, textCol: String,
                                     labelCol: Column, buckets: Int)
      : (Array[Long], Array[Long], Long, Long) = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val fs = Sampling.dsirFeatures(col(textCol))
    val rows = docs
      .select(labelCol.as("__p"), fs.as("__fs"))
      .where(col("__p").isNotNull)
      // sentinel-first element = the per-doc count; real features follow.
      // struct, not a magic string: any string can be a genuine feature.
      .select(col("__p"), explode(concat(
        array(struct(lit(true).as("d"), lit("").as("f"))),
        transform(col("__fs"), f => struct(lit(false).as("d"), f.as("f")))))
        .as("e"))
      .groupBy(
        when(col("e.d"), lit(DocCountBucket))
          .otherwise(pmod(crc32(col("e.f").cast("binary")),
            lit(buckets.toLong)).cast("int")).as("b"),
        col("__p"))
      .agg(count(lit(1)).as("c"))
      .collect()
    val p = new Array[Long](buckets)
    val n = new Array[Long](buckets)
    var nPos = 0L
    var nNeg = 0L
    rows.foreach { r =>
      val b = r.getInt(0)
      val c = r.getLong(2)
      if (b == DocCountBucket) { if (r.getBoolean(1)) nPos = c else nNeg = c }
      else if (r.getBoolean(1)) p(b) = c
      else n(b) = c
    }
    (p, n, nPos, nNeg)
  }

  /** Reconstitute `(logOdds, prior)` from a persisted [[nbCountsDf]]
    * table, summing per-bucket counts across every appended generation
    * first — the read side of the mergeable-counts contract. Bit-equal
    * to training [[trainScore]]-style on the concatenation of every
    * slice whose counts were appended (same integer counts ⇒ the same
    * [[graft.core.HyperLogLog.lnPinned]] arguments ⇒ the same doubles).
    * One scan of a `buckets + 1`-row-per-generation table. */
  def modelFromCounts(spark: org.apache.spark.sql.SparkSession,
                      table: String): (Array[Double], Double) =
    modelFromArrays(summedCounts(spark, table))

  /** The per-bucket sums of a persisted [[nbCountsDf]] table, collected —
    * the read half of [[modelFromCounts]], exposed so a caller holding a
    * NOT-YET-APPENDED generation's counts can overlap this (read-only)
    * scan with other pre-mutation jobs and assemble the post-append model
    * on the driver ([[modelFromArrays]] over the element-wise integer
    * sums — bit-equal to [[modelFromCounts]] after the append, because
    * the table read sums the same integers). */
  def summedCounts(spark: org.apache.spark.sql.SparkSession,
                   table: String): (Array[Long], Array[Long], Long, Long) = {
    val rows = spark.table(table)
      .groupBy("bucket")
      .agg(sum("pos_cnt").as("p"), sum("neg_cnt").as("n"))
      .collect()
    val buckets = rows.length - 1
    require(buckets >= 2 && rows.exists(_.getInt(0) == DocCountBucket),
      s"'$table' is not an nbCountsDf table (${rows.length} bucket rows)")
    val p = new Array[Long](buckets)
    val n = new Array[Long](buckets)
    var nPos = 0L
    var nNeg = 0L
    rows.foreach { r =>
      val b = r.getInt(0)
      if (b == DocCountBucket) { nPos = r.getLong(1); nNeg = r.getLong(2) }
      else { p(b) = r.getLong(1); n(b) = r.getLong(2) }
    }
    (p, n, nPos, nNeg)
  }

  /** `(logOdds, prior)` from in-memory sufficient statistics — the pure
    * back half of [[trainScore]] and [[modelFromCounts]]. Per-bucket NB
    * log-odds `lo_b = ln p(b|pos) − ln p(b|neg)`, add-one smoothed, are
    * expressed as `ln((p_b+1)·(N+B)) − ln((n_b+1)·(P+B))` (all arguments
    * ≥ 1), so equal integer counts give bit-equal doubles. */
  def modelFromArrays(counts: (Array[Long], Array[Long], Long, Long))
      : (Array[Double], Double) = {
    val (p, n, nPos, nNeg) = counts
    val buckets = p.length
    val prior = nbPrior(nPos, nNeg)
    val pTot = p.sum.toDouble + buckets
    val nTot = n.sum.toDouble + buckets
    val lo = Array.tabulate(buckets) { b =>
      lnPinned((p(b) + 1).toDouble * nTot) - lnPinned((n(b) + 1).toDouble * pTot)
    }
    (lo, prior)
  }
}
