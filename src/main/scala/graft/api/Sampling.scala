package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, hash-based sampling and dataset splitting — the data-
  * recipe operators of a training pipeline (subsample a corpus, hold out
  * validation/test, cap per-source contributions), done the only way that
  * works at 100 TB: a pure function of each row's key.
  *
  * Everything here is layout-, partitioning- and run-invariant: the sample
  * a row belongs to depends only on (key, seed), never on partition order,
  * executor count or RNG state (contrast `df.sample`, whose output changes
  * with partitioning). That is what makes a data recipe reproducible and
  * incrementally extensible — new data added to the corpus joins the same
  * splits without reshuffling old rows, because old keys keep their hash.
  *
  * The reference has no sampling surface (its scope is the LSH kernels);
  * these compose with it — e.g. sample → near-dup → train split.
  */
object Sampling {

  /** Uniform [0, 1) score from the seeded 64-bit hash of `key`: the top 53
    * bits of `xxhash64(key, seed)` as an exact double. Codegen'd built-ins
    * only — no UDF, no RNG, filter-friendly. */
  def hashScore(key: Column, seed: Long): Column =
    (shiftrightunsigned(xxhash64(key, lit(seed)), 11).cast("double")
      / lit((1L << 53).toDouble))

  /** Deterministic Bernoulli sample: keeps rows with `hashScore < fraction`.
    * A pure narrow filter — no shuffle, no state; at scale it runs inside
    * the scan's codegen stage and composes with pushdown on other
    * predicates. */
  def sampleByHash(df: DataFrame, keyCol: String, fraction: Double, seed: Long): DataFrame =
    df.filter(hashScore(col(keyCol), seed) < fraction)

  /** Weighted sample without replacement (Efraimidis–Spirakis A-ES): keep
    * the k rows with the smallest ln(1/u)/w, u the seeded uniform of the
    * key — equivalent to the classic largest-u^(1/w) rule, and for k=1 the
    * inclusion probability is exactly w_i/Σw (spec-checked empirically).
    * The data-mixing primitive: sample sources proportional to quality
    * weights, reproducibly.
    *
    * Deterministic ACROSS ENGINES, not just across runs: u is an exact
    * 53-bit hash fraction (nudged into (0,1] so 1/u is finite) and the log
    * is the engine-pinned [[graft.functions.ln_pinned]] — every arithmetic
    * step correctly rounded IEEE, so an independent implementation selects
    * the identical sample. Global top-k plans as TakeOrderedAndProject
    * (per-partition heaps, no full sort shuffle). Rows with weight <= 0 or
    * NULL are excluded.
    *
    * PRECONDITION: `keyCol` values must be unique (same contract as
    * [[sampleByHash]] — these are keyed samples). Duplicate keys share one
    * (score, key) sort value, so which duplicate survives the limit(k)
    * boundary would be partition-order-dependent, voiding the determinism
    * claim. */
  def weightedSampleTopK(df: DataFrame, keyCol: String, weightCol: String,
                         k: Int, seed: Long): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val u = (shiftrightunsigned(xxhash64(col(keyCol), lit(seed)), 11) + lit(1L))
      .cast("double") / lit((1L << 53).toDouble)
    val score = graft.functions.ln_pinned(lit(1.0) / u) / col(weightCol).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wscore", score)
      .orderBy(col("__wscore").asc, col(keyCol).asc)
      .limit(k)
      .drop("__wscore")
  }

  /** Deterministic source mixing: per-source Bernoulli rates over ONE
    * seeded hash score — the corpus-mixing recipe (downweight low-quality
    * sources, upweight books, ...) as a single narrow filter, no shuffle,
    * layout/run-invariant like every hash sample here. Sources not in
    * `rates` use `defaultRate`. The when-chain suits a handful of named
    * sources (the typical mixing table); thousands of sources would join a
    * broadcast rates dimension instead. */
  def mixSources(df: DataFrame, sourceCol: String, keyCol: String,
                 rates: Map[String, Double], defaultRate: Double,
                 seed: Long): DataFrame = {
    require(defaultRate >= 0 && defaultRate <= 1 &&
      rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0, 1]")
    val rateCol = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (s, r)) => when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(hashScore(col(keyCol), seed) < rateCol)
  }

  /** Temperature-reweighted source mixing (the standard pretraining
    * rebalancing knob, e.g. multilingual sampling in Conneau & Lample
    * 2019 / the data-mixture baselines DoReMi compares against): sampling
    * share q_i ∝ p_i^alpha where p_i is source i's corpus share.
    * alpha = 1 keeps natural proportions, alpha = 0 equalizes sources,
    * between interpolates — upweighting the tail without flattening the
    * head. Rates are materialized per source as
    * rate_i = min(1, targetRows·q_i / count_i) and applied through
    * [[mixSources]]' single narrow hash filter (no shuffle on the corpus;
    * a source too small for its allocated share saturates at rate 1 and
    * simply contributes all it has — re-run with a larger alpha or
    * upsample separately if the allocation must be met exactly).
    *
    * One count aggregate (source-cardinality-sized) collects to the
    * driver — sources are a handful-to-thousands, never corpus-scale.
    * DETERMINISM: counts are exact longs; shares fold in lexicographic
    * source order with IEEE pow/divide, so the derived rates — and hence
    * the sampled id set — are bit-reproducible across engines (the gate's
    * Python oracle mirrors the fold exactly).
    *
    * Returns (kept corpus, per-source rate map used). */
  def mixByTemperature(df: DataFrame, sourceCol: String, keyCol: String,
                       alpha: Double, targetRows: Long, seed: Long)
      : (DataFrame, Map[String, Double]) = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1], got $alpha")
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    // the rate map keys (and mixSources' when-chain) compare as strings —
    // fail with the real problem, not a ClassCastException at collect time
    require(df.schema(sourceCol).dataType ==
        org.apache.spark.sql.types.StringType,
      s"source column '$sourceCol' must be StringType, got " +
        s"${df.schema(sourceCol).dataType.simpleString} — cast it first")
    // null sources get no allocation and fall to mixSources' defaultRate=0
    // (dropped) — they must not crash the lexicographic fold either
    val counts = df.groupBy(col(sourceCol)).count()
      .collect().filter(!_.isNullAt(0)).map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1) // lexicographic fold order — pinned for reproducibility
    require(counts.nonEmpty, "corpus has no rows to mix")
    val powed = counts.map { case (s, c) => (s, c, math.pow(c.toDouble, alpha)) }
    val z = powed.foldLeft(0.0) { case (acc, (_, _, w)) => acc + w }
    val rates = powed.map { case (s, c, w) =>
      s -> math.min(1.0, targetRows.toDouble * (w / z) / c.toDouble)
    }.toMap
    (mixSources(df, sourceCol, keyCol, rates, defaultRate = 0.0, seed), rates)
  }

  /** Exact per-stratum uniform sample without replacement: the `k` rows
    * with the smallest hash scores in each stratum (hash-order top-k is a
    * uniform k-subset; the key tiebreak makes it total).
    *
    * Scale note: the window sorts each stratum inside one partition, so
    * this shape is for strata that fit a partition (languages, sources,
    * shards — the typical case). */
  def stratifiedSampleByHash(df: DataFrame, stratumCol: String, keyCol: String,
                             k: Int, seed: Long): DataFrame = {
    val score = hashScore(col(keyCol), seed)
    val w = Window.partitionBy(stratumCol).orderBy(score.asc, col(keyCol).asc)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** Deterministic corpus shuffle: total-order the rows by (hash score,
    * key) — the reproducible training-order shuffle. Plans as a range-
    * partitioned global sort (sampling pass + sort pass), the scalable
    * shape; the order is a pure function of (key, seed), so re-runs, other
    * clusters and other partitionings produce the identical sequence. */
  def shuffleByHash(df: DataFrame, keyCol: String, seed: Long): DataFrame =
    df.orderBy(hashScore(col(keyCol), seed).asc, col(keyCol).asc)

  /** Assign every row to exactly one named split (train/val/test …) by
    * cumulative hash-score ranges: `splits` maps name -> fraction and must
    * sum to ~1 (the final range is closed at 1.0 so rounding can never drop
    * a row). Pure projection — no shuffle; rows keep their split forever as
    * the corpus grows, and the same (key, seed) yields the same split on
    * any cluster. */
  def assignSplits(df: DataFrame, keyCol: String, seed: Long,
                   splits: Seq[(String, Double)],
                   splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split fractions must sum to 1, got $total")
    val score = hashScore(col(keyCol), seed)
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    // last split is the otherwise-branch: every row lands somewhere even at
    // the floating-point boundary score ~ 1.0
    val expr = splits.init.zip(bounds.init).reverse.foldLeft(lit(splits.last._1)) {
      case (acc, ((name, _), hi)) => when(score < hi, name).otherwise(acc)
    }
    df.withColumn(splitCol, expr)
  }

  /** The hashed n-gram feature stream of DSIR (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): unigrams
    * then bigrams of the `asciiWords` token stream, in that order — the
    * order is part of the bit-exact contract, because the per-document
    * score folds these features sequentially. NULL text yields the EMPTY
    * stream, not NULL — so downstream folds land on their documented
    * featureless-doc value (0.0 for [[dsirScore]], the prior for
    * [[QualityClassifier.nbScore]]) instead of a NULL that would sort
    * FIRST in [[dsirResample]]'s ascending top-k and hijack the sample
    * (the Python mirror's `(t or '')` behavior). */
  private[api] def dsirFeatures(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = Tokenizers.asciiWords(text)
    val bi = when(size(t) >= 2,
        zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    coalesce(concat(t, bi), array().cast("array<string>"))
  }

  /** Per-bucket feature counts of a corpus under the DSIR hashing:
    * `crc32(utf8(feature)) pmod buckets` — crc32 because the bucketing
    * hash needs only uniformity and crc32 is exactly portable (zlib — the
    * Python oracle mirrors it bit-for-bit, where Spark's string xxhash64
    * has no public cross-engine twin). One map-side-combined aggregation,
    * output bounded by `buckets` — collected to the driver (the model is
    * `buckets` longs; keep `buckets` ≤ ~2^20, the paper uses 10^4). */
  private[api] def dsirBucketCounts(df: DataFrame, textCol: String,
                               buckets: Int): Array[Long] = {
    val rows = df
      .select(explode(dsirFeatures(col(textCol))).as("f"))
      .groupBy(pmod(crc32(col("f").cast("binary")), lit(buckets.toLong)).cast("int").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect()
    val out = new Array[Long](buckets)
    rows.foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** The DSIR per-bucket log importance ratios: add-one-smoothed hashed
    * unigram+bigram models of `target` (the quality corpus the selection
    * should look like) and `raw` (the corpus being selected from),
    * `ratio_b = ln p_target(b) − ln p_raw(b)`. Expressed as
    * `ln((t_b+1)·(R+B)) − ln((r_b+1)·(T+B))` so every log argument is
    * ≥ 1 — the [[graft.functions.ln_pinned]] domain — making the whole
    * table bit-reproducible cross-engine (libm ln is not). Two corpus
    * scans (one per side), each one map-side-combined aggregation. */
  private[api] def dsirLogRatios(raw: DataFrame, target: DataFrame, textCol: String,
                                 buckets: Int): Array[Double] = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    // the two sides' counts are independent aggregations — overlapped
    // (guide §2.6); counts are integers, so the result is bit-unchanged
    val Seq(t, r) = Par.run(raw.sparkSession, Seq[(String, () => Array[Long])](
      ("dsirLogRatios: target bucket counts",
        () => dsirBucketCounts(target, textCol, buckets)),
      ("dsirLogRatios: raw bucket counts",
        () => dsirBucketCounts(raw, textCol, buckets))))
    val tTot = t.sum.toDouble + buckets
    val rTot = r.sum.toDouble + buckets
    Array.tabulate(buckets) { b =>
      graft.core.HyperLogLog.lnPinned((t(b) + 1).toDouble * rTot) -
        graft.core.HyperLogLog.lnPinned((r(b) + 1).toDouble * tTot)
    }
  }

  /** Per-document DSIR log importance weight under a fitted ratio table:
    * the sequential fold of `ratios(bucket(feature))` over the document's
    * feature stream (unigrams then bigrams, array order — bit-exact).
    * Adds `logw` (0.0 for featureless docs); the ratio table rides the
    * plan as a literal array (`buckets` doubles, one copy per plan). */
  private[api] def dsirScore(df: DataFrame, textCol: String, ratios: Array[Double],
                             out: String = "logw"): DataFrame = {
    val ratioLit = lit(ratios)
    df.withColumn(out,
      aggregate(dsirFeatures(col(textCol)), lit(0.0), (acc, f) =>
        acc + element_at(ratioLit,
          pmod(crc32(f.cast("binary")), lit(ratios.length.toLong)).cast("int") + 1)))
  }

  /** DSIR importance resampling end-to-end: fit the hashed-n-gram ratio
    * table on (raw, target), score every raw document, and draw `k`
    * documents without replacement with probability ∝ exp(logw) — the
    * Efraimidis–Spirakis A-ES rule evaluated entirely in LOG space
    * (`key = ln(ln(1/u)) − logw`, smallest k), because DSIR log weights
    * span hundreds of nats and `exp(logw)` overflows where the log-space
    * key does not. The transform is strictly monotone in the classic
    * `ln(1/u)/w` key, so the selected set is IDENTICAL to
    * [[weightedSampleTopK]] with `w = exp(logw)` wherever that is finite
    * (spec-pinned). `ln(ln(1/u))` needs a log of a value that can sit
    * below 1: both branches route through [[graft.functions.ln_pinned]]'s
    * [1, ∞) domain (`e ≥ 1 → ln e`; `e < 1 → −ln(1/e)`), keeping the
    * whole chain bit-reproducible — same seeded 53-bit uniform as every
    * sampler here, nudged into (0, 1] so 1/u is finite.
    *
    * Plan shape: the ratio fit is two map-side-combined aggregations
    * (driver state = `buckets` longs per side); scoring is a pure
    * projection inside the scan; the draw is a global top-k
    * (TakeOrderedAndProject — per-partition heaps, no full sort).
    * `keyCol` values must be unique (the keyed-sample contract). Returns
    * the selected rows plus their `logw`. */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
                   textCol: String, k: Int, buckets: Int = 4096,
                   seed: Long = 0L): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val ratios = dsirLogRatios(raw, target, textCol, buckets)
    val u = (shiftrightunsigned(xxhash64(col(idCol), lit(seed)), 11) + lit(1L))
      .cast("double") / lit((1L << 53).toDouble)
    val e = graft.functions.ln_pinned(lit(1.0) / u)
    // e = 0 (u = 1, probability 2^-53 per key) would send 1/e to ∞ —
    // its true key is −∞ (that row always wins), said explicitly
    val lnLn = when(e === 0.0, lit(Double.NegativeInfinity))
      .when(e >= 1.0, graft.functions.ln_pinned(e))
      .otherwise(-graft.functions.ln_pinned(lit(1.0) / e))
    dsirScore(raw, textCol, ratios)
      .withColumn("__dsir_key", lnLn - col("logw"))
      .orderBy(col("__dsir_key").asc, col(idCol).asc)
      .limit(k)
      .drop("__dsir_key")
  }
}
