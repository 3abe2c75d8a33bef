package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * The baseline is brute-force cosine top-k — exact, one broadcast join, no
  * shuffle of the corpus — correct at any scale where the query set is small.
  * The scale path is LSH bucketing with the engine's own `lsh_euclidean`
  * family: only vectors sharing a band bucket are scored, trading recall for
  * a corpus-partitioned join. Cosine is built from codegen'd higher-order
  * functions (zip_with/aggregate), not UDFs, and accumulates in array order
  * so results are bit-deterministic.
  */
object Ann {

  /** Cosine similarity of two double-array columns (sequential accumulation,
    * dot / (||a|| * ||b||)). Backed by the codegen'd
    * [[org.apache.spark.sql.graft.CosineSim]] expression — bit-identical to
    * the former `aggregate(zip_with(...))` formulation (same IEEE op order),
    * but it stays inside whole-stage codegen instead of interpreting two
    * lambda trees per pair. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnShim, CosineSim}
    ColumnShim.column(CosineSim(ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Squared L2 norm (codegen'd; bit-equal to the sequential
    * `aggregate(v, 0.0, (acc, x) => acc + x*x)` fold). The zero-norm-guard
    * kernel of every cosine path. */
  def normSq(v: Column): Column = {
    import org.apache.spark.sql.graft.{ColumnShim, NormSq}
    ColumnShim.column(NormSq(ColumnShim.expression(v)))
  }

  /** Cosine near-dup pair mining via random-hyperplane (sign) LSH — the
    * third blocking family next to MinHash (Jaccard) and p-stable
    * (Euclidean): each vector's 64-bit [[graft.functions.cosine_sketch64]]
    * splits into `bands` equal bit-chunks; two vectors are candidates iff
    * some chunk matches exactly (for sketches within Hamming distance
    * bands−1 this is the pigeonhole guarantee, and chunk-match probability
    * decays as (1 − θ/π)^(64/bands) — tune bands for the recall/cost
    * point); candidates verify with exact cosine > `threshold`.
    *
    * Scale shape, same as the MinHash band join: ids+chunks only through
    * the blocking shuffle and the distinct (shuffling d-dim vectors through
    * candidate dedup would multiply volume by the embedding width); vectors
    * re-attach by id join for the verify step. All-pairs never happens —
    * cost is per-bucket quadratic, with the same mega-bucket caveats (and
    * mitigations) as the MinHash path. */
  def cosineLshPairs(df: DataFrame, nbits: Int, bands: Int, seed: Long,
                     threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Zero-norm vectors have no direction: their cosine is undefined (the
    // norm division throws DIVIDE_BY_ZERO under Spark 4's default ANSI
    // mode, or yields NaN — which Spark's ordering ranks ABOVE every
    // threshold — under non-ANSI), and they sketch to all-ones bits so
    // they'd always collide with each other. Excluded up front, like the
    // empty-shingle guard in the MinHash path.
    val live = df.filter(normSq(col(vecCol)) > 0.0)
    val sk = live.select(col(idCol).as("id"),
      graft.functions.cosine_sketch64(col(vecCol), nbits, seed).as("sk"))
    // the shared self band-join's ReusedExchange: the full-vector
    // cosine_sketch64 pass runs once per vector, not per side
    val banded = SketchBlocking.bandRows(sk, Seq(col("id")), "sk", bands, nbits)
    val cand = BandedLsh.selfBandJoin(banded, "id", bucket = Seq("band", "chunk"))
      .select("id_a", "id_b").distinct()
    cand
      .join(live.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(live.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") > threshold)
      .select("id_a", "id_b", "sim")
  }

  /** The "queries must be small" contract, ENFORCED: every ANN path either
    * collects the query batch to the driver or broadcasts it to all
    * executors, so a 10 M-row query side would OOM silently — long after
    * the job was submitted, with an opaque heap error. Counting
    * `limit(cap+1)` short-circuits at cap+1 rows (LocalLimit), so the probe
    * costs one cheap job, never a full scan of a large query side. Cap is
    * `graft.ann.maxQueryRows` (default 100 000). */
  private[api] def requireSmallQueries(queries: DataFrame, op: String): Unit = {
    val maxQ = SparkEnv.annMaxQueryRows(queries.sparkSession)
    val n = queries.limit(maxQ + 1).count()
    require(n <= maxQ,
      s"$op: query side has > $maxQ rows (graft.ann.maxQueryRows) — ANN query " +
        "batches are driver-collected/broadcast by contract; split the batch " +
        "into smaller ones or raise spark.conf graft.ann.maxQueryRows")
  }

  /** Exact top-k neighbors for each query row (brute force). `queries` must
    * be small enough to broadcast (enforced via `graft.ann.maxQueryRows`);
    * the corpus is never shuffled — the ranking happens per corpus partition
    * and only k rows per query survive. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    requireSmallQueries(queries, "bruteForceTopK")
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("nvec")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  private def bandedExplode(df: DataFrame, outId: String, bucketWidth: Double,
                            bandCount: Int, bandSize: Int, seed: Long,
                            idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as(outId),
      posexplode(graft.functions.lsh_euclidean(col(vecCol), bucketWidth, bandCount, bandSize, seed)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /** LSH-bucketed top-k: candidates are corpus vectors sharing at least one
    * `lsh_euclidean` band bucket with the query; exact cosine ranks the
    * candidates. Recall depends on (bucketWidth, bandCount, bandSize). */
  def lshBucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      bucketWidth: Double, bandCount: Int, bandSize: Int, seed: Long,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lshBucketedTopKPrebucketed(
      bandedExplode(corpus, "neighbor_id", bucketWidth, bandCount, bandSize, seed, idCol, vecCol),
      corpus, queries, k, bucketWidth, bandCount, bandSize, seed, idCol, vecCol)

  /** Persist the corpus's `(band, band_hash)` bucket layout as a Spark
    * bucketed table — the pre-bucketed ANN index (docs/SCALE.md). The
    * `(band, band_hash, neighbor_id)` rows are written parquet, bucketed AND
    * sorted on the band-join key, so every subsequent query batch's band
    * join reads the corpus side with **zero exchange**: the bucketed scan
    * already satisfies the join's required distribution, and only the (tiny)
    * query side shuffles — into `numBuckets` partitions to match. At 100 TB
    * this turns every repeat batch from "re-hash + re-shuffle the corpus"
    * into "shuffle the batch".
    *
    * `numBuckets` is the corpus-side parallelism for all future batches:
    * size it like a shuffle-partition count for the exploded corpus
    * (rows × bandCount), not the raw corpus. Re-run to refresh the index
    * after corpus changes (mode=overwrite). */
  def saveBucketedCorpus(corpus: DataFrame, table: String, numBuckets: Int,
                         bucketWidth: Double, bandCount: Int, bandSize: Int, seed: Long,
                         idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    BucketedWrite.saveBucketed(
      bandedExplode(corpus, "neighbor_id", bucketWidth, bandCount, bandSize, seed, idCol, vecCol),
      table, numBuckets, Seq("band", "band_hash"))

  /** [[lshBucketedTopK]] served from a [[saveBucketedCorpus]] table: the
    * corpus is neither re-hashed nor re-shuffled — the band join consumes
    * the bucketed layout in place. */
  def lshBucketedTopKFromTable(table: String, corpus: DataFrame,
                               queries: DataFrame, k: Int,
                               bucketWidth: Double, bandCount: Int, bandSize: Int, seed: Long,
                               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lshBucketedTopKPrebucketed(corpus.sparkSession.table(table), corpus, queries, k,
      bucketWidth, bandCount, bandSize, seed, idCol, vecCol)

  /** [[lshBucketedTopK]] against the corpus's banded rows
    * `(band, band_hash, neighbor_id)`: exploded inline, or read from a
    * [[saveBucketedCorpus]] table. */
  private def lshBucketedTopKPrebucketed(bucketedCorpus: DataFrame, corpus: DataFrame,
                                 queries: DataFrame, k: Int,
                                 bucketWidth: Double, bandCount: Int, bandSize: Int, seed: Long,
                                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ids-only through the band join and the distinct — shuffling d-dim
    // vectors through candidate dedup would multiply shuffle volume by the
    // embedding width; vectors re-attach afterwards (query side broadcast).
    val cand = bandedExplode(queries, "query_id", bucketWidth, bandCount, bandSize, seed, idCol, vecCol)
      .join(bucketedCorpus, Seq("band", "band_hash"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val withVecs = cand
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")), "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    withVecs.withColumn("sim", cosine(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF (inverted-file) top-k: a deterministic k-means-lite coarse quantizer
    * built from the engine's seeded RNG partitions the corpus into `nlist`
    * cells; queries search only the `nprobe` nearest cells. The classic ANN
    * scale path when LSH recall tuning is awkward: the corpus is clustered
    * once (one shuffle keyed by cell) and each query scores ~nprobe/nlist of
    * the data.
    *
    * Centroids: `iters` rounds of Lloyd's algorithm from seeded-random unit
    * starts, computed on a driver-collected sample (10 000 rows) —
    * the quantizer is a tiny model; the corpus itself never leaves executors.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int, nprobe: Int, seed: Long, iters: Int = 5,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k") // aligned with pqTopK/ivfPqTopK
    fitIvf(corpus, nlist, seed, iters, idCol, vecCol)
      .search(queries, k, nprobe, idCol, vecCol)
  }

  /** A fitted IVF index: the trained coarse quantizer (tiny, broadcast once)
    * plus the cell-assigned corpus. Train ONCE, search MANY query batches —
    * the production shape for a 100 TB corpus, where the quantizer-training
    * sample pass and the corpus-wide cell assignment are the expensive part
    * and query batches arrive repeatedly. `cells` is a lazy plan over the
    * corpus: `.persist()` it (or write it out partitioned by `cell`) before
    * repeated searches, or each search re-runs the assignment scan. */
  final class IvfIndex private[api] (
      val centroids: Array[Array[Double]],
      private[api] val model: org.apache.spark.sql.graft.CentroidModel,
      /** `(neighbor_id, nvec, cell)` — the assigned corpus. */
      val cells: DataFrame) {
    def search(queries: DataFrame, k: Int, nprobe: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
      import org.apache.spark.sql.graft.{ColumnShim, ProbeCells}
      require(k >= 1, s"k must be >= 1, got $k")
      val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
        .withColumn("cell",
          explode(ColumnShim.column(ProbeCells(ColumnShim.expression(col("qvec")), model, nprobe))))
      val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
      probed.join(cells, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", cosine(col("qvec"), col("nvec")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    }
  }

  /** Train the IVF coarse quantizer and assign the corpus to cells, returning
    * a reusable [[IvfIndex]]. [[ivfTopK]] is exactly `fitIvf(...).search(...)`
    * — same bit-exact results, same oracle — so single-shot callers lose
    * nothing; repeated-batch callers stop paying the training sample pass and
    * (with `cells` persisted) the assignment scan per batch. */
  def fitIvf(corpus: DataFrame, nlist: Int, seed: Long, iters: Int = 5,
             idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val spark = corpus.sparkSession
    val centroids = trainQuantizer(corpus, nlist, seed, iters, 10000, idCol, vecCol)
    // codegen'd expressions over a broadcast centroid table — the corpus-wide
    // assignment pass reads each vector once out of ArrayData with no boxed
    // Seq[Double] per-row conversion (the former Scala-UDF tax)
    import org.apache.spark.sql.graft.{CentroidModel, ColumnShim, NearestCell}
    val model = new CentroidModel(spark.sparkContext.broadcast(centroids))
    val cells = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .withColumn("cell",
        ColumnShim.column(NearestCell(ColumnShim.expression(col("nvec")), model)))
    new IvfIndex(centroids, model, cells)
  }

  /** Train the IVF coarse quantizer: Lloyd's iterations over a seeded-hash
    * sample of the corpus.
    *
    * The sample is the `sampleSize` rows with the smallest
    * `xxhash64(id, seed)` — a deterministic uniform draw that depends only
    * on row identity, never on partitioning or scan order (a bare
    * `limit(n)` takes the first partition's head, which on a sorted or
    * skew-partitioned corpus trains the quantizer on a biased prefix and
    * silently craters recall). Plans as TakeOrderedAndProject: per-partition
    * top-k + driver merge, no full sort, one corpus pass. */
  private[api] def trainQuantizer(corpus: DataFrame, nlist: Int, seed: Long,
                                  iters: Int, sampleSize: Int,
                                  idCol: String, vecCol: String,
                                  initFromSample: Boolean = false): Array[Array[Double]] = {
    val sample = corpus
      .select(col(vecCol).as("__vec"), xxhash64(col(idCol), lit(seed)).as("__h"),
        col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id")) // id tiebreak keeps the cut total-ordered
      .limit(sampleSize)
      .select("__vec")
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "corpus is empty")
    val d = sample.head.length
    // deterministic init, two modes (both pinned by the Python oracle
    // mirror): N(0,1) directions from the engine RNG — the original IVF
    // behavior, kept for its pinned oracles — or the first nlist sample
    // vectors (the sample is hash-ordered, so this is a uniform draw).
    // Off-manifold N(0,1) centroids mostly capture nothing and never move
    // (empty cells keep their init), which IVF recall tolerates but
    // SemanticDedup's sum-of-squared-cluster-sizes cost does not: on the
    // sf0.01 embeddings it collapses 16 cells to 2 non-empty
    // (sizes [277, 223], Σ|c|² = 127k of a 125k-pair brute force) where
    // sample init balances them (sizes 25..39, Σ|c|² = 16k).
    val rng = new graft.core.StdRng(seed)
    var centroids =
      if (initFromSample) {
        // DISTINCT init vectors, first-seen order: a dedup corpus is full of
        // exact-duplicate embeddings, and two bit-equal init centroids can
        // never separate (strict-< assignment starves the higher index;
        // empty cells keep their init) — silently halving the effective
        // cell count. When the sample has fewer distinct vectors than
        // nlist, the extras repeat the distinct set (those cells stay
        // empty, harmlessly).
        val picked = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
        var i = 0
        while (i < sample.length && picked.length < nlist) {
          if (seen.add(sample(i).toSeq)) picked += sample(i)
          i += 1
        }
        Array.tabulate(nlist)(j => picked(j % picked.length).clone)
      } else Array.fill(nlist)(Array.fill(d)(rng.stdNormal()))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](d))
      val counts = new Array[Long](nlist)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += v(j); j += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
      it += 1
    }
    centroids
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var dist = 0.0
      var j = 0
      while (j < v.length) { val x = v(j) - cs(c)(j); dist += x * x; j += 1 }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Train `m` product-quantization codebooks of `ksub` centroids each:
    * the vector splits into `m` subspaces and each runs the same seeded
    * Lloyd's recipe as [[trainQuantizer]] over the same layout-invariant
    * hash sample. Draw order is part of the bit-exact contract:
    * subspace-major, then centroid, then dim (mirrored line-for-line in
    * tools/gen_oracles.py). */
  private[api] def trainPq(corpus: DataFrame, m: Int, ksub: Int, seed: Long,
                           iters: Int, sampleSize: Int,
                           idCol: String, vecCol: String): Array[Array[Array[Double]]] = {
    val sample = corpus
      .select(col(vecCol).as("__vec"), xxhash64(col(idCol), lit(seed)).as("__h"),
        col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id"))
      .limit(sampleSize)
      .select("__vec")
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "corpus is empty")
    val d = sample.head.length
    require(m >= 1 && d % m == 0, s"vector dim $d must split into m=$m equal subspaces")
    val dsub = d / m
    val rng = new graft.core.StdRng(seed)
    val books = Array.fill(m)(Array.fill(ksub)(Array.fill(dsub)(rng.stdNormal())))
    var s = 0
    while (s < m) {
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = books(s)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        sub.foreach { v =>
          val c = nearestCentroid(v, cents)
          counts(c) += 1
          var j = 0
          while (j < dsub) { sums(c)(j) += v(j); j += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }.toArray
        it += 1
      }
      books(s) = cents
      s += 1
    }
    books
  }

  /** Product-quantization ANN (ADC): the corpus is encoded ONCE into `m`
    * per-subspace centroid codes — the classic memory-scale path, 8 codes
    * standing in for 64 doubles shrinks a 100 TB embedding store ~64× — and
    * each query batch scans CODES, never vectors: per-query distance
    * tables (`m`·`ksub` doubles, KBs) are built on the driver from the
    * small query side (same contract as [[bruteForceTopK]]'s broadcast),
    * broadcast, and each corpus row pays `m` array lookups + adds inside
    * codegen. Approximate squared-L2 ranks ascending with a neighbor-id
    * tiebreak; all arithmetic is fixed-order IEEE, so results are
    * bit-reproducible and oracle-pinned (`ann_topk_pq`). Compose with IVF
    * cells for the full IVF-PQ layout (cluster pruning × compressed
    * residual scan) — both halves exist and are oracle-gated separately. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int, ksub: Int,
             seed: Long, iters: Int = 5,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{AdcTables, ColumnShim, PqAdcDist, PqCodes, PqModel}
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    val books = trainPq(corpus, m, ksub, seed, iters, 10000, idCol, vecCol)
    val model = new PqModel(spark.sparkContext.broadcast(books))
    val codes = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      ColumnShim.column(PqCodes(ColumnShim.expression(col(vecCol)), model)).as("codes"))
    val tables = buildAdcTables(collectQueries(queries, idCol, vecCol), books, m, ksub)
    val adc = new AdcTables(spark.sparkContext.broadcast(tables))
    val qids = broadcast(queries.select(col(idCol).cast("long").as("query_id")))
    val scored = codes.join(qids, col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", ColumnShim.column(PqAdcDist(
        ColumnShim.expression(col("query_id")), ColumnShim.expression(col("codes")), adc)))
    rankByAdc(scored, k)
  }

  /** Query collect shared by the PQ paths — the query batch is the small
    * side, same contract as [[bruteForceTopK]]'s broadcast. */
  private def collectQueries(queries: DataFrame, idCol: String,
                             vecCol: String): Array[(Long, Array[Double])] = {
    requireSmallQueries(queries, "collectQueries")
    val qrows = queries.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(qrows.nonEmpty, "queries are empty")
    qrows
  }

  /** Per-query ADC tables: `tables(qid)(sub)(code)` = squared L2 between
    * the query's subvector and that codebook centroid. ONE shared builder
    * for [[pqTopK]] and [[ivfPqTopK]] — the fixed-order fold is part of the
    * bit-exact oracle contract, and a divergence between two copies would
    * silently split the two operators' semantics. */
  private def buildAdcTables(qrows: Array[(Long, Array[Double])],
                             books: Array[Array[Array[Double]]],
                             m: Int, ksub: Int): Map[Long, Array[Array[Double]]] = {
    val dsub = qrows.head._2.length / m
    qrows.map { case (qid, q) =>
      qid -> Array.tabulate(m) { s =>
        Array.tabulate(ksub) { c =>
          val cent = books(s)(c)
          var dist = 0.0
          var j = 0
          while (j < dsub) { val t = q(s * dsub + j) - cent(j); dist += t * t; j += 1 }
          dist
        }
      }
    }.toMap
  }

  /** Shared (adist asc, neighbor_id) top-k tail of the PQ paths. */
  private def rankByAdc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** IVF-PQ: the canonical large-scale ANN layout — IVF cell pruning ×
    * PQ-compressed scan. The corpus is assigned to `nlist` coarse cells AND
    * encoded into `m` subspace codes in ONE narrow pass (two codegen'd
    * expressions over the same scan); a query probes `nprobe` cells and
    * ADC-scores only those rows from its broadcast distance tables. Search
    * cost ≈ (nprobe/nlist) of the corpus × m lookups per row, over a store
    * ~64× smaller than the raw vectors. Coarse quantizer draws from
    * `seed`, PQ codebooks from `seed + 1` (independent streams, both
    * mirrored in the Python oracle); ranking is (adist asc, neighbor_id)
    * like [[pqTopK]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nlist: Int, nprobe: Int, m: Int, ksub: Int, seed: Long,
                iters: Int = 5,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    fitIvfPq(corpus, nlist, m, ksub, seed, iters, idCol, vecCol)
      .search(queries, k, nprobe, idCol, vecCol)
  }

  /** A fitted IVF-PQ index: both trained models (coarse centroids + PQ
    * codebooks, KBs, broadcast once) and the compressed corpus — each row
    * reduced to a cell id and `m` byte codes, ~64× smaller than the raw
    * vectors. Train/encode ONCE, search MANY batches: per batch only the
    * query-side ADC tables (`m`·`ksub` doubles per query) are rebuilt and
    * broadcast. `encoded` is a lazy plan — `.persist()` it or write it out
    * (partitioned/bucketed by `cell`) before repeated searches, or each
    * search re-runs the encode scan over the raw corpus. */
  final class IvfPqIndex private[api] (
      /** Coarse centroids by cell id. Cells retired by
        * [[mergeStarvedIvfPqCells]] hold the +Infinity sentinel — every
        * distance kernel ([[org.apache.spark.sql.graft.CentroidModel]])
        * accumulates +Inf against them, so they can never win an
        * assignment or rank into a probe list while live cells remain. */
      val centroids: Array[Array[Double]],
      val books: Array[Array[Array[Double]]],
      private[api] val cmodel: org.apache.spark.sql.graft.CentroidModel,
      private[api] val m: Int,
      private[api] val ksub: Int,
      /** `(neighbor_id, cell, codes)` — the compressed index. */
      val encoded: DataFrame,
      /** Cell ids retired by [[mergeStarvedIvfPqCells]] (empty partitions,
        * Inf-sentinel centroids). Ids never shift — retirement leaves the
        * centroid list's length alone, which is what keeps untouched
        * cells' files bit-identical across repairs. */
      val deadCells: Set[Int] = Set.empty) {
    def search(queries: DataFrame, k: Int, nprobe: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.sql.graft.{AdcTables, ColumnShim, PqAdcDist, ProbeCells}
      require(k >= 1, s"k must be >= 1, got $k")
      val spark = encoded.sparkSession
      val qrows = collectQueries(queries, idCol, vecCol)
      val tables = buildAdcTables(qrows, books, m, ksub)
      val adc = new AdcTables(spark.sparkContext.broadcast(tables))
      // Static probe-cell pruning: the batch's probed cells are computable
      // at planning time (the same CentroidModel.probes kernel the
      // ProbeCells expression runs — queries are already collected for the
      // ADC tables, so this costs nothing extra). The IN filter reaches the
      // scan's partition enumeration, so a [[saveIvfPqIndex]] table
      // (directory-partitioned by cell) reads ONLY the probed
      // ~nprobe/nlist of the corpus — the IVF pruning promise delivered at
      // the storage layer, not just the join. Results are unchanged: the
      // per-query cell join below is strictly finer than this union.
      val probeCells = qrows
        .flatMap { case (_, q) =>
          cmodel.probes(ArrayData.toArrayData(q), nprobe).toIntArray() }
        .distinct.sorted
      val pruned = encoded.filter(col("cell").isin(probeCells.toIndexedSeq.map(Int.box): _*))
      val probed = broadcast(queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qvec"))
        .withColumn("cell",
          explode(ColumnShim.column(ProbeCells(ColumnShim.expression(col("qvec")), cmodel, nprobe))))
        .select("query_id", "cell"))
      val scored = pruned.join(probed, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("adist", ColumnShim.column(PqAdcDist(
          ColumnShim.expression(col("query_id")), ColumnShim.expression(col("codes")), adc)))
      rankByAdc(scored, k)
    }
  }

  /** Train the coarse quantizer (from `seed`) and PQ codebooks (from
    * `seed + 1`, independent streams) and encode the corpus, returning a
    * reusable [[IvfPqIndex]]. [[ivfPqTopK]] is exactly
    * `fitIvfPq(...).search(...)` — same bit-exact results, same oracle — so
    * the single-shot and repeated-batch paths can never drift apart. The
    * plain-PQ layout ([[pqTopK]]) is the `nlist = 1` degenerate case of this
    * index; production corpora want the cell pruning, so only the composed
    * form gets the fitted API. */
  def fitIvfPq(corpus: DataFrame, nlist: Int, m: Int, ksub: Int, seed: Long,
               iters: Int = 5,
               idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    import org.apache.spark.sql.graft.{CentroidModel, ColumnShim, NearestCell, PqCodes, PqModel}
    val spark = corpus.sparkSession
    val cents = trainQuantizer(corpus, nlist, seed, iters, 10000, idCol, vecCol)
    val books = trainPq(corpus, m, ksub, seed + 1, iters, 10000, idCol, vecCol)
    val cmodel = new CentroidModel(spark.sparkContext.broadcast(cents))
    val pmodel = new PqModel(spark.sparkContext.broadcast(books))
    val encoded = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      ColumnShim.column(NearestCell(ColumnShim.expression(col(vecCol)), cmodel)).as("cell"),
      ColumnShim.column(PqCodes(ColumnShim.expression(col(vecCol)), pmodel)).as("codes"))
    new IvfPqIndex(cents, books, cmodel, m, ksub, encoded)
  }

  /** Persist a fitted [[IvfPqIndex]] as two catalog tables — the
    * train-once / search-many-sessions form of IVF-PQ:
    *
    *  - `{prefix}_codes`: the compressed corpus `(neighbor_id, codes)`
    *    directory-partitioned by `cell`, so a search batch's static
    *    probe-cell IN filter ([[IvfPqIndex.search]]) prunes at partition
    *    enumeration and only ~nprobe/nlist of the files are ever opened.
    *    At 100 TB this is the difference between scanning 64×-compressed
    *    codes for the whole corpus and for just the probed cells.
    *  - `{prefix}_model`: the coarse centroids and PQ codebooks as plain
    *    rows `(kind, i, j, vec)` — KBs; collected and re-broadcast on load.
    *
    * Overwrites both tables. [[loadIvfPqIndex]] restores an index whose
    * searches are bit-equal to the in-session original (same models, same
    * codes, same ADC fold). */
  def saveIvfPqIndex(index: IvfPqIndex, tablePrefix: String): Unit = {
    val spark = index.encoded.sparkSession
    BucketedWrite.dropTable(spark, s"${tablePrefix}_codes")
    BucketedWrite.dropTable(spark, s"${tablePrefix}_model")
    index.encoded.write.format("parquet")
      .partitionBy("cell").mode("overwrite")
      .saveAsTable(s"${tablePrefix}_codes")
    writeModelTable(spark, index.centroids, index.books, tablePrefix)
  }

  /** The `{prefix}_model` write shared by [[saveIvfPqIndex]] and the two
    * repairs ([[rebalanceIvfPqCells]] rewrites the centroid list in place;
    * [[mergeStarvedIvfPqCells]] retires slots). Cells in `dead` write as
    * `kind = "dead"` (their vec column keeps whatever the in-memory slot
    * holds, for audit — [[loadIvfPqIndex]] substitutes the Inf sentinel
    * regardless); [[ivfPqIndexHealth]]'s nlist counts only live
    * `"centroid"` rows, so retirement re-bases skew the way the probe
    * cost actually changed. */
  private def writeModelTable(spark: org.apache.spark.sql.SparkSession,
                              cents: Array[Array[Double]],
                              books: Array[Array[Array[Double]]],
                              tablePrefix: String,
                              dead: Set[Int] = Set.empty): Unit = {
    import spark.implicits._
    BucketedWrite.dropTable(spark, s"${tablePrefix}_model")
    val centRows = cents.zipWithIndex.toSeq
      .map { case (v, i) => (if (dead(i)) "dead" else "centroid", i, 0, v.toSeq) }
    val bookRows = for {
      (sub, s) <- books.zipWithIndex.toSeq
      (cv, c) <- sub.zipWithIndex
    } yield ("book", s, c, cv.toSeq)
    (centRows ++ bookRows).toDF("kind", "i", "j", "vec")
      .coalesce(1) // KB-sized model: one file, not one per shuffle partition
      .write.format("parquet").mode("overwrite")
      .saveAsTable(s"${tablePrefix}_model")
  }

  /** Rebuild an [[IvfPqIndex]] from [[saveIvfPqIndex]] tables. The model
    * table (KBs) is collected and re-broadcast; the codes table becomes the
    * index's `encoded` plan — a partitioned scan, so searches prune to the
    * probed cells and re-encode nothing. The model half is served through
    * [[SmallTableCache]] (file-listing-validated): the streaming/novelty
    * ingest loops reload the FROZEN models once per micro-batch, paying a
    * collect job + re-broadcast each time; repairs/reindexes rewrite the
    * model table, which changes the listing and invalidates. The codes
    * frame is rebuilt per call, never cached — it grows with every
    * append. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     tablePrefix: String): IvfPqIndex = {
    val (cents, books, m, ksub, dead, cmodel) =
      SmallTableCache.cached(spark, s"${tablePrefix}_model", "ann-model") {
        loadIvfPqModel(spark, tablePrefix)
      }
    val encoded = spark.table(s"${tablePrefix}_codes")
      .select("neighbor_id", "cell", "codes")
    new IvfPqIndex(cents, books, cmodel, m, ksub, encoded, dead)
  }

  private def loadIvfPqModel(spark: org.apache.spark.sql.SparkSession,
                             tablePrefix: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Int, Int,
         Set[Int], org.apache.spark.sql.graft.CentroidModel) = {
    import org.apache.spark.sql.graft.CentroidModel
    val rows = spark.table(s"${tablePrefix}_model").collect()
    def vecsOf(kind: String): Array[((Int, Int), Array[Double])] = rows
      .filter(_.getAs[String]("kind") == kind)
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")),
        r.getAs[scala.collection.Seq[Double]]("vec").toArray))
    val liveEntries = vecsOf("centroid")
    require(liveEntries.nonEmpty, s"${tablePrefix}_model holds no live centroids")
    // retired slots re-materialize as the +Inf sentinel: the distance
    // kernels can never pick them, and keeping the SLOT keeps every other
    // cell id stable (the bit-identical-untouched-partitions contract)
    val deadEntries = vecsOf("dead")
    val dead = deadEntries.map(_._1._1).toSet
    val byCell = (liveEntries ++ deadEntries).map { case ((i, _), v) => i -> v }.toMap
    val nSlots = byCell.keys.max + 1
    require(byCell.size == nSlots,
      s"${tablePrefix}_model has holes in its centroid slots (${byCell.size} of $nSlots)")
    val cents = Array.tabulate(nSlots) { i =>
      if (dead(i)) Array.fill(byCell(i).length)(Double.PositiveInfinity)
      else byCell(i)
    }
    val bookEntries = vecsOf("book")
    require(bookEntries.nonEmpty, s"${tablePrefix}_model holds no codebooks")
    val m = bookEntries.map(_._1._1).max + 1
    val ksub = bookEntries.map(_._1._2).max + 1
    val byKey = bookEntries.toMap
    val books = Array.tabulate(m, ksub)((s, c) => byKey((s, c)))
    val cmodel = new CentroidModel(spark.sparkContext.broadcast(cents))
    (cents, books, m, ksub, dead, cmodel)
  }

  /** Append a batch to a persisted [[saveIvfPqIndex]] index: encode the
    * batch under the index's FROZEN models (coarse centroids + PQ
    * codebooks — appends never retrain, exactly like
    * [[BandedLsh.appendToSignatureIndex]] never re-classifies) and insert
    * into `{prefix}_codes`. Cost: the batch's own encode + one partitioned
    * append — never a corpus pass. The flip side of frozen models is
    * DRIFT: appended data the build-time quantizer doesn't fit piles into
    * few cells (population skew → probe cost skews, and vectors land far
    * from every codebook entry → recall decays). That detection is
    * [[ivfPqIndexHealth]]'s job, on the compaction cadence. */
  def appendToIvfPqIndex(batch: DataFrame, tablePrefix: String,
                         idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.graft.{ColumnShim, NearestCell, PqCodes, PqModel}
    val spark = batch.sparkSession
    val idx = loadIvfPqIndex(spark, tablePrefix)
    val pmodel = new PqModel(spark.sparkContext.broadcast(idx.books))
    // dimension guard IN the encode projection: a batch vector SHORTER
    // than the trained dimension would otherwise assign a cell from a
    // silent prefix distance (the kernel loops over the vector's length)
    // — garbage codes in the index with no error. raise_error makes the
    // mismatch loud at append time.
    val d = idx.centroids(0).length
    // explicit null branch: size(null) would make the concat (and so the
    // whole raised message) null — a null batch vector must fail LOUD too
    val vec = when(col(vecCol).isNull,
        raise_error(lit(s"appendToIvfPqIndex: index '$tablePrefix' was trained at dimension $d, batch vector is NULL")))
      .when(size(col(vecCol)) === d, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"appendToIvfPqIndex: index '$tablePrefix' was trained at dimension $d, batch vector has "),
        size(col(vecCol)).cast("string"), lit(" elements"))))
    val encoded = batch.select(col(idCol).cast("long").as("neighbor_id"),
      ColumnShim.column(NearestCell(ColumnShim.expression(vec), idx.cmodel)).as("cell"),
      ColumnShim.column(PqCodes(ColumnShim.expression(vec), pmodel)).as("codes"))
    val table = s"${tablePrefix}_codes"
    // insertInto is positional; saveAsTable moved the partition column last
    encoded.select(spark.table(table).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(table)
  }

  /** Maintenance scan for append drift on a persisted IVF-PQ index: the
    * per-cell population of `{prefix}_codes` against the uniform
    * expectation `total / nlist`, reporting cells whose skew
    * `cell_rows · nlist / total` exceeds `maxSkew`. Empty result = the
    * build-time quantizer still spreads the (now-appended) corpus; any
    * rows returned mean probe cost is skewing onto few cells and recall
    * is at risk for the ballooned cells' vectors — a refit
    * ([[fitIvfPq]] + [[saveIvfPqIndex]]) is due. One count-only
    * aggregation over the codes table (map-side combined, nlist rows
    * after) — run on the compaction cadence, the same contract as
    * [[BandedLsh.signatureIndexHealth]]. Returns (cell, cell_rows, skew)
    * ordered nothing — caller sorts; skew is one exact-integer ratio cast
    * once (bit-stable cross-engine). */
  def ivfPqIndexHealth(spark: org.apache.spark.sql.SparkSession,
                       tablePrefix: String, maxSkew: Double = 4.0,
                       minSkew: Double = 0.0): DataFrame = {
    require(maxSkew > 0.0, s"maxSkew must be positive, got $maxSkew")
    require(minSkew >= 0.0 && minSkew < maxSkew,
      s"minSkew must be in [0, maxSkew), got $minSkew")
    val nlist = spark.table(s"${tablePrefix}_model")
      .filter(col("kind") === "centroid").count()
    require(nlist > 0, s"${tablePrefix}_model holds no centroids")
    val counts = spark.table(s"${tablePrefix}_codes")
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("cell_rows"))
    val total = counts.agg(sum("cell_rows").as("__total"))
    // minSkew > 0 also reports STARVED cells — the complementary drift
    // signal (cells the appended data abandoned: relative mass collapsing
    // means the probe's nprobe/nlist coverage fraction no longer describes
    // the corpus; cells emptied ENTIRELY don't appear in the codes table
    // and are detectable as nlist - count(distinct cell) by the caller).
    // Default 0.0 keeps the original over-population-only contract.
    counts.crossJoin(broadcast(total))
      .withColumn("skew",
        (col("cell_rows") * lit(nlist)).cast("double") / col("__total").cast("double"))
      .filter(col("skew") > maxSkew || col("skew") < minSkew)
      .select("cell", "cell_rows", "skew")
  }

  /** The REPAIR for [[ivfPqIndexHealth]]'s drift signal: SPLIT each
    * ballooned cell against a locally refit sub-quantizer, touching
    * O(drifted rows) — never a full [[fitIvfPq]] corpus re-encode.
    *
    * Per ballooned cell (skew > `maxSkew`), `k = max(2, ceil(2·skew /
    * maxSkew))` sub-centroids are trained on the cell's own vectors
    * (hash-ordered sample, distinct-sample init + Lloyd's — the
    * [[trainQuantizer]] `initFromSample` recipe, which actually separates
    * a displaced data mode where off-manifold N(0,1) init collapses).
    * The centroid list is updated IN PLACE — sub-centroid 0 replaces the
    * ballooned entry (untouched cell ids never shift) and the rest append
    * as new cells — then ONLY the ballooned cells' rows are reassigned by
    * nearest-centroid over the updated list and rewritten (their PQ codes
    * carry over unchanged: codes encode the raw vector under the frozen
    * codebooks, independent of cell). Untouched cells' partitions are
    * never rewritten — their files, and so their codes, stay bit-identical
    * (spec-pinned), though reassigned rows may APPEND to them when the
    * updated geometry says so.
    *
    * Cost: one health aggregation, a partition-pruned scan of the
    * ballooned cells' codes joined to `corpus` on id for the vectors
    * (only the drifted rows cross the wire; at 100 TB give the join a
    * broadcastable flagged side or a bucketed corpus), one bounded sample
    * collect per ballooned cell (≤ 10 000 vectors, ballooned cells
    * ≤ nlist), and one partitioned rewrite of the reassigned rows. The
    * reassigned set is MATERIALIZED to a scratch table before the old
    * partitions drop — the rewrite must never re-read what it replaces.
    *
    * `corpus` must contain every indexed id (build + appends) under
    * `idCol`/`vecCol` — ENFORCED: the repair fails loudly if the id join
    * drops any flagged row (a stale corpus snapshot would otherwise
    * silently shrink the index). Returns one row per repaired cell:
    * `(cell, cell_rows, skew, subcells)` — empty means no cell exceeded
    * `maxSkew` and nothing was touched. Note the health-after view: nlist
    * GROWS by the appended sub-centroids, so every skew is re-based;
    * re-run [[ivfPqIndexHealth]] for the authoritative post-repair state.
    *
    * CRASH RECOVERY (shared with [[mergeStarvedIvfPqCells]]): the commit
    * order is scratch write → model write → DROP flagged partitions →
    * append scratch → drop scratch, so the reassigned rows are durable
    * BEFORE anything is destroyed and a leftover scratch table marks an
    * interrupted repair. The repair REFUSES to start over a leftover
    * scratch (it may hold the only copy of already-dropped rows). To
    * recover: if `{prefix}_codes` still holds the flagged cells'
    * partitions (the crash hit before the drops), drop the scratch table
    * and re-run; if the partitions are gone, append the scratch's rows
    * into `{prefix}_codes` (positionally, partition column last), then
    * drop the scratch. A crash between model write and the drops leaves
    * rows under superseded cell geometry — searches stay approximate-
    * correct and re-running after recovery converges. */
  def rebalanceIvfPqCells(corpus: DataFrame, tablePrefix: String, seed: Long,
                          maxSkew: Double = 4.0,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{CentroidModel, ColumnShim, NearestCell}
    val spark = corpus.sparkSession
    import spark.implicits._
    require(maxSkew > 0.0, s"maxSkew must be positive, got $maxSkew")
    val idx = loadIvfPqIndex(spark, tablePrefix)
    val ballooned = ivfPqIndexHealth(spark, tablePrefix, maxSkew)
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    if (ballooned.isEmpty)
      return Seq.empty[(Int, Long, Double, Int)]
        .toDF("cell", "cell_rows", "skew", "subcells")
    val cellSet = ballooned.map(_._1).toIndexedSeq
    val codesTable = s"${tablePrefix}_codes"
    val flagged = spark.table(codesTable)
      .filter(col("cell").isin(cellSet.map(Int.box): _*))
      .select(col("neighbor_id"), col("cell"), col("codes"))
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__vec")), Seq("neighbor_id"))
      .persist()
    try {
      // corpus-coverage assertion: the inner join above silently DROPS any
      // indexed row whose id is missing from `corpus` — those rows would
      // vanish with the partition drop and never be rewritten. The health
      // scan already counted the flagged cells' rows; the join must
      // preserve every one of them.
      val expectedRows = ballooned.map(_._2).sum
      val joinedRows = flagged.count()
      require(joinedRows == expectedRows,
        s"rebalanceIvfPqCells: corpus is missing ${expectedRows - joinedRows} " +
          s"of $expectedRows flagged indexed rows — a stale corpus snapshot " +
          "would silently shrink the index; pass the full build+append corpus")
      val newCents = idx.centroids.map(_.clone)
      val extras = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val report = ballooned.map { case (c, rows, skew) =>
        val k = math.max(2, math.ceil(2.0 * skew / maxSkew).toInt)
        val subs = trainQuantizer(flagged.filter(col("cell") === c),
          k, seed + c, 5, 10000, "neighbor_id", "__vec",
          initFromSample = true)
        newCents(c) = subs(0)
        extras ++= subs.drop(1)
        (c, rows, skew, k)
      }
      val updated = new CentroidModel(
        spark.sparkContext.broadcast(newCents ++ extras))
      val reassigned = flagged.select(col("neighbor_id"),
        ColumnShim.column(NearestCell(ColumnShim.expression(col("__vec")), updated)).as("cell"),
        col("codes"))
      // durably materialize BEFORE the source partitions drop: the DROP
      // PARTITION DDL refreshes the table and UNCACHES dependent cached
      // plans, so a .persist() here would silently recompute from the
      // emptied source — a scratch table is immune to the invalidation
      commitRepair(spark, codesTable, tablePrefix, reassigned, cellSet,
        newCents ++ extras, idx.books, idx.deadCells)
      report.toSeq.toDF("cell", "cell_rows", "skew", "subcells")
    } finally flagged.unpersist()
  }

  /** The durable tail shared by [[rebalanceIvfPqCells]] and
    * [[mergeStarvedIvfPqCells]]: refuse a leftover scratch, stage the
    * reassigned rows, commit the model, THEN drop + append + clean up —
    * the order that makes every crash window recoverable (scaladoc on
    * [[rebalanceIvfPqCells]]). */
  private def commitRepair(spark: org.apache.spark.sql.SparkSession,
                           codesTable: String, tablePrefix: String,
                           reassigned: DataFrame, droppedCells: Seq[Int],
                           cents: Array[Array[Double]],
                           books: Array[Array[Array[Double]]],
                           dead: Set[Int],
                           writeModel: Boolean = true): Unit = {
    val scratch = s"${tablePrefix}_rebalance_tmp"
    require(!BucketedWrite.scratchLeftover(spark, scratch),
      s"$scratch exists: a prior repair of '$tablePrefix' was interrupted and " +
        "the scratch may hold the ONLY copy of rows already dropped from " +
        s"$codesTable. Recover first — if the flagged partitions still exist " +
        "in the codes table, DROP the scratch and re-run; if they were " +
        "dropped, append the scratch's rows into the codes table " +
        "(positionally, partition column last), then drop the scratch.")
    reassigned.write.format("parquet").mode("overwrite").saveAsTable(scratch)
    // the repairs CHANGE the models (split centroids / dead slots) and
    // must commit them here; compaction's models are frozen by contract,
    // and rewriting an unchanged model table would only add a
    // drop-to-write crash window in which the model exists NOWHERE else
    if (writeModel) writeModelTable(spark, cents, books, tablePrefix, dead)
    droppedCells.foreach(c => spark.sql(
      s"ALTER TABLE $codesTable DROP IF EXISTS PARTITION (cell=$c)"))
    // insertInto is positional; saveAsTable moved the partition col last
    spark.table(scratch)
      .select(spark.table(codesTable).columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(codesTable)
    BucketedWrite.dropTable(spark, scratch)
  }

  /** The complement of [[rebalanceIvfPqCells]], for the OTHER drift mode:
    * a long-lived index whose data distribution migrates accumulates
    * near-empty cells ([[ivfPqIndexHealth]]'s `minSkew` signal) that burn
    * nprobe coverage — a probe spent on a starved cell scans almost
    * nothing, so effective recall decays with no repair short of a full
    * refit. This MERGE retires them: each cell with relative skew below
    * `minSkew` (including cells emptied entirely, which the health scan
    * cannot see — they have no codes rows) is marked dead in the model
    * (its slot becomes the +Inf sentinel: ids never shift, untouched
    * partitions stay bit-identical) and ONLY its rows reassign by
    * nearest-centroid over the surviving list — each row to its own
    * nearest survivor, the same bounded O(drifted rows) shape as the
    * split. PQ codes carry over unchanged (codes encode the raw vector
    * under the frozen codebooks, independent of cell).
    *
    * Same corpus contract, coverage assertion, scratch staging and crash
    * recovery as [[rebalanceIvfPqCells]] (the two repairs share
    * [[commitRepair]] — run them on the same maintenance cadence, split
    * first if both trip). Returns one row per retired cell:
    * `(cell, cell_rows, skew)` (`0, 0.0` for wholly-empty cells); empty
    * means nothing was below `minSkew`. Post-repair, nlist SHRINKS by the
    * retired count, so every skew re-bases — re-run [[ivfPqIndexHealth]]
    * for the authoritative state. */
  def mergeStarvedIvfPqCells(corpus: DataFrame, tablePrefix: String,
                             minSkew: Double,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.{CentroidModel, ColumnShim, NearestCell}
    val spark = corpus.sparkSession
    import spark.implicits._
    require(minSkew > 0.0, s"minSkew must be positive, got $minSkew")
    val idx = loadIvfPqIndex(spark, tablePrefix)
    val codesTable = s"${tablePrefix}_codes"
    val starvedWithRows = ivfPqIndexHealth(spark, tablePrefix,
        maxSkew = Double.MaxValue, minSkew = minSkew)
      .filter(col("skew") < minSkew)
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // wholly-empty live cells: live slots with no codes rows at all (the
    // health scan can only report cells that appear in the codes table).
    // One column-pruned distinct over the codes table, nlist-bounded.
    val populated = spark.table(codesTable)
      .select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    val emptyCells = idx.centroids.indices
      .filter(c => !idx.deadCells(c) && !populated(c)).toArray
    val starved = starvedWithRows.map(_._1) ++ emptyCells
    if (starved.isEmpty)
      return Seq.empty[(Int, Long, Double)].toDF("cell", "cell_rows", "skew")
    val starvedSet = starved.toSet
    val survivors = idx.centroids.indices
      .count(c => !idx.deadCells(c) && !starvedSet(c))
    require(survivors >= 1,
      s"mergeStarvedIvfPqCells: every live cell is below minSkew=$minSkew — " +
        "that is not migration drift, rebuild the index (fitIvfPq) instead")
    val flagged = spark.table(codesTable)
      .filter(col("cell").isin(starvedWithRows.map(c => Int.box(c._1)).toIndexedSeq: _*))
      .select(col("neighbor_id"), col("cell"), col("codes"))
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__vec")), Seq("neighbor_id"))
      .persist()
    try {
      val expectedRows = starvedWithRows.map(_._2).sum
      val joinedRows = flagged.count()
      require(joinedRows == expectedRows,
        s"mergeStarvedIvfPqCells: corpus is missing ${expectedRows - joinedRows} " +
          s"of $expectedRows starved indexed rows — a stale corpus snapshot " +
          "would silently shrink the index; pass the full build+append corpus")
      val newDead = idx.deadCells ++ starvedSet
      // mask retired slots NOW so the reassignment can only land on
      // survivors (the Inf sentinel loses every distance comparison)
      val masked = idx.centroids.zipWithIndex.map { case (cent, c) =>
        if (newDead(c)) Array.fill(cent.length)(Double.PositiveInfinity) else cent
      }
      val updated = new CentroidModel(spark.sparkContext.broadcast(masked))
      val reassigned = flagged.select(col("neighbor_id"),
        ColumnShim.column(NearestCell(ColumnShim.expression(col("__vec")), updated)).as("cell"),
        col("codes"))
      commitRepair(spark, codesTable, tablePrefix, reassigned, starved.toSeq,
        idx.centroids, idx.books, newDead)
      (starvedWithRows.toSeq ++ emptyCells.map(c => (c, 0L, 0.0)))
        .sortBy(_._1).toDF("cell", "cell_rows", "skew")
    } finally flagged.unpersist()
  }

  /** Retention-delete compaction for a persisted [[saveIvfPqIndex]] index —
    * the [[Dedup.compactGramIndex]] story for the embedding side: a
    * takedown/GDPR deletion set must leave the index as if the deleted
    * vectors were never ingested, WITHOUT the full refit+re-encode a
    * rebuild costs. Models stay frozen (deletion cannot change what the
    * quantizer learned any more than an append can — the
    * [[appendToIvfPqIndex]] contract, mirrored), so compaction is purely a
    * codes-table rewrite, and only of the partitions that actually hold
    * deleted rows:
    *
    *   1. ONE column-pruned pass over `(neighbor_id, cell)` with the
    *      deletion set BROADCAST (takedown sets are small by nature)
    *      finds the affected cells — bounded output, ≤ nlist rows.
    *   2. A partition-PRUNED scan of only those cells anti-joins the
    *      deletion set; survivors stage through the [[commitRepair]]
    *      scratch (same refuse-leftover guard and crash-window recovery
    *      as the two repairs), then the affected partitions drop and the
    *      survivors append. Untouched cells' files are never rewritten —
    *      bit-identical, the same contract the repairs keep.
    *
    * Cost: O(index id-column scan) + O(affected partitions), never a
    * corpus pass — the raw vectors are not needed at all. A cell whose
    * every row is deleted stays LIVE with an empty partition: probes still
    * rank it and scan nothing; on the maintenance cadence
    * [[ivfPqIndexHealth]] flags it and [[mergeStarvedIvfPqCells]] retires
    * it — compaction deliberately does not fold in retirement, so its
    * output is exactly "the index minus the ids" (re-derivable by an
    * external oracle with no quantizer re-run).
    *
    * Returns one row per affected cell `(cell, removed_rows)`, empty if no
    * indexed row matched the deletion set. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        tablePrefix: String, deletedIds: DataFrame,
                        idCol: String = "vec_id"): DataFrame = {
    import spark.implicits._
    val codesTable = s"${tablePrefix}_codes"
    val del = deletedIds.select(col(idCol).cast("long").as("neighbor_id"))
      .distinct()
    val affected = spark.table(codesTable)
      .select(col("neighbor_id"), col("cell").cast("int").as("cell"))
      .join(broadcast(del), Seq("neighbor_id"), "left_semi")
      .groupBy(col("cell")).agg(count(lit(1)).as("removed_rows"))
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    if (affected.isEmpty)
      return Seq.empty[(Int, Long)].toDF("cell", "removed_rows")
    val idx = loadIvfPqIndex(spark, tablePrefix)
    val cellSet = affected.map(_._1).toIndexedSeq
    val surviving = spark.table(codesTable)
      .filter(col("cell").isin(cellSet.map(Int.box): _*))
      .select(col("neighbor_id"), col("cell"), col("codes"))
      .join(broadcast(del), Seq("neighbor_id"), "left_anti")
    // writeModel = false: compaction's models are FROZEN (its whole
    // contract), so the unchanged model table is never dropped-and-
    // rewritten — no window exists in which the only copy is gone
    commitRepair(spark, codesTable, tablePrefix, surviving, cellSet,
      idx.centroids, idx.books, idx.deadCells, writeModel = false)
    affected.toSeq.toDF("cell", "removed_rows")
  }

  /** Full model refresh for a persisted [[saveIvfPqIndex]] index — the
    * "rebuild due" action [[ivfPqIndexHealth]]'s drift reports point at,
    * for when the repairs can no longer buy recall back because the DATA
    * moved, not just the cell populations: refit both models on `corpus`
    * (the CURRENT raw vectors — the store [[admitNovelVectors]]
    * co-maintains, or wherever the pipeline keeps them), re-encode
    * everything, and SWAP crash-safely — the live index serves unchanged
    * until the new codes AND model are fully staged. This is the one
    * lifecycle step that re-encodes the corpus (that is what a reindex
    * is); append, repair, and compact all exist so it stays RARE.
    *
    * Crash safety: unlike the repairs and compactions (whose scratches can
    * hold the ONLY copy of dropped rows), a reindex is DETERMINISTIC in
    * (corpus, seed) and re-derives everything from the raw store — so the
    * discipline optimizes for loud failure, not data rescue. A leftover
    * `{prefix}_reindex_tmp` (catalog OR directory) refuses the run.
    * Commit order — stage the new encodes in the scratch → DROP the model
    * table (from here every index load fails LOUD; no window serves a
    * silently incoherent new-codes/old-model mix — note a RENAME-swap
    * cannot provide this: renaming a partitioned managed table leaves the
    * catalog's per-partition locations pointing at the moved-away scratch
    * directory, and reads come back silently empty, observed) → static
    * overwrite of the codes partitions from the scratch → write the new
    * model (index live again) → drop the scratch. Recovery from ANY
    * window: drop the scratch and re-run. Returns the new index's
    * per-cell population. */
  def reindexIvfPq(corpus: DataFrame, tablePrefix: String, nlist: Int,
                   m: Int, ksub: Int, seed: Long, iters: Int = 5,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val codesTable = s"${tablePrefix}_codes"
    val scratch = s"${tablePrefix}_reindex_tmp"
    require(!BucketedWrite.scratchLeftover(spark, scratch),
      s"$scratch exists: a prior reindex of '$tablePrefix' was interrupted. " +
        "Reindex is deterministic in (corpus, seed) — DROP the scratch and " +
        "re-run; nothing needs rescuing from it.")
    val idx = fitIvfPq(corpus, nlist, m, ksub, seed, iters, idCol, vecCol)
    idx.encoded.write.format("parquet").mode("overwrite").saveAsTable(scratch)
    BucketedWrite.dropTable(spark, s"${tablePrefix}_model")
    // insertInto is positional and the live table keeps its partition
    // column LAST. The overwrite mode is pinned STATIC per-write: under a
    // session-level dynamic mode, cells the fresh models leave empty would
    // KEEP their old partitions — stale codes decoded against the new
    // codebooks, duplicate ids, no error. Static truncates every old
    // partition regardless of the session conf.
    spark.table(scratch)
      .select(spark.table(codesTable).columns.map(col).toIndexedSeq: _*)
      .write.option("partitionOverwriteMode", "static")
      .mode("overwrite").insertInto(codesTable)
    writeModelTable(spark, idx.centroids, idx.books, tablePrefix)
    BucketedWrite.dropTable(spark, scratch)
    spark.table(codesTable)
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("cell_rows"))
  }

  /** Novelty-gated ingestion into a persisted [[saveIvfPqIndex]] index —
    * dedup-at-ingest for an embedding store, the vector-side analog of
    * [[BandedLsh.nearDupAgainstIndex]]-based rolling admission. ADC is
    * the SHORTLIST mechanism, never the verdict (the [[Contamination]]
    * `embedOverlapAnn` principle — an IVF-PQ index's reconstruction error
    * swamps true inter-vector distances, so an exact clone is
    * indistinguishable from a genuine neighbor in ADC space, measured on
    * this corpus: clone ADC 0.71–0.99 vs genuine 0.76–1.0):
    *
    *   1. each batch vector ADC-searches its `nprobe` cells for the
    *      `kCand` nearest codes (partition-pruned scan, per-query-KB
    *      tables);
    *   2. the shortlist joins `corpusTable` — the raw-vector store this
    *      operator co-maintains with the index — and the verdict is the
    *      EXACT squared L2: best `<= tau` drops the vector;
    *   3. survivors append to BOTH stores — raw rows to `corpusTable`
    *      FIRST (id-guarded, so a crash between the two appends leaves a
    *      harmless orphan raw row and a re-run converges; see the inline
    *      note), then codes under the frozen models.
    *
    * Cost per batch: the batch's own search + `kCand` exact distances per
    * vector + the admitted rows' encode, plus the two id guards' ids-only
    * scans — the freshness guard anti-joins the codes table's id column
    * and the corpus-side guard anti-joins `corpusTable`'s id column (one
    * narrow column pruned at the parquet scan, no vector ever read by
    * either) — never a pass over the corpus VECTORS. Admission
    * judges the PRE-batch state only (intra-batch near-dups admit
    * together — batch-level dedup is [[semanticDedup]]'s job before
    * ingestion), and the verdict is PINNED (localCheckpoint) before the
    * appends mutate the tables the search read — the
    * [[graft.streaming.EventStreams.rollingDedupReplay]] re-evaluation
    * trap, same fix. A true near-dup whose original falls outside the
    * ADC shortlist is admitted (shortlist recall, the standard IVF
    * trade); widen `kCand`/`nprobe` to taste.
    *
    * An id the index ALREADY HOLDS always drops, before any distance is
    * computed: re-ingesting the same id is the re-crawl shape, appending
    * it would duplicate the id in both stores (breaking the repairs'
    * corpus-coverage assertion), and the similarity path alone cannot
    * catch it — the search excludes `query_id == neighbor_id`, so the
    * row's own original is invisible to its shortlist. The same rule
    * applies INTRA-batch: duplicate ids within one batch collapse to one
    * arbitrary row before anything else runs. Returns
    * `(<idCol>, admitted)` for every distinct batch id; an empty batch
    * returns an empty frame. */
  def admitNovelVectors(batch: DataFrame, tablePrefix: String,
                        corpusTable: String, tau: Double, nprobe: Int,
                        kCand: Int = 8, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import batch.sparkSession.implicits._
    val spark = batch.sparkSession
    // one row per id: a batch carrying the same vec_id twice (a re-crawl
    // emitting duplicates WITHIN one fetch) would otherwise append the id
    // twice to both stores — exactly the duplication the persisted-id
    // guard below exists to prevent, just sourced intra-batch. Arbitrary
    // pick among the duplicates, same as the re-crawl rule.
    val b = batch.select(col(idCol).cast("long").as(idCol), col(vecCol))
      .dropDuplicates(idCol)
    def emptyVerdict = Seq.empty[(Long, Boolean)].toDF(idCol, "admitted")
    if (b.isEmpty) return emptyVerdict
    val idx = loadIvfPqIndex(spark, tablePrefix)
    val fresh = b.join(spark.table(s"${tablePrefix}_codes")
        .select(col("neighbor_id").as(idCol)),
      Seq(idCol), "left_anti").localCheckpoint(true)
    val dup =
      if (fresh.isEmpty) emptyVerdict.select(col(idCol))
      else {
        val shortlist = idx.search(fresh, k = kCand, nprobe, idCol, vecCol)
          .select(col("query_id"), col("neighbor_id"))
        val sqdist = aggregate(
          zip_with(col("qvec"), col("nvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
        shortlist
          .join(fresh.select(col(idCol).as("query_id"), col(vecCol).as("qvec")), "query_id")
          .join(spark.table(corpusTable)
            .select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")), "neighbor_id")
          .filter(sqdist <= tau)
          .select(col("query_id").as(idCol)).distinct()
      }
    val admitted = fresh.join(dup, Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol)).localCheckpoint(true)
    // Crash discipline (two commits, no transaction spanning them): the
    // RAW row lands first, guarded by a corpus-side id check. A crash
    // between the appends leaves an orphan raw row — harmless (it is not
    // in the index, so no shortlist can reference it, and reindexIvfPq
    // from the raw store simply picks it up) — and a re-run CONVERGES:
    // the codes-side guard above still sees the id as fresh (its own raw
    // row cannot shortlist-match it — the orphan has no codes), re-admits
    // it, the corpus-side guard skips the already-present raw row, and
    // the codes append completes the pair. The former codes-first order
    // was silently lossy: an id in codes with no raw vector is dropped by
    // the freshness guard forever, so the exact-verify join loses that
    // neighbor and a later reindex drops it from the index.
    admitted
      .join(spark.table(corpusTable).select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol))
      .write.mode("append").insertInto(corpusTable)
    appendToIvfPqIndex(admitted, tablePrefix, idCol, vecCol)
    b.select(col(idCol))
      .join(admitted.select(col(idCol), lit(true).as("admitted")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("admitted"), lit(false)).as("admitted"))
  }

  /** Symmetric per-vector int8 quantization — the storage-shrink step for
    * an embedding corpus (float64 → int8 is 8×; a 100 TB embedding store
    * becomes 12.5 TB plus one scale per vector). `scale = max|x| / 127`,
    * `q_i = floor(x_i/scale + 0.5)` ∈ [−127, 127] (the explicit
    * floor-plus-half form is bit-reproducible across engines, where
    * `round()` tie semantics are not); all-zero vectors quantize to zeros.
    *
    * Output is exploded to `(id, pos, q, scale, abs_err)` rows —
    * `abs_err = |q·scale − x|` is the reconstruction error, the quantity a
    * pipeline monitors to decide whether int8 is safe for its recall
    * target. Narrow (no shuffle beyond the parallelism floor): quantization
    * is a pure per-row kernel. The scale/qvec scalars are materialized
    * behind a repartition barrier so ExtractGenerator hoists attribute
    * references above the explode, never re-evaluated expressions. */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val n = SparkEnv.shufflePartitions(df.sparkSession)
    val base = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .withColumn("qvec", expr("CASE WHEN scale = 0.0 THEN transform(v, x -> 0) " +
        "ELSE transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) END"))
      .repartition(n, col(idCol))
    base
      .select(col(idCol), col("scale"), col("v"), posexplode(col("qvec")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").cast("long").as("q"), col("scale"),
        abs(col("col") * col("scale") - element_at(col("v"), col("pos") + 1)).as("abs_err"))
  }

  /** L2-normalize embeddings — the pass that turns cosine ANN into
    * dot-product ANN (and keeps IVF centroids on the unit sphere). Norm is
    * a sequential in-order accumulate over the array (same recipe as
    * [[cosine]], bit-reproducible); sqrt and the division are exactly
    * rounded IEEE ops, so an external engine matches bit-for-bit. Output is
    * exploded to `(id, pos, norm, nval)` rows; the all-zero vector maps to
    * itself (norm 0 guarded). Same narrow shape as [[quantizeInt8]]:
    * per-row kernel behind a repartition barrier so the norm is
    * materialized once per vector, never re-evaluated per exploded row. */
  def l2Normalize(df: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val n = SparkEnv.shufflePartitions(df.sparkSession)
    val base = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm",
        sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
      .repartition(n, col(idCol))
    base
      .select(col(idCol), col("norm"), posexplode(col("v")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("norm"),
        when(col("norm") === 0.0, lit(0.0))
          .otherwise(col("col") / col("norm")).as("nval"))
  }

  /** Exact near-dup vector pairs: cosine above `threshold` over a bounded
    * id-window candidate set (explode+equi-join, never a range join). */
  def cosineNearDupWindow(df: DataFrame, window: Int, threshold: Double,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val withTargets = df.select(col(idCol).as("id_a"), col(vecCol).as("va"),
        explode(sequence(lit(1), lit(window))).as("delta"))
      .withColumn("id_b_target", col("id_a") + col("delta"))
    withTargets.join(df.select(col(idCol).as("id_b"), col(vecCol).as("vb")),
        col("id_b_target") === col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") > threshold)
      .select("id_a", "id_b", "sim")
  }
}
