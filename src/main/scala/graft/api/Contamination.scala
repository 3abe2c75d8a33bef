package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find corpus documents that share n-gram
  * content with an evaluation/benchmark set — the standard pre-training
  * hygiene pass (an eval example leaking into the training corpus inflates
  * downstream scores).
  *
  * Shape chosen for the real cardinalities: benchmarks are tiny (10^3..10^5
  * documents) while the corpus is the 100 TB side, so the benchmark's
  * exploded shingle hashes are BROADCAST and the corpus is never shuffled —
  * each corpus partition streams once through scan → shingle → broadcast
  * hash join → partial count aggregation. The only shuffle is the final
  * per-(doc, bench) count combine, whose volume is bounded by actual
  * overlap, not corpus size.
  *
  * Shingle identity is the same u32 FxHash set `lsh_min` minimizes over and
  * `lsh_jaccard` intersects ([[graft.functions.shingle_hashes]],
  * shingleset.rs:24-35), so "shared shingles" here is exactly the
  * intersection-size numerator of the reference's jaccard.
  */
object Contamination {

  /** (doc_id, bench_id, shared_ngrams) for every corpus/benchmark pair
    * sharing at least `minShared` distinct `ngramWidth`-gram shingles.
    * Corpus rows whose id appears in the benchmark are excluded (a
    * benchmark hosted inside the corpus table would otherwise match
    * itself).
    *
    * @param minShared contamination threshold in distinct shared n-grams;
    *                  with w=8 and typical prose, >= 8 shared 8-grams is a
    *                  strong verbatim-overlap signal (tune per corpus).
    * @param corpusParallelism OPT-IN corpus repartition before the shingle
    *                  explode, for inputs whose split count is below the
    *                  cluster's cores (single-file fixtures, few huge row
    *                  groups — measured: a one-split scan serializes the
    *                  whole explode+join). Leave None at real scale: scan
    *                  splits already provide the parallelism, and a corpus-
    *                  sized shuffle is exactly what this operator exists to
    *                  avoid.
    */
  def sharedNgrams(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                   textCol: String, ngramWidth: Int, minShared: Long,
                   corpusParallelism: Option[Int] = None): DataFrame = {
    def exploded(df: DataFrame, outId: String) =
      df.filter(col(textCol).isNotNull && length(col(textCol)) >= ngramWidth)
        .select(col(idCol).cast("long").as(outId),
          explode(graft.functions.shingle_hashes(col(textCol), ngramWidth)).as("sh"))
    val corpusSide = corpusParallelism match {
      case Some(n) => corpus.repartition(n, col(idCol))
      case None => corpus
    }
    // shingle_hashes emits distinct shingles per document, so the join hits
    // each (corpus doc, bench doc, shared shingle) exactly once and a plain
    // count is the distinct intersection size — no count(distinct) Expand.
    exploded(corpusSide, "doc_id")
      .join(broadcast(exploded(benchmark, "bench_id")), "sh")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** [[sharedNgrams]] behind a broadcast BLOOM pre-filter. A Bloom filter
    * over the bench's shingle hashes is 2^log2m BITS regardless of the
    * bench size, and `might_contain=false` is a guaranteed non-member, so
    * the map-side probe drops every corpus shingle outside the bench set
    * (minus the fp rate) BEFORE any join. The exact join — the bench side
    * broadcast like [[sharedNgrams]]' — then eliminates the fp's, so the
    * output is bit-identical to [[sharedNgrams]] (the gate pins both paths
    * to one oracle). The bloom is a pure map-side pre-prune that cuts
    * probe/aggregation work and costs only the per-shingle probe.
    *
    * Two bench passes (bloom build + exact side) — the bench is the tiny
    * side, re-reading it is noise next to the corpus scan either way. */
  def sharedNgramsBloomPruned(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String, textCol: String, ngramWidth: Int,
                              minShared: Long, log2m: Int = 22, k: Int = 5,
                              corpusParallelism: Option[Int] = None): DataFrame = {
    def exploded(df: DataFrame, outId: String) =
      df.filter(col(textCol).isNotNull && length(col(textCol)) >= ngramWidth)
        .select(col(idCol).cast("long").as(outId),
          explode(graft.functions.shingle_hashes(col(textCol), ngramWidth)).as("sh"))
    val corpusSide = corpusParallelism match {
      case Some(n) => corpus.repartition(n, col(idCol))
      case None => corpus
    }
    // The bloom is built EAGERLY (one pass over the tiny bench side) and
    // inlined as a binary literal: the probe then sits as a plain Filter
    // inside the corpus scan's whole-stage codegen, with zero join
    // machinery around it. The lazy alternative — crossJoin(broadcast(
    // one-row-bloom)) — planned as a BroadcastNestedLoopJoin that broke
    // codegen around the explode and cost ~2x the whole exact path at
    // sf0.1. Long-typed probes throughout: no per-shingle digit-string
    // allocation (SketchExprs.valueHashLong). Precedent for the eager
    // collect: Ann's quantizer training — bounded state (≤ 2^log2m bits),
    // never corpus-sized.
    val bloomBytes = exploded(benchmark, "bench_id")
      .agg(graft.functions.bloom_build(col("sh"), log2m, k).as("bf"))
      .head().getAs[Array[Byte]](0)
    exploded(corpusSide, "doc_id")
      .filter(graft.functions.bloom_contains(lit(bloomBytes), col("sh")))
      .join(broadcast(exploded(benchmark, "bench_id")), "sh")
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** The clean corpus: drop every document flagged against the benchmark.
    * Left-anti join on the flagged id set — ids only, payloads untouched. */
  def removeContaminated(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, ngramWidth: Int, minShared: Long): DataFrame = {
    val flagged = sharedNgrams(corpus, benchmark, idCol, textCol, ngramWidth, minShared)
      .select(col("doc_id")).distinct()
    corpus.join(flagged, corpus(idCol) === flagged("doc_id"), "left_anti")
  }

  /** Token-SPAN-level decontamination — the cross-corpus variant of
    * [[Dedup.dupSpans]], and the edit real pipelines run before training:
    * a corpus token position is flagged when some `width`-token window
    * covering it occurs ANYWHERE in the benchmark set; flagged windows
    * merge into maximal spans `(doc_id, span_start, span_end, n_tokens)`.
    * Where [[removeContaminated]] drops the whole document (losing the
    * unique remainder — the same argument [[Dedup.cutDupSpans]]'s scaladoc
    * makes against doc-level drops), these spans feed [[Dedup.cutSpans]]
    * to excise ONLY the benchmark-overlapping text: a doc quoting one
    * eval question keeps everything else.
    *
    * Shape: the corpus side is [[Dedup.gramHashes]]' fixed-width
    * `(doc_id, pos, gh)` triples computed in the scan's codegen span; the
    * benchmark's DISTINCT gram hashes (its only exchange — bounded by
    * benchmark size, tiny against a 100 TB corpus) build the semi-join
    * hash table, which Spark broadcasts at real benchmark sizes — so the
    * corpus is flagged WITHOUT shuffling it, and the only corpus-keyed
    * exchange is the island merge over flagged positions (sparse —
    * bounded by actual contamination, not corpus size). Token identity is
    * whatever `tokenize` produces, same seam as the dup-span family — mine
    * benchmark and corpus with the SAME tokenizer or grams never match.
    *
    * CONTRACT: corpus and benchmark must be DISJOINT document sets. Unlike
    * [[sharedNgrams]], the flagging rule keeps no benchmark identity to
    * self-exclude with — a benchmark hosted inside the corpus table must
    * be anti-joined out of the corpus side first, or every benchmark doc
    * flags itself end-to-end. Separate-table callers with independent id
    * spaces must NOT drop corpus docs on id coincidences, so the operator
    * does no id-based exclusion of its own. */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String, width: Int,
                        tokenize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                          Tokenizers.asciiWords): DataFrame = {
    val corpusGrams = Dedup.gramHashes(corpus, idCol, textCol, width, spreadInput = true, tokenize)
    val benchHashes = Dedup.gramHashes(benchmark, idCol, textCol, width,
        spreadInput = false, tokenize)
      .select("gh").distinct()
    val flagged = corpusGrams
      .join(broadcast(benchHashes), Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + lit(width) - 1).as("fin"))
    Dedup.mergeIslands(flagged)
  }

  /** The corpus with [[contaminatedSpans]] applied destructively via
    * [[Dedup.cutSpans]]: benchmark-overlapping token spans cut, text
    * rebuilt as the kept tokens' canonical single-space stream, every
    * document surviving. Two corpus passes (flag + cut), each
    * pipelined in the scan; persist the spans and call the two stages
    * yourself when the pipeline also wants a before/after
    * [[Dedup.spanStats]] report. */
  def cutContaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String, width: Int): DataFrame =
    Dedup.cutSpans(corpus,
      contaminatedSpans(corpus, benchmark, idCol, textCol, width), idCol, textCol)

  /** [[cutContaminatedSpans]] under BPE token identity — the full
    * Lee-et-al-faithful production pass in one call: benchmark-overlap
    * spans mined over [[Tokenizers.bpe]]`(merges)` windows (both sides the
    * SAME merge list, or grams never match) and excised with the
    * byte-level rebuild ([[Dedup.cutSpansBpe]]). The shape is
    * [[contaminatedSpans]]' (broadcast bench grams, corpus never shuffles
    * for flagging) with the BPE merge loop as the map-side constant. */
  def cutContaminatedSpansBpe(corpus: DataFrame, benchmark: DataFrame,
                              idCol: String, textCol: String, width: Int,
                              merges: Seq[(String, String)]): DataFrame =
    Dedup.cutSpansBpe(corpus,
      contaminatedSpans(corpus, benchmark, idCol, textCol, width, Tokenizers.bpe(merges)),
      idCol, textCol, merges)

  /** Split-leakage check — the hygiene pass AFTER dataset splitting: a
    * test/valid document with a near-duplicate in train inflates eval
    * exactly like benchmark contamination does, and hash-based splitting
    * ([[Sampling]]) splits by ID, so near-duplicate CONTENT lands in
    * different splits freely. Emits every near-dup pair that straddles two
    * splits, `(id_a, split_a, id_b, split_b, sim)` — empty result = the
    * split is leak-free at this threshold.
    *
    * Shape: [[BandedLsh.nearDupPairs]]' banded blocking join (linear in
    * rows, verified inside the band join) + an ids-only join back to the
    * split labels; the cross-split filter bounds output by actual leakage.
    * For REPEATED checks against a fixed train set, build the persisted
    * signature index and probe the eval sets instead
    * ([[BandedLsh.nearDupAgainstIndex]]). */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   splitCol: String, ngramWidth: Int, bandCount: Int,
                   bandSize: Int, seed: Long, threshold: Double): DataFrame = {
    val pairs = BandedLsh.nearDupPairs(df, idCol, textCol,
      ngramWidth, bandCount, bandSize, seed, threshold)
    val splits = df.select(col(idCol).cast("long").as("__id"),
      col(splitCol).as("__split"))
    pairs
      .join(splits.select(col("__id").as("id_a"), col("__split").as("split_a")), "id_a")
      .join(splits.select(col("__id").as("id_b"), col("__split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "split_a", "id_b", "split_b", "sim")
  }

  /** Embedding-level decontamination, the semantic complement of
    * [[sharedNgrams]]: n-gram matching misses paraphrases and translations;
    * cosine similarity over embeddings catches them. Emits
    * (vec_id, bench_id, sim) for every corpus/benchmark vector pair with
    * cosine >= `tau` (self-pairs excluded — a benchmark hosted inside the
    * corpus table must not flag itself).
    *
    * Same cardinality shape as the n-gram pass: the benchmark side is tiny
    * and BROADCAST; the corpus streams once through scan → broadcast
    * nested-loop join → cosine filter, never shuffling. Cost is
    * |corpus| × |bench| cosine evaluations inside codegen — at 100 TB
    * pre-filter the bench side with the IVF composition
    * ([[embedOverlapAnn]]) if |bench| exceeds ~10⁵.
    *
    * The benchmark rows live inside the corpus table under the SAME id
    * space (this module's framing, like [[sharedNgrams]]): equal-id pairs
    * are the benchmark matching itself and are excluded. */
  def embedOverlap(corpus: DataFrame, benchmark: DataFrame, tau: Double,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    // zero-norm guard, same as cosineLshPairs: an undefined cosine must not
    // throw (ANSI) or NaN-rank above tau (non-ANSI)
    def side(df: DataFrame, outId: String, outVec: String) =
      df.select(col(idCol).cast("long").as(outId),
        col(vecCol).cast("array<double>").as(outVec))
        .filter(Ann.normSq(col(outVec)) > 0.0)
    side(corpus, "vec_id", "cv")
      .crossJoin(broadcast(side(benchmark, "bench_id", "bv")))
      .filter(col("vec_id") =!= col("bench_id"))
      .withColumn("sim", Ann.cosine(col("cv"), col("bv")))
      .filter(col("sim") >= tau)
      .select("vec_id", "bench_id", "sim")
  }

  /** [[embedOverlap]] behind an IVF shortlist — the 100 TB shape its
    * scaladoc promises: the brute pass pays |corpus| × |bench| cosines,
    * which a full eval-suite sweep (|bench| = 10⁵..10⁶) turns into the
    * most expensive pass in the pipeline. Here a coarse quantizer is
    * trained on the BENCHMARK side (the tiny, fixed one — seeded
    * sample-init Lloyd's, the [[Ann.trainQuantizer]] recipe) and each
    * corpus vector exact-cosines only the bench vectors living in its
    * `nprobe` nearest cells. Per-corpus-row cost drops from |bench|
    * cosines to `nlist` centroid distances + ~|bench|·nprobe/nlist
    * cosines; the corpus still streams once through the scan with NO
    * shuffle (the bench cell table broadcasts — cells + raw vectors,
    * |bench|-bounded and enforced ≤ `graft.ann.maxQueryRows`). Past that
    * bound — a full eval-suite union at 10⁵..10⁶ vectors — pass
    * `broadcastBench = false`: the size guard is skipped, the hint
    * dropped, and the cell join shuffles the exploded corpus keys against
    * the bench cells instead (sort-merge on `cell`; parallelism is
    * bounded by `nlist`, so size `nlist` ≥ the shuffle partition count
    * for that path — a 10⁶-vector bench wants nlist ≈ 10³ anyway, and
    * AQE's skew split handles a hot cell).
    *
    * APPROXIMATE by construction: a pair whose bench cell is outside the
    * corpus vector's probe list is missed — recall at the gated fixture
    * is pinned ≥ 0.9 by spec (0.993 at nlist=8/nprobe=3 on the sf0.01
    * embeddings), and every emitted pair is exact-verified, so precision
    * is 1 relative to [[embedOverlap]]. Same zero-norm guard,
    * self-pair exclusion and output schema — `nprobe = nlist`
    * degenerates to exactly [[embedOverlap]]'s pair set. */
  def embedOverlapAnn(corpus: DataFrame, benchmark: DataFrame, tau: Double,
                      nlist: Int, nprobe: Int, seed: Long,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      broadcastBench: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.{CentroidModel, ColumnShim, NearestCell, ProbeCells}
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist], got $nprobe")
    val spark = corpus.sparkSession
    def side(df: DataFrame, outId: String, outVec: String) =
      df.select(col(idCol).cast("long").as(outId),
        col(vecCol).cast("array<double>").as(outVec))
        .filter(Ann.normSq(col(outVec)) > 0.0)
    val bench = side(benchmark, "bench_id", "bv")
    if (broadcastBench) Ann.requireSmallQueries(bench, "embedOverlapAnn")
    // quantizer trained on the zero-norm-FILTERED bench side, so the model
    // is a pure function of the vectors that can actually match (mirrored
    // in tools/gen_oracles.py via kmeans_centroids over the bench sample)
    val cents = Ann.trainQuantizer(bench, nlist, seed, 5, 10000,
      "bench_id", "bv", initFromSample = true)
    val cmodel = new CentroidModel(spark.sparkContext.broadcast(cents))
    val benchCells = bench.withColumn("cell",
      ColumnShim.column(NearestCell(ColumnShim.expression(col("bv")), cmodel)))
    // each bench vector lives in exactly ONE cell and probe cells are
    // distinct, so the join hits each (corpus, bench) pair at most once —
    // no candidate distinct needed
    // broadcastBench=false pins SORT-MERGE explicitly (hint "merge"), not
    // merely "no broadcast hint": compile-time stats at small SF would
    // happily broadcast the CORPUS side instead — the exact accident this
    // path exists to rule out at 100 TB, where neither side fits
    side(corpus, "vec_id", "cv")
      .withColumn("cell", explode(
        ColumnShim.column(ProbeCells(ColumnShim.expression(col("cv")), cmodel, nprobe))))
      .join(if (broadcastBench) broadcast(benchCells) else benchCells.hint("merge"),
        Seq("cell"))
      .filter(col("vec_id") =!= col("bench_id"))
      .withColumn("sim", Ann.cosine(col("cv"), col("bv")))
      .filter(col("sim") >= tau)
      .select("vec_id", "bench_id", "sim")
  }
}
