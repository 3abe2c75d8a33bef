package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-out helpers for the reference's banded LSH blocking-join pattern
  * (/root/reference/README.md:133-164). The README idiom is one join per
  * seed + UNION; at scale the right shape is: posexplode the band array once,
  * shuffle once on (band, hash), and join — one shuffle covers all bands
  * (SURVEY.md §7.4).
  */
object BandedLsh {

  /** Plan (bandCount, bandSize) for a target recall at a Jaccard
    * threshold — the knob the reference's README leaves to hand-tuning
    * (README.md:133-141 shows one fixed 8×3 example). Banded MinHash
    * admits a pair of similarity s with probability 1 − (1 − s^r)^b
    * (the standard S-curve, e.g. Leskovec/Rajaraman/Ullman ch. 3); given
    * a threshold and required recall at that threshold, this returns the
    * LARGEST row count r (steepest curve → fewest sub-threshold false
    * candidates, i.e. least verification work) whose required band count
    * b = ceil(ln(1−recall) / ln(1−threshold^r)) fits 64 bands, plus
    * that b, with r at most 16. Cost model: bands multiply the blocking
    * join's exploded-row volume linearly, while rows only lengthen each
    * signature — so the band count is capped by shuffle budget and r
    * absorbs the precision.
    *
    * Returns (bandCount, bandSize). r=1 needs
    * b = ln(1−recall)/ln(1−threshold), finite for threshold>0; if even
    * that exceeds 64, this throws rather than silently under-recalling. */
  def planBands(threshold: Double, targetRecall: Double): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"threshold in (0,1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"recall in (0,1), got $targetRecall")
    val maxBands = 64
    def bandsFor(r: Int): Int = {
      val hit = math.pow(threshold, r) // P(one band matches the pair)
      val missOne = 1.0 - hit
      if (missOne <= 0.0) 1 // threshold^r == 1 numerically: one band suffices
      // hit below double epsilon: missOne rounds to exactly 1.0 and
      // log(1.0) = 0 would make the division return -Infinity → a bogus
      // 1-band "plan" that under-recalls catastrophically. No finite band
      // count reaches the target here.
      else if (missOne >= 1.0) Int.MaxValue
      else math.ceil(math.log1p(-targetRecall) / math.log(missOne)).toInt.max(1)
    }
    (16 to 1 by -1).iterator
      .map(r => (bandsFor(r), r))
      .find(_._1 <= maxBands)
      .getOrElse(throw new IllegalArgumentException(
        s"recall $targetRecall at threshold $threshold needs ${bandsFor(1)} " +
          s"bands even at bandSize=1, over the $maxBands-band budget — lower the target"))
  }

  /** The S-curve itself: P(pair of similarity `s` becomes a candidate)
    * under (bandCount, bandSize) banding — the curve [[planBands]] solves. */
  private[api] def candidateProbability(s: Double, bandCount: Int, bandSize: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, bandSize), bandCount)

  /** Explode `lsh_min(textCol, ...)` into (band, hash) rows keyed by `idCol`:
    * `(idCol, textCol, band, band_hash)`. Rows whose text is shorter than
    * `ngramWidth` hash identically everywhere (empty shingle set, SURVEY.md
    * §2.2.4) and are dropped up front — they would otherwise form one
    * catastrophic bucket.
    *
    * The id spread rule: the input is spread by id over
    * `spark.sql.shuffle.partitions` before the kernel runs, unless its
    * planned scan already yields at least that many partitions (a
    * materialized cache or checkpoint, or a file scan with that many
    * splits, under projections only), read from the plan without running
    * a job. Any other input keeps the spread. A filter does too, since it
    * may leave most partitions empty: `index_ingest`'s batches are id
    * ranges of a 4-partition cache, one partition each, and skipping their
    * spread ran each batch's kernel in one task (wall +6%, setup +10% over
    * 5 alternating pairs). A single-row-group parquet file scans as ONE task,
    * serializing the whole shingle+hash pass (measured 1.0s single-threaded
    * at sf0.1 inside a broadcast build), and the id-hash shuffle that fixes
    * it moves each doc once, dwarfed by the (band, hash) shuffle that
    * always follows. A wide input gains nothing from it: on `dedup_batch`'s
    * cached 4-partition corpus at 4 shuffle partitions it was one job and
    * 408 of the 2 282 ms `nearDupPairs` call. */
  def bandedRows(df: DataFrame, idCol: String, textCol: String,
                 ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long): DataFrame =
    minhashBands(df, idCol, textCol, ngramWidth, bandCount, bandSize, Seq(seed))

  /** The banding step under every MinHash pair path: drop texts shorter
    * than `ngramWidth`, spread by id (the [[bandedRows]] rule), evaluate
    * every seed's `lsh_min` and the `carry` columns in ONE projection, and
    * explode the seeds' concatenated bands. Returns `(idCol, textCol,
    * carry..., band, band_hash)`, `band` = seedIndex · bandCount + band.
    * `carry` columns may read only `idCol` and `textCol`.
    *
    * The explode is the OUTER variant + a null filter, not a plain
    * posexplode: Catalyst's InferFiltersFromGenerate fires on inner
    * attribute generators and pushes the `size(bands) > 0` filter it
    * infers below the projection (and the spread exchange), re-evaluating
    * every kernel per row at the scan. Outer generates are exempt; a null
    * text surfaces as one null row and dies in the same-stage filter. */
  private def minhashBands(df: DataFrame, idCol: String, textCol: String,
                           ngramWidth: Int, bandCount: Int, bandSize: Int,
                           seeds: Seq[Long], carry: Seq[Column] = Nil): DataFrame = {
    val n = SparkEnv.shufflePartitions(df.sparkSession)
    val live = df.select(col(idCol), col(textCol)).filter(length(col(textCol)) >= ngramWidth)
    val spread = if (plannedWidth(df).exists(_ >= n)) live else live.repartition(n, col(idCol))
    val minima = seeds.map(minhash(col(textCol), ngramWidth, bandCount, bandSize, _))
    spread.select((col(idCol) +: col(textCol) +: carry) :+
        (if (minima.size == 1) minima.head else concat(minima: _*)).as("__bands"): _*)
      .select(col("*"), posexplode_outer(col("__bands")).as(Seq("band", "band_hash")))
      .filter(col("band_hash").isNotNull)
      .drop("__bands")
  }

  /** The one `lsh_min` text-mode call of this module. */
  private def minhash(text: Column, ngramWidth: Int, bandCount: Int, bandSize: Int,
                      seed: Long): Column =
    graft.functions.lsh_min(text, ngramWidth, bandCount, bandSize, seed)

  /** Partitions `df`'s physical plan yields, when projections over a scan
    * fix them and the plan says so without running a job: a loaded cache,
    * a checkpointed or external RDD, or a file scan's splits (file listing
    * only). None otherwise: an unloaded cache would build its buffers, a
    * plan with an exchange would run its stages, and a filter may empty
    * partitions. */
  private def plannedWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def width(p: SparkPlan): Option[Int] = p match {
      // a cache scan goes adaptive; its input plan is the narrow chain
      case a: adaptive.AdaptiveSparkPlanExec => width(a.inputPlan)
      case s: InMemoryTableScanExec =>
        val cache = s.relation.cacheBuilder
        if (cache.isCachedColumnBuffersLoaded) Some(cache.cachedColumnBuffers.getNumPartitions)
        else None
      case s: RDDScanExec => Some(s.rdd.getNumPartitions)
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter |
           _: ColumnarToRowExec => width(p.children.head)
      case _ => None
    }
    width(df.queryExecution.executedPlan)
  }

  /** The self band-join under every banded pair path: rows sharing a
    * `bucket` key pair up as `(id_a, <payload>_a, id_b, <payload>_b)` with
    * id_a < id_b, once per shared bucket (callers verify and deduplicate).
    * `payload` maps each carried column to its base name (`text` becomes
    * `text_a`/`text_b`); only the id, payload and bucket columns reach the
    * join.
    *
    * The explicit bucket repartition lets both join sides read ONE
    * exchange, so the kernel that built `banded` runs once per row — over
    * uncached inputs (pinned by SingleComputeSpec). Under AQE over a CACHED
    * input the sides plan two band exchanges and the kernel runs twice; the
    * callers still carrying that hazard are [[editVerifiedPairs]],
    * [[nearDupPairsBySignature]], `Ann.cosineLshPairs`, `Dedup.hammingPairs`
    * and `SemanticDedup.semanticDedup`. `hint` goes on the left side for
    * callers whose plan depends on one. */
  private[api] def selfBandJoin(banded: DataFrame, id: String,
                                payload: Seq[(String, String)] = Nil,
                                bucket: Seq[String] = Seq("band", "band_hash"),
                                hint: Option[String] = None): DataFrame = {
    val shared = banded.repartition(bucket.map(col): _*)
    def side(s: String) = shared.select((col(id).as(s"id$s") +:
      payload.map { case (c, name) => col(c).as(s"$name$s") }) ++ bucket.map(col): _*)
    val a = side("_a")
    hint.fold(a)(a.hint(_)).join(side("_b"), bucket)
      .filter(col("id_a") < col("id_b"))
  }

  /** Full near-dup pair mining: banded blocking + exact-Jaccard verification.
    * Returns distinct (id_a, id_b, sim) with sim > threshold, ids in the
    * input's integral id type.
    *
    * Runs the fused [[bandedSelfJoinPairs]] operator at ONE block: one
    * (band, hash) exchange, then the native `jaccardSorted` loop per bucket,
    * shingling only buckets with two or more members. The banding runs once
    * per doc by construction; no join needs two sides to share an exchange.
    *
    * Measured, kept as negative results (tables in docs/SCALE.md):
    * verifying after `distinct()` + two id-joins lost all text locality and
    * never finished at ×100 of sf0.1 (round 10). Verifying inside a
    * relational self band-join (round 11 on) ran the banding twice under AQE
    * over a cached input and sorted the text-carrying rows once per join
    * side. This operator with EAGER shingling (every band row) was SLOWER
    * than that join: 4.11 s vs 3.77 s for this call, 12.9 vs 10.1 executor
    * CPU-s (benchmark `dedup_batch`, seed 12, traced, 4 vCPU). Shingling
    * only groups that can pair took it to 2.56 s and 6.9 CPU-s; the whole
    * `dedup_batch` pass went 5.21 → 3.33 s wall at the median of 10
    * alternating pairs. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long,
                   threshold: Double): DataFrame =
    inIdType(df, idCol, bandedSelfJoinPairs(df, idCol, textCol, ngramWidth, bandCount,
      bandSize, Seq(seed), threshold, numBlocks = 1))

  /** Casts the fused operator's long pair ids back to `df`'s id type. */
  private def inIdType(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val idType = df.schema(idCol).dataType
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"near-dup pair ids must be an integral column, $idCol is $idType")
    pairs.select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"),
      col("sim"))
  }

  /** Entity-resolution pair mining: banded MinHash blocking verified by
    * normalized Levenshtein similarity `1 − lev/max(len) ≥ minSim` — the
    * classic record-linkage verifier for SHORT keys (names, titles, SKUs),
    * where the O(|a|·|b|) DP per pair is trivially bounded and edit
    * distance is the wanted semantics (shingle Jaccard under-weights
    * transpositions and single-char edits in short strings). Candidates
    * are the distinct id pairs colliding in at least one band (one banding
    * pass, ReusedExchange self-join, distinct before the text joins — a
    * pair colliding in k bands pays the DP once); verification is one
    * codegen'd builtin on the deduplicated stream.
    *
    * Engine note, CLOSED in round 18: DuckDB's `levenshtein` counts
    * BYTE edits, so the cross-engine verifier semantics were pinned
    * only by the ASCII fixture. The verifier now uses the engine-owned
    * CODE-POINT distance ([[graft.functions.levenshtein_cp]]) — the
    * unit a similarity threshold over human-readable keys means (Spark
    * 4's builtin happens to agree today, spec-measured, but the unit is
    * now pinned here, not inherited). The non-ASCII gate
    * (`edit_pairs_unicode`) cross-pins it against a Python code-point
    * DP, where byte semantics would mismatch.
    *
    * Plan shape — the OPPOSITE order from [[nearDupPairs]], and measured,
    * not assumed: ids-only band join → `distinct` → broadcast text attach
    * → one DP per UNIQUE pair. Near-uniform key
    * spaces (serial numbers, templated names) give shingle-MinHash a
    * narrow true/random Jaccard gap, so pairs that collide at all collide
    * in MANY bands; verifying inside the band join pays the DP per
    * collision and ships two text copies per collision row — measured
    * 3.1× SLOWER at sf0.1 (32.8 s vs 10.5 s) than deduplicating the
    * narrow id stream first. nearDupPairs' per-collision order wins there
    * because its fused operator shingles each bucket member once per
    * bucket and then pays 156 ns per merge-scan pair; the Levenshtein DP
    * has no such per-member reuse, so unique-pair count is the only thing
    * that matters.
    *
    * Scale: pair volume is bounded by the blocking census
    * ([[candidateCensus]] is the pre-flight); per-pair cost is O(keyLen²)
    * — point this at short key columns, not documents; for
    * document-scale text use [[nearDupPairs]] (Jaccard) instead. */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                        ngramWidth: Int, bandCount: Int, bandSize: Int,
                        seed: Long, minSim: Double): DataFrame = {
    // Only ids flow through the band join and the distinct: shuffling and
    // deduplicating (id, id) longs is cheap where dragging the full
    // documents through would move the whole corpus per band; texts are
    // re-attached afterwards by two id joins.
    //
    // The SHUFFLE_HASH hint is load-bearing for the shared exchange: when
    // the banded rows estimate under the broadcast threshold the planner
    // would otherwise broadcast one side — which REPLACES that side's
    // exchange with a broadcast build, so the CPU-bound minhash banding runs
    // twice (once per side) and the build serializes on the driver
    // (measured at sf0.1: a second full lsh_min pass + a 6.7 s single-task
    // build). A shuffled hash join keeps both sides on the one exchange and
    // builds per partition.
    val banded = bandedRows(df, idCol, textCol, ngramWidth, bandCount, bandSize, seed)
      .select(col(idCol), col("band"), col("band_hash"))
    val idPairs = selfBandJoin(banded, idCol, hint = Some("shuffle_hash"))
      .select("id_a", "id_b")
      // strict-width dedup: AQE sizes shuffles on BYTES, and a candidate
      // id-pair stream is tiny bytes but quadratic-in-bucket CPU — the
      // ENSURE_REQUIREMENTS exchange under distinct() was coalesced to ONE
      // task (6.7 s serialized at sf0.1, the lsh_blocking_join pathology).
      // REPARTITION_BY_NUM on the distinct keys is AQE-unresizable and
      // already satisfies the aggregate's distribution, so the dedup runs
      // at full width with no extra exchange.
      .repartition(SparkEnv.shufflePartitions(df.sparkSession), col("id_a"), col("id_b"))
      .distinct()
    idPairs
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("text_a")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("text_b")), "id_b")
      .withColumn("lev",
        graft.functions.levenshtein_cp(col("text_a"), col("text_b")).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("lev") / greatest(length(col("text_a")), length(col("text_b"))))
      .filter(col("edit_sim") >= minSim)
      .select("id_a", "id_b", "lev", "edit_sim")
  }

  /** Candidate-pair census over the banded blocking buckets: Σ C(n,2) and
    * the largest bucket, computed straight from bucket SIZES (one
    * map-side-combined aggregation over (band, band_hash) counts) without
    * materializing a single pair. Returns (candidatePairs, maxBucket,
    * inputRows). Cost is one banding pass + a count-only shuffle — ~2 s on
    * a 500k-doc corpus — from which [[nearDupPairsAdaptive]] picks the
    * fused operator's block count. Also useful as a
    * standalone pre-flight: a census result of 10^10 pairs says "fix your
    * banding or expect an all-pairs bill" BEFORE the cluster pays it. */
  def candidateCensus(df: DataFrame, idCol: String, textCol: String,
                      ngramWidth: Int, bandCount: Int, bandSize: Int,
                      seed: Long): (Long, Long, Long) = {
    val r = bandedRows(df, idCol, textCol, ngramWidth, bandCount, bandSize, seed)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum((col("n") * (col("n") - 1) / 2).cast("long")), lit(0L)),
        coalesce(max(col("n")), lit(0L)),
        coalesce((sum(col("n")) / bandCount).cast("long"), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** [[nearDupPairs]] with mega-bucket protection: runs [[candidateCensus]]
    * first and runs the same fused operator with 8 triangle blocks instead
    * of one when a single bucket exceeds 8192 rows (or, if the caller sets
    * a budget, total candidate volume exceeds `maxRelationalCandidates`).
    * Same (id_a, id_b, sim) output either way (spec-pinned).
    *
    * Why 8192: at one block a bucket's C(n,2) comparisons land on ONE task
    * (8192²/2 ≈ 3.4e7 pairs, growing quadratically); triangle blocking
    * splits exactly that — measured 3× on 15k near-identical short keys.
    * Candidate VOLUME does not route by default (Long.MaxValue). The census
    * reads both signals from bucket counts alone, ~2 s at 500k docs. */
  def nearDupPairsAdaptive(df: DataFrame, idCol: String, textCol: String,
                           ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long,
                           threshold: Double,
                           maxRelationalCandidates: Long = Long.MaxValue): DataFrame = {
    val (cand, maxBucket, _) =
      candidateCensus(df, idCol, textCol, ngramWidth, bandCount, bandSize, seed)
    val blocks = if (cand <= maxRelationalCandidates && maxBucket <= 8192L) 1 else 8
    inIdType(df, idCol, bandedSelfJoinPairs(df, idCol, textCol, ngramWidth, bandCount,
      bandSize, Seq(seed), threshold, blocks))
  }

  /** Fused banded self-join: the same pair set as the README's per-seed
    * blocking join + jaccard filter (`lsh_min(..)[1]` equality per seed,
    * UNION, `lsh_jaccard > threshold`), computed as a native pairwise loop
    * inside buckets instead of a join. Why: a relational join materializes
    * every candidate pair through join machinery (~2 µs/pair measured) while
    * the jaccard kernel itself costs 156 ns/pair (`core.jaccard_ns_per_pair`
    * in perfbench); at ~10^8 bucket pairs the machinery IS the query. Ids
    * come back as longs. Shape:
    *
    *  1. at most one id spread exchange for all seeds ([[bandedRows]]'
    *     rule), then one explode of the seeds' concatenated `lsh_min`
    *     arrays; each band is tagged with a (seedIndex << 32) | band key
    *     ([[blockedRows]]);
    *  2. salt rows into `numBlocks` deterministic blocks and replicate each
    *     row to every (block-pair) group of its bucket — the classic triangle
    *     blocking for self-joins, giving numBlocks·(numBlocks+1)/2-way
    *     parallelism inside even a single mega-bucket (AQE cannot split a
    *     single key; this does). At one block the groups are the buckets;
    *  3. the BlockedSelfJoin exec, clustered and radix-sorted on one 64-bit
    *     hash of the group key: shingle the members of each group that can
    *     emit a pair, run the pairwise merge-scan loop, emit passing pairs;
    *  4. distinct across bands and seeds (the UNION).
    *
    * One spread exchange, not one per seed ([[bandedRows]] per seed, until
    * this shape): under AQE over a cached input the per-seed exchanges were
    * not reused, so a 2-seed call shuffled its input twice (two 20k-row
    * exchange jobs per `dedup_batch` pass). */
  def bandedSelfJoinPairs(df: DataFrame, idCol: String, textCol: String,
                          ngramWidth: Int, bandCount: Int, bandSize: Int, seeds: Seq[Long],
                          threshold: Double, numBlocks: Int = 8): DataFrame =
    blockedPairs(blockedRows(df, idCol, textCol, ngramWidth, bandCount, bandSize, seeds,
      numBlocks), ngramWidth, threshold)

  /** The BlockedSelfJoin exec's input, in its positional contract
    * (g, bk, h, blo, bhi, salt, id, text): every band row of every seed,
    * replicated to each triangle block-pair group of its bucket, with `g`
    * the 64-bit hash of the group key (bk, h, blo, bhi). */
  private[api] def blockedRows(df: DataFrame, idCol: String, textCol: String,
                               ngramWidth: Int, bandCount: Int, bandSize: Int,
                               seeds: Seq[Long], numBlocks: Int): DataFrame = {
    val banded = minhashBands(df, idCol, textCol, ngramWidth, bandCount, bandSize, seeds)
      .select(
        (shiftleft((col("band") / bandCount).cast("long"), 32) +
          (col("band") % bandCount).cast("long")).as("bk"),
        col("band_hash").as("h"), col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // Triangle block replication: each row meets every block once, so every
    // bucket pair meets in exactly one (blo, bhi) group per band. At one
    // block every row is one copy in its bucket's only group. blo/bhi stay
    // computed there too, one shape for every block count. Measured on
    // `dedup_batch` (seed 101): under the old clustering on the four group
    // columns, literal blo/bhi at one block made EnsureRequirements add a
    // second exchange (shuffle write 92.2 -> 159.8 MB, 14 -> 15 jobs); on
    // the one hash key they neither add nor save anything (103.2 MB, 10
    // jobs either way).
    val nb = numBlocks
    banded
      .withColumn("salt", pmod(col("id"), lit(nb.toLong)).cast("int"))
      .select(col("bk"), col("h"), col("salt"), col("id"), col("text"),
        explode(sequence(lit(0), lit(nb - 1))).as("other"))
      .select(col("bk"), col("h"),
        least(col("salt"), col("other")).cast("int").as("blo"),
        greatest(col("salt"), col("other")).cast("int").as("bhi"),
        col("salt"), col("id"), col("text"))
      .select(xxhash64(col("bk"), col("h"), col("blo"), col("bhi")).as("g"), col("*"))
  }

  /** [[blockedRows]] through the exec, deduplicated across bands and seeds. */
  private[api] def blockedPairs(blocked: DataFrame, ngramWidth: Int,
                                threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.{BlockedSelfJoin, PlanShim}
    val spark = blocked.sparkSession
    // self-register the whole-operator planner strategy (idempotent): the
    // operator must work from a bare session, not only after
    // LshFunctions.register — a latent ordering dependency otherwise
    // (surfaced by scoped Verify runs planning this query first)
    graft.sql.LshFunctions.ensurePlannerStrategy(spark)
    // Strict repartition on the group hash BEFORE the operator: the
    // in-group work is quadratic in group size, which AQE cannot see — it
    // sizes shuffles on input bytes, and the exploded input is tiny, so the
    // ENSURE_REQUIREMENTS exchange gets coalesced to ~3 partitions and the
    // triangle parallelism evaporates (measured: 3 tasks, 2.2s wall for a
    // 0.15s-wall workload). repartition(n, cols) is REPARTITION_BY_NUM,
    // which AQE must not touch, and it already satisfies the operator's
    // ClusteredDistribution so EnsureRequirements adds only the local sort.
    val clustered = blocked.repartition(SparkEnv.shufflePartitions(spark), col("g"))
    // the custom whole-operator plan node (see BlockedSelfJoin scaladoc):
    // clustered and sorted on g, streamed run-at-a-time
    PlanShim.ofRows(spark,
        BlockedSelfJoin(ngramWidth, threshold, BlockedSelfJoin.outputAttrs(),
          PlanShim.logical(clustered)))
      .distinct() // a pair found in k bands carries the same sim k times
  }

  /** Near-dup pairs verified by SIGNATURE similarity instead of exact
    * Jaccard: each doc carries `k` independent min-hash components
    * (`lsh_min` with bandSize = 1, so each "band" is one raw min-hash), and
    * the estimator is the fraction of equal components — an unbiased
    * estimate of Jaccard with stderr ≈ 1/sqrt(k). Why it exists: the exact
    * verifier re-attaches TEXTS to every candidate pair, which at 100 TB
    * moves document payloads through two id joins; this path never touches
    * texts after the one hashing scan — candidates and verification both
    * run on (id, signature) rows, ~8k bytes/doc. Use when an estimated
    * sim with known error beats paying the text shuffle (pre-filtering
    * before an exact pass, or dedup at thresholds where ±1/sqrt(k) is
    * immaterial). Returns (id_a, id_b, est_sim) with est_sim > threshold;
    * blocking uses `bandCount`×`bandSize` banding exactly like
    * [[nearDupPairs]]. */
  def nearDupPairsBySignature(df: DataFrame, idCol: String, textCol: String,
                              ngramWidth: Int, bandCount: Int, bandSize: Int,
                              seed: Long, k: Int, sigSeed: Long,
                              threshold: Double): DataFrame = {
    require(k >= 1, s"signature length must be >= 1, got $k")
    // one projection computes BOTH the blocking bands and the k-component
    // signature, and the shared self band-join's ReusedExchange reads it:
    // both lsh_min passes run once per document, and only (id, sig, band,
    // band_hash) ever shuffles
    val banded = minhashBands(df, idCol, textCol, ngramWidth, bandCount, bandSize, Seq(seed),
        Seq(minhash(col(textCol), ngramWidth, k, 1, sigSeed).as("sig")))
      .select(col(idCol).as("id"), col("sig"), col("band"), col("band_hash"))
    selfBandJoin(banded, "id", Seq("sig" -> "sig"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .distinct()
      // codegen'd agreement count (bit-equal to the zip_with fold: an
      // integer count, then one double division)
      .withColumn("est_sim",
        org.apache.spark.sql.graft.ColumnShim.column(
          org.apache.spark.sql.graft.MatchCount(
            org.apache.spark.sql.graft.ColumnShim.expression(col("sig_a")),
            org.apache.spark.sql.graft.ColumnShim.expression(col("sig_b"))))
          .cast("double") / lit(k.toDouble))
      .filter(col("est_sim") > threshold)
      .select("id_a", "id_b", "est_sim")
  }

  /** Skew-hardened bipartite band join: `a JOIN b USING (band, band_hash)`,
    * exact same rows as the plain join, but adversarial mega-buckets cannot
    * serialize onto one reducer. The plain hash join puts ALL m×n pairs of a
    * hot `(band, band_hash)` bucket in ONE task, and AQE cannot help — its
    * skew splitting sizes on shuffle-file BYTES, which for a band join are
    * tiny ids; the blowup is in the join OUTPUT (docs/SCALE.md). The fused
    * [[bandedSelfJoinPairs]] solves this for self-joins; this is the
    * two-sided (batch×index, A×B) counterpart.
    *
    * Shape: per-bucket counts on both sides (map-side-combined count-only
    * aggregations), buckets with `countA·countB > hotThreshold` form the hot
    * set — broadcast both ways (it is by construction tiny: a handful of
    * degenerate keys, or the input was not worth blocking). Cold buckets take
    * the plain join untouched. Hot-bucket rows of `a` scatter into `blocks`
    * deterministic blocks by `scatterA` (a per-row-entropy column — an id,
    * never the join key) and hot rows of `b` replicate to every block, so a
    * hot bucket's pairs land on `blocks` tasks ((m/blocks)·n per task instead
    * of m·n). Union of the two branches = the exact plain-join row set
    * (spec-pinned, plus a partition-spread assertion on an adversarial hot
    * bucket). Pick `blocks` ≈ m·n/perTaskPairBudget for the largest bucket
    * you intend to survive.
    *
    * `a` and `b` must have disjoint non-key column names (same contract as
    * the plain `join(..., Seq("band", "band_hash"))`).
    *
    * Each input is consumed by the count pass AND its cold/hot branch — if
    * an input is an expensive pipeline (banding over a raw corpus), persist
    * or checkpoint it first rather than paying the kernel repeatedly
    * ([[saveSignatureIndex]] does exactly this internally; its persisted
    * index avoids probe-time counting altogether, which is why the
    * batch-vs-index path classifies at BUILD time instead of calling
    * this). */
  def bandJoinSkewSafe(a: DataFrame, b: DataFrame, scatterA: Column,
                       hotThreshold: Long = 1000000L, blocks: Int = 16): DataFrame = {
    require(hotThreshold >= 1, s"hotThreshold must be >= 1, got $hotThreshold")
    require(blocks >= 2, s"blocks must be >= 2, got $blocks")
    val keys = Seq("band", "band_hash")
    val overlap = (a.columns.toSet & b.columns.toSet) -- keys
    require(overlap.isEmpty, s"non-key columns must be disjoint, both sides have: $overlap")
    val ca = a.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cb"))
    // the hot set is small by construction; broadcast() it so the cold/hot
    // routing of both full sides is a narrow broadcast semi/anti join, never
    // an extra shuffle of a or b
    val hot = broadcast(
      ca.join(cb, keys)
        .filter(col("__ca") * col("__cb") > hotThreshold)
        .select(keys.map(col): _*))
    // the cold branch is left to AQE on purpose — its buckets are bounded
    // by construction, and coalescing them is the right call
    val cold = a.join(hot, keys, "left_anti")
      .join(b.join(hot, keys, "left_anti"), keys)
    cold.unionByName(gridJoin(a.join(hot, keys, "left_semi"), scatterA,
      b.join(hot, keys, "left_semi"), keys, blocks))
  }

  /** The grid-blocked hot join under both skew-hardened band joins
    * ([[bandJoinSkewSafe]], [[nearDupAgainstIndex]]'s sidecar branch):
    * `scattered JOIN replicated USING (keys)`, row for row, with each hot
    * bucket's m·n pairs spread over `blocks` tasks. `scattered` rows go to
    * one block each by `xxhash64(scatter) mod blocks` (`scatter` must carry
    * per-row entropy — an id, never the join key); `replicated` rows go to
    * every block.
    *
    * Strict REPARTITION_BY_NUM on (keys, block) for both sides: the blocked
    * rows are tiny in BYTES, so AQE would coalesce an ENSURE_REQUIREMENTS
    * exchange right back into a handful of tasks and erase the parallelism
    * the blocking just bought (the same output-blind-AQE trap
    * BlockedSelfJoin guards against). */
  private[api] def gridJoin(scattered: DataFrame, scatter: Column,
                            replicated: DataFrame, keys: Seq[String],
                            blocks: Int): DataFrame = {
    val n = SparkEnv.shufflePartitions(scattered.sparkSession)
    val blkKeys = (keys :+ "__blk").map(col)
    val s = scattered
      .withColumn("__blk", pmod(xxhash64(scatter), lit(blocks.toLong)).cast("int"))
      .repartition(n, blkKeys: _*)
    val r = replicated
      .withColumn("__blk", explode(sequence(lit(0), lit(blocks - 1))))
      .repartition(n, blkKeys: _*)
    s.join(r, keys :+ "__blk").drop("__blk")
  }

  /** Near-dup pairs between two DIFFERENT corpora: banded blocking on both
    * sides, the mega-bucket-hardened [[bandJoinSkewSafe]] band join, then
    * exact-Jaccard verification — the A×B counterpart of [[nearDupPairs]]
    * for one-off comparisons (benchmark-vs-corpus, vendor-feed-vs-corpus).
    * For REPEATED batches against the same corpus, build the persisted
    * index instead ([[saveSignatureIndex]] + [[nearDupAgainstIndex]]) and
    * pay the corpus-side hashing once. Returns `(id_a, id_b, sim)` with
    * sim > threshold; both banded inputs are projected to ids before the
    * join (texts re-attach at verification). The band join takes
    * [[bandJoinSkewSafe]]'s default hot threshold and block count. */
  def nearDupJoin(a: DataFrame, b: DataFrame,
                  idColA: String, textColA: String, idColB: String, textColB: String,
                  ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long,
                  threshold: Double): DataFrame = {
    // Deliberately NOT checkpointed: bandJoinSkewSafe consumes each side
    // three times (count + cold + hot), but measured at sf0.1 an eager
    // localCheckpoint COSTS more than the banding recompute it saves
    // (1.7 s -> 3.0 s: materialization + the lost scan/join codegen fusion
    // outweigh two extra cheap passes). Callers whose inputs are genuinely
    // expensive can persist before calling; the hash kernel itself is cheap
    // relative to its scan.
    val ra = bandedRows(a, idColA, textColA, ngramWidth, bandCount, bandSize, seed)
      .select(col(idColA).as("id_a"), col("band"), col("band_hash"))
    val rb = bandedRows(b, idColB, textColB, ngramWidth, bandCount, bandSize, seed)
      .select(col(idColB).as("id_b"), col("band"), col("band_hash"))
    val cand = bandJoinSkewSafe(ra, rb, col("id_a"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(a.select(col(idColA).as("id_a"), col(textColA).as("__text_a")), "id_a")
      .join(b.select(col(idColB).as("id_b"), col(textColB).as("__text_b")), "id_b")
      .withColumn("sim",
        graft.functions.lsh_jaccard(col("__text_a"), col("__text_b"), ngramWidth))
      .filter(col("sim") > threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Persist the corpus's banded MinHash signatures as a bucketed table —
    * the incremental-ingestion index. `(band, band_hash, corpus_id)` rows,
    * bucketed AND sorted on the band-join key: every future
    * [[nearDupAgainstIndex]] batch joins the index with **zero corpus-side
    * exchange** (the bucketed scan satisfies the join's distribution), so
    * admitting a new batch to a 100 TB deduplicated corpus costs
    * hash+shuffle of the BATCH, never a corpus pass. Ids only — texts stay
    * in the corpus table and re-attach per candidate by id join.
    *
    * Degenerate buckets are split out AT BUILD TIME: buckets with more than
    * `hotBucketCap` members (boilerplate-dominated corpora produce them; the
    * empty-shingle guard in [[bandedRows]] removes only one cause) go to a
    * sidecar table `<table>_hot` instead of the main index. The probe join
    * then grid-blocks just those rows ([[nearDupAgainstIndex]]) — a
    * classification that costs ZERO per batch because it was paid once at
    * build time, which is the only placement compatible with "a batch pays
    * only its own cost" (probe-time counting would re-scan the corpus per
    * batch).
    *
    * Rebuild after compaction; for rolling ingestion append the admitted
    * batch's rows with [[appendToSignatureIndex]] — NOT a bare `insertInto`
    * into the main table, which would break the probe's invariant that
    * hot-bucket rows live only in the sidecar (an appended row in a hot
    * bucket would become invisible to hot-branch probes). Appends cannot
    * re-classify buckets (a cold bucket growing past the cap stays cold
    * until the next rebuild — same contract as "rebuild after
    * compaction"). */
  def saveSignatureIndex(corpus: DataFrame, table: String, numBuckets: Int,
                         idCol: String, textCol: String,
                         ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long,
                         hotBucketCap: Long = 100000L): Unit = {
    require(hotBucketCap >= 1, s"hotBucketCap must be >= 1, got $hotBucketCap")
    val keys = Seq("band", "band_hash")
    // persist for the build's duration: three consumers follow (bucket
    // counts, cold write, hot write) and the CPU-bound minhash banding pass
    // must run ONCE, not three times (measured 2.9s -> 1.6s on the
    // incremental_dedup bench line). Ids+hashes only — ~24 B/row, so even a
    // 100 TB corpus's banded rows fit MEMORY_AND_DISK at build time.
    val spark = corpus.sparkSession
    val rows = bandedRows(corpus, idCol, textCol, ngramWidth, bandCount, bandSize, seed)
      .select(col("band"), col("band_hash"), col(idCol).as("corpus_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the hot KEY set collects to the driver: it is bounded by
      // |corpus|·bands/cap keys (a corpus would need more over-cap
      // mega-buckets than rows-per-cap to blow this up — such a corpus is
      // all boilerplate and has bigger problems). Collecting once beats a
      // broadcast subquery, which each downstream write job would
      // re-aggregate over the full banded rows (measured: two extra ~9 s
      // executor-time aggregation stages at sf0.1).
      val keyFields = rows.select(keys.map(col): _*).schema
      val hotKeyRows = rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") > hotBucketCap)
        .select(keys.map(col): _*)
        .collect()
      BucketedWrite.dropTable(spark, s"${table}_hot")
      // the two store writes stay SEQUENTIAL deliberately: both are
      // 32-task CPU-saturating jobs over the already-materialized cache
      // (the hot-key collect populated it), so overlapping them buys no
      // idle capacity — measured at sf0.1, the overlapped form inflated
      // the main write's wall 0.8 -> 2.1 s (slot convoy), strictly worse
      // than the 1.4 s sequential sum (guide §2.6 helps scheduling-floor
      // jobs, not saturating ones)
      if (hotKeyRows.isEmpty) {
        // nothing degenerate: the main index is the full row set and the
        // sidecar is a metadata-only empty table (its existence tells the
        // probe the index is sidecar-aware)
        BucketedWrite.saveBucketed(rows, table, numBuckets, keys)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), rows.schema)
          .write.format("parquet").mode("overwrite").saveAsTable(s"${table}_hot")
      } else {
        val hotKeys = broadcast(spark.createDataFrame(
          java.util.Arrays.asList(hotKeyRows: _*), keyFields))
        BucketedWrite.saveBucketed(rows.join(hotKeys, keys, "left_anti"),
          table, numBuckets, keys)
        rows.join(hotKeys, keys, "left_semi")
          .write.format("parquet").mode("overwrite").saveAsTable(s"${table}_hot")
      }
    } finally rows.unpersist()
  }

  /** Append an admitted batch's signatures to a [[saveSignatureIndex]]
    * index, maintaining the hot/cold routing invariant the probe relies on:
    * rows in sidecar-classified buckets go to `<table>_hot`, everything
    * else to the bucketed main table. Cost: hashing + one tiny broadcast of
    * the hot key set — the batch's own cost, never a corpus pass.
    *
    * Appends never RE-classify buckets: a cold bucket that grows past the
    * build-time `hotBucketCap` through repeated appends stays in the main
    * table (re-creating the single-reducer pathology the sidecar exists to
    * prevent) until the next [[saveSignatureIndex]] rebuild. Probing per
    * append for this would cost the corpus pass the whole design avoids, so
    * drift detection is a separate maintenance scan: run
    * [[signatureIndexHealth]] on whatever cadence compactions run and
    * rebuild when it returns rows.
    *
    * MATERIALIZE the admitted frame before calling this when it was
    * derived from a probe of the SAME index ([[nearDupAgainstIndex]]):
    * the append invalidates any cache over plans reading the table, and a
    * lazy recompute would read its own appended signatures — the batch
    * colliding with itself under a lookup that predates it, which the
    * probe's coverage guard refuses loudly. `localCheckpoint(eager=true)`
    * (what `IncrementalCuration.admitBatch` does) pins the data and severs
    * the lineage. */
  def appendToSignatureIndex(batch: DataFrame, table: String,
                             idCol: String, textCol: String,
                             ngramWidth: Int, bandCount: Int, bandSize: Int,
                             seed: Long): Unit = {
    val spark = batch.sparkSession
    val keys = Seq("band", "band_hash")
    val rows = bandedRows(batch, idCol, textCol, ngramWidth, bandCount, bandSize, seed)
      .select(col("band"), col("band_hash"), col(idCol).as("corpus_id"))
    if (spark.catalog.tableExists(s"${table}_hot")) {
      // pin the hot KEY set BEFORE either write: built once instead of
      // once per write job, and — because the hot append mutates the very
      // table the key set reads — the overlapped writes below must both
      // route against the PRE-append classification (appends never
      // re-classify, so the set is append-invariant anyway; pinning makes
      // that a property of the plan, not an argument about listing races)
      val keyFields = spark.table(s"${table}_hot").select(keys.map(col): _*).schema
      val hotKeys = broadcast(spark.createDataFrame(java.util.Arrays.asList(
        spark.table(s"${table}_hot").select(keys.map(col): _*).distinct()
          .collect(): _*), keyFields))
      // persist: the banding pass (the batch's CPU cost) must run once,
      // not once per store write — the cold append computes and caches
      // it, the hot append reads the cache. The writes themselves stay
      // sequential: both saturate the cores over the cache, so overlap
      // buys nothing and the measured slot convoy costs wall (the
      // saveSignatureIndex note above)
      val pinned = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        BucketedWrite.alignedForInsert(
            pinned.join(hotKeys, keys, "left_anti"), table)
          .write.mode("append").insertInto(table)
        pinned.join(hotKeys, keys, "left_semi")
          .write.mode("append").insertInto(s"${table}_hot")
      } finally pinned.unpersist()
    } else {
      BucketedWrite.alignedForInsert(rows, table)
        .write.mode("append").insertInto(table)
    }
  }

  /** Maintenance scan for append drift on a [[saveSignatureIndex]] index:
    * returns the main-table buckets whose row count now exceeds
    * `hotBucketCap` (i.e. buckets that WOULD be sidecar-classified by a
    * rebuild but are still on the probe's cold path). Empty result = the
    * build-time classification still holds. One aggregation pass over the
    * ids-only index table — run it on the compaction cadence, not per
    * append ([[appendToSignatureIndex]] deliberately never pays a corpus
    * pass); any rows returned mean a rebuild is due. */
  def signatureIndexHealth(spark: org.apache.spark.sql.SparkSession,
                           table: String, hotBucketCap: Long): DataFrame =
    spark.table(table)
      .groupBy("band", "band_hash")
      .agg(count(lit(1)).as("bucket_rows"))
      .filter(col("bucket_rows") > hotBucketCap)

  /** Retention-delete compaction for a [[saveSignatureIndex]] index — the
    * third leg of the takedown story ([[Dedup.compactGramIndex]] for gram
    * spans, [[Ann.compactIvfPqIndex]] for embeddings): remove every banded
    * row of `deletedIds` from BOTH stores (bucketed main + hot sidecar)
    * without re-hashing, re-banding, or even touching the corpus text —
    * the index is ids+hashes only, so compaction is an id-column-scan-bound
    * rewrite, never a corpus pass. The deletion set is read once and
    * broadcast (takedown lists are bounded; a corpus-scale deletion is a
    * rebuild), and both stores' match counts come from one job.
    *
    * Bucket CLASSIFICATION stays frozen, symmetric with the append
    * contract: a hot bucket whose population drops below the cap stays in
    * the sidecar until the next rebuild — classification is probe ROUTING,
    * not correctness, so deferring it is safe, and re-classifying here
    * would rewrite cold partitions the deletion never touched. One
    * documented consequence: both [[appendToSignatureIndex]] and
    * [[nearDupAgainstIndex]] derive the hot key set FROM the sidecar's
    * rows, so a hot bucket compaction empties entirely is implicitly
    * de-classified (future appends route it cold); that is self-consistent
    * on both paths, and [[signatureIndexHealth]] re-flags it if it ever
    * re-grows past the cap.
    *
    * Crash safety: each store is one [[BucketedWrite.stage]] /
    * [[BucketedWrite.swap]] rewrite (a leftover scratch of either store
    * refuses the run before anything is written; the refusal names the
    * RENAME that completes a cut swap). Commit order — stage both survivor
    * sets → swap the sidecar → swap the main table. Before the first swap
    * the index is untouched (drop the scratches, re-run); between the
    * swaps the index over-detects against deleted main rows only until a
    * re-run (which then rewrites just the main side — the per-store no-op
    * check makes re-runs converge).
    *
    * A store whose rows never matched the deletion set is NOT rewritten —
    * its files stay bit-identical, same contract as the ANN repairs.
    * Returns one row per rewritten store `(store, removed_rows)`, empty if
    * no indexed row matched. */
  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, deletedIds: DataFrame): DataFrame = {
    import spark.implicits._
    val hotTable = s"${table}_hot"
    Seq(table, hotTable).foreach(BucketedWrite.refuseLeftover(spark, _))
    // ONE read of the deletion set: a broadcast already bounds it by
    // driver memory, so it is collected once and every consumer below
    // reads the driver-side copy (the staging joins as a local relation)
    val ids = deletedIds.select(col(deletedIds.columns.head).cast("long"))
      .collect().iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
    val del = broadcast(ids.toSeq.toDF("corpus_id"))
    // both stores' match counts in ONE job: the stores' id columns, tagged
    // by store and unioned, are probed against the broadcast id set and
    // counted per tag
    def tagged(store: String, t: String) =
      spark.table(t).select(lit(store).as("store"), col("corpus_id"))
    val stores =
      if (spark.catalog.tableExists(hotTable))
        tagged("main", table).unionByName(tagged("hot", hotTable))
      else tagged("main", table)
    val bIds = spark.sparkContext.broadcast(ids)
    val removed =
      try stores.rdd
        .filter(r => !r.isNullAt(1) && bIds.value.contains(r.getLong(1)))
        .map(_.getString(0)).countByValue()
      finally bIds.destroy()
    val mainRemoved = removed.getOrElse("main", 0L)
    val hotRemoved = removed.getOrElse("hot", 0L)
    // stage every survivor set BEFORE the first swap: the only
    // unrecoverable-by-rerun window is inside a RENAME, and staging first
    // keeps that window to the two metadata operations per store
    // re-select the canonical column order: a USING-column join moves the
    // join key to the front, and the rewritten table must keep the layout
    // appendToSignatureIndex's positional insertInto expects
    def survivors(live: DataFrame): DataFrame =
      live.join(del, Seq("corpus_id"), "left_anti")
        .select(Seq("band", "band_hash", "corpus_id").map(col): _*)
    // the staging writes stay sequential: each is a saturating scan+write
    // (the overlap-vs-convoy measurement in saveSignatureIndex's note), and
    // the swaps stay sequential and ordered (sidecar first), which is the
    // crash contract
    if (mainRemoved > 0) BucketedWrite.stage(spark, table)(survivors)
    if (hotRemoved > 0) BucketedWrite.stage(spark, hotTable)(survivors)
    if (hotRemoved > 0) BucketedWrite.swap(spark, hotTable)
    if (mainRemoved > 0) BucketedWrite.swap(spark, table)
    Seq(("main", mainRemoved), ("hot", hotRemoved))
      .filter(_._2 > 0).toDF("store", "removed_rows")
  }

  /** Near-dup pairs between an incoming `batch` and an indexed corpus
    * ([[saveSignatureIndex]]): band-collide the batch's signatures against
    * the index, then exact-Jaccard-verify each candidate. Returns
    * `(batch_id, corpus_id, sim)` with sim > threshold — the admission
    * filter for incremental dedup ("drop the batch doc if it near-dups
    * anything already admitted"). The LSH params MUST match the ones the
    * index was built with (same family, same seed) or recall silently
    * collapses; batch docs that also appear in the corpus id-space are
    * excluded from self-pairing. `corpus` is the id → text lookup for
    * candidate verification and must span EVERY id ever indexed (the
    * build corpus plus all appended batches): a collided id missing
    * from it fails the job loudly (raise_error) rather than silently
    * dropping the pair.
    *
    * Mega-bucket hardening: if the index was built with a `<table>_hot`
    * sidecar, batch rows in those degenerate buckets are grid-blocked —
    * scattered into `blocks` deterministic blocks against a ×blocks
    * replication of the (small) hot-row set, behind strict
    * REPARTITION_BY_NUM exchanges — so a hot bucket's m·n candidate pairs
    * spread over `blocks` tasks instead of one reducer, while the cold path
    * keeps the zero-index-side-exchange bucketed join untouched. Per-batch
    * cost: the batch's own rows plus the hot rows only — never a corpus
    * scan (the hot/cold split was decided at build time). Indexes built
    * before the sidecar existed probe exactly as before. */
  def nearDupAgainstIndex(indexTable: String, corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          ngramWidth: Int, bandCount: Int, bandSize: Int, seed: Long,
                          threshold: Double, blocks: Int = 16): DataFrame = {
    require(blocks >= 2, s"blocks must be >= 2, got $blocks")
    val spark = batch.sparkSession
    val keys = Seq("band", "band_hash")
    val idx = spark.table(indexTable)
    val batchRows = bandedRows(batch, idCol, textCol, ngramWidth, bandCount, bandSize, seed)
      .select(col(idCol).as("batch_id"), col("band"), col("band_hash"))
    // emptiness, not just existence: the common no-degenerate-buckets case
    // writes a metadata-only empty sidecar, and paying two strict
    // repartition exchanges plus an empty grid join per probe for it would
    // tax every healthy index. The limit(1) peek is one metadata-cheap job
    // at plan-construction time.
    val sidecarLive = spark.catalog.tableExists(s"${indexTable}_hot") &&
      !spark.table(s"${indexTable}_hot").limit(1).isEmpty
    val collided =
      if (!sidecarLive)
        batchRows.join(idx, keys)
      else {
        val hotRows = spark.table(s"${indexTable}_hot")
        val hotKeys = broadcast(hotRows.select(keys.map(col): _*).distinct())
        val cold = batchRows.join(hotKeys, keys, "left_anti").join(idx, keys)
        cold.unionByName(gridJoin(batchRows.join(hotKeys, keys, "left_semi"),
          col("batch_id"), hotRows, keys, blocks))
      }
    val cand = collided
      .filter(col("batch_id") =!= col("corpus_id"))
      .select("batch_id", "corpus_id")
      .distinct()
    // the corpus lookup must COVER every id the index can collide with
    // (day 1 plus every batch ever appended) — a lookup missing an
    // indexed id would silently drop its candidate pairs at an inner
    // join and admit near-dups with no error, so the attach is a LEFT
    // join with a raise_error guard: coverage holes fail the job loudly,
    // at zero extra passes (the guard rides the join's own projection)
    cand
      .join(batch.select(col(idCol).as("batch_id"), col(textCol).as("batch_text")), "batch_id")
      .join(corpus.select(col(idCol).as("corpus_id"), col(textCol).as("corpus_text")),
        Seq("corpus_id"), "left")
      .withColumn("corpus_text",
        when(col("corpus_text").isNull, raise_error(concat(
          lit("nearDupAgainstIndex: indexed corpus_id "), col("corpus_id"),
          lit(s" collided with the batch but is missing from the corpus " +
            s"lookup — the lookup must span EVERY id ever indexed into " +
            s"'$indexTable' (day 1 plus all appended batches), not just " +
            "the original corpus"))))
          .otherwise(col("corpus_text")))
      .withColumn("sim",
        graft.functions.lsh_jaccard(col("batch_text"), col("corpus_text"), ngramWidth))
      .filter(col("sim") > threshold)
      .select("batch_id", "corpus_id", "sim")
  }

  /** Greedy duplicate-cluster assignment: every id maps to the smallest id it
    * is (transitively) connected to in the near-dup pair graph.
    *
    * Adaptive execution: dedup graphs are usually tiny relative to the corpus
    * (edges only between near-dups), so when the edge count is at most
    * `driverThreshold` the components are computed with a driver-side
    * union-find — exact, no iteration. Larger graphs fall back to
    * distributed hash-min iteration (`maxIters` rounds, one shuffle each,
    * lineage truncated per round). */
  def dupClusters(pairs: DataFrame, maxIters: Int = 10,
                  driverThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
    driverEdges(edges, driverThreshold) match {
      case Some(e) =>
        // union-find over the sorted distinct ids: index order is id order,
        // so linking the larger root under the smaller keeps every root its
        // component's min id
        val ids = e.clone()
        java.util.Arrays.sort(ids)
        var n = 0
        var i = 0
        while (i < ids.length) {
          if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
          i += 1
        }
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        def index(id: Long) = java.util.Arrays.binarySearch(ids, 0, n, id)
        i = 0
        while (i < e.length) {
          val ra = find(index(e(i))); val rb = find(index(e(i + 1)))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          i += 2
        }
        import spark.implicits._
        (0 until n).map(k => (ids(k), ids(find(k)))).toDF("id", "cluster")
      case None => distributedClusters(edges.localCheckpoint(true), maxIters)
    }
  }

  /** `edges`' (a, b) pairs packed into one long array when there are at
    * most `threshold` of them, else None — in ONE job, where a
    * localCheckpoint, a count and a collect ran 4. Each task reads at most
    * threshold + 1 edges and ships them only while they fit its
    * partition's even share of the threshold, else just its count, so the
    * driver never holds much more than `threshold` edges. Spark's take
    * (`limit(threshold + 1).collect()`) bounds it the same way but runs one
    * job per scale-up round: two or more over a multi-partition frame, as
    * the benchmark's AQE-coalesced pair checkpoint is. A skewed graph
    * within the threshold (a partition over its share) pays a second,
    * bounded collect. Both reads and the distributed branch's checkpoint
    * run `edges`' one query plan, so an unmaterialized input's shuffles
    * are computed once. */
  private def driverEdges(edges: DataFrame, threshold: Long): Option[Array[Long]] = {
    // two longs per edge in one JVM array
    val limit = math.min(threshold, Int.MaxValue / 2 - 8L)
    if (limit < 0) return None
    val rdd = edges.queryExecution.toRdd
    val share = limit / math.max(1, rdd.getNumPartitions)
    val read = (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
      val kept = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      while (n <= limit && it.hasNext) {
        val r = it.next()
        if (n < share) { kept += r.getLong(0); kept += r.getLong(1) }
        n += 1
      }
      (n, if (n <= share) kept.result() else null)
    }
    val parts = edges.sparkSession.sparkContext.runJob(rdd, read)
    if (parts.map(_._1).sum > limit) None
    else if (parts.forall(_._2 != null)) Some(Array.concat(parts.map(_._2): _*))
    else Some(edges.collect().flatMap(r => Array(r.getLong(0), r.getLong(1))))
  }

  private def distributedClusters(pairs: DataFrame, maxIters: Int): DataFrame = {
    // True hash-min over the RETAINED edge set: each round every node takes
    // the min of its own label and all neighbors' labels. Pointer-jumping
    // alone (label(label(id)) over the initial labels) is NOT enough — with
    // edges (1,3),(2,3) node 2's initial label is 2 and jumping through 2
    // never discovers 1; the component min only propagates along edges.
    // A pointer-jump term is still folded into the same round as an
    // accelerator (label doubling), making convergence O(log diameter).
    // localCheckpoint each round: iterative self-joins otherwise double the
    // lineage per iteration and recompute the whole prefix every action.
    val adj = pairs.select(col("id_a").as("id"), col("id_b").as("peer"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("peer")))
      .localCheckpoint(true)
    var labels = adj
      .groupBy("id").agg(least(min(col("peer")), col("id")).as("cluster"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val peerLabels = labels.select(col("id").as("peer"), col("cluster").as("peer_cluster"))
      val neighborMin = adj.join(peerLabels, "peer")
        .groupBy("id").agg(min(col("peer_cluster")).as("nmin"))
      val jump = labels.select(col("id").as("jid"), col("cluster").as("jcluster"))
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .join(jump, col("cluster") === col("jid"), "left")
        .select(col("id"), col("cluster").as("prev"),
          least(col("cluster"),
            coalesce(col("nmin"), col("cluster")),
            coalesce(col("jcluster"), col("cluster"))).as("cluster"))
        .localCheckpoint(true)
      // convergence check is a scan of the just-materialized round output —
      // no extra join job (the old check re-joined next against labels)
      converged = next.filter(col("cluster") =!= col("prev")).limit(1).count() == 0
      labels = next.select("id", "cluster")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters: hash-min did not converge after $maxIters rounds — labels would be " +
          "silently wrong on this graph; raise maxIters (rounds needed ~ log2 of the largest " +
          "component's diameter thanks to the pointer-jump accelerator)")
    labels
  }
}
