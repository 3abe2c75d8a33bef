package graft.api

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (day-2) corpus curation — the production shape every
  * crawl pipeline converges on after its first full run: day 1 curates
  * corpus A and persists compact per-statistic INDEXES; day 2 admits a
  * new batch B through the full recipe against those indexes, paying
  * O(|B|) work — the old corpus's TEXT is never re-read, re-tokenized,
  * or re-shuffled.
  *
  * == The exactness contract ==
  *
  * Admitting B incrementally is BIT-EQUAL to the batch-B slice of
  * re-running the whole recipe on A ∪ B. That holds because every
  * corpus-level statistic the recipe consumes is defined over the RAW
  * corpus text and is MERGEABLE across corpus slices:
  *
  *   - boilerplate line document-frequency: additive counts
  *     ([[saveLineIndex]] / per-batch appended generations summed on
  *     read);
  *   - duplicate-gram flags: [[Dedup.saveGramIndex]]'s union contract —
  *     `dupSpansFromIndex(build ∪ appends)` ≡ `dupSpans(A ∪ B)`;
  *   - NB quality model: [[QualityClassifier.nbCountsDf]] sufficient
  *     statistics, summed per bucket on read
  *     ([[QualityClassifier.modelFromCounts]]);
  *   - exact-dup identity: `xxhash64(raw text)` keep-earliest — one
  *     `(h, doc_id)` row per doc, min-per-hash taken on read (per-doc
  *     rows keep the index deletion-closed for [[takedownState]]);
  *   - near-dup identity: banding collisions + exact Jaccard are
  *     per-PAIR facts, so the A ∪ B pair graph restricted to pairs
  *     touching B is exactly (index probe) ∪ (within-batch pairs) —
  *     see [[admitBatch]]'s component rule;
  *   - benchmark decontamination: the bench set is versioned day-1
  *     state, fixed across days;
  *   - token counting: the BPE vocabulary is versioned day-1 state
  *     (trained on A, frozen — a pipeline does not retrain its
  *     tokenizer per batch), so the A ∪ B reference recipe is
  *     parameterized by the same ranks.
  *
  * Per-document decisions (admission verdicts, span cuts) are pure
  * functions of (the doc's raw text, those merged statistics), so the
  * batch slice cannot see WHEN the rest of the corpus arrived. Contrast
  * the staged chain (`curate_corpus_v2`), whose stages refit on each
  * stage's survivor frontier: there a new batch shifts old docs'
  * frontiers and no incremental form can be exact — this recipe
  * computes every statistic on the immutable raw text precisely so
  * that day-2 exactness is a theorem, not a hope.
  *
  * == The recipe ==
  *
  * Admission = three independent verdicts (conjunction), then one text
  * rewrite:
  *
  *  1. exact keep-earliest: admitted iff the doc is the smallest id in
  *     A ∪ B with its raw-text hash;
  *  2. near-dup keep-earliest: admitted iff the doc is the smallest id
  *     of its connected component in the near-dup pair graph (banding
  *     ∧ exact Jaccard > threshold) over A ∪ B — a batch doc whose
  *     component touches ANY indexed doc is never minimal (ids grow
  *     monotonically, the rolling contract);
  *  3. NB quality: `nb_score(raw text) > 0` under the A ∪ B-trained
  *     model.
  *
  * The rewrite cuts the union of three span sources mined on raw text
  * (interval-merged before the cut): boilerplate lines whose merged
  * document frequency ≥ `minDocs` (as token spans), benchmark
  * contamination spans, and duplicated-gram spans from the gram index.
  * Output per admitted doc: final char length, token count under the
  * frozen vocabulary, and the NB score.
  *
  * == Scale shape ==
  *
  * Every admit-time plan is batch-bounded: index sides are read
  * column-pruned and semi-joined against the batch's key sets (line
  * hashes, text hashes, band keys, gram hashes); the only corpus-side
  * text reads are the near-dup candidates' partner docs (bounded by
  * the batch's collision degree, the [[BandedLsh.nearDupAgainstIndex]]
  * shape). The driver holds only the batch's near-dup edge list
  * (capped loudly) and the `buckets`-sized NB model.
  *
  * Reference for the composed-pipeline gate pattern:
  * princeton-ddss/lsh README.md:133-164 (banded blocking join); the
  * staged/takedown gates established the composition-oracle
  * discipline this gate extends to the day-2 seam. */
object IncrementalCuration {

  /** Tunables of the recipe — part of the persisted state's identity:
    * day-2 MUST admit with the values day 1 built with (the
    * [[Dedup.saveGramIndex]] same-params contract, generalized). */
  final case class Params(
      width: Int = 8,              // gram width: dup + decon spans
      minDocs: Long = 60L,         // boilerplate line doc-frequency cut
      nbBuckets: Int = 1024,       // NB feature buckets
      shingleWidth: Int = 4,       // near-dup char-shingle width
      bandCount: Int = 8, bandSize: Int = 3, lshSeed: Long = 123L,
      simThreshold: Double = 0.5,  // exact-Jaccard verify (strict >)
      bpeMerges: Int = 48, bpeVocabCap: Int = 2048,
      numBuckets: Int = 8,         // bucketed-table layout
      maxDriverEdges: Long = 1000000L) // near-dup edge collect cap

  private[graft] def reasonsTable(p: String) = s"${p}_admit_reasons"
  private[api] def gramTable(p: String) = s"${p}_grams"
  private[api] def sigTable(p: String) = s"${p}_sigs"
  private[api] def lineTable(p: String) = s"${p}_lines"
  private[api] def nbTable(p: String) = s"${p}_nb"
  private[api] def hashTable(p: String) = s"${p}_hash"
  private[api] def vocabTable(p: String) = s"${p}_vocab"
  private[api] def metaTable(p: String) = s"${p}_meta"

  /** One row per (doc, distinct line): `(lh, docs)` document-frequency
    * counts — [[Dedup.dropBoilerplateLines]]' statistic in mergeable
    * form (a doc repeating a line counts once, the dense_rank
    * semantics). */
  private def lineCounts(df: DataFrame, idCol: String, textCol: String,
                         sep: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(
          split(col(textCol), Pattern.quote(sep), -1))).as("__line"))
      .groupBy(xxhash64(col("__line")).as("lh"))
      .agg(count(lit(1)).as("docs"))

  /** The nine state tables, in one place — the gate and spec restart
    * simulations deregister EXACTLY this list, so a tenth table added
    * here is automatically exercised by both. */
  private[graft] def stateTables(prefix: String): Seq[String] =
    Seq(gramTable(prefix), s"${gramTable(prefix)}_flags", sigTable(prefix),
      s"${sigTable(prefix)}_hot", lineTable(prefix), nbTable(prefix),
      hashTable(prefix), vocabTable(prefix), metaTable(prefix))

  /** Drop every state table of `prefix` (test/gate hygiene). */
  def reset(spark: SparkSession, prefix: String): Unit =
    (stateTables(prefix) :+ reasonsTable(prefix))
      .foreach(BucketedWrite.dropTable(spark, _))

  /** The meta table as a driver map. Served through [[SmallTableCache]]
    * (file-listing-validated, so a writer that bypasses this object — the
    * torn-state spec appends a marker row directly — is still seen): the
    * uncached form cost one Spark job per [[admitBatch]] /
    * [[compactState]] / [[takedownState]] call for a table of ~3 rows,
    * on the driver's critical path once per streaming micro-batch. */
  private def readMeta(spark: SparkSession, prefix: String): Map[String, Long] =
    SmallTableCache.cached(spark, metaTable(prefix), "inc-meta") {
      spark.table(metaTable(prefix))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** Re-register state tables whose catalog entries died with a
    * previous JVM but whose warehouse directories survived — the
    * [[StagedPipeline.recoverFromWarehouse]] discipline applied to the
    * day-2 seam, so a run pre-empted BETWEEN days resumes from parquet
    * alone (run automatically by [[admitBatch]]; a persistent metastore
    * finds nothing to do). The meta table is the recovery sentinel:
    * state with directories but no meta high-water mark is torn —
    * fails loudly rather than admitting against partial statistics.
    * Local-mode caveat, stated: recovered registrations are plain
    * parquet — the BUCKET METADATA of the gram/signature/line/hash
    * tables does not survive the in-memory catalog's death, so
    * recovered-session plans pay exchanges the original layout avoided
    * (correctness unchanged; a persistent metastore keeps the spec).
    * Rewrites of recovered tables follow [[BucketedWrite.stage]]'s
    * layout rule: [[compactState]] and the takedown's hash rewrite pass
    * `Params.numBuckets` and restore the bucketing; the takedown's
    * signature and gram rewrites stay plain parquet.
    * Returns the number of tables re-registered. */
  private def recoverFromWarehouse(spark: SparkSession, prefix: String): Int = {
    var n = 0
    // the shared BucketedWrite.ensureRegistered primitive
    def ensure(t: String): Boolean = {
      val had = spark.catalog.tableExists(t)
      val ok = BucketedWrite.ensureRegistered(spark, t)
      if (ok && !had) n += 1
      ok
    }
    val metaLive = ensure(metaTable(prefix))
    val others = stateTables(prefix).filterNot(_ == metaTable(prefix))
    val recovered = others.map(ensure)
    // the meta table is the recovery SENTINEL, checked in both
    // directions: meta without a mandatory index is torn, and indexes
    // without meta are equally torn (the drop+recreate window of the
    // day-2 meta rewrite dies exactly there) — never silently admit
    // against partial statistics. The hot sidecar is legitimately
    // absent when no bucket ever exceeded the cap.
    // the audit table is OPTIONAL state (absent until the first admit;
    // losing it across a restart costs audit continuity, never
    // correctness) — recover it when its directory survived, but it is
    // deliberately outside the mandatory torn-state check
    ensure(reasonsTable(prefix))
    val anyOther = others.zip(recovered).exists(_._2)
    require(metaLive || !anyOther,
      s"$prefix state is torn: statistic tables exist but the meta " +
        "sentinel (high-water mark + params fingerprint) does not — " +
        "reset(prefix) and rebuild day-1 state")
    require(!metaLive || others.zip(recovered).forall { case (t, ok) =>
      ok || t == s"${sigTable(prefix)}_hot" },
      s"$prefix state is torn: the meta table exists but a mandatory " +
        "state table has neither a catalog entry nor a warehouse " +
        "directory — reset(prefix) and rebuild day-1 state")
    n
  }

  /** Day-1 state build over raw corpus A: the five statistic indexes
    * plus the frozen tokenizer vocabulary and the id high-water mark.
    * Each index is the existing per-operator persistence seam —
    * nothing here is new machinery, which is the point: the day-2
    * recipe is a COMPOSITION of already-gated parts. */
  def buildState(corpus: DataFrame, prefix: String, idCol: String,
                 textCol: String, labelCol: Column,
                 params: Params = Params()): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val p = params
    // the six index builds scan `corpus` seven+ times; when the input is
    // a derived frame (joins, rewrites) each scan re-executes its whole
    // plan — persist for the build's duration (the saveSignatureIndex
    // precedent: input evaluated once, consumers read the cache)
    val c = corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the high-water-mark aggregate runs FIRST, alone: the one job it
      // costs anyway reads every partition of `c`, so the builds below
      // start on a loaded cache. Inside the bundle (the earlier form) no
      // row was evaluated twice (IncrementalCurationSpec), and no wall-
      // time difference between the two forms has been shown.
      val maxId = c.agg(max(col(idCol).cast("long"))).head.getLong(0)
      // the builds are INDEPENDENT writes to disjoint tables — overlap
      // them (guide §2.6): each alone leaves most executors idle through
      // its small stages and its scheduling floor. Meta is written LAST
      // and sequentially: it is the recovery SENTINEL
      // (recoverFromWarehouse refuses statistic tables without meta), so
      // every statistic table must be fully committed before the
      // sentinel exists.
      Par.run(spark, Seq[(String, () => Any)](
        (s"buildState($prefix): gram index", () =>
          Dedup.saveGramIndex(c, gramTable(prefix), p.numBuckets,
            idCol, textCol, p.width)),
        (s"buildState($prefix): signature index", () =>
          BandedLsh.saveSignatureIndex(c, sigTable(prefix), p.numBuckets,
            idCol, textCol, p.shingleWidth, p.bandCount, p.bandSize, p.lshSeed)),
        (s"buildState($prefix): line document frequencies", () =>
          BucketedWrite.saveBucketed(lineCounts(c, idCol, textCol, "\n"),
            lineTable(prefix), p.numBuckets, Seq("lh"))),
        (s"buildState($prefix): NB sufficient statistics", () => {
          BucketedWrite.dropTable(spark, nbTable(prefix))
          QualityClassifier.nbCountsDf(c, textCol, labelCol, p.nbBuckets)
            .write.format("parquet").saveAsTable(nbTable(prefix))
        }),
        // ALL (h, doc_id) rows, not min-per-hash: the admit read side only
        // needs min() (it re-aggregates anyway), and per-doc rows make the
        // index DELETION-CLOSED — a takedown is one anti-join on doc_id,
        // with no way for a deleted min-holder to hide a surviving twin
        // (min-per-batch would lose the larger-id twin at append time).
        // Size cost ~nothing: one row per doc vs one per distinct text.
        (s"buildState($prefix): raw-hash index", () =>
          BucketedWrite.saveBucketed(
            c.select(xxhash64(col(textCol)).as("h"),
              col(idCol).cast("long").as("doc_id")),
            hashTable(prefix), p.numBuckets, Seq("h"))),
        (s"buildState($prefix): BPE vocabulary", () => {
          BucketedWrite.dropTable(spark, vocabTable(prefix))
          // driver-local merge list: one file, not ~32 near-empty ones
          BpeTrain.mergesDf(spark,
              BpeTrain.trainBpe(c, textCol, p.bpeMerges, p.bpeVocabCap))
            .coalesce(1)
            .write.format("parquet").saveAsTable(vocabTable(prefix))
        })
      ), parallelism = 4)
      BucketedWrite.dropTable(spark, metaTable(prefix))
      val metaRows = Seq(("max_doc_id", maxId), ("params_hash", paramsHash(p)))
      metaRows.toDF("key", "value")
        .write.format("parquet").saveAsTable(metaTable(prefix))
      SmallTableCache.put(spark, metaTable(prefix), "inc-meta", metaRows.toMap)
    } finally c.unpersist()
  }

  /** Stable fingerprint of the recipe parameters — persisted at build,
    * REQUIRED equal at every admit: the tunables are part of the state's
    * identity (a width-7 probe against width-8 gram triples silently
    * matches nothing), and "same values as the build" is a contract
    * worth enforcing, not documenting. Hashed over the field VALUES in
    * declaration order (not toString), so renaming the class or a
    * field never invalidates persisted state; reordering or adding
    * fields does — which is right, those change what the values mean. */
  private def paramsHash(p: Params): Long =
    scala.util.hashing.MurmurHash3.orderedHash(
      p.productIterator.map(_.toString)).toLong

  /** Admit batch B against the persisted state (and fold B INTO that
    * state, so day 3 admits against A ∪ B): returns the admitted docs
    * as `(<idCol>, n_chars_inc, n_tok_inc, nb_score)` — bit-equal to
    * the batch slice of [[admitReference]] over A ∪ B. Every rejected
    * doc's first-loss reason (`exact_dup` > `near_dup` > `nb_quality`)
    * appends to `{prefix}_admit_reasons` — the day-2 sibling of
    * [[StagedPipeline.dropLedger]], so "why was doc X rejected" is one
    * table read, never a re-run.
    *
    * `corpusLookup` is the id → text lookup for near-dup partner
    * verification ONLY, and it must span EVERY id below the high-water
    * mark — the day-1 corpus UNION all previously admitted batches, not
    * just day 1: on day 3+ a lookup missing day-2 ids would miss
    * candidate pairs and admit near-dups. Coverage is ENFORCED, not
    * trusted: a collided indexed id absent from the lookup fails the
    * probe job loudly ([[BandedLsh.nearDupAgainstIndex]]'s raise_error
    * guard). The plan prunes the lookup to the banding candidates' rows
    * — it is never scanned in full, tokenized, or shuffled.
    *
    * Rolling contract, ENFORCED: every batch id must exceed the
    * persisted high-water mark (keep-earliest needs arrival order ≡ id
    * order across days — the [[BandedLsh.appendToSignatureIndex]] /
    * [[Dedup.appendToGramIndex]] disjoint-ids contract, checked here
    * against the meta table instead of trusted).
    *
    * Replay safety (`generation`): a streaming caller that can REPLAY a
    * batch (crash between this call and its checkpoint commit) passes a
    * stable per-batch tag; the admit then brackets its state mutation
    * with meta markers — `gen_started_<g>` appended before the first
    * index append, flipped to `gen_done_<g>` in the same atomic meta
    * rewrite that advances the high-water mark (which lands AFTER the
    * reasons audit, so done ⇒ every append and the verdict record are
    * durable). A replayed call SKIPS all mutation and reconstructs the
    * bit-equal output from state + the reasons audit (the verdicts are
    * functions of post-append state, so recomputing over it reproduces
    * them exactly; only the replayed generation being the LATEST is
    * required — enforced — because span mining over state that already
    * holds later days would see their grams). A replay that finds
    * `gen_started` without `gen_done` REFUSES loudly: the crash landed
    * mid-append and the state is torn — appends are not idempotent row
    * sets, so the only honest remedies are a state rebuild to the last
    * committed day or a [[compactState]]-committed restore. Batch-mode
    * callers that never replay (the default None) get no markers and
    * the exact pre-existing behavior. */
  def admitBatch(batch: DataFrame, bench: DataFrame, corpusLookup: DataFrame,
                 prefix: String, idCol: String, textCol: String,
                 labelCol: Column, params: Params = Params(),
                 generation: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val p = params
    recoverFromWarehouse(spark, prefix) // no-op unless a JVM died between days
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val meta = readMeta(spark, prefix)
    val maxId = meta("max_doc_id")
    require(meta.get("params_hash").contains(paramsHash(p)),
      s"'$prefix' was built with different Params than this admit " +
        "(stored fingerprint absent or differs): the tunables are part " +
        "of the state's identity — admit with the build's values or " +
        "rebuild day-1 state")
    // one pass over the batch ids for all id-contract checks (and the
    // new high-water mark, reused below instead of a second max() job):
    // an empty batch would read min() as a NullPointerException deep in
    // getLong, and duplicate ids would silently break keep-earliest and
    // the audit table's one-row-per-doc assumption — both fail here,
    // BEFORE any state mutation, with messages that say so
    val idStats = b.agg(count(lit(1)).as("n"),
        countDistinct(col(idCol)).as("nd"),
        min(col(idCol).cast("long")).as("mn"),
        max(col(idCol).cast("long")).as("mx"),
        count(col(textCol)).as("ntext")).head
    require(idStats.getLong(0) > 0L,
      "admitBatch got an EMPTY batch: nothing to admit (and the id " +
        "contract checks would be vacuous) — skip the call")
    require(idStats.getLong(1) == idStats.getLong(0),
      s"batch ids must be unique (got ${idStats.getLong(0)} rows over " +
        s"${idStats.getLong(1)} distinct ids): keep-earliest and the " +
        "admit-reasons audit assume one row per doc id")
    // NULL text is refused up front (round-20 advice finding): a null-text
    // doc can land in NEITHER the admitted set NOR the reasons audit
    // (both filters are null-blind on nb_score), so a generation REPLAY
    // would resurrect it as admitted and break the bit-equal
    // exactly-once contract — and every statistic index assumes a
    // present (possibly empty) raw text anyway
    require(idStats.getLong(4) == idStats.getLong(0),
      s"batch has ${idStats.getLong(0) - idStats.getLong(4)} NULL-text " +
        s"doc(s): every admit verdict and statistic is a function of the " +
        "raw text — map nulls to empty strings (or drop the rows) " +
        "upstream, BEFORE admission")
    val batchMin = idStats.getLong(2)
    val batchMax = idStats.getLong(3)

    // ---- generation marker dispatch (replay safety) ----
    // ANY dangling started marker means torn state — not just a replay
    // of the same tag: a crashed generation leaves partial appends that
    // poison EVERY later admit (a retry without the tag, or a later
    // generation whose ids still clear the unadvanced high-water mark,
    // would silently append on top of them). Committed generations
    // remove their marker, so dangling ⇒ torn, no false refusals.
    val dangling = meta.keys.filter(_.startsWith("gen_started_"))
    if (dangling.nonEmpty) throw new IllegalStateException(
      s"generation(s) ${dangling.map(_.stripPrefix("gen_started_"))
        .mkString("'", "', '", "'")} STARTED but never committed: a " +
        "prior attempt crashed mid-append and the state tables are torn " +
        "(appends are not idempotent row sets) — rebuild state to the " +
        "last committed day (or restore compactState's committed " +
        "rewrite) before admitting anything")
    val genStartedKey = generation.map(g => s"gen_started_$g")
    val genDoneKey = generation.map(g => s"gen_done_$g")
    genDoneKey.flatMap(meta.get) match {
      case Some(oldMax) =>
        // REPLAY of a fully-committed generation: skip every mutation
        // and reconstruct the bit-equal output. The verdicts were
        // computed over post-append state the first time, so the same
        // reads over the same state reproduce them; the admitted set
        // itself comes from the durable reasons audit (admitted = batch
        // ids with NO reason row — ids are globally unique across days,
        // so the anti-join prunes to this batch's verdicts).
        require(meta("max_doc_id") == batchMax,
          s"generation '${generation.get}' replay must be the LATEST " +
            s"admitted generation (state high-water ${meta("max_doc_id")}" +
            s", batch max $batchMax): span mining over state that " +
            "already holds later days cannot reproduce this day's output")
        val (lo, prior) = QualityClassifier.modelFromCounts(spark, nbTable(prefix))
        val admitted = QualityClassifier
          .nbScore(b, textCol, lo, prior, "nb_score")
          .withColumn("doc_id", col(idCol).cast("long"))
          .join(spark.table(reasonsTable(prefix)).select("doc_id"),
            Seq("doc_id"), "left_anti")
        val out = assembleAdmitOutput(spark, b, bench, admitted,
          prefix, idCol, textCol, oldMax, p)
        b.unpersist()
        return out
      case None => () // no marker for this tag: first run, fall through
    }
    require(batchMin > maxId,
      s"batch ids must exceed the indexed high-water mark $maxId " +
        s"(got min $batchMin): keep-earliest across days is id order")

    // ---- pre-mutation read bundle, BEFORE any state mutation ----
    // Every require in this function fires before the first append: a
    // rejected batch (bad ids, over-cap edge list) must leave the state
    // tables exactly as it found them — appends are not idempotent, so
    // validation-after-mutation would poison every later day. (A crash
    // MID-append still needs a state rebuild, like any interrupted
    // index append — the contract appendToGramIndex documents.)
    // Batch-vs-A pairs probe the index while it still holds A only;
    // batch-vs-batch pairs come from one banding pass over the batch.
    // Four independent read-only jobs — overlapped (guide §2.6), they
    // fill each other's scheduling floor and tails: the two minings,
    // the OLD NB generations' summed counts (the model read that used to
    // sit sequentially between the appends and the verdicts — reading it
    // pre-append and adding the batch's counts on the driver is
    // bit-equal, integer sums either way), and the batch's own NB counts
    // (computed ONCE here for both the persisted generation and the
    // model, where the old code paid the batch scan twice). b is already
    // materialized in the persist cache by the idStats pass above, so
    // the concurrent scans of it are cache reads.
    val edgeCap = math.min(p.maxDriverEdges, Int.MaxValue - 1L).toInt + 1
    val reads = Par.run(spark, Seq[(String, () => Any)](
      (s"admitBatch($prefix): batch-vs-index near-dup pairs", () =>
        BandedLsh.nearDupAgainstIndex(sigTable(prefix),
            corpusLookup.select(col(idCol), col(textCol)), b,
            idCol, textCol, p.shingleWidth, p.bandCount, p.bandSize, p.lshSeed,
            p.simThreshold)
          .select(col("batch_id").cast("long"), col("corpus_id").cast("long"))
          .limit(edgeCap)
          .collect()),
      (s"admitBatch($prefix): within-batch near-dup pairs", () =>
        BandedLsh.nearDupPairs(b, idCol, textCol,
            p.shingleWidth, p.bandCount, p.bandSize, p.lshSeed, p.simThreshold)
          .select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(edgeCap)
          .collect()),
      (s"admitBatch($prefix): prior NB generation sums", () =>
        QualityClassifier.summedCounts(spark, nbTable(prefix))),
      (s"admitBatch($prefix): batch NB counts", () =>
        QualityClassifier.classBucketCounts(b, textCol, labelCol, p.nbBuckets))),
      parallelism = 4)
    val abPairs = reads(0).asInstanceOf[Array[org.apache.spark.sql.Row]]
    val bbPairs = reads(1).asInstanceOf[Array[org.apache.spark.sql.Row]]
    val oldNb = reads(2).asInstanceOf[(Array[Long], Array[Long], Long, Long)]
    val batchNb = reads(3).asInstanceOf[(Array[Long], Array[Long], Long, Long)]
    require(abPairs.length <= p.maxDriverEdges &&
        bbPairs.length <= p.maxDriverEdges,
      s"near-dup edge list exceeds maxDriverEdges=${p.maxDriverEdges}; " +
        "raise the cap or pre-thin the batch (a batch this self-similar " +
        "is mostly duplicates)")

    // component rule on the driver: a component touching ANY indexed
    // doc is never minimal (ids grow across days); an untouched
    // component keeps its min id; unpaired batch docs are trivially
    // minimal. EVERY edge endpoint enters the node set — a union-find
    // root never appears in parent.keys, and skipping it would admit
    // the min-id doc of an A-touched component.
    val touched = scala.collection.mutable.Set[Long]()
    val nodes = scala.collection.mutable.Set[Long]()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    abPairs.foreach { r => touched += r.getLong(0); nodes += r.getLong(0) }
    bbPairs.foreach { r =>
      val (ia, ib) = (r.getLong(0), r.getLong(1))
      nodes += ia; nodes += ib
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val rootTouched = touched.map(find)
    val dropNear: Array[Long] = nodes.toArray.filter { n =>
      rootTouched(find(n)) || find(n) != n
    }

    // ---- generation start marker: appended BEFORE the first state
    // append, so a crash anywhere in the mutation block leaves evidence
    // a replay can refuse on (vs silently double-appending) ----
    genStartedKey.foreach { k =>
      Seq((k, maxId)).toDF("key", "value")
        .write.mode("append").insertInto(metaTable(prefix))
    }

    // ---- fold the batch into every statistic index (append-only) ----
    // five appends to DISJOINT tables with no cross-reads — overlapped
    // (guide §2.6). Crash semantics are unchanged: any subset landing is
    // the same torn state the sequential order could leave (the dangling
    // gen_started marker, or the documented mid-append rebuild), and the
    // verdict reads below start only after every append has committed.
    Par.run(spark, Seq[(String, () => Unit)](
      (s"admitBatch($prefix): gram index append", () =>
        Dedup.appendToGramIndex(b, gramTable(prefix), idCol, textCol, p.width)),
      (s"admitBatch($prefix): signature index append", () =>
        BandedLsh.appendToSignatureIndex(b, sigTable(prefix), idCol, textCol,
          p.shingleWidth, p.bandCount, p.bandSize, p.lshSeed)),
      (s"admitBatch($prefix): line-df append", () =>
        BucketedWrite.alignedForInsert(
            lineCounts(b, idCol, textCol, "\n")
              .select(spark.table(lineTable(prefix)).columns.map(col).toIndexedSeq: _*),
            lineTable(prefix))
          .write.mode("append").insertInto(lineTable(prefix))),
      (s"admitBatch($prefix): NB counts append", () =>
        QualityClassifier.countsToDf(spark, batchNb)
          .select(spark.table(nbTable(prefix)).columns.map(col).toIndexedSeq: _*)
          .write.mode("append").insertInto(nbTable(prefix))),
      (s"admitBatch($prefix): raw-hash append", () =>
        BucketedWrite.alignedForInsert(
            b.select(xxhash64(col(textCol)).as("h"),
                col(idCol).cast("long").as("doc_id"))
              .select(spark.table(hashTable(prefix)).columns.map(col).toIndexedSeq: _*),
            hashTable(prefix))
          .write.mode("append").insertInto(hashTable(prefix)))
    ), parallelism = 3)
    // ---- verdict 1: exact keep-earliest over A ∪ B ----
    val bh = b.select(col(idCol).cast("long").as("doc_id"),
      xxhash64(col(textCol)).as("h"))
    val minPerHash = spark.table(hashTable(prefix))
      .join(bh.select("h").distinct(), Seq("h"), "left_semi")
      .groupBy("h").agg(min("doc_id").as("__minid"))
    val exactKeep = bh.join(minPerHash, "h")
      .filter(col("doc_id") === col("__minid")).select("doc_id")

    // ---- verdict 3: NB quality over the A ∪ B model ----
    // assembled on the driver from (pre-append generation sums) +
    // (the batch's counts), both collected in the pre-mutation bundle —
    // element-wise integer sums, so bit-equal to re-reading the table
    // after the append (which is exactly what the replay path still does)
    val (lo, prior) = QualityClassifier.modelFromArrays((
      oldNb._1.zip(batchNb._1).map { case (a, x) => a + x },
      oldNb._2.zip(batchNb._2).map { case (a, x) => a + x },
      oldNb._3 + batchNb._3, oldNb._4 + batchNb._4))
    val scored = QualityClassifier
      .nbScore(b, textCol, lo, prior, "nb_score")
      .withColumn("doc_id", col(idCol).cast("long"))

    val kept = scored
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .filter(col("nb_score") > 0.0)
    // drop set is driver-bounded already; inline small sets, join big ones
    val admitted =
      if (dropNear.isEmpty) kept
      else if (dropNear.length <= 10000)
        kept.filter(!col("doc_id").isin(dropNear.toIndexedSeq: _*))
      else kept.join(
        dropNear.toIndexedSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")

    // ---- rejection audit: why each non-admitted doc fell ----
    // the day-2 sibling of StagedPipeline.dropLedger: (doc_id, reason)
    // appended to {prefix}_admit_reasons per admit, first reason wins
    // in the fixed order exact > near > nb (the ledger's first-loss
    // convention). The write is an eager action, so the audit is
    // pinned against the tables this very call just mutated.
    val ids = scored.select("doc_id", "nb_score")
    val exactDropRows = ids.join(exactKeep, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("exact_dup").as("reason"))
    val pastExact = ids.join(exactKeep, Seq("doc_id"), "left_semi")
    val (nearDropRows, pastNear) =
      if (dropNear.isEmpty)
        (spark.emptyDataset[(Long, String)].toDF("doc_id", "reason"),
          pastExact)
      else {
        val nd = dropNear.toIndexedSeq.toDF("doc_id")
        (pastExact.join(nd, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), lit("near_dup").as("reason")),
          pastExact.join(nd, Seq("doc_id"), "left_anti"))
      }
    val nbDropRows = pastNear.filter(!(col("nb_score") > 0.0))
      .select(col("doc_id"), lit("nb_quality").as("reason"))
    // the reasons write and the span assembly both read only post-append
    // state and neither reads the other's output — overlapped (§2.6); the
    // meta rewrite below still waits for BOTH, so gen_done continues to
    // imply the reasons audit is durable.
    val out = Par.run(spark, Seq[(String, () => AnyRef)](
      (s"admitBatch($prefix): reasons audit append", () => {
        exactDropRows.unionByName(nearDropRows).unionByName(nbDropRows)
          .write.mode("append").format("parquet")
          .saveAsTable(reasonsTable(prefix))
        null
      }),
      // ---- span assembly + one rewrite (shared with the replay path) ----
      (s"admitBatch($prefix): span assembly + rewrite", () =>
        assembleAdmitOutput(spark, b, bench, admitted,
          prefix, idCol, textCol, maxId, p))
    )).last.asInstanceOf[DataFrame]

    // ---- meta rewrite: high-water mark + generation commit ----
    // AFTER the reasons write (the replay path reconstructs the admitted
    // set from the reasons audit, so gen_done must imply it is durable)
    // and in ONE drop+recreate with the max_doc_id advance — started
    // flips to done atomically at the table level. The new rows are
    // BUILT ON THE DRIVER from the map this call already read (the old
    // code re-read the table through a Spark job and localCheckpointed
    // the lazy filter to pin it across its own drop — two jobs for ~3
    // rows; the driver map IS that pin): `meta` predates this call's
    // gen_started marker, so the marker drops out exactly as the old
    // filter dropped it. dropTable (not saveAsTable overwrite): a
    // RECOVERED (external) registration trips the managed-location-
    // exists error; dropTable removes the directory explicitly so the
    // external/managed distinction never leaks (the StagedPipeline
    // recovery convention).
    val newMeta = (meta - "max_doc_id") ++
      Seq(("max_doc_id", batchMax)) ++ genDoneKey.map(_ -> maxId)
    BucketedWrite.dropTable(spark, metaTable(prefix))
    newMeta.toSeq.toDF("key", "value")
      .write.format("parquet").saveAsTable(metaTable(prefix))
    SmallTableCache.put(spark, metaTable(prefix), "inc-meta", newMeta)
    b.unpersist()
    out
  }

  /** Span assembly (all mined on raw text) + the one rewrite that
    * produces admitBatch's output — shared verbatim by the first-run
    * and generation-replay paths so they cannot drift: dup spans from
    * the (post-append) gram index above the prior high-water mark,
    * contamination spans against the bench, boilerplate line spans from
    * the (post-append) line-df statistic, merged islands, exact cut,
    * frozen-vocab token count. MATERIALIZES before returning: the
    * verdict/span plans read the very tables admitBatch appends to, so
    * a lazy result re-evaluated after a LATER batch's admit would see
    * day-3 statistics and silently break the day-2 contract.
    * localCheckpoint pins the rows (the admitted batch — small by
    * construction) and truncates the lineage, which also frees the
    * batch cache in the caller. */
  private def assembleAdmitOutput(spark: SparkSession, b: DataFrame,
      bench: DataFrame, admitted: DataFrame, prefix: String, idCol: String,
      textCol: String, priorMaxId: Long, p: Params): DataFrame = {
    val dupSp = Dedup.dupSpansFromIndex(spark, gramTable(prefix))
      .filter(col("doc_id") > priorMaxId)
    val deconSp = Contamination.contaminatedSpans(b, bench, idCol, textCol,
      p.width)
    val boilSp = boilerLineSpans(b, idCol, textCol, lineTable(prefix),
      p.minDocs)
    val allSp = Dedup.mergeIslands(
      dupSp.select(col("doc_id"), col("span_start").as("pos"),
          col("span_end").as("fin"))
        .unionByName(deconSp.select(col("doc_id"),
          col("span_start").as("pos"), col("span_end").as("fin")))
        .unionByName(boilSp))
    val ranks = loadVocab(spark, prefix)
    Dedup.cutSpansExact(admitted, allSp, "doc_id", textCol)
      .select(col("doc_id"),
        length(col(textCol)).cast("long").as("n_chars_inc"),
        graft.functions.bpe_count(col(textCol), ranks).as("n_tok_inc"),
        col("nb_score"))
      .localCheckpoint()
  }

  /** Day-N state compaction: fold every appended generation of the
    * statistic tables back into ONE, so admit cost stays bound to the
    * batch instead of growing with the NUMBER OF PRIOR BATCHES. Each
    * admit appends a generation per table; after hundreds of daily
    * batches the read-side merges (line-df sum, NB bucket sum, hash
    * min) and the per-generation file listings grow with generation
    * count — this rewrites each table to its merged single-generation
    * form, which is semantics-preserving BY THE SAME THEOREM that makes
    * admission exact: every statistic is mergeable, so merging it early
    * changes nothing a future admit can observe (gate- and spec-pinned:
    * admit-after-compact is bit-equal to admit-without-compact).
    *
    * Per table: line df counts fold by `sum(docs)` per line hash
    * (zero-sum rows from takedown subtraction drop out); NB sufficient
    * statistics fold by per-bucket sums; the hash/signature/gram triple
    * stores are already one-row-per-fact (nothing to fold) and rewrite
    * to a single bucketed generation (bounding file count); gram FLAGS
    * dedupe (two batches re-introducing the same gram can flag the same
    * old window twice — harmless to the island merge, dead weight on
    * disk). The vocabulary and meta tables are single-generation by
    * construction and are left untouched.
    *
    * Crash safety: one [[BucketedWrite.stage]] / [[BucketedWrite.swap]]
    * rewrite PER TABLE, every table's leftover scratch refused before
    * the first write. A crash between tables leaves every table either
    * fully old or fully new (both readable — compaction is
    * semantics-preserving, so partial progress is safe and a re-run
    * completes it). The bucketed tables pass `params.numBuckets` as the
    * stage's fallback, so compaction after a [[recoverFromWarehouse]]
    * session RESTORES the bucketed layout the in-memory catalog's death
    * erased.
    *
    * Returns one row per rewritten table:
    * `(table, rows_before, rows_after)`. */
  def compactState(spark: SparkSession, prefix: String,
                   params: Params = Params()): DataFrame = {
    import spark.implicits._
    val p = params
    val lineT = lineTable(prefix)
    val nbT = nbTable(prefix)
    val hashT = hashTable(prefix)
    val sigT = sigTable(prefix)
    val gramT = gramTable(prefix)
    // refused BEFORE recovery: a table whose swap was cut has no live
    // directory, which recovery would report as torn state
    Seq(lineT, nbT, hashT, sigT, s"${sigT}_hot", gramT, s"${gramT}_flags")
      .foreach(BucketedWrite.refuseLeftover(spark, _))
    recoverFromWarehouse(spark, prefix)
    val meta = readMeta(spark, prefix)
    require(meta.get("params_hash").contains(paramsHash(p)),
      s"'$prefix' was built with different Params than this compaction " +
        "(stored fingerprint absent or differs) — compact with the " +
        "build's values")

    // one staged rewrite per table, each independent and per-table atomic
    // (stage fully, then drop+rename) — overlapped (guide §2.6). The
    // crash contract is unchanged: any interleaving leaves every table
    // fully old or fully new, and partial progress is safe because
    // compaction is semantics-preserving; results keep input order.
    val tables: Seq[(String, DataFrame => DataFrame, Seq[String])] =
      Seq[(String, DataFrame => DataFrame, Seq[String])](
        (lineT, _.groupBy("lh").agg(sum("docs").as("docs"))
          .filter(col("docs") =!= 0L).select("lh", "docs"), Seq("lh")),
        (nbT, _.groupBy("bucket").agg(sum("pos_cnt").as("pos_cnt"),
            sum("neg_cnt").as("neg_cnt"))
          .select("bucket", "pos_cnt", "neg_cnt"), Seq.empty),
        (hashT, (d: DataFrame) => d.select("h", "doc_id"), Seq("h")),
        (sigT, (d: DataFrame) => d.select("band", "band_hash", "corpus_id"),
          Seq("band", "band_hash"))) ++
      (if (spark.catalog.tableExists(s"${sigT}_hot"))
        Seq((s"${sigT}_hot",
          (d: DataFrame) => d.select("band", "band_hash", "corpus_id"),
          Seq.empty[String]))
      else Seq.empty) ++
      Seq[(String, DataFrame => DataFrame, Seq[String])](
        (gramT, (d: DataFrame) => d.select("gh", "doc_id", "pos"), Seq("gh")),
        (s"${gramT}_flags",
          (d: DataFrame) => d.select("doc_id", "pos", "fin").distinct(),
          Seq.empty))
    val out = Par.run(spark, tables.map { case (t, fold, keys) =>
      (s"compactState($prefix): rewrite $t", () => {
        val before = spark.table(t).count()
        BucketedWrite.stage(spark, t,
          Some(p.numBuckets -> keys).filter(_._2.nonEmpty))(fold)
        val after = spark.table(BucketedWrite.scratchOf(t)).count()
        BucketedWrite.swap(spark, t)
        (t, before, after)
      })
    }, parallelism = 4)
    out.toDF("table", "rows_before", "rows_after")
  }

  /** GDPR-class takedown through the day-2 state: delete `deletedDocs`
    * from every statistic index so that every FUTURE [[admitBatch]]
    * behaves as if those docs never existed — without rebuilding day-1
    * state or re-reading the surviving corpus text (gate-pinned against
    * the Python rerun of the full recipe on (A minus takedown) ∪ B).
    *
    * `deletedDocs` must carry the deleted docs' RAW TEXT and the inputs
    * `labelCol` reads: every statistic is a function of raw text, and
    * exact subtraction needs the same text that was added (a takedown
    * request arrives as ids; read their rows from the raw corpus store
    * before deleting them there too).
    *
    * Subtract-or-rebuild, stated per table:
    *   - raw-hash index: ROW DELETION — the all-rows `(h, doc_id)` form
    *     is deletion-closed (a deleted min-holder cannot hide a
    *     surviving twin, which min-per-batch rows would lose);
    *   - signature index: ROW DELETION
    *     ([[BandedLsh.compactSignatureIndex]] — ids+hashes only, no
    *     corpus pass);
    *   - gram index: triple deletion + flag RE-DERIVATION
    *     ([[Dedup.compactGramIndex]] — deletion changes the duplication
    *     RELATION, not just the row set);
    *   - line document frequencies: COUNT SUBTRACTION — one negated
    *     [[lineCounts]] generation appended, netting out on the
    *     read-side sum ([[compactState]] later drops zero-sum rows);
    *   - NB sufficient statistics: COUNT SUBTRACTION — one negated
    *     [[QualityClassifier.nbCountsDf]] generation appended;
    *   - BPE vocabulary: UNTOUCHED, a stated exemption — the frozen
    *     tokenizer is versioned day-1 state (like `bench`); it stores
    *     byte-pair ranks, not text, and retraining it would change
    *     token counts corpus-wide, breaking the frozen-vocabulary
    *     contract every prior admit was measured under. The verifying
    *     oracle trains its vocabulary on the ORIGINAL day-1 corpus for
    *     exactly this reason;
    *   - meta: UNTOUCHED — deleted ids stay burned below the high-water
    *     mark (ids are monotone; reusing them would corrupt
    *     keep-earliest).
    *
    * Validation BEFORE the first mutation (the admitBatch discipline):
    * no rewritten table (hash, signatures and their sidecar, grams) may
    * have a leftover [[BucketedWrite.stage]] scratch; the set must be
    * non-empty, id-unique, and every id must still be IN the hash index
    * — which also makes an accidental RE-RUN of the same takedown refuse
    * loudly instead of silently double-subtracting the count statistics.
    * Mutation order puts the hash rewrite (one stage/swap) FIRST, so a
    * crash between tables leaves a state whose re-run is REFUSED by that
    * same check (torn, but loudly so — rebuild day-1 state), never one
    * that double-subtracts. Each rewrite stages in its table's layout,
    * so the takedown runs the same on a [[recoverFromWarehouse]] session
    * as on the session that built the state. */
  def takedownState(deletedDocs: DataFrame, prefix: String, idCol: String,
                    textCol: String, labelCol: Column,
                    params: Params = Params()): Unit = {
    val spark = deletedDocs.sparkSession
    val p = params
    // refused BEFORE recovery, as in compactState
    Seq(hashTable(prefix), sigTable(prefix), s"${sigTable(prefix)}_hot",
      gramTable(prefix)).foreach(BucketedWrite.refuseLeftover(spark, _))
    recoverFromWarehouse(spark, prefix)
    val meta = readMeta(spark, prefix)
    require(meta.get("params_hash").contains(paramsHash(p)),
      s"'$prefix' was built with different Params than this takedown " +
        "(stored fingerprint absent or differs) — use the build's values")
    val del = deletedDocs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val idStats = del.agg(count(lit(1)).as("n"),
        countDistinct(col(idCol)).as("nd")).head
      require(idStats.getLong(0) > 0L,
        "takedownState got an EMPTY deletion set — skip the call")
      require(idStats.getLong(1) == idStats.getLong(0),
        s"deletion ids must be unique (got ${idStats.getLong(0)} rows " +
          s"over ${idStats.getLong(1)} distinct ids): the count " +
          "subtractions assume one row per doc")
      val delIds = del.select(col(idCol).cast("long").as("doc_id"))
      val missing = delIds.join(spark.table(hashTable(prefix)),
        Seq("doc_id"), "left_anti").limit(1).collect()
      require(missing.isEmpty,
        s"deletion id ${missing.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
          s"is not in '$prefix' — either it was never indexed (subtracting " +
          "its statistics would corrupt the counts) or this takedown " +
          "already ran (re-running would double-subtract); rebuild day-1 " +
          "state if the takedown itself was interrupted mid-way")

      // hash FIRST (and alone): once these rows are gone, any re-entry of
      // this function (crash between tables, accidental repeat) fails the
      // coverage check above instead of double-subtracting counts
      BucketedWrite.stage(spark, hashTable(prefix),
          Some(p.numBuckets -> Seq("h")))(
        _.join(broadcast(delIds), Seq("doc_id"), "left_anti")
          .select("h", "doc_id"))
      BucketedWrite.swap(spark, hashTable(prefix))
      // the remaining four subtractions touch disjoint tables — overlapped
      // (guide §2.6); a crash mid-bundle leaves the same refused-on-re-run
      // torn state as a crash between the sequential calls did
      Par.run(spark, Seq[(String, () => Unit)](
        (s"takedownState($prefix): signature index", () => {
          BandedLsh.compactSignatureIndex(spark, sigTable(prefix), delIds)
          ()
        }),
        (s"takedownState($prefix): gram index", () =>
          Dedup.compactGramIndex(spark, gramTable(prefix), delIds, p.width)),
        (s"takedownState($prefix): line-df subtraction", () =>
          BucketedWrite.alignedForInsert(
              lineCounts(del, idCol, textCol, "\n")
                .select(col("lh"), (-col("docs")).as("docs"))
                .select(spark.table(lineTable(prefix)).columns.map(col).toIndexedSeq: _*),
              lineTable(prefix))
            .write.mode("append").insertInto(lineTable(prefix))),
        (s"takedownState($prefix): NB-counts subtraction", () =>
          QualityClassifier.nbCountsDf(del, textCol, labelCol, p.nbBuckets)
            .select(col("bucket"), (-col("pos_cnt")).as("pos_cnt"),
              (-col("neg_cnt")).as("neg_cnt"))
            .select(spark.table(nbTable(prefix)).columns.map(col).toIndexedSeq: _*)
            .write.mode("append").insertInto(nbTable(prefix)))
      ), parallelism = 4)
    } finally del.unpersist()
  }

  /** Flagged-boilerplate token spans of a batch: lines whose MERGED
    * document frequency (all index generations summed) reaches
    * `minDocs`, emitted as raw-text token intervals — the line pass
    * re-expressed in the one coordinate system all three span sources
    * share, so a single [[Dedup.cutSpansExact]] applies their union.
    * A flagged line with no `[a-z]+` tokens cuts nothing (its
    * separators survive — defined, spec-pinned). Offsets are computed
    * over ALL lines before the flag join: a doc's later lines shift by
    * its earlier lines' token counts whether or not those are cut. */
  private def boilerLineSpans(batch: DataFrame, idCol: String,
                              textCol: String, table: String,
                              minDocs: Long): DataFrame = {
    val spark = batch.sparkSession
    val lines = batch
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), Pattern.quote("\n"), -1)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("lh"),
        size(Tokenizers.asciiWords(col("col"))).cast("long").as("__tc"))
    val flagged = spark.table(table)
      .join(lines.select("lh").distinct(), Seq("lh"), "left_semi")
      .groupBy("lh").agg(sum("docs").as("__df"))
      .filter(col("__df") >= minDocs)
      .select("lh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    lines
      .withColumn("__off", coalesce(sum("__tc").over(w), lit(0L)))
      .join(flagged, Seq("lh"), "left_semi")
      .filter(col("__tc") > 0)
      .select(col("doc_id"), col("__off").as("pos"),
        (col("__off") + col("__tc") - 1).as("fin"))
  }

  /** Reload the frozen day-1 vocabulary and recompile the counting
    * ranks — the `bpe_vocab_roundtrip` seam. Public because
    * [[admitReference]] (the verification twin) must run under the SAME
    * frozen ranks the indexes carry. */
  def loadVocab(spark: SparkSession, prefix: String)
      : org.apache.spark.sql.graft.BpeRanks =
    // frozen day-1 state read once per admit (and recompiled — the ranks
    // compile is driver CPU): served through the file-listing-validated
    // cache, so the 2nd..Nth micro-batch of a day-N stream pays neither
    // the collect job nor the compile while a rebuild (new files) still
    // invalidates
    SmallTableCache.cached(spark, vocabTable(prefix), "inc-vocab") {
      val merges = spark.table(vocabTable(prefix)).orderBy("rank")
        .select("left", "right").collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
      org.apache.spark.sql.graft.BpeRanks.fromByteTokens(merges)
    }

  /** The NON-incremental statement of the recipe — every verdict and
    * span source computed directly over the full corpus `all`, sliced
    * to ids > `batchMinId`. This is the CONTRACT [[admitBatch]] is
    * bit-equal to (spec-pinned on multi-day corpora, gate-pinned
    * against the independent Python re-derivation); it re-reads
    * everything and exists for verification and as documentation —
    * production admits through the indexes. `ranks` is the frozen
    * day-1 tokenizer (versioned state, like `bench`). */
  def admitReference(all: DataFrame, bench: DataFrame, idCol: String,
                     textCol: String, labelCol: Column, batchMinId: Long,
                     ranks: org.apache.spark.sql.graft.BpeRanks,
                     params: Params = Params()): DataFrame = {
    val spark = all.sparkSession
    val p = params
    val ids = all.select(col(idCol).cast("long").as("doc_id"),
      xxhash64(col(textCol)).as("h"))
    val exactKeep = ids
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val pairs = BandedLsh.nearDupPairs(all, idCol, textCol, p.shingleWidth,
      p.bandCount, p.bandSize, p.lshSeed, p.simThreshold)
    val clusters = BandedLsh.dupClusters(pairs)
    val nearDrop = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    val scored = QualityClassifier.trainScore(all, textCol, labelCol,
        p.nbBuckets)
      .withColumn("doc_id", col(idCol).cast("long"))
    val admitted = scored
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .filter(col("nb_score") > 0.0)
      .filter(col("doc_id") > batchMinId)
    val dupSp = Dedup.dupSpans(all, idCol, textCol, p.width)
      .filter(col("doc_id") > batchMinId)
    val deconSp = Contamination.contaminatedSpans(all, bench, idCol, textCol,
      p.width).filter(col("doc_id") > batchMinId)
    val lines = all
      .filter(col(idCol).cast("long") > batchMinId)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), Pattern.quote("\n"), -1)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("lh"),
        size(Tokenizers.asciiWords(col("col"))).cast("long").as("__tc"))
    // the SAME aggregation the index persists — one owner of the line
    // statistic, so the reference twin can never desynchronize from it
    val lineDf = lineCounts(all, idCol, textCol, "\n")
      .filter(col("docs") >= p.minDocs)
      .select("lh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val boilSp = lines
      .withColumn("__off", coalesce(sum("__tc").over(w), lit(0L)))
      .join(lineDf, Seq("lh"), "left_semi")
      .filter(col("__tc") > 0)
      .select(col("doc_id"), col("__off").as("pos"),
        (col("__off") + col("__tc") - 1).as("fin"))
    val allSp = Dedup.mergeIslands(
      dupSp.select(col("doc_id"), col("span_start").as("pos"),
          col("span_end").as("fin"))
        .unionByName(deconSp.select(col("doc_id"),
          col("span_start").as("pos"), col("span_end").as("fin")))
        .unionByName(boilSp))
    Dedup.cutSpansExact(admitted, allSp, "doc_id", textCol)
      .select(col("doc_id"),
        length(col(textCol)).cast("long").as("n_chars_inc"),
        graft.functions.bpe_count(col(textCol), ranks).as("n_tok_inc"),
        col("nb_score"))
  }
}
