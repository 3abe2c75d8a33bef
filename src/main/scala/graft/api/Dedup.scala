package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (hash-groupBy), MinHash-banded (see
  * [[BandedLsh]]), SimHash (banded Hamming), n-gram Jaccard windowed (see
  * SparkEntry dedup_near_window), embedding-cosine (see
  * [[Ann.cosineNearDupWindow]]).
  */
object Dedup {

  /** Exact dedup on `keyCols` content: keeps the row with the smallest
    * `tieBreak` per duplicate group. One shuffle on the content hash. */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Survivor selection after near-dup clustering: one representative per
    * duplicate cluster, ranked by `rank` (e.g. longest text, best quality
    * score — ties MUST be broken by a unique column, normally the id, or
    * the survivor is partition-order-dependent). Rows absent from
    * `clusters` are singletons and survive unchanged. This is the step
    * that turns [[BandedLsh.dupClusters]]' labels into an actual
    * deduplicated corpus — "drop near-dups, keep the best copy".
    *
    * One shuffle on the cluster label; the per-group work is a top-1
    * row_number, so group size only bounds a streamed sort run, never
    * memory. Cluster labels cover only near-dup members (sparse), so the
    * left join is a broadcast in practice and the window's skew is capped
    * by the largest dup cluster — at 100 TB a mega-cluster means
    * boilerplate that upstream filters should have dropped, and its cost
    * here is one sorted scan, not a pair explosion.
    *
    * CONTRACT on `clusters`: every cluster label must itself be the id of a
    * member of that cluster (as [[BandedLsh.dupClusters]] guarantees —
    * labels are min member ids). Singletons are grouped under their own id
    * via `coalesce(cluster, id)`, so a label colliding with a NON-member
    * doc's id would silently pull that doc into the cluster's window and
    * can drop it. Arbitrary label schemes (uuids, dense ranks) violate this
    * only if a label equals some doc id; when in doubt, assert
    * `clusters.filter(col("id") === col("cluster"))` has one row per
    * distinct label before calling. */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame, idCol: String,
                         rank: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(rank.nonEmpty, "rank must order survivors (last key should be unique)")
    val labeled = docs.join(
      clusters.select(col("id").as("__cid"), col("cluster").as("__cluster")),
      docs(idCol) === col("__cid"), "left")
    // singletons cluster with themselves
    val grouped = labeled.withColumn("__grp", coalesce(col("__cluster"), col(idCol)))
    val w = Window.partitionBy(col("__grp")).orderBy(rank: _*)
    grouped.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__grp", "__cid", "__cluster")
  }

  /** SimHash near-dup candidate pairs: 64-bit simhash split into `bands`
    * equal bit-chunks; two docs are candidates if any chunk matches exactly
    * (Hamming ≤ bands-1 guarantees a chunk match — standard pigeonhole
    * blocking), then verified with a full Hamming-distance threshold.
    *
    * `bands` need not divide 64: chunks are `64/bands` bits wide and the
    * top `64 mod bands` bits are simply not blocked on (e.g. bands=3 →
    * 3×21-bit chunks, top bit ignored). The pigeonhole recall guarantee is
    * unaffected — ≤ bands-1 differing bits among the covered bits still
    * forces a matching chunk, and differences confined to the ignored bits
    * only ADD candidates (which full-Hamming verification then filters). */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      bands: Int, maxHamming: Int): DataFrame =
    hammingPairs(df.select(col(idCol).as("id"),
      graft.functions.simhash64(col(textCol)).as("h")), bands, maxHamming)

  /** The banded-Hamming pairing over a pre-hashed `(id, h)` frame of 64-bit
    * hashes, shared by [[simhashDupPairs]] and the perceptual media paths
    * ([[Multimodal.imageNearDupPairs]], [[Multimodal.audioNearDupPairs]]):
    * the pigeonhole blocking above, then exact Hamming over the two longs.
    * Never all-pairs: candidate volume is bounded by chunk-collision degree,
    * and only ids+hashes cross the exchange. Output `(id_a, id_b, hamming)`
    * with id_a < id_b, hamming ≤ `maxHamming`; NULL hashes (un-hashable
    * payloads) can't pair: their chunks are NULL, and the join's inferred
    * not-null filter drops them right after the explode. An explicit
    * `h IS NOT NULL` filter would be pushed below the projection and
    * evaluate the hash kernel a second time. */
  private[api] def hammingPairs(hashed: DataFrame, bands: Int,
                                maxHamming: Int): DataFrame = {
    require(bands >= 1 && bands <= 64, s"bands must be in [1, 64], got $bands")
    val banded = SketchBlocking.bandRows(hashed, Seq(col("id"), col("h")), "h", bands,
      bands * (64 / bands))
    BandedLsh.selfBandJoin(banded, "id", Seq("h" -> "h"), Seq("band", "chunk"))
      .select(col("id_a"), col("id_b"),
        graft.functions.hamming_dist(col("h_a"), col("h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-document duplicate SPAN detection — exact-substring dedup at the
    * token level (the pass Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", runs with a suffix array; doc-level
    * near-dup above cannot see a boilerplate paragraph pasted into
    * otherwise-distinct pages). A token position is flagged when some
    * `width`-token window covering it also occurs in ANOTHER document;
    * overlapping/contiguous flagged windows merge into maximal spans.
    * Emits (doc_id, span_start, span_end, n_tokens) with inclusive 0-based
    * token indices over the stream `tokenize` produces (default
    * [[Tokenizers.asciiWords]], the original gate tokenizer; pass
    * [[Tokenizers.unicodeWords]] for multilingual corpora — digits,
    * accented Latin and per-character CJK all become tokens — or a BPE
    * tokenizer for Lee-et-al-faithful token identity). By construction
    * every span is >= `width` tokens, so `width` doubles as the Lee-et-al
    * minimum-match-length knob.
    *
    * Distributed shape (why shingle-hash grouping, not a suffix array): a
    * suffix array is a global sorted structure — building one across
    * executors is a multi-pass terasort. Grouping `width`-gram hashes
    * needs only (hash, doc_id, pos) triples — 24 bytes/token — through
    * ONE exchange, and "occurs in >= 2 distinct docs" collapses to
    * `min(doc_id) != max(doc_id)` evaluated as a WINDOW over the gram
    * hash — after the exchange a gram's whole occurrence group sits in
    * one partition, so the rule is a partition-local min/max with no
    * count-distinct Expand and no join. The island merge is a per-doc
    * window (parallel across docs, state bounded by flagged grams per
    * doc). Text never crosses the wire: gram identity is xxhash64 of the
    * joined window — at 10^12 grams the 64-bit collision expectation is
    * ~0.03 spurious gram matches corpus-wide, each at worst extending a
    * span by < `width` tokens (Lee et al. accept the same hash risk).
    *
    * Cost is ONE corpus pass (tokenize + window-hash, computed once) +
    * one gh-keyed exchange of the fixed-width triples + one doc_id-keyed
    * exchange of the flagged triples (sparse — bounded by actual
    * duplication, not corpus size). Degenerate-group note: the window
    * buffers one gram's occurrence group per evaluation; a pathological
    * mega-gram (the same width-window in 10^7+ places) makes its group a
    * disk-backed spill on one task (WindowExec's external row buffer) —
    * slower, never OOM, and exactly the text a boilerplate pass
    * ([[dropBoilerplateLines]]) should have removed first.
    *
    * The input is spread first ([[SparkEnv.spread]]), as it is for every
    * span operator here: the gram hash+explode is the CPU-heavy step and
    * runs at the SCAN's parallelism — a single-file input (fixtures, small
    * exports) would serialize it on one task (measured 2.7× at sf0.1). At
    * real scale the scan's splits already provide the width and spread()
    * is a no-op by its own partition-count check. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               width: Int,
               tokenize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                 Tokenizers.asciiWords,
               crossDocOnly: Boolean = true,
               excludeGrams: Option[DataFrame] = None): DataFrame = {
    // Pre-trim seam for known-degenerate grams: the window below buffers
    // each gram's whole occurrence group in one task, so a pathological
    // mega-gram (same width-window in 10^7+ places — boilerplate by
    // definition) becomes a single-task disk spill. A count filter on the
    // SAME window couldn't help (the group must be buffered to count it),
    // so the trim happens BEFORE the exchange: `excludeGrams` (a `gh`
    // frame, tiny by construction — the census [[dupSpansAdaptive]] runs
    // and returns)
    // anti-joins the triples map-side under a broadcast, and the hot
    // group never reaches the window. Excluded grams are NOT flagged —
    // route that text to [[dropBoilerplateLines]], which is the pass that
    // owns high-document-frequency content.
    val all = gramHashes(df, idCol, textCol, width, spreadInput = true, tokenize)
    val grams = excludeGrams match {
      case Some(hot) => all.join(broadcast(hot.select("gh")), Seq("gh"), "left_anti")
      case None => all
    }
    mergeIslands(flagGrams(grams, width, crossDocOnly))
  }

  /** The duplication flag rule over a gram-triple stream, shared by
    * [[dupSpans]] and the incremental index ([[saveGramIndex]]):
    * `(doc_id, pos, fin)` for every window the rule flags.
    *
    * crossDocOnly: a gram duplicates iff >= 2 distinct docs contain it,
    * i.e. min(doc_id) != max(doc_id) — no distinct, no Expand.
    * crossDocOnly = false is Lee et al.'s actual rule — ANY second
    * occurrence counts, including a repeat inside ONE document (the
    * boilerplate/self-repetition case the cross-doc rule deliberately
    * skips): plain count >= 2 over the same partition. NOTE the flagging
    * is still window-level: overlapping occurrences of a self-repeating
    * gram each flag their own window, so a doc of one token repeated
    * 2·width times becomes one full-doc span.
    *
    * The rule is evaluated as a WINDOW over gh, not an aggregate +
    * self-semi-join: a join back onto `grams` makes the plan compute the
    * gram explode TWICE (Spark's exchange reuse does not unify the two
    * canonically-distinct branches — measured 2 Generate nodes, i.e. the
    * corpus tokenized and window-hashed twice, worst exactly where
    * tokenize is expensive: BPE's merge loop). The window form is the
    * shape the scaladoc promises: ONE exchange of the 24 B/token
    * triples, one partition-key sort, no broadcast, one Generate — and
    * when the input is ALREADY gh-partitioned (the bucketed index table),
    * no exchange at all. */
  private[api] def flagGrams(grams: DataFrame, width: Int,
                             crossDocOnly: Boolean): DataFrame = {
    val byGh = Window.partitionBy("gh")
    (if (crossDocOnly)
        grams.withColumn("__mn", min("doc_id").over(byGh))
          .withColumn("__mx", max("doc_id").over(byGh))
          .filter(col("__mn") =!= col("__mx"))
      else
        grams.withColumn("__n", count(lit(1)).over(byGh))
          .filter(col("__n") >= 2))
      .select(col("doc_id"), col("pos"), (col("pos") + lit(width) - 1).as("fin"))
  }

  /** [[dupSpans]] behind an automatic [[hotGrams]] census — the span
    * family's analog of [[BandedLsh.nearDupPairsAdaptive]]'s mega-bucket
    * governor, so callers no longer have to remember to thread the
    * census manually. One pre-flight census pass finds every gram hash
    * occurring more than `cap` times (the mega-grams whose occurrence
    * group would otherwise become a single-task disk spill inside the
    * flag window); they are excluded map-side under a broadcast
    * anti-join exactly as [[dupSpans]]' `excludeGrams` seam documents,
    * and REPORTED — the second element of the result is the excluded
    * `(gh, occurrences)` frame (eagerly pinned, bounded by tokens/cap
    * rows), never a silent cap. Excluded grams are NOT flagged; text
    * that hot belongs to [[dropBoilerplateLines]].
    *
    * Cost: the census is one extra tokenize+hash pass plus a count-only
    * map-side-combined shuffle — the pre-flight price of never hitting
    * the mega-gram spill, the same trade the banding census makes. When
    * the census comes back empty the exclusion join is skipped entirely
    * and the plan is bit-identical to plain [[dupSpans]]. */
  def dupSpansAdaptive(df: DataFrame, idCol: String, textCol: String,
                       width: Int, cap: Long = 65536L): (DataFrame, DataFrame) = {
    val hot = hotGrams(df, idCol, textCol, width, cap).localCheckpoint(true)
    val spans =
      if (hot.isEmpty) dupSpans(df, idCol, textCol, width)
      else dupSpans(df, idCol, textCol, width, excludeGrams = Some(hot))
    (spans, hot)
  }

  /** Maintenance scan for [[dupSpans]]' `excludeGrams` seam: every gram
    * hash occurring more than `cap` times, `(gh, occurrences)`. A plain
    * hash AGGREGATE, not a window — map-side combine collapses a
    * mega-gram's group incrementally, so this pass is safe on exactly the
    * degenerate keys the window form spills on. Output is bounded by
    * tokens/cap rows (a corpus with more over-cap grams than that is all
    * boilerplate). [[dupSpansAdaptive]] runs it and returns its result. */
  private[api] def hotGrams(df: DataFrame, idCol: String, textCol: String,
                            width: Int, cap: Long): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    gramHashes(df, idCol, textCol, width, spreadInput = true, Tokenizers.asciiWords)
      .groupBy("gh")
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") > cap)
  }

  /** The `width`-gram hash stream of a corpus: one row per token window,
    * `(doc_id, pos, gh)` with `gh = xxhash64` of the space-joined window —
    * the shared front half of [[dupSpans]] and
    * [[Contamination.contaminatedSpans]]. Fixed-width triples, computed in
    * the scan's codegen span; everything downstream decides what "flagged"
    * means. */
  private[graft] def gramHashes(df: DataFrame, idCol: String, textCol: String,
                              width: Int, spreadInput: Boolean,
                              tokenize: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    require(width >= 2, s"width must be >= 2 tokens, got $width")
    val w = lit(width)
    val toks = tokenize(col(textCol))
    // sequence(0, n-width) needs n >= width: a shorter doc has no window
    // (and sequence() with start > stop would count DOWN, not return empty)
    (if (spreadInput) SparkEnv.spread(df) else df)
      .select(col(idCol).cast("long").as("doc_id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= width)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - w),
          i => xxhash64(array_join(slice(col("__toks"), i + 1, w), " ")))))
      .withColumnRenamed("col", "gh")
  }

  /** Merge flagged token windows `(doc_id, pos, fin)` into maximal spans
    * `(doc_id, span_start, span_end, n_tokens)` — the gaps-and-islands back
    * half shared by every span-flagging rule. Parallel across docs; state
    * bounded by flagged windows per doc (sparse). */
  private[api] def mergeIslands(flagged: DataFrame): DataFrame = {
    // gaps-and-islands per doc: a window starting past the running max end
    // + 1 opens a new span (== end+1 is contiguous token coverage → merge)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("fin")).over(
      byPos.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__brk",
        when(col("pos") > coalesce(prevEnd, lit(-2L)) + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "__island")
      .agg(min("pos").cast("long").as("span_start"),
        max("fin").cast("long").as("span_end"),
        (max("fin") - min("pos") + 1).cast("long").as("n_tokens"))
      .drop("__island")
  }

  /** Persist a corpus's gram stream as the INCREMENTAL span-mining index —
    * the rolling-ingestion form of [[dupSpans]] ([[BandedLsh.saveSignatureIndex]]'s
    * pattern at the gram level): a rolling corpus re-mined per ingest pays
    * tokenize + window-hash over ALL text every batch; this index stores
    * the triples once so each ingest pays only ITS OWN gram work. Two
    * tables:
    *
    *  - `{table}`: the `(gh, doc_id, pos)` triples, bucketed AND sorted on
    *    `gh` — [[appendToGramIndex]]'s batch-vs-index semi-join reads the
    *    corpus side with zero exchange, and the build's flag window runs
    *    straight off the bucketed layout (no second exchange).
    *  - `{table}_flags`: the flagged triples `(doc_id, pos, fin)` — sparse
    *    (bounded by duplication mass), the running flag state
    *    [[dupSpansFromIndex]] merges into spans on demand.
    *
    * The index mines [[Tokenizers.asciiWords]] grams under the cross-doc
    * rule; `width` is part of the index identity: every append MUST use
    * the same value or grams never match. Appends
    * only add; retention deletes go through [[compactGramIndex]], which
    * rewrites triples minus a deletion set and re-derives flags without a
    * corpus re-mine. */
  def saveGramIndex(corpus: DataFrame, table: String, numBuckets: Int,
                    idCol: String, textCol: String, width: Int): Unit = {
    val spark = corpus.sparkSession
    BucketedWrite.saveBucketed(
      gramHashes(corpus, idCol, textCol, width, spreadInput = true, Tokenizers.asciiWords)
        .select("gh", "doc_id", "pos"),
      table, numBuckets, Seq("gh"))
    // flags computed FROM the bucketed table: the scan already satisfies
    // the window's gh-clustering, so the build pays ONE exchange total
    // (the bucketed write's), and the mining pass is never run twice
    BucketedWrite.dropTable(spark, s"${table}_flags")
    flagGrams(spark.table(table), width, crossDocOnly = true)
      .write.format("parquet").mode("overwrite").saveAsTable(s"${table}_flags")
  }

  /** Admit a batch to a [[saveGramIndex]] index: mine the BATCH's grams
    * once, then derive every flag the union rule adds —
    *
    *  1. batch windows duplicated within the batch ([[flagGrams]]);
    *  2. batch windows whose gram already exists in the index;
    *  3. OLD windows whose gram the batch re-introduces.
    *
    * Legs 2 and 3 both come from ONE probe of the index (scanned once,
    * probed map-side under a broadcast of the batch's distinct gram set;
    * the persisted hit set serves leg 3 directly and its distinct grams
    * semi-join the batch for leg 2) — the corpus TEXT is never re-read,
    * re-tokenized, or shuffled, and the index is never scanned twice,
    * which is the entire point.
    *
    * New flags upsert into `{table}_flags` (anti-join on the existing
    * sparse flag set), and the batch's triples append into the bucketed
    * table. Cost per ingest: the batch's own mining + batch-sized
    * exchanges + one index read — never a corpus re-mine.
    *
    * CONTRACT: batch doc ids must be DISJOINT from every previously
    * indexed id (the [[BandedLsh.appendToSignatureIndex]] rolling
    * contract) — a batch-vs-index gram match is counted as cross-document
    * on that basis. Appends are not idempotent: re-admitting a batch
    * duplicates its triples — rebuild to recover. */
  def appendToGramIndex(batch: DataFrame, table: String,
                        idCol: String, textCol: String, width: Int): Unit = {
    val spark = batch.sparkSession
    val flagsTable = s"${table}_flags"
    // the batch's mining pass runs ONCE for its four consumers (within-
    // batch flags, index-match flags, the distinct-gh probe set, and the
    // triple append) — triples are ids+hashes, ~24 B/token, so even a huge
    // batch persists MEMORY_AND_DISK safely (the saveSignatureIndex
    // precedent and measurement)
    val bg = gramHashes(batch, idCol, textCol, width, spreadInput = true, Tokenizers.asciiWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE scan of the triple table per append, not two (guide §6 — at
    // scale the index is the append's dominant I/O; the old shape paid a
    // full gh-only scan for the batch-vs-index semi-join AND a full
    // wide scan for the old-vs-batch leg): probe the index once under the
    // broadcast of the batch's distinct gram set and derive BOTH
    // cross-batch flag directions from the persisted hit set —
    //  - old windows the batch re-introduces: the hits themselves;
    //  - batch windows whose gram the index holds: bg semi-joined against
    //    the hits' distinct ghs (= the grams present on both sides; the
    //    broadcast is bounded by the batch's own distinct-gram count,
    //    which the old code already broadcast). The batch side now pays
    //    no exchange at all (the old semi-join shuffled bg to the
    //    index's bucketing). No extra action: the persist materializes
    //    inside the flag checkpoint below, and the hit set is bounded by
    //    the batch's collision mass (what the old wide scan emitted).
    val (hits, newFlags) = appendFlagsFrames(bg, table, width)
    try {
      // COMMIT ORDER: triples BEFORE flags. The two appends are separate
      // transactions; if the session dies between them the index must be
      // left in the state that still DETECTS. Triples-first, a crash
      // leaves the batch's grams probe-able (future batches re-introducing
      // them match via the triple table, and oldVsBatch then back-fills
      // flags for the crashed batch's windows) — only the batch's own
      // within/vs-index flags are missing until then, and a rebuild
      // recovers them exactly. Flags-first, a crash leaves flags whose
      // grams never entered the index: every future batch re-introducing
      // them silently under-detects, permanently. The flag set is
      // MATERIALIZED before the triple append lands — via localCheckpoint,
      // NOT persist(): insertInto refreshes `table` and that refresh
      // UNCACHES dependent cached plans (the DROP-PARTITION trap from the
      // Ann repairs), so a persisted flags plan would silently recompute
      // from the appended table and flag the batch against its own
      // triples. The checkpoint truncates lineage, pinning the pre-append
      // view; its blocks are ContextCleaner-freed on GC.
      // Recovery after a crash between the two appends: either rebuild
      // ([[saveGramIndex]] over the full corpus), or re-run ONLY the flag
      // derivation for the batch (the triples are already in) — never
      // re-run the whole append, which would duplicate triples.
      val flagsOut = newFlags
        .select(spark.table(flagsTable).columns.map(col).toIndexedSeq: _*)
        .localCheckpoint()
      BucketedWrite.alignedForInsert(
          bg.select(spark.table(table).columns.map(col).toIndexedSeq: _*), table)
        .write.mode("append").insertInto(table)
      flagsOut.write.mode("append").insertInto(flagsTable)
    } finally { hits.unpersist(); bg.unpersist() }
  }

  /** [[appendToGramIndex]]'s flag derivation over an already-mined batch
    * gram stream, returned as `(hits, newFlags)` — `hits` is the
    * PERSISTED single probe of the triple table both cross-batch legs
    * read (the caller unpersists it once `newFlags` is materialized).
    * Split out so the plan-evidence tool ([[graft.PlanDump]]) dumps the
    * exact frame the append checkpoints. */
  private[graft] def appendFlagsFrames(bg: DataFrame, table: String, width: Int)
      : (DataFrame, DataFrame) = {
    val spark = bg.sparkSession
    val hits = spark.table(table)
      .join(broadcast(bg.select("gh").distinct()), Seq("gh"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withinBatch = flagGrams(bg, width, crossDocOnly = true)
    val batchVsIndex = bg
      .join(broadcast(hits.select("gh").distinct()), Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos"), (col("pos") + lit(width) - 1).as("fin"))
    val oldVsBatch = hits
      .select(col("doc_id"), col("pos"), (col("pos") + lit(width) - 1).as("fin"))
    val newFlags = withinBatch
      .unionByName(batchVsIndex)
      .unionByName(oldVsBatch)
      .distinct()
      .join(spark.table(s"${table}_flags").select("doc_id", "pos"),
        Seq("doc_id", "pos"), "left_anti")
    (hits, newFlags)
  }

  /** The current duplicate-span set of a [[saveGramIndex]] index: the
    * island merge over the persisted flag state — identical output to
    * `dupSpans(build ∪ every appended batch)` (spec- and gate-pinned),
    * at the cost of one scan of the SPARSE flags table, not a corpus
    * re-mine. */
  def dupSpansFromIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String): DataFrame =
    mergeIslands(spark.table(s"${table}_flags"))

  /** Retention-delete compaction for a [[saveGramIndex]] index: rewrite
    * the bucketed triples MINUS `deletedIds` (DMCA takedowns, opt-outs,
    * retention windows) and RE-DERIVE the flag state from the survivors —
    * without ever re-reading, re-tokenizing, or shuffling the corpus
    * text, which is what "no full rebuild" means here. Re-derivation, not
    * filtering, because deletion changes the duplication RELATION, not
    * just the row set: if the deleted doc was the only other holder of a
    * gram, the surviving partner's windows are no longer duplicated and
    * their flags must disappear. The triples alone carry everything the
    * flag rule needs (`(gh, doc_id, pos)` → [[flagGrams]], the exact
    * derivation the build runs), and the scratch is written gh-bucketed
    * so that pass pays no exchange.
    *
    * `width` is the index-identity contract (the build's value, like every
    * append); the scratch takes the live
    * table's layout, so compaction cannot change it. `deletedIds`
    * broadcasts — takedown lists are bounded in practice; a corpus-scale
    * deletion is a rebuild, not a compaction.
    *
    * Crash safety: the triples are one [[BucketedWrite.stage]] /
    * [[BucketedWrite.swap]] rewrite (a leftover scratch refuses the run;
    * the refusal names the RENAME that completes a cut swap). Commit
    * order — stage survivors → rewrite flags from the scratch → swap.
    * Before the flag rewrite the index is untouched (drop the scratch,
    * re-run); after it the flags already describe the post-compact state
    * and only appends can transiently over-detect against deleted grams
    * until the swap lands. */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String, deletedIds: DataFrame, width: Int): Unit = {
    val flagsTable = s"${table}_flags"
    val del = deletedIds
      .select(col(deletedIds.columns.head).cast("long").as("doc_id"))
      .distinct()
    BucketedWrite.stage(spark, table)(
      _.join(broadcast(del), Seq("doc_id"), "left_anti")
        .select("gh", "doc_id", "pos"))
    BucketedWrite.dropTable(spark, flagsTable)
    flagGrams(spark.table(BucketedWrite.scratchOf(table)), width, crossDocOnly = true)
      .write.format("parquet").mode("overwrite").saveAsTable(flagsTable)
    BucketedWrite.swap(spark, table)
  }

  /** Corpus-level duplication report over [[dupSpans]]: per `groupCol`
    * (source, crawl, shard...), how many documents carry any cross-doc
    * duplicate span and what fraction of the group's TOKENS sits inside
    * one — the number a pretraining data report quotes ("X% of source Y
    * is duplicated text") and the before/after measure for
    * [[cutDupSpans]]. Span token-counts aggregate per doc first (tiny),
    * then join the per-doc token totals — group cardinality bounds every
    * aggregate after the [[dupSpans]] exchanges. Fractions are exact
    * integer ratios cast at the end. */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String, width: Int): DataFrame =
    spanStats(df, dupSpans(df, idCol, textCol, width), idCol, textCol, groupCol)

  /** [[dupSpanStats]] over a PRE-COMPUTED spans DataFrame (any frame with
    * `doc_id` + `n_tokens` per span — [[dupSpans]],
    * [[Contamination.contaminatedSpans]], or a persisted span table).
    * Span mining is the expensive pass of the family; a standard
    * detect → report → cut → report-after pipeline that calls the
    * re-mining signatures pays it FOUR times, while `spans =
    * dupSpans(...).persist()` fed here and to [[cutSpans]] pays it once
    * (persist or write the spans out — an unpersisted lazy plan re-mines
    * on every action, which is exactly what this overload exists to
    * avoid). */
  def spanStats(df: DataFrame, spans: DataFrame, idCol: String,
                textCol: String, groupCol: String): DataFrame = {
    val docs = SparkEnv.spread(df)
      .select(col(idCol).cast("long").as("doc_id"), col(groupCol).as("grp"),
        size(Tokenizers.asciiWords(col(textCol))).cast("long").as("n_toks"))
    val perDoc = spans
      .groupBy("doc_id")
      .agg(sum("n_tokens").as("dup_toks"), count(lit(1)).as("n_spans"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("grp").as(groupCol))
      .agg(
        count(lit(1)).as("docs"),
        count(col("dup_toks")).as("docs_with_dups"),
        sum("n_toks").as("tokens"),
        coalesce(sum("dup_toks"), lit(0L)).as("dup_tokens"),
        (coalesce(sum("dup_toks"), lit(0L)).cast("double") /
          sum("n_toks")).as("dup_token_frac"))
  }

  /** The corpus with [[dupSpans]] applied destructively: flagged token
    * spans are CUT from each document (Lee et al.'s actual training-set
    * edit — dropping whole near-dup docs loses the unique remainder). The
    * rebuilt text is the kept tokens joined by single spaces, in order;
    * docs with no flagged span pass through with the same normalization
    * applied (so output text is uniformly the canonical token stream).
    * Other columns pass through untouched — a derived column like
    * `n_chars` is stale relative to the rewritten text, so re-derive it
    * from the output. Span lookup joins only (doc_id → span list) — spans
    * are sparse, the join is broadcast-sized in practice, and the cut
    * itself is a per-row `filter` over the token array, codegen'd, no
    * shuffle beyond [[dupSpans]]' own. */
  def cutDupSpans(df: DataFrame, idCol: String, textCol: String,
                  width: Int,
                  tokenize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                    Tokenizers.asciiWords): DataFrame =
    cutSpans(df, dupSpans(df, idCol, textCol, width, tokenize), idCol, textCol, tokenize)

  /** [[cutDupSpans]] over a PRE-COMPUTED spans DataFrame (`doc_id`,
    * `span_start`, `span_end` — inclusive 0-based token indices over the
    * stream `tokenize` produces, which must therefore be the SAME
    * tokenizer the spans were mined with). The materialized-span half of
    * the one-mining-pass pipeline ([[spanStats]] scaladoc); also the cut
    * stage for span sources other than [[dupSpans]] — e.g.
    * [[Contamination.contaminatedSpans]]' benchmark-overlap spans. */
  def cutSpans(df: DataFrame, spansDf: DataFrame, idCol: String,
               textCol: String,
               tokenize: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                 Tokenizers.asciiWords): DataFrame = {
    val keep = filter(col("__toks"),
      (_, i) => !exists(col("__spans"),
        sp => i >= sp("span_start") && i <= sp("span_end")))
    withSpans(SparkEnv.spread(df).withColumn("__toks", tokenize(col(textCol))),
        df, spansDf, idCol)
      // null-text rows have a null token array; coalesce to '' so they
      // match the fully-cut-doc convention (empty canonical stream)
      .withColumn(textCol, coalesce(array_join(keep, " "), lit("")))
      .drop("__toks", "__spans", "__span_doc")
  }

  /** `left` (the spread `df`, plus any per-row columns the cut needs)
    * left-joined to each doc's span list as `__spans` — an empty list for
    * a doc with no span. The join every span cut shares. */
  private def withSpans(left: DataFrame, df: DataFrame, spansDf: DataFrame,
                        idCol: String): DataFrame = {
    val spans = spansDf
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
      .withColumnRenamed("doc_id", "__span_doc")
    left.join(spans, df(idCol).cast("long") === spans("__span_doc"), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<span_start:bigint,span_end:bigint>>")))
  }

  /** [[cutSpans]] for spans mined under a BPE tokenizer
    * ([[Tokenizers.bpe]]): the word-tokenizer cut rebuilds text by
    * space-joining kept TOKENS, which under byte-level BPE yields token
    * soup — this variant rebuilds at the BYTE level
    * ([[graft.functions.bpe_cut]]: within-word byte concat, single space
    * between surviving words), so the Lee-et-al-faithful detector and the
    * destructive edit share ONE token identity end to end. `merges` must
    * be the SAME list the spans were mined with — flat-stream token
    * indices are only meaningful under the tokenizer that produced them.
    * Same join shape and null-text convention as [[cutSpans]]. */
  def cutSpansBpe(df: DataFrame, spansDf: DataFrame, idCol: String,
                  textCol: String, merges: Seq[(String, String)]): DataFrame =
    withSpans(SparkEnv.spread(df), df, spansDf, idCol)
      // null-text rows rebuild as '' (the fully-cut-doc convention)
      .withColumn(textCol, coalesce(
        graft.functions.bpe_cut(col(textCol), col("__spans"), merges), lit("")))
      .drop("__spans", "__span_doc")

  /** [[cutSpans]] with the LAYOUT-PRESERVING rebuild
    * ([[graft.functions.word_cut]]): instead of re-emitting the kept
    * tokens as a canonical single-space stream, each span deletes its
    * CHARACTER range from the original text (first flagged token's first
    * byte through last flagged token's last byte, separators inside the
    * span included) — whitespace, punctuation, digits and casing outside
    * every span survive byte-identical, and an UNFLAGGED document
    * round-trips bit-identical (gate- and spec-pinned). This is the
    * production-polish cut when downstream consumers care about original
    * layout; the classic normalized form remains [[cutSpans]].
    *
    * No tokenizer seam HERE by design: the byte-level run scan is
    * hard-wired to [[Tokenizers.asciiWords]] identity (the k-th maximal
    * ASCII-letter run IS token k), so `spansDf` must be mined with
    * `asciiWords` over this same text column. Same join shape and
    * null-text convention (null rebuilds as '' like the fully-cut doc) as
    * [[cutSpans]]. */
  def cutSpansExact(df: DataFrame, spansDf: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    withSpans(SparkEnv.spread(df), df, spansDf, idCol)
      .withColumn(textCol, coalesce(
        graft.functions.word_cut(col(textCol), col("__spans")), lit("")))
      .drop("__spans", "__span_doc")

  /** [[cutDupSpans]] with the layout-preserving rebuild: mine with the
    * (fixed) `asciiWords` identity, cut by character offsets
    * ([[cutSpansExact]]). */
  def cutDupSpansExact(df: DataFrame, idCol: String, textCol: String,
                       width: Int): DataFrame =
    cutSpansExact(df, dupSpans(df, idCol, textCol, width), idCol, textCol)

  /** Line-frequency boilerplate removal — the CCNet/RefinedWeb paragraph
    * pass: a LINE (any newline-delimited segment) occurring in at least
    * `minDocs` DISTINCT documents is boilerplate (nav bars, cookie
    * banners, "all rights reserved") and is dropped from every document;
    * the rest of each document survives verbatim. This is the coarse
    * sibling of [[dupSpans]]: line identity instead of token windows, a
    * document-frequency threshold instead of "any second occurrence" —
    * cheap enough to run FIRST, before span mining pays per-token work on
    * text this pass would have deleted.
    *
    * Distributed shape mirrors [[cutSpans]]': lines travel the wire as
    * `(doc_id, pos, xxhash64(line))` triples — text never shuffles. One
    * exchange groups line hashes for the distinct-doc count, a semi-join
    * flags positions (sparse — bounded by boilerplate mass, not corpus
    * size), and the cut is a per-row filter over the re-split text keyed
    * by the doc's flagged-position list. Gram identity is the 64-bit line
    * hash; at 10^12 lines the collision expectation is the same ~0.03
    * corpus-wide as [[dupSpans]]' (a collision deletes one innocent
    * line).
    *
    * Empty lines (doubled separators, leading/trailing) count toward
    * frequency like any line and are typically flagged and collapsed —
    * which is the standard normalization anyway; pre-trim if exact
    * whitespace layout must survive. A line present in a large fraction
    * of the corpus makes its window group a disk-backed spill on one
    * task (WindowExec's external buffer) — slower, never OOM; the
    * flagged output itself stays bounded by boilerplate mass. */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val src = SparkEnv.spread(df)
    val sep = java.util.regex.Pattern.quote("\n")
    val lines = src
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), sep, -1)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("lh"))
    // the document-frequency rule as WINDOWS over the line hash, not an
    // aggregate + self-semi-join — the join form makes the plan compute
    // the line explode twice (same double-tokenize trap [[dupSpans]] hit;
    // Spark's exchange reuse does not unify the branches). One exchange +
    // one (lh, doc_id) sort hosts both: dense_rank over doc_id counts
    // distinct docs per line, its partition max is the line's document
    // frequency.
    val byLhDoc = Window.partitionBy("lh").orderBy("doc_id")
    val byLh = Window.partitionBy("lh")
    val flaggedPos = lines
      .withColumn("__dr", dense_rank().over(byLhDoc))
      .withColumn("__docs", max("__dr").over(byLh))
      .filter(col("__docs") >= minDocs)
      .groupBy("doc_id")
      .agg(collect_list(col("pos").cast("long")).as("__cut"))
      .withColumnRenamed("doc_id", "__cut_doc")
    src.join(flaggedPos, src(idCol).cast("long") === col("__cut_doc"), "left")
      .withColumn("__cut", coalesce(col("__cut"), array().cast("array<bigint>")))
      .withColumn(textCol, array_join(
        filter(split(col(textCol), sep, -1),
          (_, i) => !array_contains(col("__cut"), i.cast("long"))), "\n"))
      .drop("__cut", "__cut_doc")
  }

  /** [[cutDupSpans]] under BPE token identity: mine with
    * [[Tokenizers.bpe]]`(merges)`, cut with the byte-level rebuild
    * ([[cutSpansBpe]]) — detection and destruction share the tokenizer,
    * closing the round-11 gap where the faithful BPE detector could only
    * drive a word-level (token-soup) rewrite. */
  def cutDupSpansBpe(df: DataFrame, idCol: String, textCol: String,
                     width: Int, merges: Seq[(String, String)]): DataFrame =
    cutSpansBpe(df, dupSpans(df, idCol, textCol, width, Tokenizers.bpe(merges)),
      idCol, textCol, merges)

  /** Global first-come PARAGRAPH dedup — the FineWeb-class rule between
    * line-level boilerplate removal and whole-doc dedup: a paragraph
    * (exact blank-line-delimited substring) is kept only at its FIRST corpus
    * occurrence (lexicographic (doc_id, pos)); every later occurrence is
    * cut and the doc rebuilt around it. Empty paragraphs are structure,
    * not content — never cut (also the worst skew key gone: the ""
    * group would otherwise be the corpus's hottest hash).
    *
    * Scale shape: paragraphs travel as (doc_id, pos, xxhash64) triples —
    * text never enters the decision exchange. One explicit repartition
    * on the hash hosts BOTH the winner aggregate and the cut join as one
    * ReusedExchange (the [[dupSpans]] double-tokenize trap; a groupBy +
    * self-join without it re-explodes the corpus). The winner aggregate
    * map-side-combines, so a boilerplate mega-paragraph collapses to one
    * row per task before the shuffle; the rebuild is the
    * [[dropBoilerplateLines]] form — cut positions join back by doc id
    * and each doc re-splits its own text locally, so document bodies
    * cross at most the (usually broadcast) cut-attach join. A 64-bit
    * paragraph-hash collision cutting a non-duplicate is ~P²/2⁶⁵ (the
    * gate's oracle groups by the paragraph STRING, so a real collision
    * would surface as a mismatch). Output: `df` with `textCol`
    * rebuilt; docs whose every paragraph was cut keep an empty text. */
  def dedupParagraphs(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    // an id that nulls under the long cast would make the cut join never
    // match and the pass silently return the corpus un-deduped — refuse
    // loudly instead. Numeric id types can't null under the cast (fast
    // path: plain cast). String ids get the check folded INTO the cast
    // expression itself (raise_error on the null-cast branch), so it
    // rides the pass's own scan lazily: no extra eager job at call
    // time, no extra action on a clean corpus, and the transformation
    // stays usable on streaming inputs. Non-castable schemas still
    // refuse eagerly — that's a schema error, knowable without a scan.
    val idLong: org.apache.spark.sql.Column = df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(idCol).cast("long")
      case org.apache.spark.sql.types.StringType =>
        // try_cast, not cast: under ANSI mode a bare cast throws Spark's
        // generic CAST_INVALID_INPUT before the raise_error branch can
        // state the dedup-specific contract; under non-ANSI it nulls
        // silently. try_cast nulls in both modes, so the message below
        // is the single failure surface either way.
        coalesce(col(idCol).try_cast("long"),
          raise_error(concat(
            lit(s"dedupParagraphs: string id column '$idCol' holds a value " +
              "that nulls under the long cast ('"), col(idCol),
            lit("') — such docs would silently skip dedup"))).cast("long"))
      case other => throw new IllegalArgumentException(
        s"dedupParagraphs: id column '$idCol' is ${other.simpleString}; " +
          "need a numeric (or losslessly castable string) id")
    }
    val src = SparkEnv.spread(df)
    val sep = "\n\n"
    val quoted = java.util.regex.Pattern.quote(sep)
    // the explicit isnotnull makes the two consumers' subtrees IDENTICAL:
    // without it the cut join's condition infers isnotnull(doc_id) into
    // its own branch only, the canonicalized plans differ, and exchange
    // reuse silently degrades to a second corpus explode (null-id docs
    // can't be addressed by the cut list anyway — they pass through
    // unchanged via the left join, same either way)
    // idLong (not a bare cast) ONLY here, after the isNotNull filter: a
    // null id must pass through via the left join below, not raise; the
    // checked branch fires exactly for non-null ids that cast to null
    val paras = src
      .filter(col(idCol).isNotNull)
      .select(idLong.as("doc_id"),
        posexplode(split(col(textCol), quoted, -1)))
      .filter(length(col("col")) > 0)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("col")).as("ph"))
      .repartition(col("ph"))
    val winners = paras.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__w"))
    val cuts = paras.join(winners, "ph")
      .filter(col("doc_id") =!= col("__w.doc_id") ||
        col("pos") =!= col("__w.pos"))
      .groupBy("doc_id")
      .agg(collect_list(col("pos")).as("__cut"))
      .withColumnRenamed("doc_id", "__cut_doc")
    // try_cast on the attach side: paras already raises on any bad
    // string id, and a plain cast here would race it with ANSI's
    // generic CAST_INVALID_INPUT from a different task — one failure
    // surface, the specific message (null join keys match nothing)
    val attachId = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType => src(idCol).try_cast("long")
      case _ => src(idCol).cast("long")
    }
    src.join(cuts, attachId === col("__cut_doc"), "left")
      .withColumn("__cut", coalesce(col("__cut"), array().cast("array<bigint>")))
      .withColumn(textCol, array_join(
        filter(split(col(textCol), quoted, -1),
          (_, i) => !array_contains(col("__cut"), i.cast("long"))), sep))
      .drop("__cut", "__cut_doc")
  }

  /** Corpus-version diff — the audit step between dataset releases
    * ("what changed from v1 to v2?"): a full-outer id join classifying
    * every id as `added` (new only), `removed` (old only), `changed`
    * (both, different content) or `unchanged`. With `byHash` (default)
    * the compare runs on `xxhash64(text)` computed BEFORE the shuffle, so
    * the join carries (id, 8 B) instead of document bodies — at 100 TB
    * the difference between a metadata-sized exchange and re-shuffling
    * the corpus twice; a 64-bit collision mislabeling a changed doc as
    * unchanged is ~N²/2⁶⁵ and acceptable for an audit (set
    * `byHash = false` to compare bodies when it is not). One shuffle per
    * side, no driver state. Output: `(<idCol>, status)`.
    *
    * Ids keep their own type (string URLs/UUIDs included — casting would
    * null them and misclassify every row) and must be UNIQUE within each
    * version: a duplicate id multiplies its rows M×N through the join,
    * and "one verdict per id" is ill-posed for it anyway — run exact
    * dedup first. Null ids never join-match, so such rows surface as
    * added + removed; filter them upstream if that is not intended. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 byHash: Boolean = true): DataFrame = {
    // null text coalesces to "" BEFORE the signature on both sides: a
    // null would otherwise null the signature and misclassify a present
    // row as added/removed (and null === null is null, not a match)
    def sig(df: DataFrame, as: String) = {
      val body = coalesce(col(textCol), lit(""))
      df.select(col(idCol).as("__id"),
        (if (byHash) xxhash64(body) else body).as(as))
    }
    sig(oldDf, "__sig_old").join(sig(newDf, "__sig_new"), Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__sig_old").isNull, "added")
          .when(col("__sig_new").isNull, "removed")
          .when(col("__sig_old") === col("__sig_new"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
