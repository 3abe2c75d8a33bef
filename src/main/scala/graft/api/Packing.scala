package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concat-and-chunk sequence packing — the training-batch assignment step of
  * an LLM data pipeline: documents are laid end-to-end in the deterministic
  * [[Sampling.shuffleByHash]] order and cut into fixed `seqLen`-token
  * training sequences. Each document's global token offset decides the
  * chunk range it occupies.
  *
  * The prefix sum is the scale problem: `sum(tokens) OVER (ORDER BY ...)`
  * is a single-partition window — a non-starter on 10^10 documents. This
  * operator computes the SAME result with the classic two-level
  * decomposition:
  *
  *  1. bucket = floor(hashScore · buckets). The score is uniform in [0,1),
  *     so buckets are balanced; floor is monotone, so bucket order refines
  *     score order and concatenating buckets reproduces the global order
  *     exactly.
  *  2. within-bucket exclusive running sum — a `buckets`-way parallel
  *     window;
  *  3. bucket totals (tiny: `buckets` rows) get their own exclusive prefix
  *     sum on the driver-sized side and broadcast back as per-bucket
  *     offsets.
  *
  * One data shuffle (the bucket window), one broadcast. The result is
  * bit-identical to the global window for any bucket count (spec-pinned),
  * so `buckets` is purely a parallelism knob. Chunk ids use integer
  * division — exact at any corpus size (a double `floor` loses exactness
  * past 2^53 total tokens; 100 TB of text is ~10^13–10^14 tokens, close
  * enough to care).
  *
  * Zero-token rows are dropped: they occupy no space in the packed stream.
  * Output: `(id, tokens, token_offset, chunk_start, chunk_end)`.
  */
object Packing {

  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
                    seqLen: Int, seed: Long, buckets: Int = 1024): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(buckets > 0, "buckets must be positive")
    val score = Sampling.hashScore(col("id"), seed)
    val base = df
      .select(col(idCol).as("id"), tokensCol.cast("long").as("tokens"))
      .filter(col("tokens") > 0)
      .withColumn("bucket", floor(score * lit(buckets)).cast("int"))
      // no-op for non-null ids (a null id has no hash score and no place in
      // the packed order — dropped). Stated explicitly so BOTH branches
      // below carry the identical filter: the final join would otherwise
      // infer isnotnull(bucket) into just the streamed side, the subtrees
      // would differ, and AQE could not reuse the shuffle (second scan).
      .filter(col("bucket").isNotNull)
    // within-bucket exclusive prefix sum: buckets-way parallel window
    val wIn = Window.partitionBy("bucket")
      .orderBy(score.asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = base.withColumn("bucket_run",
      coalesce(sum(col("tokens")).over(wIn), lit(0L)))
    // bucket totals DERIVED from the window output (last row's inclusive
    // sum = max(bucket_run + tokens)), not re-aggregated from `base`: the
    // totals branch then shares the window branch's shuffle stage
    // (ReuseExchange) and the whole operator reads the data ONCE — a
    // separate groupBy on `base` would rescan and re-tokenize the corpus.
    // The single-partition window here is over the `buckets` TOTALS rows,
    // never the data.
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = inBucket
      .groupBy("bucket")
      .agg(max(col("bucket_run") + col("tokens")).as("btotal"))
      .withColumn("boffset", coalesce(sum(col("btotal")).over(wB), lit(0L)))
      .select("bucket", "boffset")
    inBucket.join(broadcast(offsets), "bucket")
      .withColumn("token_offset", col("boffset") + col("bucket_run"))
      .select(col("id"), col("tokens"), col("token_offset"),
        expr(s"CAST(token_offset div $seqLen AS BIGINT)").as("chunk_start"),
        expr(s"CAST((token_offset + tokens - 1) div $seqLen AS BIGINT)").as("chunk_end"))
  }

  /** One packing-schedule segment: class-rank range [startRank,
    * startRank+count) of length-`len` docs maps to bins
    * `startBin + (rank − startRank) / perBin`. */
  private case class Seg(len: Long, startRank: Long, count: Long,
                         startBin: Long, perBin: Long)

  /** Whole-document bin packing — the padding-minimizing alternative to
    * [[packSequences]]: documents are NOT split; each is placed whole into
    * a fixed-`capacity` bin, Next-Fit-Decreasing (sort by length desc,
    * fill the open bin until the next document doesn't fit, then open a
    * new one — the standard streaming packer, waste ≤ 2×OPT, and in
    * practice near-optimal on heavy-tailed corpus length distributions
    * because the tail of short docs tops off every bin). Concat-and-chunk
    * packs with ZERO waste but cuts documents mid-stream (attention
    * crosses the cut or the fragment loses context); whole-doc packing is
    * what you run when truncation is the thing being avoided.
    *
    * Deterministic and layout-invariant: the stream order is
    * (class desc, hashScore asc, id asc) — a pure function of (id, seed) —
    * where class = min(tokens, capacity+1). Oversize docs (tokens >
    * capacity) each get a dedicated bin, like every production packer;
    * clamping them into ONE class is what bounds the state below (their
    * exact length can't change their packing — always a bin of their own —
    * so distinguishing 10^6 distinct oversize lengths buys nothing).
    *
    * SCALE SHAPE — why this isn't a driver sort: NFD looks inherently
    * sequential, but all docs of one class are interchangeable, so the
    * whole walk collapses to per-CLASS arithmetic:
    *
    *  1. per-doc class rank (position among same-class docs) via the
    *     same two-level decomposition as [[packSequences]] — a
    *     (class, bucket) window (parallel, no single-partition data
    *     window) plus per-(class, bucket) offsets, each offset window
    *     partitioned BY class (≤ `buckets` rows per partition);
    *  2. the driver simulates the walk over the per-class COUNT
    *     histogram (one tiny aggregate; state = one open-bin remainder),
    *     batching runs of identical full bins — O(capacity) loop,
    *     independent of corpus size — and emits ≤ 3 arithmetic
    *     [[Seg]]ments per class;
    *  3. docs join the broadcast schedule on class and map
    *     rank → bin = startBin + (rank − startRank) / perBin.
    *
    * One data shuffle (the class-rank window), two tiny broadcasts. Every
    * bounded structure — the histogram collect (≤ capacity+1 rows), the
    * offsets broadcast (≤ (capacity+1)·buckets rows), the schedule
    * (≤ 3·(capacity+1) segments) — is bounded by CAPACITY, never by
    * corpus size or the length distribution's support. Rows with
    * tokens <= 0 are dropped (nothing to pack).
    *
    * Returns (id, tokens, bin, bin_offset) — `bin` ids dense from 0 in
    * stream order; `bin_offset` is the doc's token offset WITHIN its bin
    * (stream order), i.e. exactly what a sequence assembler needs for
    * position ids and attention-mask boundaries. The offset window
    * partitions by bin — bins hold ≤ capacity docs, so every partition is
    * tiny and the window parallelizes across the corpus/capacity bins. */
  def packDocsNextFit(df: DataFrame, idCol: String, tokensCol: Column,
                      capacity: Long, seed: Long, buckets: Int = 64): DataFrame = {
    require(capacity > 0 && capacity < Long.MaxValue,
      "capacity must be positive (and capacity + 1 must not overflow)")
    require(buckets > 0, "buckets must be positive")
    val spark = df.sparkSession
    val score = Sampling.hashScore(col("id"), seed)
    val base = df
      .select(col(idCol).as("id"), tokensCol.cast("long").as("tokens"))
      .filter(col("tokens") > 0 && col("id").isNotNull)
      // packing class: oversize lengths collapse (each gets its own bin
      // regardless of exact length) — this clamp is what bounds every
      // driver/broadcast structure by capacity instead of the length
      // distribution's support
      .withColumn("cls", least(col("tokens"), lit(capacity + 1L)))
      .withColumn("bucket", floor(score * lit(buckets)).cast("int"))
    // class rank, two-level: row_number within (cls, bucket)…
    val wIn = Window.partitionBy("cls", "bucket")
      .orderBy(score.asc, col("id").asc)
    val inBucket = base.withColumn("sub_rank", row_number().over(wIn).cast("long") - 1L)
    // …plus per-(cls, bucket) exclusive offsets; the offset window is
    // per-CLASS (≤ buckets rows each), parallel across classes
    val wB = Window.partitionBy("cls").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = inBucket
      .groupBy("cls", "bucket")
      .agg(count(lit(1)).as("bcnt"))
      .withColumn("boff", coalesce(sum(col("bcnt")).over(wB), lit(0L)))
      .select("cls", "bucket", "boff")
    val ranked = inBucket.join(broadcast(offsets), Seq("cls", "bucket"))
      .withColumn("rank", col("boff") + col("sub_rank"))
    // driver walk over the per-class histogram (≤ capacity+1 rows) — from
    // `base`, not `ranked`: the counts are identical (the offsets join
    // preserves every row) and collecting from `ranked` would execute both
    // rank windows once for this collect and again for the schedule join
    val hist = base.groupBy("cls").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val segs = scala.collection.mutable.ArrayBuffer.empty[Seg]
    var bin = 0L   // current open bin
    var rem = capacity
    var opened = false // bin 0 not yet opened
    def open(): Unit = { bin = if (opened) bin + 1 else 0; opened = true; rem = capacity }
    for ((s, c0) <- hist) {
      var c = c0
      var rank = 0L
      if (s > capacity) {
        // oversize: dedicated bins in stream order, one doc per bin
        if (!opened) opened = true else bin += 1
        segs += Seg(s, 0L, c, bin, 1L)
        bin += c - 1
        rem = 0 // the last oversize bin is over-full; nothing tops it off
      } else {
        // 1) top off the current open bin
        if (!opened) open()
        val t0 = math.min(c, rem / s)
        if (t0 > 0) {
          segs += Seg(s, rank, t0, bin, t0)
          rem -= t0 * s; rank += t0; c -= t0
        }
        if (c > 0) {
          // 2) runs of identical full bins, batched
          val q = capacity / s
          val full = c / q
          if (full > 0) {
            open()
            segs += Seg(s, rank, full * q, bin, q)
            bin += full - 1
            rem = capacity - q * s
            rank += full * q; c -= full * q
          }
          // 3) the leftover opens the next bin and leaves it open
          if (c > 0) {
            open()
            segs += Seg(s, rank, c, bin, c)
            rem = capacity - c * s
            rank += c; c = 0
          }
        }
      }
    }
    import spark.implicits._
    // tuples, not the private case class: Janino cannot codegen an encoder
    // for a private nested class (works via interpreted fallback, but logs
    // a CompileException per run)
    val schedule = segs.toSeq
      .map(g => (g.len, g.startRank, g.count, g.startBin, g.perBin))
      .toDF("seg_len", "seg_start", "seg_count", "seg_bin", "seg_per")
    val assigned = ranked
      .join(broadcast(schedule), col("cls") === col("seg_len") &&
        col("rank") >= col("seg_start") &&
        col("rank") < col("seg_start") + col("seg_count"))
      .select(col("id"), col("tokens"), col("cls"),
        // integer div, not `/` (which is double division on longs — exact
        // only below 2^53; div is exact at any rank)
        expr("CAST(seg_bin + (rank - seg_start) div seg_per AS BIGINT)").as("bin"))
    // within-bin token offset in stream order (cls desc, score, id) — the
    // per-bin exclusive prefix sum a sequence assembler consumes
    val wBin = Window.partitionBy("bin")
      .orderBy(col("cls").desc, Sampling.hashScore(col("id"), seed).asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    assigned
      .withColumn("bin_offset", coalesce(sum(col("tokens")).over(wBin), lit(0L)))
      .select("id", "tokens", "bin", "bin_offset")
  }

  /** Exclusive global running sum of `valueCol` in `(orderCol asc, id asc)`
    * order — [[packSequences]]' two-level prefix-sum decomposition
    * generalized to an ARBITRARY order key. The naive
    * `sum(v) OVER (ORDER BY k)` is a single-partition window — every row
    * through one reducer, a non-starter at corpus scale — so instead:
    *
    *  1. `buckets − 1` range boundaries come from one `approxQuantile`
    *     pass (bounded driver state; accuracy only affects BALANCE, never
    *     the result). Bucket = #boundaries ≤ key, compared in double space
    *     — long→double is monotone, and key values that collapse to the
    *     same double always share a bucket, so bucket order refines the
    *     exact `(key, id)` order; the WITHIN-bucket sort uses the original
    *     untruncated key with the id tiebreak, so the output is exact.
    *  2. within-bucket exclusive running sum — a `buckets`-way parallel
    *     window; bucket totals (tiny) get their own prefix sum and
    *     broadcast back, exactly the [[packSequences]] shape: one data
    *     shuffle, one broadcast, totals derived from the window branch so
    *     the corpus is read once (ReuseExchange).
    *
    * Result is bit-identical to the global window for ANY bucket count
    * (spec-pinned), so `buckets` is purely a parallelism knob. Null ids
    * and null keys are dropped (no place in the order); a null VALUE
    * counts as 0 — coalesced up front so the returned `value` column
    * matches what the sums saw (the global window's sum merely skips
    * nulls; 0 reproduces that exactly). `valueCol` may otherwise be any
    * long (negative values fine — bucket totals are order-free
    * sum(value), not running-max tricks), and duplicate `(orderCol, id)`
    * rows are safe: the window breaks such ties arbitrarily, so WHICH
    * tied row gets which prefix is nondeterministic (inherent to a
    * non-total order — the global window has the same freedom), but
    * every bucket total and therefore every other row's `run` is exact.
    * Output: `(id, value, run)` with `run` = sum of `value` over all
    * strictly-preceding rows. */
  private[api] def globalRunningSum(df: DataFrame, idCol: String, orderCol: Column,
                                    valueCol: Column, buckets: Int = 128,
                                    quantileErr: Double = 0.001): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val base = df
      .select(col(idCol).as("id"), orderCol.as("__ord"),
        coalesce(valueCol.cast("long"), lit(0L)).as("value"))
      .filter(col("id").isNotNull && col("__ord").isNotNull)
    // one bounded-state sampling pass; boundary placement only moves rows
    // between buckets, it cannot change the prefix sums
    val bounds =
      if (buckets == 1) Array.empty[Double]
      else base.select(col("__ord").cast("double").as("__d"))
        .stat.approxQuantile("__d",
          (1 until buckets).map(_.toDouble / buckets).toArray, quantileErr)
        .distinct.sorted
    val bucketed =
      (if (bounds.isEmpty) base.withColumn("bucket", lit(0))
       else base.withColumn("bucket",
         aggregate(typedLit(bounds.toSeq), lit(0),
           (acc, b) => acc + when(b <= col("__ord").cast("double"), 1)
             .otherwise(0))))
        // no-op for this non-null fold, stated explicitly so BOTH consumers
        // below carry the identical filter: the offsets join would
        // otherwise infer isnotnull(bucket) into just the streamed side,
        // the subtrees would differ, and the offsets branch would re-scan
        // the corpus instead of reusing the bucket exchange (the
        // packSequences defeat, plan-pinned in PlanShapeSpec)
        .filter(col("bucket").isNotNull)
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("__ord").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // full-frame twin of wIn: sum over the WHOLE bucket — order-free, so
    // duplicate (orderCol, id) rows (ids are not required unique; the
    // window breaks such ties arbitrarily) cannot corrupt later buckets'
    // offsets the way a pick-the-last-row max_by could. It must be a
    // WINDOW output, not a plain groupBy sum: a bare sum(value) agg does
    // not depend on the window, so Catalyst prunes the window from the
    // offsets branch, the pruned branch requires fewer columns below the
    // exchange, the subtrees stop matching, and the corpus is re-scanned
    // (observed: 3 scans, 0 reuse — also the fate of a throwaway
    // max(bucket_run) agg term, which unreferenced-aggregate pruning
    // removes). The ORDERED full frame keeps the offsets branch's column
    // requirements identical to the data branch's, so both hang off one
    // bucket exchange (plan-pinned in PlanShapeSpec).
    val wAll = Window.partitionBy("bucket")
      .orderBy(col("__ord").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val inBucket = bucketed
      .withColumn("bucket_run", coalesce(sum(col("value")).over(wIn), lit(0L)))
      .withColumn("bucket_total", sum(col("value")).over(wAll))
    // the single-partition window below runs over the ≤ `buckets` TOTALS
    // rows, never the data
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = inBucket
      .groupBy("bucket")
      .agg(max(col("bucket_total")).as("btotal"))
      .withColumn("boffset", coalesce(sum(col("btotal")).over(wB), lit(0L)))
      .select("bucket", "boffset")
    inBucket.join(broadcast(offsets), "bucket")
      .select(col("id"), col("value"),
        (col("boffset") + col("bucket_run")).as("run"))
  }

  /** Contiguous global row ids 0..N−1 in `(orderCol asc, id asc)` order —
    * `row_number() OVER (ORDER BY …) − 1` without the single-partition
    * window (see [[globalRunningSum]]; value ≡ 1). The shuffle-free id
    * assignment every sharded training run needs (example ids, curriculum
    * positions, stable sort keys for resharding). Pass a negated key for
    * descending order. Output: `(<idCol>, row_id)`. */
  def assignRowIds(df: DataFrame, idCol: String, orderCol: Column,
                   buckets: Int = 128): DataFrame =
    globalRunningSum(df, idCol, orderCol, lit(1L), buckets)
      .select(col("id").as(idCol), col("run").as("row_id"))

  /** Greedy prefix selection to a token budget: walk the corpus in
    * `(orderCol asc, id asc)` order — rank ascending by whatever priority
    * the pipeline ranks on (negated quality for best-first, a hash score
    * for a shuffled subsample) — and keep every document whose INCLUSIVE
    * running token total still fits `budget` ("fill the 15T-token budget
    * by quality rank", the corpus-assembly step after scoring). The
    * running total is [[globalRunningSum]] — no single-partition window,
    * no driver iteration; the budget cut is one filter on the exclusive
    * sum. Documents are kept or dropped whole (sequence packing decides
    * intra-doc layout downstream). Output: `(<idCol>, tokens, run)` with
    * `run` = tokens preceding the doc in selection order. */
  def selectToTokenBudget(df: DataFrame, idCol: String, orderCol: Column,
                          tokensCol: Column, budget: Long,
                          buckets: Int = 128): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    globalRunningSum(df, idCol, orderCol, tokensCol, buckets)
      .filter(col("run") + col("value") <= budget)
      .select(col("id").as(idCol), col("value").as("tokens"), col("run"))
  }

  /** Token-balanced contiguous sharding — the export step that writes a
    * curated corpus as `shards` files of ~equal TOKEN mass (equal doc
    * COUNTS skew badly under heavy-tailed lengths) while preserving a
    * deterministic global order, so shard k is exactly the k-th
    * contiguous slice of the training stream: `shard =
    * ⌊run·shards/total⌋` over the [[globalRunningSum]] exclusive prefix.
    * Integer arithmetic throughout (exact at any corpus size — a double
    * product loses exactness past 2^53); the one extra cost over the
    * running sum is a column-pruned `sum(tokens)` scan for the total,
    * which rides in as a 1-row broadcast, never an extra shuffle of the
    * data. Zero-token docs at the stream tail clamp into the last shard.
    * Output: `(<idCol>, tokens, shard)` with shard ids dense in
    * [0, shards). */
  def assignTokenShards(df: DataFrame, idCol: String, orderCol: Column,
                        tokensCol: Column, shards: Int,
                        buckets: Int = 128): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val rs = globalRunningSum(df, idCol, orderCol, tokensCol, buckets)
    // total over the SAME row set the running sum ranks (null ids/keys are
    // dropped there, so they must not count here either)
    val total = df
      .select(col(idCol).as("id"), orderCol.as("__ord"),
        tokensCol.cast("long").as("value"))
      .filter(col("id").isNotNull && col("__ord").isNotNull)
      .agg(coalesce(sum(col("value")), lit(0L)).as("__total"))
    rs.crossJoin(broadcast(total))
      .select(col("id").as(idCol), col("value").as("tokens"),
        when(col("__total") <= 0L, lit(0))
          .otherwise(least(lit(shards - 1),
            expr(s"CAST((run * $shards) div __total AS INT)")))
          .as("shard"))
  }

  /** Durable token-balanced shard EXPORT with a verified manifest — the
    * back edge of the pipeline, producing the artifact a training run
    * consumes: [[assignTokenShards]] picks contiguous token-balanced
    * shards in the given order, the rows land hive-partitioned by
    * `shard` (a consumer reading shard k partition-prunes to ONE
    * directory), and the manifest — per-shard doc count, token mass and
    * the id-set digest (min/max/sum) — is derived FROM READBACK, so it
    * describes what is actually on disk, not what the writer intended
    * (a lost task or a partial overwrite surfaces as a manifest
    * mismatch, not a silent hole). The manifest commits as parquet
    * under `<path>/_manifest` (underscore-prefixed: data readers skip
    * it, like `_SUCCESS`). Returns the readback manifest. */
  def exportShards(df: DataFrame, idCol: String, orderCol: Column,
                   tokensCol: Column, shards: Int, path: String): DataFrame = {
    // the artifact schema OWNS these two names (tokens = the mass the
    // manifest audits, shard = the partition column); an input already
    // carrying either would duplicate the name at the join and the
    // parquet write rejects duplicate columns — refuse up front with the
    // actual contract instead
    Seq("tokens", "shard").foreach(c => require(!df.columns.contains(c),
      s"exportShards: input must not carry a '$c' column — the export " +
        "artifact owns that name (rename the input column first)"))
    val spark = df.sparkSession
    val assigned = assignTokenShards(df, idCol, orderCol, tokensCol, shards)
    df.join(assigned, Seq(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val manifest = spark.read.parquet(path)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("n_tokens"),
        min(col(idCol)).as("min_id"),
        max(col(idCol)).as("max_id"),
        sum(col(idCol)).as("sum_id"))
    manifest.write.mode("overwrite").parquet(s"$path/_manifest")
    spark.read.parquet(s"$path/_manifest")
  }
}
