package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization for event streams: resample onto a fixed-step
  * grid and forward-fill gaps — the feature-engineering shape behind
  * "latest state as of every interval" training inputs.
  */
object TimeSeries {

  /** Resample `events` per `keyCol` onto a `stepSeconds` grid and
    * forward-fill gaps with the last observation.
    *
    * Semantics:
    *  - bucket = floor(epoch_seconds(ts) / step) * step;
    *  - per (key, bucket) the surviving observation is the LAST one, by
    *    (ts, tieBreak) — `tieBreak` MUST be unique per row (an event id) or
    *    the survivor under equal timestamps is partition-order-dependent;
    *  - the grid spans each key's own [min bucket, max bucket] — keys are
    *    not stretched to the global range (that join explosion belongs to
    *    the caller if they want it);
    *  - gaps forward-fill from the last observed bucket (`observed` marks
    *    real observations; because each key's grid starts at its first
    *    observed bucket, every grid row has a fill source and the output
    *    `value` is never NULL). NULL-valued events are dropped up front: a
    *    NULL observation is no observation, not a fill barrier.
    *
    * Scale shape: one partial+final aggregation to buckets (shuffle on
    * (key, bucket) — uniform by construction), one per-key explode of
    * range/step grid rows, one shuffle for the per-key ordered window.
    * Grid size is bounded by span/step per key, independent of event
    * count — resampling 100 TB of events to hourly buckets moves only
    * (keys × buckets) rows after the first aggregation. The fill window is
    * a single streamed sort run per key; skew is bounded by the longest
    * key span, not by event volume.
    *
    * The grid is generated in 4096-bucket chunks (outer explode of chunk
    * ordinals, inner `sequence` per chunk), never as one span-length array
    * row — a key with a multi-year span at small `stepSeconds` would
    * otherwise build a single array past Spark's element limit / task
    * memory with an opaque error. Keys whose span exceeds 100 M buckets
    * (~3 years at 1 s steps) fail fast
    * with a named-key message instead: an outlier early timestamp (epoch 0
    * from a parse bug) is data corruption to surface, not a grid to
    * materialize. */
  def resampleGapFill(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, stepSeconds: Long,
                      tieBreak: String): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive, got $stepSeconds")
    val maxBucketsPerKey = 100000000L
    val b = events
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"),
        (floor(col(tsCol).cast("long") / stepSeconds) * stepSeconds)
          .cast("long").as("bucket_s"),
        col(valueCol).as("v"), col(tsCol).as("__ts"), col(tieBreak).as("__tb"))
      .groupBy("key", "bucket_s")
      .agg(max_by(col("v"), struct(col("__ts"), col("__tb"))).as("v"))
    val gridChunk = 4096L
    val chunkSpan = stepSeconds * gridChunk
    // buckets are multiples of stepSeconds, so (hi - lo) is step-divisible
    val nBuckets = floor((col("hi") - col("lo")) / stepSeconds).cast("long") + lit(1L)
    val guardedLo = when(nBuckets > maxBucketsPerKey,
      raise_error(concat(
        lit("resampleGapFill: key "), col("key").cast("string"),
        lit(" spans "), nBuckets.cast("string"),
        lit(s" buckets at stepSeconds=$stepSeconds (> $maxBucketsPerKey)" +
          " — outlier timestamp in the data, or coarsen stepSeconds"))))
      .otherwise(col("lo"))
    val grid = b.groupBy("key")
      .agg(min("bucket_s").as("lo"), max("bucket_s").as("hi"))
      .select(col("key"), guardedLo.as("lo"), col("hi"))
      .select(col("key"), col("lo"), col("hi"),
        explode(sequence(lit(0L),
          floor((col("hi") - col("lo")) / chunkSpan).cast("long"))).as("__c"))
      .select(col("key"),
        explode(sequence(
          col("lo") + col("__c") * chunkSpan,
          least(col("hi"), col("lo") + (col("__c") + 1L) * chunkSpan - stepSeconds),
          lit(stepSeconds))).as("bucket_s"))
    val w = Window.partitionBy("key").orderBy("bucket_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(b, Seq("key", "bucket_s"), "left")
      .select(col("key").as(keyCol), col("bucket_s"),
        last(col("v"), ignoreNulls = true).over(w).as("value"),
        col("v").isNotNull.as("observed"))
  }

  /** Rolling-window statistics over a regular series (normally a
    * [[resampleGapFill]] output): per key, over the trailing `nRows` rows
    * ordered by `orderCol`, emit min / max / an exact centi-unit sum /
    * count / mean. NULL values (leading gaps) are skipped by every
    * aggregate; an all-NULL window yields NULL stats.
    *
    * Exactness across engines is designed in, not hoped for: min/max are
    * selections (bit-exact on any engine), and the sum runs over
    * `floor(value·100)` longs — integer addition is order-independent,
    * where a double sum would differ between Spark's incremental frame
    * accumulation and e.g. DuckDB's segment-tree evaluation. The mean is
    * one exact division of exact integers. Callers needing different
    * precision scale the factor, not the design.
    *
    * Scale shape: one shuffle on the key, one streamed sort run per key —
    * frame cost O(nRows) per row (min/max recompute per frame at worst);
    * skew bounded by the longest per-key series, which for a resampled
    * grid is span/step, independent of raw event volume. */
  def rollingStats(series: DataFrame, keyCol: String, orderCol: String,
                   valueCol: String, nRows: Int): DataFrame = {
    require(nRows >= 1, s"nRows must be >= 1, got $nRows")
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
      .rowsBetween(-(nRows - 1L), Window.currentRow)
    series.select(col(keyCol), col(orderCol), col(valueCol),
        min(col(valueCol)).over(w).as("roll_min"),
        max(col(valueCol)).over(w).as("roll_max"),
        sum(floor(col(valueCol) * 100).cast("long")).over(w).as("roll_sum_x100"),
        count(col(valueCol)).over(w).as("roll_cnt"))
      .withColumn("roll_avg_x100",
        col("roll_sum_x100").cast("double") / col("roll_cnt"))
  }

  /** Exact per-group moment statistics over a double column, via centi-unit
    * integer arithmetic: count, min, max, mean and population variance of
    * `floor(value·100)` — the standardization pass (feature scaling,
    * outlier thresholds) computed so two engines agree BIT-exactly.
    * `avg`/`var_pop` over raw doubles are accumulation-order-dependent
    * (Spark's partial aggregation tree vs a columnar engine's blocks differ
    * in the last ulps); over integers, Σx and Σx² are exact in any order,
    * and mean = Σx/n, var = (n·Σx² − (Σx)²)/n² are single exact-integer
    * divisions. Σx² of centi-units overflows Long at ~9·10^8 rows per group
    * for values ~|1000|, so both sums run as DECIMAL(38,0).
    *
    * Exactness bound: the variance numerator n·Σx² ≤ (n·max|x|)² must fit
    * 38 digits, i.e. n·max|x| < 10^19 — about 10^14 rows per group at
    * values ~|1000| (centi-units ~10^5). Past that the decimal product
    * overflows, and under Spark's default non-ANSI mode that means a
    * SILENT NULL in `var_x100`, not an error — callers at that scale
    * should pre-aggregate per partition-period or rescale the factor.
    * One partial+final aggregation; only the five fixed-size accumulators
    * cross the shuffle. */
  def valueStats(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val x = floor(col(valueCol) * 100).cast("decimal(38,0)")
    df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"),
        sum(x).as("__s"), sum(x * x).as("__s2"))
      .select(keyCols.map(col) ++ Seq(
        col("n"), col("min_v"), col("max_v"),
        (col("__s").cast("double") / col("n")).as("mean_x100"),
        ((col("n").cast("decimal(38,0)") * col("__s2") - col("__s") * col("__s")).cast("double")
          / (col("n").cast("double") * col("n").cast("double"))).as("var_x100")): _*)
  }
}
