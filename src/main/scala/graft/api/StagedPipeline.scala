package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Resumable staged execution for composed curation recipes — the batch
  * analog of the streaming restart story
  * ([[graft.streaming.EventStreams]] `stream_restart_windows`) and the
  * missing production shape of the in-session
  * `curate_corpus_v2` chain (seven stages threaded through
  * `localCheckpoint`, whose state dies with the session).
  *
  * A 100 TB curation run WILL be pre-empted mid-recipe; re-deriving five
  * scoring stages from scratch on restart is a day of cluster time. Here
  * each stage commits its output frontier to a parquet table
  * `<prefix>_s<i>` and then appends one row to the manifest table
  * `<prefix>_manifest` — the manifest row IS the commit point. A
  * restarted run replays the manifest, validates it against the
  * requested chain (stage names, contiguous prefix), and resumes from
  * the first uncommitted stage, reading the last committed table instead
  * of recomputing anything before it.
  *
  * Crash windows (same recoverability analysis as
  * [[Ann.rebalanceIvfPqCells]]'s `commitRepair`, but simpler because a
  * stage table is never the only copy of anything — every stage is a
  * pure function of the PREVIOUS committed table, which the commit order
  * never mutates):
  *
  *   - crash while computing/writing `<prefix>_s<i>`: no manifest row,
  *     so resume drops the partial table (catalog entry AND orphaned
  *     warehouse directory — [[BucketedWrite.dropTable]]) and re-runs
  *     stage `i` from the intact stage `i−1` table;
  *   - crash between the table write and the manifest append: identical
  *     — the rewrite is bit-equal because stages are required
  *     deterministic (every operator in this library is seeded);
  *   - crash during the manifest append itself: the 1-row, 1-file append
  *     either lands whole or leaves a torn parquet file that fails the
  *     next manifest READ loudly — nothing silently resumes from a
  *     half-committed state ([[reset]] recovers).
  *
  * Contract: stages must be deterministic DataFrame → DataFrame
  * functions whose output schema carries everything later stages need
  * (the committed table is the ONLY thing a resumed stage sees). The
  * chain is validated by stage NAME: resuming with a renamed, reordered
  * or shortened chain fails loudly rather than continuing a different
  * recipe on top of foreign intermediates. Scale: the per-stage commit
  * adds one parquet write + footer-level count per stage — the same
  * materialization the in-session recipe already pays as
  * `localCheckpoint`, made durable.
  *
  * Cross-JVM resume does NOT need a persistent metastore: the commit
  * point is the manifest PARQUET FILE, which survives any JVM death,
  * and [[recoverFromWarehouse]] (run automatically by [[manifest]] /
  * [[run]]) re-registers the manifest and every committed stage table
  * from the warehouse directory listing when the catalog has lost them
  * — the exact state an in-memory-catalog restart leaves behind
  * (directories intact, registrations gone). Under a persistent
  * metastore the recovery scan simply finds nothing to do. */
object StagedPipeline {

  private def manifestTable(prefix: String) = s"${prefix}_manifest"
  private def stageTable(prefix: String, i: Int) = s"${prefix}_s$i"

  /** Re-register committed tables whose catalog entries died with a
    * previous JVM but whose warehouse directories survived — the
    * in-memory-catalog restart shape ([[BucketedWrite.scratchLeftover]]
    * reads the same way). Registers the manifest table first (its
    * parquet file IS the commit record), then every `out_table` it
    * lists; a listed stage table with neither a catalog entry nor a
    * directory is a torn commit — fails loudly ([[reset]] recovers).
    * External registrations (the data stays where it is); a later
    * rewrite of a recovered stage goes through
    * [[BucketedWrite.dropTable]], which removes the directory
    * explicitly, so the external/managed distinction never leaks.
    * Returns the number of tables re-registered (0 = nothing to
    * recover). */
  def recoverFromWarehouse(spark: SparkSession, tablePrefix: String): Int = {
    var n = 0
    // registered, or re-registered from a surviving directory — the
    // shared BucketedWrite.ensureRegistered primitive
    def ensure(t: String): Boolean = {
      val had = spark.catalog.tableExists(t)
      val ok = BucketedWrite.ensureRegistered(spark, t)
      if (ok && !had) n += 1
      ok
    }
    if (ensure(manifestTable(tablePrefix))) {
      spark.table(manifestTable(tablePrefix))
        .orderBy("stage_idx").collect().foreach { r =>
          val t = r.getString(2)
          require(ensure(t),
            s"$tablePrefix manifest lists committed stage table '$t' but " +
              "neither a catalog entry nor a warehouse directory exists — " +
              "torn state; reset(tablePrefix) and start over")
        }
    }
    n
  }

  /** Committed stages in order: `(stage_idx, stage_name, out_table,
    * out_rows)`; empty frame if no manifest exists yet. Runs
    * [[recoverFromWarehouse]] first, so a restarted JVM sees its
    * committed stages without any extra call. */
  def manifest(spark: SparkSession, tablePrefix: String): DataFrame = {
    import spark.implicits._
    recoverFromWarehouse(spark, tablePrefix)
    if (spark.catalog.tableExists(manifestTable(tablePrefix)))
      spark.table(manifestTable(tablePrefix)).orderBy("stage_idx")
    else Seq.empty[(Int, String, String, Long)]
      .toDF("stage_idx", "stage_name", "out_table", "out_rows")
  }

  /** Drop the manifest and every stage table under `tablePrefix` —
    * recovery from a torn manifest, or a clean slate for a fresh run.
    * Safe at any time: stage tables are derived state (the recipe INPUT
    * is never written under the prefix). */
  def reset(spark: SparkSession, tablePrefix: String,
            maxStages: Int = 64): Unit = {
    BucketedWrite.dropTable(spark, manifestTable(tablePrefix))
    (0 until maxStages).foreach(i =>
      BucketedWrite.dropTable(spark, stageTable(tablePrefix, i)))
  }

  /** Run `stages` over `input`, committing each stage as described
    * above, resuming from the manifest if one exists. `stopAfter = k`
    * commits at most the first `k` stages and returns the last committed
    * frontier — the pre-emption hook the resume spec and gate drive.
    * Returns the final committed stage's table (so the result survives
    * the session, like everything else here). */
  def run(input: DataFrame, stages: Seq[(String, DataFrame => DataFrame)],
          tablePrefix: String, stopAfter: Int = Int.MaxValue): DataFrame = {
    require(stages.nonEmpty, "staged pipeline needs at least one stage")
    require(stopAfter >= 1, s"stopAfter must be >= 1, got $stopAfter")
    val spark = input.sparkSession
    val names = stages.map(_._1)
    require(names.distinct == names,
      s"stage names must be unique, got ${names.mkString(", ")}")

    // replay the manifest: it must be a contiguous 0..k-1 prefix whose
    // names match the requested chain — anything else is a DIFFERENT
    // recipe's leftovers, and silently resuming on top of foreign
    // intermediates is the unrecoverable failure mode
    val committed = manifest(spark, tablePrefix).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    committed.zipWithIndex.foreach { case ((idx, name), pos) =>
      require(idx == pos,
        s"$tablePrefix manifest is not a contiguous stage prefix " +
          s"(found stage_idx=$idx at position $pos) — torn commit or " +
          "mixed runs; reset(tablePrefix) and start over")
      require(pos < names.length && names(pos) == name,
        s"$tablePrefix manifest stage $pos is '$name' but the requested " +
          s"chain has '${names.lift(pos).getOrElse("<none>")}' — the " +
          "recipe changed; reset(tablePrefix) or use a new prefix")
    }
    val done = committed.length
    val stop = math.min(stages.length, stopAfter)
    var frontier =
      if (done == 0) input else spark.table(stageTable(tablePrefix, done - 1))
    // stage COMPUTE is sequential by definition (each stage reads the
    // previous frontier), but the per-stage COMMIT (footer count +
    // 1-row manifest append) only reads the just-written immutable table
    // — run commits on one background thread so stage i+1's compute
    // overlaps stage i's commit (guide §2.6). A single thread keeps
    // manifest rows in stage order, so the contiguous-prefix replay
    // invariant holds; the crash contract is unchanged — a stage whose
    // commit hadn't landed yet is simply re-run from its intact
    // predecessor on resume, exactly like a crash before the append.
    val commitPool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-staged-commit")
        t.setDaemon(true); t })
    val pending =
      scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    try {
      for (i <- done until stop) {
        val out = stages(i)._2(frontier)
        val tbl = stageTable(tablePrefix, i)
        // a partial table from a crashed attempt has no manifest row and
        // holds nothing unique — drop catalog entry AND orphan directory
        BucketedWrite.dropTable(spark, tbl)
        out.write.format("parquet").saveAsTable(tbl)
        pending += commitPool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setJobDescription(
              s"staged($tablePrefix): commit stage $i")
            val rows = spark.table(tbl).count()
            import spark.implicits._
            Seq((i, stages(i)._1, tbl, rows))
              .toDF("stage_idx", "stage_name", "out_table", "out_rows")
              .coalesce(1).write.format("parquet").mode("append")
              .saveAsTable(manifestTable(tablePrefix))
            spark.sparkContext.setJobDescription(null)
          }
        })
        frontier = spark.table(tbl)
      }
      // every commit must be durable before this run returns (callers
      // replay the manifest — a resumed run with commits still in flight
      // would re-run committed stages)
      pending.foreach(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause })
    } finally commitPool.shutdown()
    // stages.nonEmpty + stopAfter >= 1 force stop >= 1: the last
    // committed table always exists by the time we get here
    spark.table(stageTable(tablePrefix, stop - 1))
  }

  /** Per-document drop attribution over a committed run — the "which
    * stage dropped doc X" report a real pipeline debugs with: for each
    * committed stage, the ids present in the PREVIOUS frontier (the
    * recipe `input` for stage 0) but absent from the stage's committed
    * table, as `(<idCol>, stage_idx, stage)`. A doc appears at most
    * once (the first stage that lost it); survivors of the whole chain
    * appear nowhere.
    *
    * Cost shape: the staged tables already hold every frontier, so the
    * ledger is one ids-only anti-join per committed stage — column-
    * pruned scans of the committed parquet plus the input's id column,
    * ZERO recipe re-execution and no text reads. Text-rewriting stages
    * (span cuts, boilerplate) keep every row and correctly contribute
    * nothing. `input` must be the same frame the run was given: the
    * stage-0 diff is against it (the one thing the committed tables
    * cannot know). */
  def dropLedger(spark: SparkSession, tablePrefix: String,
                 input: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions._
    val committed = manifest(spark, tablePrefix).collect()
    require(committed.nonEmpty,
      s"$tablePrefix has no committed stages to attribute drops over")
    var prev = input.select(col(idCol))
    val parts = committed.map { r =>
      val (idx, name, tbl) = (r.getInt(0), r.getString(1), r.getString(2))
      val cur = spark.table(tbl).select(col(idCol))
      val dropped = prev.join(cur, Seq(idCol), "left_anti")
        .select(col(idCol), lit(idx).cast("long").as("stage_idx"),
          lit(name).as("stage"))
      prev = cur
      dropped
    }
    parts.reduce(_.unionByName(_))
  }
}
