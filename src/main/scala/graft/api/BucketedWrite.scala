package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.graft.CatalogOps

/** Shared writer for persisted index layouts ([[Ann.saveBucketedCorpus]],
  * [[BandedLsh.saveSignatureIndex]]): a parquet table bucketed AND sorted on
  * the join keys, so downstream equi-joins on those keys read the table with
  * zero exchange — the bucketed scan satisfies the join's required
  * distribution by itself. Also the one staged-rewrite commit
  * ([[stage]] / [[swap]]) every in-place compaction of such a table runs. */
private[graft] object BucketedWrite {

  /** The managed-table directory of `table` in the CURRENT database —
    * `sessionState.catalog.defaultTablePath`, which honors `USE mydb`
    * (`<warehouse>/mydb.db/<name>`) and database-level locations. Never a
    * warehouse-root string concat: under `USE mydb` that misses the real
    * directory (an orphaned scratch would pass the leftover probe, and a
    * staged overwrite could destroy the only copy of already-dropped
    * rows) and can match a stale same-named root directory. With an
    * in-memory catalog a registration dies with the JVM but this
    * directory survives; every probe of it goes through here. */
  def tableDir(spark: SparkSession, table: String): Path =
    new Path(spark.sessionState.catalog.defaultTablePath(
      TableIdentifier(table.toLowerCase)))

  private def tableDirExists(spark: SparkSession, table: String): Boolean = {
    val loc = tableDir(spark, table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(loc)
  }

  /** DROP TABLE plus [[tableDir]] cleanup: CREATE refuses an orphaned
    * location, so a table whose registration died must lose its
    * directory too (best-effort, unqualified names only). */
  def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (!table.contains('.')) {
      val loc = tableDir(spark, table)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** True if `name` survives as a catalog entry OR a warehouse directory —
    * the leftover-scratch probe every staged commit refuses on. An
    * interrupted run in a dead JVM leaves the files but not the
    * (in-memory) catalog entry, so the directory must be checked too. */
  def scratchLeftover(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name) || tableDirExists(spark, name)

  /** Ensure `table` is registered: keep an existing entry, else
    * re-register a surviving [[tableDir]] as an external parquet table.
    * The one recovery primitive shared by
    * [[StagedPipeline.recoverFromWarehouse]] and
    * [[IncrementalCuration.recoverFromWarehouse]] — one owner, so the two
    * resume paths can never diverge. Returns true iff the table is
    * registered on exit (false = no entry and no directory). */
  def ensureRegistered(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table) || (tableDirExists(spark, table) && {
      spark.catalog.createTable(table, tableDir(spark, table).toString, "parquet")
      true
    })

  /** The bucket spec `table`'s catalog registration carries — None for a
    * plain table, and for a bucketed one whose registration was recovered
    * from its warehouse directory (the in-memory catalog keeps no spec
    * across a restart). */
  def bucketSpec(spark: SparkSession, table: String): Option[BucketSpec] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec

  // ---- the staged rewrite ------------------------------------------------
  // Every in-place compaction of a persisted state table commits the same
  // way: refuse a leftover scratch, write the survivors in full to
  // `<live>_compact_tmp` ([[stage]]), then drop the live table and rename
  // the scratch into place ([[swap]]). Before the swap the live table is
  // untouched (drop the scratch, re-run); inside it the scratch holds the
  // only copy, and the refusal names the RENAME that completes the commit.
  // Callers own only what survives and, across several tables, the order
  // of their swaps (their crash contract): [[BandedLsh.compactSignatureIndex]],
  // [[Dedup.compactGramIndex]], [[IncrementalCuration.compactState]] and
  // [[IncrementalCuration.takedownState]].

  /** The staging scratch of live table `live`. */
  def scratchOf(live: String): String = s"${live}_compact_tmp"

  /** Refuse to rewrite `live` while its scratch survives: the scratch may
    * hold the only copy of a table whose swap was cut. Multi-table callers
    * run this for every table they will rewrite before their first
    * mutation; [[stage]] runs it again for its own table.
    *
    * Both named recovery steps need the scratch registered. A restart
    * (in-memory catalog) keeps only its directory, so a refusal first
    * re-registers that directory as a MANAGED table: DROP then deletes its
    * files, and RENAME moves them to `live`'s own directory — an external
    * registration would leave `live` reading the scratch directory, which
    * the next compaction refuses as a leftover. A directory with no
    * readable parquet (a cut `stage` write) cannot be registered, so DROP
    * cannot reach it: the refusal names the directory to delete instead.
    * Such a scratch never held the only copy — the swap runs only after
    * the stage write completed. */
  def refuseLeftover(spark: SparkSession, live: String): Unit = {
    val scratch = scratchOf(live)
    if (scratchLeftover(spark, scratch)) {
      val dir = tableDir(spark, scratch)
      val registered = spark.catalog.tableExists(scratch) ||
        scala.util.Try(CatalogOps.registerManaged(spark, scratch, dir)).isSuccess
      val interrupted = s"$scratch exists: a prior compaction of '$live' was interrupted. "
      throw new IllegalArgumentException(
        if (registered)
          interrupted + s"If '$live' still exists, DROP the scratch and re-run; if only " +
            "the scratch survives (crash inside the swap), " +
            s"ALTER TABLE $scratch RENAME TO $live completes the commit."
        else
          interrupted + "Its directory holds no readable table (a cut write): " +
            s"delete the directory $dir and re-run.")
    }
  }

  /** Write `survivors(live table)` in full to [[scratchOf]]`(live)`, in
    * the live table's layout: the registration's bucket spec; if the
    * registration has lost it ([[bucketSpec]]), the caller's `fallback`
    * (bucket count, bucket keys) when it knows one; else plain parquet —
    * the layout a recovered session already reads. The live table is read
    * only after the leftover refusal, so a cut swap (live table gone)
    * reports its recovery, not a missing table. */
  def stage(spark: SparkSession, live: String,
            fallback: Option[(Int, Seq[String])] = None)
           (survivors: DataFrame => DataFrame): Unit = {
    refuseLeftover(spark, live)
    val df = survivors(spark.table(live))
    bucketSpec(spark, live).map(s => (s.numBuckets, s.bucketColumnNames.toSeq))
      .orElse(fallback) match {
      case Some((n, keys)) => saveBucketed(df, scratchOf(live), n, keys)
      case None => df.write.format("parquet").saveAsTable(scratchOf(live))
    }
  }

  /** The commit point of a [[stage]]d rewrite: drop `live`, rename its
    * scratch into place. */
  def swap(spark: SparkSession, live: String): Unit = {
    dropTable(spark, live)
    spark.sql(s"ALTER TABLE `${scratchOf(live)}` RENAME TO `$live`")
  }

  /** Strict-width-by-bytes staging for bucketed writes (guide §6: output
    * files in the 128 MB–1 GB range; §2.2: fewer, larger blocks). A
    * bucketed write emits one file per (input task × bucket present), so
    * an un-repartitioned write at `spark.sql.shuffle.partitions = 32`
    * over `numBuckets = 8` lays down up to 256 files per generation for
    * kilobytes of data — measured 1280 files / 11 MB on one day-2 gram
    * index at sf0.1, and every later scan (every probe, every flag
    * derivation, every compaction) pays that listing + open floor; at
    * 100 TB on an object store the same shape is the small-files
    * pathology outright. The fix is a BUCKET-ALIGNED strict repartition
    * sized by the frame's estimated bytes, never by the session's core
    * count: width = numBuckets × ceil(chunks / numBuckets) where chunks
    * ≈ bytes / 128 MB — at toy scale that is exactly numBuckets files
    * (one per bucket, which also lets the bucketed scan report its sort
    * order: Spark only trusts per-bucket ordering at one file per
    * bucket), at real scale it is ~128 MB files and a write parallelism
    * that grows with the data. Aligned means numBuckets divides the
    * width, so each write task holds exactly ONE bucket (repartition and
    * the bucket spec share the Murmur3 `hash(keys) pmod w` family).
    * When the plan's size estimate is unusable (joins can inflate to
    * Long.MaxValue), fall back to the session's shuffle width rounded up
    * to bucket alignment — the pre-fix parallelism, still ≥4× fewer
    * files. */
  def bucketAlignedWidth(df: DataFrame, numBuckets: Int): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = 128L * 1024 * 1024
    val sp = SparkEnv.shufflePartitions(df.sparkSession)
    val chunks =
      if (est <= 0 || est >= BigInt(Long.MaxValue) / 4) sp.toLong
      else math.min(1L << 20, (est / target).toLong + 1L)
    val m = math.max(1L, (chunks + numBuckets - 1) / numBuckets)
    (numBuckets * m).toInt
  }

  def saveBucketed(df: DataFrame, table: String, numBuckets: Int,
                   keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    dropTable(spark, table)
    df.repartition(bucketAlignedWidth(df, numBuckets), keys.map(df.col): _*)
      .write.format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** The same strict-width staging for APPENDS into an existing bucketed
    * table (each insertInto generation otherwise multiplies files the
    * same way). No-op for non-bucketed tables. */
  def alignedForInsert(df: DataFrame, table: String): DataFrame =
    bucketSpec(df.sparkSession, table) match {
      case Some(spec) =>
        df.repartition(bucketAlignedWidth(df, spec.numBuckets),
          spec.bucketColumnNames.map(df.col): _*)
      case None => df
    }
}
