package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope validator — NOT part of the driver contract (dev tool, like
  * [[Scratch]]). The sf0.1 bench proves correctness and per-query absolute
  * cost; this main measures how the HEAVY operator family scales when the
  * corpus grows 3×/10×/30×, to confirm the docs/SCALE.md claims empirically:
  *
  *   - banded near-dup mining ~ linear in rows (pair output held linear by
  *     construction, see cipher note below);
  *   - signature-index build = fixed catalog/commit cost + linear banding;
  *   - index probe with a FIXED batch ~ flat-ish (grows only with the
  *     index scan, no shuffle on the corpus side);
  *   - semantic dedup ~ linear when nClusters scales with n (the documented
  *     recipe — Σ|cell|² stays linear only if |cell| is held constant);
  *   - IVF-PQ ~ linear at fixed (nlist, nprobe): encode is linear, search
  *     scans a fixed nprobe/nlist fraction;
  *   - distributed clustering ~ linear in edges at constant diameter
  *     (replication preserves per-replica cluster diameter);
  *   - README per-seed UNION idiom vs the posexplode scale idiom vs the
  *     fused operator: identical pair sets (same band family), measured
  *     head-to-head for the crossover note.
  *
  * Fixture scaling is deterministic and structure-preserving:
  *
  *   - documents ×k = k replicas; replica r's text goes through a keyed
  *     substitution cipher (Fisher–Yates permutation of [a-zA-Z0-9] seeded
  *     by r; r=0 is identity). Within a replica every text maps through the
  *     SAME permutation, so the intra-replica near-dup structure (shingle
  *     overlaps, Jaccard values) is preserved EXACTLY; across replicas the
  *     letter 4-grams are remapped, so cross-replica collisions vanish and
  *     the true pair count is exactly k × base — the denominator a linear
  *     slope claim needs. (A rotation cipher would collide at r ≡ r' mod 26;
  *     seeded permutations don't.)
  *   - embeddings ×k = k replicas; replica r's vector is rotated by
  *     (r·7 mod 64) dimensions — norm- and intra-replica-geometry-
  *     preserving, decorrelated across replicas.
  *
  * Usage: runMain graft.ScaleBench [scales=1,3,10,30] [ops=op1,op2,...]
  * Writes scaled fixtures under /tmp/graft-scale/x{k}/ (reused if present)
  * and prints one result line per (op, scale): seconds + output rows.
  */
object ScaleBench {

  private val Alphabet = ('a' to 'z').mkString + ('A' to 'Z').mkString + ('0' to '9').mkString

  /** Seeded Fisher–Yates permutation of the cipher alphabet; r=0 = identity. */
  private def cipherTo(r: Int): String = {
    if (r == 0) return Alphabet
    val arr = Alphabet.toCharArray
    val rnd = new java.util.Random(0x5ca1eL * 1000003L + r)
    var i = arr.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    new String(arr)
  }

  private val Stride = 10000000L

  /** Total part-file count across a prefix's incremental state tables —
    * the generation-debt signal the day-N scenario reports (every admit
    * appends one generation of files per table; compaction folds them). */
  private def stateFileCount(spark: SparkSession, prefix: String): Long =
    api.IncrementalCuration.stateTables(prefix).map { t =>
      val loc = api.BucketedWrite.tableDir(spark, t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(loc)) 0L
      else {
        val it = fs.listFiles(loc, true)
        var n = 0L
        while (it.hasNext) {
          if (it.next().getPath.getName.startsWith("part-")) n += 1
        }
        n
      }
    }.sum

  private def scaledDocs(spark: SparkSession, base: DataFrame, k: Int): DataFrame = {
    val reps = (0 until k).map { r =>
      base.select(
        (col("doc_id") + lit(r * Stride)).as("doc_id"),
        (if (r == 0) col("text") else translate(col("text"), Alphabet, cipherTo(r))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    reps.reduce(_.unionAll(_))
  }

  private def scaledEmbeddings(spark: SparkSession, base: DataFrame, k: Int): DataFrame = {
    val reps = (0 until k).map { r =>
      val off = (r * 7) % 64
      val rotated =
        if (off == 0) col("embedding")
        else expr(s"concat(slice(embedding, ${off + 1}, size(embedding)), slice(embedding, 1, $off))")
      base.select(
        (col("vec_id") + lit(r * Stride)).as("vec_id"),
        rotated.cast("array<float>").as("embedding"),
        col("label"))
    }
    reps.reduce(_.unionAll(_))
  }

  private def ensureFixtures(spark: SparkSession, baseDir: String, k: Int): String = {
    val dir = s"/tmp/graft-scale/x$k"
    val done = new java.io.File(s"$dir/_DONE")
    if (!done.exists()) {
      scaledDocs(spark, spark.read.parquet(s"$baseDir/documents.parquet"), k)
        .repartition(32).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      scaledEmbeddings(spark, spark.read.parquet(s"$baseDir/embeddings.parquet"), k)
        .repartition(32).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      done.getParentFile.mkdirs(); done.createNewFile()
    }
    dir
  }

  /** README.md:150-164 verbatim pattern at production banding: one join per
    * band on `element_at(lsh_min(text, 4, 8, 3, 42), i)`, UNION across the 8
    * bands, exact-jaccard filter. Same band family as the scale idiom, so
    * the pair set is identical — only the plan shape differs (8 self-joins
    * each shuffling full texts, vs one ids-only posexplode join). */
  private def unionIdiomSql(bands: Int): String =
    (1 to bands).map { i =>
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM sdocs a JOIN sdocs b
         |  ON element_at(lsh_min(a.text, 4, 8, 3, 42), $i) =
         |     element_at(lsh_min(b.text, 4, 8, 3, 42), $i)
         |WHERE a.doc_id < b.doc_id AND lsh_jaccard(a.text, b.text, 4) > 0.6""".stripMargin
    }.mkString("\nUNION\n")

  def main(args: Array[String]): Unit = {
    val scales = args.find(_.startsWith("scales="))
      .map(_.stripPrefix("scales=").split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 3, 10, 30))
    val opsFilter = args.find(_.startsWith("ops="))
      .map(_.stripPrefix("ops=").split(",").toSet)

    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse-scale")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.LshFunctions.register(spark)

    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dirs = scales.map(k => k -> ensureFixtures(spark, baseDir, k)).toMap

    def docs(k: Int) = spark.read.parquet(s"${dirs(k)}/documents.parquet")
    def emb(k: Int)  = spark.read.parquet(s"${dirs(k)}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))

    // Each op returns the output row count (the forcing action); -1 = no
    // natural count (index build). `k` parameterizes data AND, where the
    // documented recipe says so, the operator knobs (nClusters ∝ n).
    val ops: Seq[(String, Int => Long)] = Seq[(String, Int => Long)](
      "minhash_pairs" -> { (k: Int) =>
        api.BandedLsh.nearDupPairs(docs(k), "doc_id", "text", 4, 8, 3, 42L, 0.6).count()
      },
      "union_idiom" -> { (k: Int) =>
        docs(k).createOrReplaceTempView("sdocs")
        spark.sql(unionIdiomSql(8)).count()
      },
      "fused_idiom" -> { (k: Int) =>
        api.BandedLsh.bandedSelfJoinPairs(docs(k), "doc_id", "text",
          ngramWidth = 4, bandCount = 8, bandSize = 3, seeds = Seq(42L), threshold = 0.6).count()
      },
      "index_build" -> { (k: Int) =>
        val t = s"scale_idx_x$k"
        Seq(t, s"${t}_hot", s"${t}_meta").foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
        api.BandedLsh.saveSignatureIndex(docs(k), t, 8, "doc_id", "text", 4, 8, 3, 123L)
        -1L
      },
      "index_probe" -> { (k: Int) =>
        // fixed 500-doc batch (base replica) against the ×k index; corpus df
        // re-attaches texts on the already-collided ids only
        api.BandedLsh.nearDupAgainstIndex(s"scale_idx_x$k", docs(k),
          docs(k).filter(col("doc_id") < 500), "doc_id", "text", 4, 8, 3, 123L, 0.35).count()
      },
      "semantic_dedup" -> { (k: Int) =>
        // nClusters ∝ n: the documented scale recipe (holds |cell| constant
        // so Σ|cell|² stays linear)
        api.SemanticDedup.semanticDedup(emb(k), nClusters = 16 * k, tau = 0.35, seed = 7L).count()
      },
      "ann_ivfpq" -> { (k: Int) =>
        // fixed (nlist, nprobe): search scans a fixed fraction of the corpus,
        // encode is linear — overall linear is the claim
        // replica-0 ids < 50: present at every scale (replica 0 is identity)
        val queries = emb(k).filter(col("vec_id") < 50)
        api.Ann.ivfPqTopK(emb(k), queries, k = 10,
          nlist = 32, nprobe = 8, m = 8, ksub = 16, seed = 11L).count()
      },
      // diagnostic: candidate-pair census straight from bucket sizes —
      // Σ C(n,2) over (band, band_hash) buckets — without materializing a
      // single pair. This is how the ×100 blowup below was localized.
      "census" -> { (k: Int) =>
        val c = api.BandedLsh.bandedRows(docs(k), "doc_id", "text", 4, 8, 3, 42L)
          .groupBy("band", "band_hash").count()
        val a = c.agg(sum(col("count") * (col("count") - 1) / 2).as("pairs"),
          max("count").as("maxb"), count(lit(1)).as("buckets")).collect()(0)
        println(s"  census x$k: candidatePairs=${a.get(0)} maxBucket=${a.get(1)} buckets=${a.get(2)}")
        c.orderBy(col("count").desc).limit(5).collect()
          .foreach(r => println(s"  top bucket band=${r.get(0)} hash=${r.get(1)} n=${r.get(2)}"))
        0L
      },
      // census-routed near-dup mining: one block below the candidate
      // budget, numBlocks above it (the mega-bucket protection)
      "adaptive" -> { (k: Int) =>
        api.BandedLsh.nearDupPairsAdaptive(docs(k), "doc_id", "text", 4, 8, 3, 42L, 0.6).count()
      },
      // decontamination with a FIXED bench (2% of the base replica) vs the
      // ×k corpus: both paths scan+shingle linearly; the cipher decorrelates
      // replicas 1..k-1 from the bench's shingle set, so the bloom filter
      // prunes them map-side and the join/agg work stays ~flat while the
      // exact path's broadcast-join probe volume grows with the corpus.
      // bench drawn from the BASE fixture (= replica 0 at every scale), not
      // dirs(1) — the ×1 fixture only exists when scale 1 was requested
      "contam_exact" -> { (k: Int) =>
        val bench = api.Sampling.sampleByHash(
          spark.read.parquet(s"$baseDir/documents.parquet"), "doc_id", 0.02, 99L)
        api.Contamination.sharedNgrams(docs(k), bench, "doc_id", "text", 8, 50L,
          corpusParallelism = Some(32)).count()
      },
      "contam_bloom" -> { (k: Int) =>
        val bench = api.Sampling.sampleByHash(
          spark.read.parquet(s"$baseDir/documents.parquet"), "doc_id", 0.02, 99L)
        api.Contamination.sharedNgramsBloomPruned(docs(k), bench, "doc_id", "text",
          8, 50L, log2m = 20, k = 5, corpusParallelism = Some(32)).count()
      },
      // duplicate-span mining: gram explode + min/max agg + semi join all
      // linear in tokens; island merge is per-doc. NOTE the cipher remaps
      // letters to digits/case, so replica token boundaries (and with them
      // the exact span count) shift vs base — intra-replica duplicate
      // structure stays self-consistent, and RUNTIME linearity is the claim
      // under test, not an exact k× row count.
      "dup_spans" -> { (k: Int) =>
        api.Dedup.dupSpans(docs(k), "doc_id", "text", width = 8).count()
      },
      // Lee et al.'s full any-second-occurrence rule: same one-exchange
      // aggregate as dup_spans with count>=2 instead of min!=max — claim:
      // identical shape, output grows with intra-replica repeats
      "dup_spans_within" -> { (k: Int) =>
        api.Dedup.dupSpans(docs(k), "doc_id", "text", width = 8,
          crossDocOnly = false).count()
      },
      // the same mining through the byte-BPE tokenizer (token_count_bpe's
      // merge list): answers whether BPE tokenization turns the pass
      // CPU-bound — expected linear with a larger constant (the merge loop
      // is ~50x a regex split per token, all map-side before the exchange)
      "dup_spans_bpe" -> { (k: Int) =>
        // SparkEntry.BpeMerges, not a copy: the benchmark must measure the
        // exact tokenizer the dup_span_detect_bpe gate verifies
        api.Dedup.dupSpans(docs(k), "doc_id", "text", width = 8,
          tokenize = api.Tokenizers.bpe(SparkEntry.BpeMerges)).count()
      },
      // the destructive edit adds a second corpus pass (token filter +
      // rebuild) and a sparse spans join on top of dup_spans — claim:
      // same ~linear regime, roughly 2x the mining cost. Forcing action is
      // a sum over the REBUILT text: a bare count() lets Catalyst eliminate
      // the distinct-keyed left join and measures a row-count scan.
      "span_cut" -> { (k: Int) =>
        api.Dedup.cutDupSpans(docs(k), "doc_id", "text", width = 8)
          .agg(sum(length(col("text")))).head().getLong(0)
      },
      // the layout-preserving char-range cut (round 13): same mining as
      // span_cut, the WordCutSpans byte-scan rebuild instead of the
      // canonical token re-join — claim: identical regime (the rebuild is
      // a per-row codegen'd pass either way)
      "span_cut_exact" -> { (k: Int) =>
        api.Dedup.cutDupSpansExact(docs(k), "doc_id", "text", width = 8)
          .agg(sum(length(col("text")))).head().getLong(0)
      },
      // the byte-level BPE cut (round 12): dup_spans_bpe's mining plus the
      // bpe_cut rebuild pass — claim: same linear regime as span_cut with
      // the BPE constant (the merge loop runs twice per doc: mine + cut)
      "span_cut_bpe" -> { (k: Int) =>
        api.Dedup.cutDupSpansBpe(docs(k), "doc_id", "text", width = 8,
            merges = SparkEntry.BpeMerges)
          .agg(sum(length(col("text")))).head().getLong(0)
      },
      // token-SPAN decontamination vs a FIXED benchmark (round 12): the
      // corpus gram stream is flagged through a broadcast semi-join (no
      // corpus shuffle) and only flagged positions reach the island merge
      // — claim: linear corpus scan, exchange volume bounded by actual
      // contamination (the cipher decorrelates replicas from the bench, so
      // flagged mass stays ~constant while the corpus grows)
      "contam_spans" -> { (k: Int) =>
        val bench = spark.read.parquet(s"$baseDir/documents.parquet")
          .filter(col("doc_id") % 50 === 0)
        api.Contamination.contaminatedSpans(docs(k)
            .filter(col("doc_id") % 50 =!= 0), bench,
            "doc_id", "text", width = 8).count()
      },
      "contam_span_cut" -> { (k: Int) =>
        val bench = spark.read.parquet(s"$baseDir/documents.parquet")
          .filter(col("doc_id") % 50 === 0)
        api.Contamination.cutContaminatedSpans(docs(k)
            .filter(col("doc_id") % 50 =!= 0), bench,
            "doc_id", "text", width = 8)
          .agg(sum(length(col("text")))).head().getLong(0)
      },
      // incremental span mining (round 13): build the gram index on the
      // ×k corpus (setup, untimed), then admit a FIXED base-sized batch
      // (fresh id range, identity text so it collides with replica 0) and
      // read the spans. Claim: the per-ingest cost is the batch's own
      // mining + one column-pruned index scan — it must grow far slower
      // than dup_spans' full re-mine of the union (the regime this index
      // replaces for rolling corpora)
      "span_index_append" -> { (k: Int) =>
        val t = s"scale_gram_x$k"
        api.Dedup.saveGramIndex(docs(k), t, 32, "doc_id", "text", width = 8)
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .select((col("doc_id") + lit(9990000000L)).as("doc_id"), col("text"))
        val t0 = System.nanoTime()
        api.Dedup.appendToGramIndex(batch, t, "doc_id", "text", width = 8)
        val n = api.Dedup.dupSpansFromIndex(spark, t).count()
        println(f"  append+detect x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($n spans)")
        n
      },
      // embedding decontamination, both shapes, FIXED 500-vector bench
      // (the full base replica) vs the ×k corpus. The NLJ pays
      // |corpus|×|bench| cosines; the ANN form pays |corpus|×(nlist
      // centroid distances + the probed cells' shortlist cosines,
      // ~|bench|·nprobe/nlist) — both linear in k at fixed bench, but the
      // ANN constant is ~nlist/|bench|+nprobe/nlist of the NLJ's, which is
      // the whole point at |bench| = 10⁵+ (here 500: expect ~3-5×)
      "contam_embed_nlj" -> { (k: Int) =>
        val bench = spark.read.parquet(s"$baseDir/embeddings.parquet")
        api.Contamination.embedOverlap(emb(k), bench, tau = 0.25).count()
      },
      "contam_embed_ann" -> { (k: Int) =>
        val bench = spark.read.parquet(s"$baseDir/embeddings.parquet")
        api.Contamination.embedOverlapAnn(emb(k), bench, tau = 0.25,
          nlist = 16, nprobe = 2, seed = 101L).count()
      },
      // IVF-PQ drift repair (round 12): fit+save+append a FIXED drift mode
      // (setup, untimed claim) then rebalance — claim: the repair is
      // drifted-row-bound, not corpus-bound — health is one count-only
      // aggregation, the vector pull is a partition-pruned codes scan
      // joined to a column-pruned corpus scan, and the rewrite touches
      // only ballooned partitions, so cost stays ~flat as the corpus grows
      // under constant drift
      // line-frequency boilerplate removal (round 12): lines as
      // (doc_id, pos, hash) triples through one (lh, doc)-keyed exchange +
      // a broadcast semi-join + a positions-only rebuild join — claim:
      // linear in lines, text never hash-shuffles (plan-pinned). The
      // planted header/footer lands on every replica (appended after the
      // cipher), so the flagged set is constant while the corpus grows.
      "boiler_lines" -> { (k: Int) =>
        val src = docs(k).select(col("doc_id"), concat(
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter\n"))
            .otherwise(lit("")),
          regexp_replace(col("text"), " the ", "\n"),
          when(col("doc_id") % 4 === 0, lit("\nall rights reserved"))
            .otherwise(lit(""))).as("text"))
        api.Dedup.dropBoilerplateLines(src, "doc_id", "text", minDocs = 100L)
          .agg(sum(length(col("text")))).head().getLong(0)
      },
      // IVF-PQ drift repair (round 12): rebalance is NOT idempotent (a
      // repaired table has nothing ballooned), so each invocation rebuilds
      // the drifted state fresh and prints its OWN rebalance-only seconds
      // (the framework's cell time includes the fit+append setup, which is
      // corpus-bound by design). Claim: the repair itself is
      // drifted-row-bound, not corpus-bound — health is one count-only
      // aggregation, the vector pull is a partition-pruned codes scan
      // joined to a column-pruned corpus scan, and the rewrite touches
      // only ballooned partitions — so rebalance-only stays ~flat as the
      // corpus grows under constant drift.
      "ann_rebalance" -> { (k: Int) =>
        val t = s"scale_reb_x$k"
        Seq(s"${t}_codes", s"${t}_model", s"${t}_rebalance_tmp")
          .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
        val idx = api.Ann.fitIvfPq(emb(k), nlist = 32, m = 8, ksub = 16,
          seed = 11L, iters = 5)
        api.Ann.saveIvfPqIndex(idx, t)
        val drift = emb(k).filter(col("vec_id") < 5)
          .crossJoin(spark.range(1, 61).select(col("id").as("__rep")))
          .select((col("vec_id") + col("__rep") * 10000000000L).as("vec_id"),
            transform(col("embedding"),
              x => x + lit(3.0) + col("__rep").cast("double") * lit(0.05)).as("embedding"))
        api.Ann.appendToIvfPqIndex(drift, t)
        val t0 = System.nanoTime()
        val repaired = api.Ann.rebalanceIvfPqCells(emb(k).unionByName(drift), t,
          seed = 77L, maxSkew = 1.5).count()
        println(f"  rebalance-only x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($repaired cells repaired)")
        repaired
      },
      // the complementary STARVATION repair (round 13): same setup shape
      // as ann_rebalance but the drift is a big concentrated append that
      // leaves the original cells relatively starved — claim: merge-only
      // cost is starved-row-bound (health agg + partition-pruned pull of
      // the starved cells' rows + one bounded rewrite), ~flat as the
      // corpus grows under constant starved mass
      "ann_merge" -> { (k: Int) =>
        val t = s"scale_mrg_x$k"
        Seq(s"${t}_codes", s"${t}_model", s"${t}_rebalance_tmp")
          .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
        val idx = api.Ann.fitIvfPq(emb(k), nlist = 32, m = 8, ksub = 16,
          seed = 11L, iters = 5)
        api.Ann.saveIvfPqIndex(idx, t)
        val drift = emb(k).filter(col("vec_id") < 3)
          .crossJoin(spark.range(1, 201).select(col("id").as("__rep")))
          .select((col("vec_id") + col("__rep") * 10000000000L).as("vec_id"),
            transform(col("embedding"),
              x => x + lit(3.0) + col("__rep").cast("double") * lit(0.05)).as("embedding"))
        api.Ann.appendToIvfPqIndex(drift, t)
        val t0 = System.nanoTime()
        val merged = api.Ann.mergeStarvedIvfPqCells(emb(k).unionByName(drift), t,
          minSkew = 0.3).count()
        println(f"  merge-only x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($merged cells retired)")
        merged
      },
      // the topk_by claim measured: per-language top-100 docs by n_chars.
      // The corpus has 3 languages, so the window shuffles ALL ×k rows
      // into 3 hot partitions and sorts them; the heap aggregate folds
      // map-side and ships ≤ 100 entries per (lang, task). Same output.
      // whole-doc NFD packing: the (class, bucket) rank window + the
      // per-bin offset window + a capacity-bounded histogram walk on the
      // driver — claim: linear in rows, driver cost flat. Forcing action
      // sums bin_offset: a bare count() lets Catalyst ELIMINATE the
      // offset window (the span_cut measurement trap again)
      "pack_nfd" -> { (k: Int) =>
        api.Packing.packDocsNextFit(docs(k), "doc_id",
            size(split(trim(col("text")), "\\s+")).cast("long"), 256L, 21L)
          .agg(sum(col("bin_offset")), count(lit(1))).head().getLong(1)
      },
      // the assign_row_ids claim, head-to-head like the topk pair: the
      // naive ROW_NUMBER() over a global ORDER BY funnels every row
      // through ONE reducer task; the two-level decomposition holds the
      // same result with a buckets-way parallel window. The corpus
      // fixture's ≤500k rows are below where the single reducer bites, so
      // the pair runs on ×k·2M synthetic (id, key) rows — this operator
      // is pure id/key/value work, so the synthetic input tests exactly
      // what the corpus one would, at a row count where the claim lives
      // (×100 = 200M rows). Forcing action sums the ids — a correctness
      // cross-check too (both must give N(N−1)/2 — and count() would let
      // Catalyst prune the window entirely).
      "row_ids_global" -> { (k: Int) =>
        val rows = spark.range(k * 2000000L).select(col("id"),
          pmod(col("id") * 2654435761L, lit(10000L)).as("key"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("key").desc, col("id").asc)
        rows.withColumn("row_id", row_number().over(w).cast("long") - 1L)
          .agg(sum(col("row_id"))).head().getLong(0)
      },
      "row_ids_bucketed" -> { (k: Int) =>
        val rows = spark.range(k * 2000000L).select(col("id"),
          pmod(col("id") * 2654435761L, lit(10000L)).as("key"))
        api.Packing.assignRowIds(rows, "id",
            col("key").cast("double") * lit(-1.0), buckets = 128)
          .agg(sum(col("row_id"))).head().getLong(0)
      },
      "topk_window" -> { (k: Int) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id").asc)
        docs(k).withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 100).count()
      },
      "topk_heap" -> { (k: Int) =>
        docs(k).groupBy("lang")
          .agg(graft.functions.topk_by(col("n_chars").cast("double"),
            col("doc_id"), 100).as("tk"))
          .select(col("lang"), explode(col("tk")))
          .count()
      },
      "clusters_distributed" -> { (k: Int) =>
        val pairs = api.BandedLsh.nearDupPairsAdaptive(docs(k), "doc_id", "text", 4, 8, 3, 42L, 0.6)
          .select("id_a", "id_b")
        api.BandedLsh.dupClusters(pairs, maxIters = 15, driverThreshold = 0L).count()
      },
      // BPE vocabulary training: one word-count aggregate (linear scan,
      // map-side combined), TakeOrdered dict cut bounded by vocabCap, and
      // a corpus-size-INDEPENDENT driver merge loop — wall should be
      // scan-bound, near-flat on 32 threads. The cipher multiplies the
      // word vocabulary ×k but the dict cut keeps driver state at 2048
      // either way.
      "bpe_train" -> { (k: Int) =>
        api.BpeTrain.trainBpe(docs(k), "text", 48, vocabCap = 2048).size.toLong
      },
      // NB quality classifier: two class-count scans + two bucket
      // aggregates (model = 1024 doubles, constant) + one scoring pass —
      // all linear, zero corpus shuffle. Forcing action sums the score:
      // count() would let Catalyst prune the fold (the span_cut trap).
      "nb_quality" -> { (k: Int) =>
        val scored = api.QualityClassifier.trainScore(docs(k), "text",
          col("source").isin("src0", "src1"), buckets = 1024)
        scored.agg(sum(col("nb_score"))).collect()
        scored.count()
      },
      // CCNet perplexity tiling: the bigram LM (linear aggregates +
      // Heaps-sparse bigram table) + one per-language window sort.
      // Forcing action sums the bucket column — count() prunes the window.
      "ppl_buckets" -> { (k: Int) =>
        val d = docs(k)
        val scored = api.TextAnalysis.docLogProbBigram(d)
          .join(d.select("doc_id", "lang"), "doc_id")
        val t = api.TextAnalysis.perplexityBuckets(scored, "lang", "avg_nll2")
        t.agg(sum(col("ppl_bucket"))).collect()
        t.count()
      },
      // edit-verified record linkage on ×k customers (cipher-replicated
      // inline — names decorrelate across replicas, so candidates = k ×
      // base): ids-only band join + distinct + broadcast attach + one DP
      // per unique pair — linear in candidates. Heavy per unit (the
      // near-uniform key space admits ~17% of intra-replica pairs, see
      // editVerifiedPairs scaladoc); measure to ×10.
      "edit_pairs" -> { (k: Int) =>
        val base = spark.read.parquet(s"$baseDir/customer.parquet")
          .select("c_custkey", "c_name")
        val scaled = (0 until k).map { r =>
          base.select((col("c_custkey") + lit(r * Stride)).as("c_custkey"),
            (if (r == 0) col("c_name")
             else translate(col("c_name"), Alphabet, cipherTo(r))).as("c_name"))
        }.reduce(_.unionAll(_))
        api.BandedLsh.editVerifiedPairs(scaled, "c_custkey", "c_name",
          2, 4, 6, 5L, 0.9).count()
      },
      // DSIR importance resampling: two bucket-bounded fit aggregates
      // (target = the en slice, ratio table = 1024 doubles on the driver),
      // one scoring pass (sequential fold inside the scan), and a global
      // top-k via TakeOrderedAndProject — everything linear, no corpus
      // shuffle. collect() of the k selected rows is the forcing action
      // (runs the whole fit+score+draw chain exactly once).
      "dsir" -> { (k: Int) =>
        val d = docs(k)
        api.Sampling.dsirResample(d, d.filter(col("lang") === "en"),
            "doc_id", "text", k = 100, buckets = 1024, seed = 7L)
          .select("logw").collect().length.toLong
      },
      // Gram-index retention compaction: build once per scale (untimed
      // work folded in — the scenario times the LIFECYCLE a retention
      // delete pays), then compact 10% of ids out. Compaction = one
      // bucketed anti-join rewrite of the triples + the flag window over
      // the bucketed scratch (no exchange) — linear in index size,
      // corpus text never read.
      "span_index_compact" -> { (k: Int) =>
        val table = s"scale_gramc_x$k"
        api.Dedup.saveGramIndex(docs(k), table, 32, "doc_id", "text", width = 8)
        val t0 = System.nanoTime()
        api.Dedup.compactGramIndex(spark, table,
          docs(k).select("doc_id").filter(col("doc_id") % 10 === 0), width = 8)
        val n = api.Dedup.dupSpansFromIndex(spark, table).count()
        println(f"  compact+detect x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($n spans)")
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"DROP TABLE IF EXISTS ${table}_flags")
        n
      },
      // ANN retention compaction: fit+save at ×k is setup (corpus-bound
      // by design, outside the inner timer); the deletion set is FIXED
      // and CLUSTERED (base-replica ids < 64 — "one entity's vectors",
      // the GDPR shape), so the claim is isolated: compact-only = one
      // ids-only codes-column scan (linear, cheap) + an anti-join rewrite
      // of ONLY the partitions holding deleted rows — bounded by the
      // deletion's cell spread, not the corpus. A SCATTERED corpus-wide
      // takedown degrades gracefully to one codes-table rewrite (still
      // never a refit, never a corpus pass).
      "ann_compact" -> { (k: Int) =>
        val t = s"scale_annc_x$k"
        Seq(s"${t}_codes", s"${t}_model", s"${t}_rebalance_tmp")
          .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
        api.Ann.saveIvfPqIndex(api.Ann.fitIvfPq(emb(k), nlist = 32, m = 8,
          ksub = 16, seed = 11L, iters = 5), t)
        val del = emb(k).select("vec_id").filter(col("vec_id") < 64L)
        val t0 = System.nanoTime()
        val affected = api.Ann.compactIvfPqIndex(spark, t, del).count()
        println(f"  compact-only x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($affected cells affected)")
        affected
      },
      // corpusDiff's byHash claim made measurable: v2 = ×k docs with 10%
      // rewritten; the hash mode's full-outer join carries (id, 8 B)
      // while body mode re-shuffles the text columns — the shufMB column
      // is the whole story, the verdicts are identical (forced equal via
      // the changed-count checksum both return).
      "diff_hash" -> { (k: Int) =>
        val v2 = docs(k).withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        api.Dedup.corpusDiff(docs(k), v2, byHash = true)
          .filter(col("status") === "changed").count()
      },
      "diff_body" -> { (k: Int) =>
        val v2 = docs(k).withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        api.Dedup.corpusDiff(docs(k), v2, byHash = false)
          .filter(col("status") === "changed").count()
      },
      // Full reindex — the deliberately CORPUS-BOUND lifecycle step (fit
      // on a fresh seed + re-encode everything + swap): measured as the
      // baseline the whole maintenance family (append/repair/compact)
      // exists to avoid paying per ingest. Claim: linear in the corpus.
      "ann_reindex" -> { (k: Int) =>
        val t = s"scale_rx_x$k"
        Seq(s"${t}_codes", s"${t}_model", s"${t}_reindex_tmp")
          .foreach(n => api.BucketedWrite.dropTable(spark, n))
        api.Ann.saveIvfPqIndex(api.Ann.fitIvfPq(emb(k), nlist = 32, m = 8,
          ksub = 16, seed = 11L, iters = 5), t)
        val t0 = System.nanoTime()
        val cells = api.Ann.reindexIvfPq(emb(k), t, nlist = 32, m = 8,
          ksub = 16, seed = 13L, iters = 5).count()
        println(f"  reindex-only x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($cells cells)")
        cells
      },
      // Novelty-gated ingestion under a GROWING index, FIXED batch: fit +
      // save + raw-store write at ×k is setup; the inner timer is one
      // admit call on a 200-vector batch (half exact clones of indexed
      // vectors, half shifted novels). Claim: batch-bound — the ADC
      // search scans only the probed cells' partitions, the exact verify
      // is kCand·|batch| distances, the appends are the admitted rows —
      // never a corpus pass.
      "ann_novelty" -> { (k: Int) =>
        val t = s"scale_nov_x$k"
        val ct = s"scale_nov_corpus_x$k"
        // dropTable (not bare DROP IF EXISTS): the in-memory catalog dies
        // with the JVM but the warehouse dir persists, and saveAsTable
        // refuses the orphaned location on the next session
        Seq(s"${t}_codes", s"${t}_model", ct)
          .foreach(n => api.BucketedWrite.dropTable(spark, n))
        api.Ann.saveIvfPqIndex(api.Ann.fitIvfPq(emb(k), nlist = 32, m = 8,
          ksub = 16, seed = 11L, iters = 5), t)
        emb(k).write.format("parquet").mode("overwrite").saveAsTable(ct)
        val batch = emb(k).filter(col("vec_id") < 100)
          .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
          .unionByName(emb(k).filter(col("vec_id") < 100)
            .select((col("vec_id") + 910000000L).as("vec_id"),
              transform(col("embedding"), x => x + lit(7.5)).as("embedding")))
        val t0 = System.nanoTime()
        val admitted = api.Ann.admitNovelVectors(batch, t, ct,
            tau = 1e-6, nprobe = 4, kCand = 8)
          .filter(col("admitted")).count()
        println(f"  admit-only x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($admitted of 200 admitted)")
        admitted
      },
      // Signature-index retention compaction: build (cap=50 — the base
      // corpus's boilerplate clusters go hot; the cipher decorrelates
      // replicas, so bucket sizes and the hot key set stay base-bounded
      // as k grows) is setup; deletion = the base replica's %10 ids
      // (fixed under a growing corpus). compact-only = two ids-only
      // anti-join store rewrites — linear in index size, corpus text
      // never re-read (the alternative is a full re-hash rebuild, which
      // is corpus-bound).
      "sig_compact" -> { (k: Int) =>
        val t = s"scale_sigc_x$k"
        Seq(t, s"${t}_hot").flatMap(n => Seq(n, api.BucketedWrite.scratchOf(n)))
          .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
        api.BandedLsh.saveSignatureIndex(docs(k), t, 32, "doc_id", "text",
          4, 8, 3, 123L, hotBucketCap = 50)
        val del = docs(k).select("doc_id")
          .filter(col("doc_id") < Stride && col("doc_id") % 10 === 0)
        val t0 = System.nanoTime()
        val removed = api.BandedLsh.compactSignatureIndex(spark, t, del)
          .agg(coalesce(sum("removed_rows"), lit(0L))).head().getLong(0)
        println(f"  compact-only x$k: ${(System.nanoTime() - t0) / 1e9}%.1fs ($removed rows removed)")
        removed
      },
      // Per-domain curation family (round 15): planted URLs over ×k docs
      // (hosts per source × replica, so the host count grows with k while
      // per-host mass stays constant). Claim: all three ops are linear
      // scan+aggregate shapes — blocklist = suffix-explode (ids+suffixes
      // only) + broadcast semi + anti; URL dedup = ids+keys min aggregate
      // + semi join; quota = bounded-heap topk_by + ids semi join. No
      // text ever shuffles; no per-host window sort anywhere.
      // round 16 extends the chain with the path-pattern filter and the
      // canonical (percent-normalizing, query-sorting) dedup key — both
      // the same linear scan+broadcast-join shapes as the rest
      "domain_ops" -> { (k: Int) =>
        val urled = docs(k).select(col("doc_id"),
          concat(lit("https://"),
            when(col("doc_id") % 2 === 0, lit("cdn.")).otherwise(lit("")),
            col("source"), lit("-r"),
            (col("doc_id") / Stride).cast("long").cast("string"),
            lit(".example.com"),
            when(col("doc_id") % 7 === 0,
              concat(lit("/static/img"), (col("doc_id") % 1000).cast("string"),
                lit(".png")))
              .otherwise(
                concat(lit("/p"), (col("doc_id") % 1000).cast("string"))))
            .as("url"))
        import spark.implicits._
        val blocked = Seq("src3-r0.example.com", "src5-r1.example.com")
          .toDF("domain")
        val rules = Seq("prefix" -> "/static", "ext" -> ".png")
          .toDF("kind", "pattern")
        val afterBlock = api.Domains.filterBlockedHosts(
          urled, "url", "doc_id", blocked)
        val afterPath = api.Domains.filterUrlPaths(
          afterBlock, "url", "doc_id", rules)
        val afterDedup = api.Domains.dedupByUrl(afterPath, "url", "doc_id",
          sortQuery = true)
        api.Domains.domainQuotaSample(afterDedup, "url", "doc_id",
          maxPerDomain = 200, seed = 13L).count()
      },
      // Mega-host token-budget skew guard (round 16): 40% of every scale's
      // rows sit on ONE host, the rest spread over 997 hosts. The plain
      // domainTokenQuota window sorts the mega-host on one task (its
      // documented residual skew); domainTokenQuotaAdaptive census-routes
      // it through the bounded-heap doc-cap first. Kept sets must be
      // bit-equal (mass >= 1). hotHostDocs scales with k so exactly the
      // mega-host routes at every scale; rows = kept count.
      "domain_quota_skew" -> { (k: Int) =>
        def fixture = spark.range(k * 2000000L).select(
          col("id").as("doc_id"),
          when(col("id") % 5 < 2, lit("https://mega.example.com/p"))
            .otherwise(concat(lit("https://h"),
              (col("id") % 997).cast("string"),
              lit(".example.com/p"))).as("url"),
          (col("id") % 50 + 1).as("mass"))
        val budget = 5000L
        val t0 = System.nanoTime()
        val plain = api.Domains.domainTokenQuota(fixture, "url", "doc_id",
            col("mass"), budget, seed = 13L)
          .agg(count(lit(1)), sum(col("doc_id"))).head()
        val tPlain = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val adaptive = api.Domains.domainTokenQuotaAdaptive(fixture, "url",
            "doc_id", col("mass"), budget, seed = 13L,
            hotHostDocs = 400000L * k)
          .agg(count(lit(1)), sum(col("doc_id"))).head()
        val tAdaptive = (System.nanoTime() - t1) / 1e9
        require(plain == adaptive,
          s"adaptive diverged from plain: $plain vs $adaptive")
        println(f"  quota_skew x$k: plain $tPlain%.1fs " +
          f"adaptive $tAdaptive%.1fs (kept ${plain.getLong(0)})")
        plain.getLong(0)
      },
      // BPE trainer on the MERGES axis (corpus FIXED — the corpus axis is
      // already measured flat, the dict aggregate being the only corpus
      // pass): numMerges = 100·k over the 65536-cap lineitem-keys dict.
      // Claim: the incremental pair-count trainer is ~linear in merges
      // with a small constant (only words containing the merged pair
      // update), while the naive full-recount loop pays O(dict) per merge
      // — the gap that turns a 32k-merge production vocab from hours into
      // minutes. Both run on the driver; rows = merge count learned.
      "bpe_merges" -> { (k: Int) =>
        val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
          .select(concat_ws(" ", col("l_orderkey"), col("l_partkey"),
            col("l_suppkey")).as("text"))
        val dict = api.BpeTrain.wordCounts(li, "text", 65536)
          .collect().map(r =>
            (org.apache.spark.sql.graft.BpeRanks.latin1(r.getString(0)),
              r.getLong(1)))
        val m = 100 * k
        val t0 = System.nanoTime()
        val inc = api.BpeTrain.trainOnDict(dict, m)
        val tInc = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val naive = api.BpeTrain.trainOnDictNaive(dict, m)
        val tNaive = (System.nanoTime() - t1) / 1e9
        require(inc == naive, "incremental trainer diverged from reference")
        println(f"  bpe x$k ($m merges, dict=${dict.length}): " +
          f"incremental $tInc%.1fs naive $tNaive%.1fs")
        inc.size.toLong
      },
      // Manifest-tracked staged curation (StagedPipeline): a 5-stage
      // recipe (boilerplate → NB filter → perplexity tile → DSIR → split),
      // three inner timers per scale. Claims: (a) staged ≈ inline + a
      // ~constant per-stage commit (the parquet write of each frontier —
      // the same materialization the inline chain pays as localCheckpoint,
      // made durable); (b) resume after a simulated pre-emption (stages
      // 0–2 committed, 3–4 chopped) costs the REMAINING stages only,
      // independent of the committed prefix's cost — the property a
      // pre-empted 100 TB run needs.
      // incremental (day-2) admission: day-1 indexes built on the ×k
      // corpus A (minus 250 base docs so the batch has real exact dups
      // to kill), then a FIXED 500-doc batch admitted against them. The
      // claim under test: admit cost tracks |B| (flat-ish — only the
      // pruned index-side scans grow), while the honest alternative (the
      // full union rerun, admitReference) grows linearly with |A ∪ B|.
      // Prints day-1 build / admit / rerun side by side per scale.
      "incremental_admit" -> { (k: Int) =>
        val prefix = s"scale_incr_x$k"
        api.IncrementalCuration.reset(spark, prefix)
        val all = docs(k)
        // batch/bench come from the BASE fixture directly — docs(1) only
        // exists when x1 is among the requested scales
        val base = spark.read.parquet(s"$baseDir/documents.parquet")
        val a = all.filter(!(col("doc_id") >= 4500 && col("doc_id") < 4750))
        val batch = base
          .filter(col("doc_id") >= 4500 && col("doc_id") < 5000)
          .withColumn("doc_id", col("doc_id") + lit(k.toLong * Stride))
        val bench = base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"), col("text"))
        val label = col("lang") === "en"
        val t0 = System.nanoTime()
        api.IncrementalCuration.buildState(a, prefix, "doc_id", "text", label)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val admitted = api.IncrementalCuration.admitBatch(batch, bench, a,
          prefix, "doc_id", "text", label).count()
        val tAdmit = (System.nanoTime() - t1) / 1e9
        val ranks = api.IncrementalCuration.loadVocab(spark, prefix)
        val t2 = System.nanoTime()
        val rerun = api.IncrementalCuration.admitReference(
          a.unionByName(batch), bench, "doc_id", "text", label,
          batchMinId = k.toLong * Stride, ranks).count()
        val tRerun = (System.nanoTime() - t2) / 1e9
        println(f"    incremental_admit x$k: day1-build $tBuild%.1fs " +
          f"admit $tAdmit%.1fs full-rerun $tRerun%.1fs " +
          f"(admitted $admitted, rerun $rerun)")
        api.IncrementalCuration.reset(spark, prefix)
        admitted
      },
      // Day-N admit slope: k is the NUMBER OF CONSECUTIVE BATCHES, not a
      // corpus multiplier. Day 1 = replica 0; batch j = replica j (cipher-
      // decorrelated, ids monotone in j — the rolling contract). Two arms:
      // never compact vs compactState every 10 batches. The claim under
      // test: admit cost must NOT grow with the number of prior
      // generations once compaction folds them — and the generation
      // debt is made visible directly as the end-state part-file count
      // across the nine state tables (the small-files listing cost that
      // actually kills day-N admits on an object store at 100 TB).
      "incremental_dayn" -> { (k: Int) =>
        require(k >= 2, s"incremental_dayn needs k >= 2 batches, got $k")
        val all = docs(k)
        val base = spark.read.parquet(s"$baseDir/documents.parquet")
        val bench = base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id"), col("text"))
        val label = col("lang") === "en"
        def arm(name: String, compactEvery: Int): (Seq[Double], Long) = {
          val prefix = s"scale_dayn_$name"
          api.IncrementalCuration.reset(spark, prefix)
          api.IncrementalCuration.buildState(
            all.filter(col("doc_id") < Stride), prefix, "doc_id", "text", label)
          val times = (1 until k).map { j =>
            val lo = j.toLong * Stride
            val batch = all.filter(col("doc_id") >= lo && col("doc_id") < lo + Stride)
            val lookup = all.filter(col("doc_id") < lo)
            val t0 = System.nanoTime()
            api.IncrementalCuration.admitBatch(batch, bench, lookup,
              prefix, "doc_id", "text", label).count()
            val dt = (System.nanoTime() - t0) / 1e9
            if (compactEvery > 0 && j % compactEvery == 0)
              api.IncrementalCuration.compactState(spark, prefix)
            dt
          }
          (times, stateFileCount(spark, prefix))
        }
        val (tN, fN) = arm("noc", 0)
        val (tC, fC) = arm("cmp", 10)
        def fmt(ts: Seq[Double]) = {
          val tail = ts.takeRight(5)
          f"first ${ts.head}%.1fs last ${ts.last}%.1fs " +
            f"tail5-mean ${tail.sum / tail.size}%.1fs total ${ts.sum}%.1fs"
        }
        println(s"    incremental_dayn x$k no-compact:   ${fmt(tN)} state-files $fN")
        println(s"    incremental_dayn x$k compact-ev10: ${fmt(tC)} state-files $fC")
        Seq("scale_dayn_noc", "scale_dayn_cmp")
          .foreach(api.IncrementalCuration.reset(spark, _))
        (tN.length + tC.length).toLong
      },
      // Takedown slope, CORPUS axis: a FIXED 100-doc deletion (the GDPR
      // shape — deletion size is bounded by the request, never by the
      // corpus) against day-1 state built on a ×k corpus. The claim
      // under test: takedownState is deletion-bound — it rewrites the
      // three value-keyed indexes via broadcast anti-joins and appends
      // two negated-generation rows, no corpus re-read — so its cost
      // must stay ≈ flat while build cost grows ~linearly.
      "takedown_scale" -> { (k: Int) =>
        val prefix = s"scale_take_x$k"
        api.IncrementalCuration.reset(spark, prefix)
        val a = docs(k)
        val label = col("lang") === "en"
        val t0 = System.nanoTime()
        api.IncrementalCuration.buildState(a, prefix, "doc_id", "text", label)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val del = a.filter(col("doc_id") >= 1000 && col("doc_id") < 1100)
        val t1 = System.nanoTime()
        api.IncrementalCuration.takedownState(del, prefix, "doc_id", "text", label)
        val tTake = (System.nanoTime() - t1) / 1e9
        println(f"    takedown_scale x$k: day1-build $tBuild%.1fs " +
          f"takedown(100 docs) $tTake%.1fs")
        api.IncrementalCuration.reset(spark, prefix)
        1L
      },
      // Takedown slope, GENERATIONS axis: k is the number of admitted
      // batches accumulated BEFORE the takedown (day 1 = replica 0,
      // batch j = replica j — the incremental_dayn shape). The state's
      // generation count is what a takedown's index rewrites actually
      // scan, so this measures the day-N cost of deferring compaction
      // before a deletion request lands.
      "takedown_gens" -> { (k: Int) =>
        require(k >= 2, s"takedown_gens needs k >= 2 batches, got $k")
        val all = docs(k)
        val label = col("lang") === "en"
        val prefix = "scale_takegen"
        api.IncrementalCuration.reset(spark, prefix)
        api.IncrementalCuration.buildState(
          all.filter(col("doc_id") < Stride), prefix, "doc_id", "text", label)
        val bench = spark.read.parquet(s"$baseDir/documents.parquet")
          .filter(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
        (1 until k).foreach { j =>
          val lo = j.toLong * Stride
          api.IncrementalCuration.admitBatch(
            all.filter(col("doc_id") >= lo && col("doc_id") < lo + Stride),
            bench, all.filter(col("doc_id") < lo),
            prefix, "doc_id", "text", label).count()
        }
        val del = all.filter(col("doc_id") >= 1000 && col("doc_id") < 1100)
        val t1 = System.nanoTime()
        api.IncrementalCuration.takedownState(del, prefix, "doc_id", "text", label)
        val tTake = (System.nanoTime() - t1) / 1e9
        println(f"    takedown_gens x$k: takedown(100 docs) after ${k - 1}%d " +
          f"generations $tTake%.1fs state-files ${stateFileCount(spark, prefix)}%d")
        api.IncrementalCuration.reset(spark, prefix)
        1L
      },
      // WARC tape parse + extract: k tape files (one per replica, each
      // wrapping the base corpus as HTML resource records) — the
      // file-per-task source's parallelism axis IS the file count, so
      // the slope should track data while wall amortizes across threads.
      // Forcing action sums extracted text length (consumes the parse
      // AND the extraction). Tapes build once per k and cache on disk.
      "warc_parse" -> { (k: Int) =>
        val tdir = java.nio.file.Paths.get("/tmp/graft-scale-fixtures",
          s"warc_x$k")
        if (!java.nio.file.Files.exists(tdir.resolve("_done"))) {
          java.nio.file.Files.createDirectories(tdir)
          val base = spark.read.parquet(s"$baseDir/documents.parquet")
            .select(col("doc_id"), col("text"))
            .collect().map(r => (r.getLong(0), r.getString(1)))
          (0 until k).foreach { rep =>
            val recs = base.map { case (id, t) =>
              val html = "<html><head><title>Doc «" + id + "." + rep +
                "»</title></head><body><h1>Doc " + id +
                "</h1><p>" + t + "</p></body></html>"
              (rep * 1000000L + id, s"https://example.org/$rep/$id",
                html.getBytes("UTF-8"))
            }
            java.nio.file.Files.write(tdir.resolve(s"rep$rep.warc"),
              graft.sources.WarcFiles.buildWarc(recs.toSeq))
          }
          java.nio.file.Files.createFile(tdir.resolve("_done"))
        }
        graft.sources.WarcFiles.read(spark, s"$tdir/*.warc")
          .select(graft.functions.html_extract(col("content").cast("string"))
            .as("t"))
          .agg(sum(length(col("t")))).head.getLong(0)
      },
      // Global paragraph dedup: sentences become paragraphs so the
      // cipher-preserved intra-replica sentence repeats are real dups.
      // Forcing action sums the REBUILT text length (a bare count() lets
      // Catalyst eliminate the rebuild — the span_cut measurement trap).
      "para_dedup" -> { (k: Int) =>
        val src = docs(k).select(col("doc_id"),
          regexp_replace(col("text"), "\\. ", ".\n\n").as("text"))
        api.Dedup.dedupParagraphs(src, "doc_id", "text")
          .agg(sum(length(col("text")))).head.getLong(0)
      },
      // THE COMPOSED CAPSTONE as one slope row: the whole
      // tape-to-shards chain the warc_to_shards gate proves, at k reps
      // of the base corpus wrapped as chrome-laden HTML responses (half
      // gzip'd) plus the tape's own robots.txt record per file. Stages:
      // parse -> body decode -> REP opt-out -> noindex -> main-content
      // extraction -> host blocklist -> path filter -> URL dedup ->
      // per-domain budget -> BPE packing order -> shard export. The
      // domain budget scales ∝ k (the nClusters-∝-n precedent: a fixed
      // budget caps survivors at a constant and every later stage would
      // measure an empty frame); host cardinality is fixture-FIXED at
      // 20, so the domain stages exercise per-host mass growth (the
      // hot-host shape), not host-count growth. Forcing action: total
      // docs landing in the exported shards (consumes the export).
      "warc_to_shards" -> { (k: Int) =>
        import spark.implicits._
        val tdir = java.nio.file.Paths.get("/tmp/graft-scale-fixtures",
          s"wts_x$k")
        if (!java.nio.file.Files.exists(tdir.resolve("_done"))) {
          java.nio.file.Files.createDirectories(tdir)
          val base = spark.read.parquet(s"$baseDir/documents.parquet")
            .select(col("doc_id"), col("text"), col("source"))
            .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          (0 until k).foreach { rep =>
            val recs = base.map { case (id, t, src) =>
              val did = rep * Stride + id
              val html = "<html><head>" +
                (if (did % 9 == 4)
                  "<meta name=\"robots\" content=\"noindex\">" else "") +
                "<title>Doc " + did + "</title></head><body>" +
                "<div class=\"nav\"><a href=\"/\">Home</a> " +
                "<a href=\"/docs\">Docs</a> <a href=\"/about\">About us</a>" +
                "</div><h1>Doc " + did + "</h1><p>" + t +
                "</p><footer><a href=\"/privacy\">Privacy</a> | " +
                "<a href=\"/terms\">Terms</a></footer></body></html>"
              // mostly-unique paths (dedup must scale with docs, not
              // crush to the host census) + a real dup class (%97) and
              // the query class the param rule hits
              val path = if (did % 97 == 0) s"/dup${did % 1000}" else s"/d$did"
              val url = s"https://$src.example.com$path" +
                (if (did % 7 == 0) s"?q=${did % 4}" else "")
              (did, url, html.getBytes("UTF-8"), did % 2 == 0)
            // NUMERIC id for the robots record: the page projection's
            // ANSI cast of the record-id urn can be REORDERED ahead of
            // the robots-row filter by predicate pushdown (the join's
            // inferred isnotnull), so every record id on the tape must
            // survive the cast even though robots rows are filtered out
            } :+ ((9999999999L, "https://src6.example.com/robots.txt",
              "User-agent: *\nDisallow: /dup\n".getBytes("UTF-8"), false))
            java.nio.file.Files.write(tdir.resolve(s"rep$rep.warc"),
              graft.sources.WarcFiles.buildWarcHttp(recs.toSeq))
          }
          java.nio.file.Files.createFile(tdir.resolve("_done"))
        }
        val tape = graft.sources.WarcFiles.read(spark, s"$tdir/*.warc")
        val robotsDf = tape
          .filter(col("target_uri").endsWith("/robots.txt"))
          .select(api.Domains.urlHost(col("target_uri")).as("host"),
            graft.sources.WarcFiles.httpBodyText(col("content")).as("body"))
          .distinct() // k tape files plant the same robots body
        // envelope admission (chain parity with the gate: this tape is
        // all-200 with no X-Robots-Tag, so the stage costs one map-only
        // envelope probe per record and drops nothing)
        val pages0 = api.TextAnalysis.filterXRobotsNoindex(
            tape.filter(!col("target_uri").endsWith("/robots.txt"))
              .filter(graft.functions.http_status(col("content")) === 200))
          .select(regexp_extract(col("record_id"), "urn:graft:(\\d+)", 1)
            .cast("long").as("doc_id"),
            col("target_uri").as("url"),
            graft.sources.WarcFiles.httpBodyText(col("content")).as("page"))
        val pages = api.Domains.filterRobotsTxt(pages0, "url", "doc_id",
          robotsDf)
        val extracted = api.TextAnalysis.filterNoindex(pages, "page")
          .withColumn("text", graft.functions.html_main_content(col("page")))
          .select(col("doc_id"), col("url"), col("text"),
            length(col("text")).cast("long").as("n_chars_ext"))
        val blocked = Seq("src3.example.com", "src5.example.com").toDF("domain")
        val s1 = api.Domains.filterBlockedHosts(
          extracted.select("doc_id", "url", "n_chars_ext"),
          "url", "doc_id", blocked)
        val s1b = api.Domains.filterUrlPaths(s1, "url", "doc_id",
          Seq("prefix" -> "/dup1", "param" -> "q=1").toDF("kind", "pattern"))
        val s2 = api.Domains.dedupByUrl(s1b, "url", "doc_id")
        val s3 = api.Domains.domainTokenQuota(s2, "url", "doc_id",
          col("n_chars_ext"), budgetPerDomain = 2200L * k, seed = 13L)
        val curated = extracted.select("doc_id", "text")
          .join(s3.select("doc_id"), "doc_id")
        val toks = graft.functions.bpe_count(col("text"), SparkEntry.BpeMerges)
        val ord = api.Sampling.hashScore(col("doc_id"), 21L)
        val outPath = s"/tmp/graft-scale-fixtures/wts_out_x$k"
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(outPath))
        val manifest = api.Packing.exportShards(curated, "doc_id", ord,
          toks, shards = 8, path = outPath)
        manifest.agg(sum(col("n_docs"))).head.getLong(0)
      },
      "staged_curation" -> { (k: Int) =>
        val prefix = s"scale_staged_x$k"
        api.StagedPipeline.reset(spark, prefix, maxStages = 8)
        val src = docs(k).select(col("doc_id"), col("lang"), col("source"),
          concat(
            when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter\n"))
              .otherwise(lit("")),
            regexp_replace(col("text"), " the ", "\n"),
            when(col("doc_id") % 4 === 0, lit("\nall rights reserved"))
              .otherwise(lit(""))).as("text"))
        val stages = Seq[(String, DataFrame => DataFrame)](
          "boilerplate_drop" -> (x => api.Dedup.dropBoilerplateLines(
            x, "doc_id", "text", minDocs = 100L)),
          // the filter threshold is the run's MEDIAN score, not 0: the
          // scale cipher washes likelihood ratios toward 0 while the
          // negative class-prior log-odds stays, so an absolute 0 cut
          // keeps nothing beyond x1 and later stages would measure
          // empty frames (observed: 150k -> 0 rows at x30). The
          // approxQuantile does add one extra aggregation pass over the
          // scored frame vs the old absolute cut — it inflates this
          // stage's cost equally in BOTH arms (inline and staged), so
          // the staged-vs-inline OVERHEAD ratio stays honest even
          // though each arm's absolute stage time is slightly higher
          "nb_quality_filter" -> (x => {
            val scored = api.QualityClassifier.trainScore(
              x, "text", col("source").isin("src0", "src1"), buckets = 1024)
            val med = scored.stat.approxQuantile(
              "nb_score", Array(0.5), 0.001).head
            scored.filter(col("nb_score") > med)
          }),
          "ppl_tile" -> (x => {
            val lm = api.TextAnalysis.docLogProbBigram(x)
            api.TextAnalysis.perplexityBuckets(
                x.join(lm.select("doc_id", "avg_nll2"), "doc_id"),
                "lang", "avg_nll2")
              .filter(col("ppl_class") =!= "tail")
          }),
          "dsir_select" -> (x => api.Sampling.dsirResample(x,
            x.filter(col("lang") === "en"), "doc_id", "text",
            k = 100, buckets = 1024, seed = 7L)),
          "train_split" -> (x => api.Sampling.assignSplits(x, "doc_id", 5L,
              Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
            .filter(col("split") === "train")
            .select(col("doc_id"), col("logw"))))
        // inline baseline: the localCheckpoint chain a single session runs
        val t0 = System.nanoTime()
        val inlineRows = stages.foldLeft(src) { case (d, (_, f)) =>
          f(d).localCheckpoint() }.count()
        val tInline = (System.nanoTime() - t0) / 1e9
        // staged run: every stage commits its frontier + manifest row
        val t1 = System.nanoTime()
        val stagedRows = api.StagedPipeline.run(src, stages, prefix).count()
        val tStaged = (System.nanoTime() - t1) / 1e9
        require(stagedRows == inlineRows,
          s"staged ($stagedRows) != inline ($inlineRows) rows")
        // simulate a pre-emption after stage 2: chop the last two commits
        // (manifest surgery + table drops), then time the resume — it must
        // pay for stages 3-4 only, never the committed prefix
        val keep = api.StagedPipeline.manifest(spark, prefix)
          .filter(col("stage_idx") < 3).localCheckpoint(true)
        api.BucketedWrite.dropTable(spark, s"${prefix}_manifest")
        keep.write.format("parquet").saveAsTable(s"${prefix}_manifest")
        Seq(3, 4).foreach(i =>
          api.BucketedWrite.dropTable(spark, s"${prefix}_s$i"))
        val t2 = System.nanoTime()
        val resumedRows = api.StagedPipeline.run(src, stages, prefix).count()
        val tResume = (System.nanoTime() - t2) / 1e9
        require(resumedRows == stagedRows, "resume diverged")
        // (c) cross-session recovery (round 16): kill every registration,
        // keep every directory (the JVM-restart state), and time the
        // recovered no-op resume — pure directory-listing recovery +
        // final-table read, O(stages), corpus-size-independent
        (Seq(s"${prefix}_manifest") ++ (0 until 5).map(i => s"${prefix}_s$i"))
          .foreach(t => org.apache.spark.sql.graft.CatalogOps
            .deregisterKeepingFiles(spark, t))
        val t3 = System.nanoTime()
        val recoveredRows = api.StagedPipeline.run(src, stages, prefix).count()
        val tRecover = (System.nanoTime() - t3) / 1e9
        require(recoveredRows == stagedRows, "recovered resume diverged")
        println(f"  staged x$k: inline $tInline%.1fs staged $tStaged%.1fs " +
          f"(overhead ${tStaged - tInline}%.1fs) resume-from-3 $tResume%.1fs " +
          f"xsession-recover $tRecover%.1fs")
        api.StagedPipeline.reset(spark, prefix, maxStages = 8)
        stagedRows
      }
    ).filter { case (n, _) => opsFilter.forall(_.contains(n)) }

    // global warmup: run every op once at the smallest scale untimed, so the
    // session's one-time JIT/codegen/family-cache cost doesn't land on
    // whichever (op, smallest-scale) cell runs first and corrupt its slope
    for ((_, fn) <- ops) { spark.catalog.clearCache(); fn(scales.head) }

    // shuffle-write accounting per run: for operators whose wall time is
    // scheduling-bound at fixture scale (e.g. the topk window-vs-heap
    // pair), bytes crossing the exchanges is the dimension where the
    // scale difference actually lives
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    println(f"${"op"}%-22s ${"scale"}%5s ${"rows"}%10s ${"sec"}%8s ${"shufMB"}%8s")
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, Double)]
    for ((name, fn) <- ops; k <- scales) {
      // two runs, report min: first run absorbs JIT/codegen/family-cache
      // warmup that a steady-state slope must not include
      var rows = 0L
      var best = Double.MaxValue
      var shuf = 0L
      for (_ <- 1 to 2) {
        spark.catalog.clearCache()
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        rows = fn(k)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        // listener events are async (the bus drain API is private[spark]);
        // a short settle suffices for a dev measurement tool
        Thread.sleep(300)
        shuf = shuffleBytes.get()
      }
      results += ((name, k, rows, best))
      println(f"$name%-22s $k%5d $rows%10d $best%8.2f ${shuf / 1e6}%8.1f")
    }

    // slope summary: t(k)/t(1) per op — linear ops should track k, flat ops ~1
    println("\nslope t(k)/t(1):")
    for ((name, _) <- ops) {
      val rs = results.filter(_._1 == name)
      rs.find(_._2 == scales.head).foreach { base =>
        val line = rs.map { case (_, k, _, s) => f"x$k=${s / base._4}%.1f" }.mkString("  ")
        println(f"$name%-22s $line")
      }
    }
    spark.stop()
  }
}
