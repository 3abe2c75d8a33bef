package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the "would this survive 100× scale-up"
  * checks (builder brief): broadcasts where a side is small, predicate
  * pushdown and column pruning reaching the parquet scan, whole-stage
  * codegen around the hot expressions. Runs against sf0.001.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("entry flagship returns near-dup pairs (driver t1 smoke contract)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty, "entry must return >0 rows at sf0.001")
    // every emitted pair is ordered and above the jaccard threshold
    assert(rows.forall(r => r.getLong(0) < r.getLong(1) && r.getDouble(2) > 0.5))
  }

  test("q3_broadcast_dims broadcasts the small dimension tables") {
    val plan = planOf("q3_broadcast_dims")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"small dims must not sort-merge:\n$plan")
  }

  test("lsh_min_text prunes the parquet scan to the needed columns") {
    val plan = planOf("lsh_min_text")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan should read only doc_id,text:\n$plan")
  }

  test("ann_topk_brute pushes the query-id filter into the scan and broadcasts queries") {
    val plan = planOf("ann_topk_brute")
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)"),
      s"vec_id<10 should reach the parquet scan:\n$plan")
    assert(plan.contains("Broadcast"), s"query side should broadcast:\n$plan")
  }

  test("or_join_expand plans as equi-joins, never a nested loop") {
    val plan = planOf("or_join_expand")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"OR-of-equalities join must be expanded by OrEquiJoinExpansion:\n$plan")
    assert(plan.contains("Union"), s"expected per-disjunct joins unioned:\n$plan")
  }

  test("semantic_dedup: assignment is a pure projection, pairs shuffle only on cluster") {
    val plan = planOf("semantic_dedup")
    // the codegen'd kernels are in the plan (no HOF lambda drop-out)
    assert(plan.contains("nearest_centroid"), s"expected NearestCell assignment:\n$plan")
    assert(plan.contains("cosine_sim"), s"expected codegen'd cosine verify:\n$plan")
    // the only exchanges are hashpartitioning(cluster...) for the self-join
    // and the final verdict join — never an all-pairs cartesian
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must never go all-pairs:\n$plan")
  }

  test("contamination_embed: bench side broadcasts, corpus never shuffles") {
    val plan = planOf("contamination_embed")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"bench side must broadcast:\n$plan")
    // corpus flows scan -> cosine filter with no hash/range repartition
    assert(!plan.contains("hashpartitioning"),
      s"corpus side must not shuffle:\n$plan")
  }

  test("q1_agg uses two-phase (partial) hash aggregation") {
    val plan = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"expected map-side partial agg + final agg:\n$plan")
  }

  test("text_stats runs inside whole-stage codegen") {
    val df = SparkEntry.queries("text_stats")(spark, dir)
    df.collect() // finalize the adaptive plan so codegen stages materialize
    val plan = df.queryExecution.executedPlan.toString
    // whole-stage-codegen stages print as "*(n)" in the final adaptive plan
    assert(plan.contains("*("), s"expected codegen stage:\n$plan")
  }

  test("doc_signatures computes scalar fingerprints once per doc, below the generate") {
    // ExtractGenerator hoists non-generator select items ABOVE the Generate,
    // re-evaluating them once per exploded row (~31x per doc, measured
    // 4.3s -> 0.6s at sf0.1 when fixed). The LATERAL VIEW form must keep
    // simhash64/min_fingerprint in the projection BELOW the generate.
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val df = SparkEntry.queries("doc_signatures")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val gens = plan.collect { case g: Generate => g }
    assert(gens.nonEmpty, s"expected a Generate node:\n$plan")
    def countKernels(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.expressions.map(_.collect {
        case e: org.apache.spark.sql.graft.SimHash64 => e
        case e: org.apache.spark.sql.graft.MinFingerprint => e
      }.size).sum
    val below = gens.map(g => g.child.collect { case n => countKernels(n) }.sum).sum
    val total = plan.collect { case n => countKernels(n) }.sum
    assert(below >= 2, s"sh/min_fp must be evaluated below the generate:\n$plan")
    assert(total == below, s"sh/min_fp must not be re-evaluated above the generate:\n$plan")
  }

  test("interval/window/asof joins never degrade to nested loops") {
    // a range predicate planned as BroadcastNestedLoopJoin is the O(n^2)
    // scale-killer this engine's bucketed/explode/union-and-carry shapes
    // exist to avoid (measured 429s vs <1s at sf0.1 for the id-window scan)
    for (q <- Seq("range_join", "dedup_near_window", "asof_join", "cosine_adjacent")) {
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q plans a nested-loop/cartesian join:\n$plan")
    }
  }

  test("bucketed ANN index: corpus side of the band join has zero exchange") {
    // the production repeat-batch layout (docs/SCALE.md): the persisted
    // bucketed+sorted table must satisfy the band join's distribution by
    // itself — the only shuffle in the candidate join is the query side
    // being hashed into the table's bucket count. Broadcast is disabled so
    // the join actually exercises the distribution (a broadcast would hide
    // a mis-bucketed table).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    graft.api.Ann.saveBucketedCorpus(emb, "graft_plan_bucket_idx", 4,
      bucketWidth = 4.0, bandCount = 8, bandSize = 2, seed = 7L)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the candidate join subplan, query side built from public pieces
      val qside = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"),
          posexplode(graft.functions.lsh_euclidean(col("embedding"), 4.0, 8, 2, 7L)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      val j = qside.join(spark.table("graft_plan_bucket_idx"), Seq("band", "band_hash"))
      assert(j.collect().nonEmpty)
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
        case q: QueryStageExec => p +: walk(q.plan)
        case _ => p +: p.children.flatMap(walk)
      }
      val nodes = walk(j.queryExecution.executedPlan)
      val scans = nodes.collect { case s: FileSourceScanExec => s }
      assert(scans.exists(_.bucketedScan),
        s"corpus side must be a bucketed scan:\n${j.queryExecution.executedPlan}")
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1,
        s"only the query side may shuffle (got ${exchanges.size}):\n" +
          j.queryExecution.executedPlan)
      assert(exchanges.head.outputPartitioning.numPartitions == 4,
        "query side must shuffle into the table's bucket count")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_plan_bucket_idx")
    }
  }

  test("persisted IVF-PQ index: search prunes to probed cell partitions, zero corpus exchange") {
    // the train-once/search-many-sessions layout (Ann.saveIvfPqIndex): the
    // codes table is directory-partitioned by cell and the search's static
    // probe-cell IN filter must prune at partition ENUMERATION — only
    // ~nprobe/nlist of the files open. The corpus side must reach the
    // (broadcast) candidate join with no shuffle; the one allowed
    // ShuffleExchange is the final per-query ranking window.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val idx = graft.api.Ann.fitIvfPq(emb, nlist = 8, m = 8, ksub = 16, seed = 77L, iters = 4)
    graft.api.Ann.saveIvfPqIndex(idx, "graft_plan_ivfpq_idx")
    try {
      val q = graft.api.Ann.loadIvfPqIndex(spark, "graft_plan_ivfpq_idx")
        .search(emb.filter(col("vec_id") < 3), 5, nprobe = 2)
      assert(q.collect().nonEmpty)
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
        case s: QueryStageExec => p +: walk(s.plan)
        case _ => p +: p.children.flatMap(walk)
      }
      val nodes = walk(q.queryExecution.executedPlan)
      val codesScans = nodes.collect {
        case s: FileSourceScanExec if s.schema.fieldNames.contains("codes") => s }
      assert(codesScans.nonEmpty, s"expected a codes-table scan:\n${q.queryExecution.executedPlan}")
      val scan = codesScans.head
      assert(scan.partitionFilters.nonEmpty,
        s"probe-cell filter must reach partition enumeration:\n${q.queryExecution.executedPlan}")
      // 3 queries x nprobe=2 probe at most 6 distinct of the 8 cells
      val nParts = scan.selectedPartitions.partitionCount
      assert(nParts <= 6 && nParts < 8,
        s"expected pruned cell partitions, got $nParts of 8")
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size <= 1,
        s"corpus side must not shuffle (only the ranking window may; got ${shuffles.size}):\n" +
          q.queryExecution.executedPlan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_plan_ivfpq_idx_codes")
      spark.sql("DROP TABLE IF EXISTS graft_plan_ivfpq_idx_model")
    }
  }

  test("two-branch operators read the corpus once (shuffle/stage reuse)") {
    // pack_sequences (window + totals branches) and repetition_stats
    // (word-stats + gram branches) each fork one shuffled input into two
    // consumers joined at the end. Both branches must hang off ONE
    // tokenize+shuffle — a second corpus scan would double the dominant
    // cost at scale. Reuse shows up as a single parquet scan in the
    // executed plan (the twin subtree becomes a reused exchange/stage);
    // the classic defeat is the final join inferring isnotnull(key) into
    // only one branch, making the subtrees differ.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    // doc_logprob forks the (id, token) aggregate three ways (vocab,
    // total, join) — all must hang off one tokenize+shuffle.
    // token_shard_assign: globalRunningSum's offsets branch must reuse
    // the window branch's bucket exchange (scaladoc claim: the corpus is
    // read once past the bounded approxQuantile sampling pass, which runs
    // before this plan exists), and the only single-partition window may
    // be the ≤buckets-row totals one — never the data
    for (name <- Seq("pack_sequences", "repetition_stats", "doc_logprob",
                     "token_shard_assign")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val nodes = walk(df.queryExecution.executedPlan)
      val scans = nodes.collect { case s: FileSourceScanExec => s }
      val reused = nodes.collect { case r: ReusedExchangeExec => r }
      assert(scans.size == 1 || reused.nonEmpty,
        s"$name: expected one corpus scan (shuffle reuse), got ${scans.size} scans / " +
          s"${reused.size} reused exchanges:\n${df.queryExecution.executedPlan}")
    }
  }

  test("fused self-join keeps full shuffle width under AQE") {
    // AQE sizes shuffles on input BYTES; the blocked self-join's in-group
    // work is quadratic in group size and invisible to it, so an
    // ENSURE_REQUIREMENTS exchange gets coalesced (measured: 3 tasks and a
    // 4x slowdown at sf0.1). The operator's input must arrive via a strict
    // REPARTITION_BY_NUM exchange, which AQE is forbidden to resize.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.graft.BlockedSelfJoinExec
    val df = SparkEntry.queries("lsh_blocking_join")(spark, dir)
    df.collect() // finalize the adaptive plan
    // materialized AQE stages wrap their subplans as members, not children —
    // plain collect() stops at the stage boundary, so walk through them
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BlockedSelfJoinExec]),
      s"expected BlockedSelfJoinExec:\n${df.queryExecution.executedPlan}")
    val strict = nodes.collectFirst {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM => s
    }
    assert(strict.nonEmpty,
      s"fused join input must be a strict REPARTITION_BY_NUM exchange (AQE-proof):\n" +
        df.queryExecution.executedPlan)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(strict.get.outputPartitioning.numPartitions == n,
      s"exchange must keep the full $n partitions, got " +
        s"${strict.get.outputPartitioning.numPartitions}")
    // and no AQE shuffle read may sit directly on it, resizing it after the fact
    val resized = nodes.collect {
      case r: AQEShuffleReadExec if (r.child match {
        case q: QueryStageExec => q.plan match {
          case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
          case _ => false
        }
        case _ => false
      }) => r
    }
    assert(resized.isEmpty, s"AQE must not resize the strict exchange:\n$resized")
  }

  test("fused self-join sorts its input on one radix-sortable key") {
    // four sort keys led by the 8-valued band index made almost every
    // comparison fall through to the row comparator (TimSort on top of the
    // profile); one LongType key is decided by the sort prefix alone, so
    // SortExec takes its radix-sort path
    import org.apache.spark.sql.execution.{SortExec, SortPrefixUtils, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.graft.BlockedSelfJoinExec
    object Plan extends AdaptiveSparkPlanHelper
    for (q <- Seq("lsh_blocking_join", "neardup_adaptive")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val execs = Plan.collect(plan) { case e: BlockedSelfJoinExec => e }
      assert(execs.nonEmpty, s"$q: expected BlockedSelfJoinExec:\n$plan")
      execs.foreach { e =>
        val sort = e.child match {
          case s: SortExec => s
          case WholeStageCodegenExec(s: SortExec) => s
          case other => fail(s"$q: the exec must read its sort directly:\n$other")
        }
        assert(sort.sortOrder.size == 1 &&
          SortPrefixUtils.canSortFullyWithPrefix(sort.sortOrder.head),
          s"$q: expected one prefix-decided sort key, got ${sort.sortOrder}:\n$plan")
      }
    }
    assert(spark.conf.get("spark.sql.sort.enableRadixSort").toBoolean)
  }

  test("minhash_dedup_pairs verifies INSIDE the band join, distinct carries no text") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    // the band join is the fused BlockedSelfJoin exec at one block: it
    // verifies per bucket, below the pair distinct (verify-after-distinct
    // is the measured ×100 cliff), and has no two join sides that would
    // need to share the band exchange. Checked structurally, through the
    // cached pairs' build plan.
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        c +: nodes(c.relation.cachedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    // the nodes one shuffle stage runs, stopping at the stages it reads
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: Exchange | _: QueryStageExec => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    val plan = SparkEntry.queries("minhash_dedup_pairs")(spark, dir).queryExecution.executedPlan
    val all = nodes(plan)
    val execs = all.collect { case e: org.apache.spark.sql.graft.BlockedSelfJoinExec => e }
    assert(execs.size == 1, s"expected one BlockedSelfJoin exec:\n$plan")
    assert(!all.exists(n => n.nodeName.contains("HashJoin") || n.nodeName.contains("MergeJoin")),
      s"no relational band join should remain:\n$plan")
    assert(!all.exists(_.expressions.exists(_.toString.contains("lsh_jaccard"))),
      s"verification belongs to the exec, not a jaccard expression:\n$plan")
    val distincts = all.collect { case a: HashAggregateExec
      if a.groupingExpressions.flatMap(_.references.map(_.name)).toSet ==
        Set("id_a", "id_b", "sim") => a }
    assert(distincts.nonEmpty, s"pair distinct missing:\n$plan")
    distincts.foreach { d =>
      assert(nodes(d).contains(execs.head), s"verification must run below the distinct:\n$plan")
      assert(!d.child.output.exists(_.name == "text"),
        s"pair distinct should carry ids+sim only:\n$plan")
    }
    // exactly one exchange ships banded rows, and it feeds the exec
    val bandExchanges = all.collect { case e: ShuffleExchangeExec
      if stage(e.child).exists(_.isInstanceOf[GenerateExec]) => e }
    assert(bandExchanges.size == 1, s"expected one (band, hash) exchange:\n$plan")
    assert(nodes(execs.head).contains(bandExchanges.head),
      s"the band exchange must feed the exec:\n$plan")
  }

  test("pack_bins_nfd: no single-partition data window (every Window has partition keys)") {
    // the NFD schedule needs three windows (class rank, class offsets,
    // within-bin offsets) — each must carry a partitionBy, or one reducer
    // would sort corpus-scale data (the exact shape packSequences' scaladoc
    // warns about). Checked STRUCTURALLY on the executed plan's Window exec
    // nodes (a string heuristic over windowspecdefinition broke on
    // multi-ref partition expressions and is Spark-version-fragile).
    val exec = SparkEntry.queries("pack_bins_nfd")(spark, dir)
      .queryExecution.executedPlan
    def windowsIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        windowsIn(a.executedPlan)
      case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
    }.flatten
    val windows = windowsIn(exec)
    assert(windows.nonEmpty, s"expected window nodes:\n$exec")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window (single-reducer sort): $w\n$exec")
    }
  }

  test("boilerplate_lines_drop: text never crosses a hash exchange") {
    // the operator's scale contract: lines travel as (doc_id, pos, hash)
    // triples and flagged positions as (doc_id, pos) — the only exchanges
    // that hash-partition must not carry the text column (the round-robin
    // spread of the single-file fixture is the known dev-scale exception,
    // a no-op at real scale)
    val df = SparkEntry.queries("boilerplate_lines_drop")(spark, dir)
    df.collect()
    val exec = df.queryExecution.executedPlan
    def hashExchanges(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        hashExchanges(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        hashExchanges(s.plan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
        Seq(e)
    }.flatten
    val ex = hashExchanges(exec)
    assert(ex.nonEmpty, s"expected hash exchanges:\n$exec")
    ex.foreach { e =>
      assert(!e.output.exists(a => a.name == "text" && a.dataType ==
          org.apache.spark.sql.types.StringType),
        s"text must not cross a hash exchange:\n$e")
    }
  }

  test("multimodal decode stays inside codegen — no RDD drop-out") {
    // decode_media is a Catalyst expression: the whole feature/resize pass
    // must plan as a codegen'd projection over the parquet scan. The failure
    // mode this pins against is the rdd.mapPartitions shape, which exits
    // Tungsten and pays InternalRow->Row->InternalRow per payload (shows up
    // as Scan ExistingRDD + SerializeFromObject/DeserializeToObject nodes).
    for (name <- Seq("multimodal_features", "multimodal_resize")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // finalize the adaptive plan so codegen stages materialize
      val plan = df.queryExecution.executedPlan.toString
      for (bad <- Seq("ExistingRDD", "SerializeFromObject", "DeserializeToObject",
                      "MapPartitions"))
        assert(!plan.contains(bad), s"$name: RDD drop-out node $bad in plan:\n$plan")
      assert(plan.contains("*("), s"$name: expected a codegen stage:\n$plan")
      assert(plan.contains("decode_media"), s"$name: expected decode_media:\n$plan")
    }
  }

  test("sketch aggregates fold map-side: only sketch state crosses the shuffle") {
    // the mergeable-sketch contract: a partial ObjectHashAggregate runs
    // before the exchange (values fold into the fixed-size buffer in the
    // scan stage) and the final aggregate merges buffers after it — the
    // shuffle carries sketches, never the value set
    for (name <- Seq("sketch_distinct", "cms_topk", "bloom_semijoin")) {
      val plan = planOf(name)
      val lines = plan.linesIterator.toSeq
      val partial = lines.indexWhere(l =>
        l.contains("ObjectHashAggregate") && l.contains("partial_"))
      val finalAgg = lines.indexWhere(l =>
        l.contains("ObjectHashAggregate") && !l.contains("partial_"))
      assert(partial >= 0, s"$name: no partial sketch aggregate in plan:\n$plan")
      assert(finalAgg >= 0 && finalAgg < partial, // executed plans print top-down
        s"$name: final merge must consume the exchange above the partial:\n$plan")
    }
  }

  test("dup_span_detect: map-side partial min/max, ids+hashes only, no cartesian") {
    val plan = planOf("dup_span_detect")
    // the cross-doc rule must fold map-side (min/max partials before the
    // exchange) — a final-only agg would shuffle every gram occurrence raw
    val lines = plan.linesIterator.toSeq
    val partial = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial_min") && l.contains("partial_max"))
    assert(partial >= 0, s"no partial min/max over gram hashes:\n$plan")
    // blocking is hash-keyed all the way: any nested-loop/cartesian here
    // means a join lost its equi-key and the operator would be O(n^2)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span mining must stay equi-keyed:\n$plan")
    // text never enters the gram exchanges: the only string column the
    // shuffled side needs is gone after xxhash64 (project shows doc_id/pos/gh)
    assert(plan.contains("xxhash64"), s"gram identity must be hashed:\n$plan")
  }

  test("topk_per_group is a partial heap aggregate, not a window sort") {
    // the point of topk_by: k entries per (group, task) cross the shuffle.
    // A WindowExec here would mean the whole table shuffled into group
    // partitions and sorted — the shape the aggregate exists to replace.
    val plan = planOf("topk_per_group")
    assert(!plan.contains("Window"), s"top-k must not fall back to a window:\n$plan")
    val lines = plan.linesIterator.toSeq
    val partial = lines.indexWhere(l =>
      l.contains("ObjectHashAggregate") && l.contains("partial_topk_by"))
    val finalAgg = lines.indexWhere(l =>
      l.contains("ObjectHashAggregate") && l.contains("topk_by") && !l.contains("partial_"))
    assert(partial >= 0, s"no partial topk_by aggregate in plan:\n$plan")
    assert(finalAgg >= 0 && finalAgg < partial,
      s"final heap merge must consume the exchange above the partial:\n$plan")
  }

  test("domain_quota_sample selects via the heap aggregate; no window, text never shuffles") {
    // the per-host cut must be the bounded-heap topk_by (k entries per
    // (host, task) cross the shuffle), never a row_number window — and
    // only ids/hosts may move: the kept-id semi-join attaches the corpus
    // without ever exchanging a text column
    val plan = planOf("domain_quota_sample")
    assert(!plan.contains("Window"),
      s"per-host quota must not fall back to a window sort:\n$plan")
    val lines = plan.linesIterator.toSeq
    assert(lines.exists(l =>
      l.contains("ObjectHashAggregate") && l.contains("partial_topk_by")),
      s"no partial heap aggregate in plan:\n$plan")
    // domain_blocklist: the blocklist side must arrive broadcast — a
    // shuffled or nested-loop join would defeat the suffix-chain design
    val bplan = planOf("domain_blocklist")
    assert(bplan.contains("BroadcastHashJoin") ||
           bplan.contains("BroadcastExchange"),
      s"blocklist must join broadcast:\n$bplan")
    assert(!bplan.contains("BroadcastNestedLoopJoin"),
      s"suffix matching must be an equi-join, not a nested loop:\n$bplan")
  }

  test("value_stats folds map-side: partial hash aggregate before the exchange") {
    // the exact-moments contract is only scale-safe if the five fixed-size
    // accumulators combine map-side — a final-only aggregate would shuffle
    // every row to the group's reducer
    val plan = planOf("value_stats")
    val lines = plan.linesIterator.toSeq
    val partial = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial_"))
    val finalAgg = lines.indexWhere(l =>
      l.contains("HashAggregate") && !l.contains("partial_"))
    assert(partial >= 0, s"no partial aggregate in plan:\n$plan")
    assert(finalAgg >= 0 && finalAgg < partial, // executed plans print top-down
      s"final merge must consume the exchange above the partial:\n$plan")
  }

  test("sink_partitioned readback prunes to the filtered partition directory") {
    // the 100 TB layout contract: a filter on the partition column must
    // become a PartitionFilter (directory pruning — the other languages'
    // files are never listed into the scan), not a post-scan row filter
    val plan = planOf("sink_partitioned")
    assert(plan.contains("PartitionFilters: ["),
      s"lang filter must prune partitions:\n$plan")
    assert("""PartitionFilters: \[[^\]]*lang[^\]]*= en""".r.findFirstIn(plan).isDefined,
      s"lang = en must appear as a partition filter:\n$plan")
    // and lang must NOT also run as a data filter against row contents
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      s"partition column must not be re-filtered as data:\n$plan")
  }

  test("signature index stays a zero-exchange bucketed scan after appends") {
    // rolling-ingestion scale contract: appendToSignatureIndex must keep
    // the main table's bucketed layout, so a post-append probe's band join
    // still reads the index with no index-side shuffle (broadcast disabled
    // to force the join to prove the distribution)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    graft.api.BandedLsh.saveSignatureIndex(docs.filter(col("doc_id") < 30),
      "graft_plan_sig_idx", 4, "doc_id", "text", 4, 8, 3, 123L)
    graft.api.BandedLsh.appendToSignatureIndex(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 40),
      "graft_plan_sig_idx", "doc_id", "text", 4, 8, 3, 123L)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batchRows = graft.api.BandedLsh.bandedRows(
          docs.filter(col("doc_id") >= 40), "doc_id", "text", 4, 8, 3, 123L)
        .select(col("band"), col("band_hash"), col("doc_id").as("batch_id"))
      val j = batchRows.join(spark.table("graft_plan_sig_idx"), Seq("band", "band_hash"))
      assert(j.collect().nonEmpty, "fixture must produce collisions")
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
        case q: QueryStageExec => p +: walk(q.plan)
        case _ => p +: p.children.flatMap(walk)
      }
      val nodes = walk(j.queryExecution.executedPlan)
      val idxScan = nodes.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_plan_sig_idx")) => s
      }
      assert(idxScan.nonEmpty && idxScan.forall(_.bucketedScan),
        s"appended index must still serve a bucketed scan:\n${j.queryExecution.executedPlan}")
      // no exchange may sit on the index side: every shuffle in the plan
      // must be above the batch rows only
      val exchangesOverIdx = nodes.collect { case e: ShuffleExchangeExec => e }
        .filter(e => walk(e).exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(_.toString.contains("graft_plan_sig_idx"))
          case _ => false
        })
      assert(exchangesOverIdx.isEmpty,
        s"index side must not shuffle after appends:\n${j.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_plan_sig_idx")
      spark.sql("DROP TABLE IF EXISTS graft_plan_sig_idx_hot")
    }
  }

  test("domain family plans: broadcast equi-joins, no nested loop, no window sort") {
    // filterUrlPaths / domain_blocklist / domain_allowlist: the rules and
    // domain lists must arrive as BroadcastHashJoins over the exploded
    // chains — a BroadcastNestedLoopJoin here is the O(corpus × rules)
    // LIKE shape the explode form exists to avoid
    for (q <- Seq("domain_path_filter", "domain_blocklist",
        "domain_allowlist")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: expected broadcast equi-joins:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q must never plan a nested loop:\n$plan")
    }
    // the quota cut is the bounded-heap aggregate, never a per-host
    // row_number window (the mega-host single-task sort)
    val quota = planOf("domain_quota_sample")
    assert(quota.contains("topk_by"),
      s"quota must use the bounded-heap aggregate:\n$quota")
    assert(!quota.contains("Window"),
      s"quota must not window-sort per host:\n$quota")
    // canonical dedup: the decision aggregates ids+keys (partial_min
    // before the exchange — map-side combine), text never shuffles
    val dedup = planOf("domain_dedup_canonical")
    assert(dedup.contains("partial_min"),
      s"dedup must map-side-combine the min(id):\n$dedup")
  }

  test("round-17 domain additions: hashed joins only, no nested loop") {
    // param census: key explode + hashed joins (the plain-holder attach
    // and the two aggregations) — a nested loop would be the
    // O(corpus x keys) shape the explode exists to avoid; the IDN dedup
    // keeps the map-side-combined ids+keys aggregate of the family
    for (q <- Seq("domain_param_census", "domain_dedup_idn")) {
      val plan = planOf(q)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q must never plan a nested loop:\n$plan")
    }
    assert(planOf("domain_dedup_idn").contains("partial_min"),
      "idn dedup must map-side-combine the min(id)")
  }

  test("dedupParagraphs: one corpus explode via ReusedExchange, map-side-combined winners, no window") {
    // the operator's scale contract: the paragraph triples exchange is
    // shared by the winner aggregate and the cut join (exchange reuse —
    // the explicit isnotnull keeps the two branches canonically equal;
    // without reuse the corpus tokenizes twice, the dupSpans trap), the
    // winner aggregate partial-combines map-side (a boilerplate
    // mega-paragraph collapses before the shuffle — the reason this is
    // NOT a window over ph), and document bodies never enter the
    // decision exchange. Broadcast disabled: at corpus scale the winner
    // table is corpus-sized, so the pinned plan is the non-broadcast one.
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          when(col("doc_id") % 3 === 0, lit("planted header\n\n"))
            .otherwise(lit("")),
          regexp_replace(col("text"), "\\. ", ".\n\n")).as("text"))
      val out = api.Dedup.dedupParagraphs(docs, "doc_id", "text")
      val qe = out.queryExecution
      qe.toRdd.count() // finalize AQE for THIS execution
      val finalPlan = qe.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(finalPlan.contains("ReusedExchange"),
        s"triples exchange must be shared, not re-exploded:\n$finalPlan")
      assert("Generate posexplode".r.findAllIn(finalPlan).length == 1,
        s"corpus must explode exactly once:\n$finalPlan")
      assert(finalPlan.contains("partial_min"),
        s"winner aggregate must map-side-combine:\n$finalPlan")
      assert(!finalPlan.contains("Window"),
        s"no window over the paragraph hash:\n$finalPlan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("scriptProfile is map-only: no exchange, no window, counts in one codegen stage") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = api.TextAnalysis.scriptProfile(docs, "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"script profile must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"script profile must not window:\n$plan")
    assert(plan.contains("*(1) Project"),
      s"regexp counts must run inside one whole-stage-codegen projection:\n$plan")
  }

  test("main-content extraction + compression signals are map-only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumnRenamed("text", "html")
    val ext = api.TextAnalysis.extractMainHtml(docs, "html", "text")
    val extPlan = ext.queryExecution.executedPlan.toString
    assert(!extPlan.contains("Exchange"),
      s"main-content extraction must not shuffle:\n$extPlan")
    assert(extPlan.contains("html_main_content"),
      s"the extraction must be the codegen'd expression, not a UDF:\n$extPlan")
    val sig = api.TextAnalysis.compressionSignals(
      spark.read.parquet(s"$dir/documents.parquet"), "text")
    val sigPlan = sig.queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Exchange"),
      s"compression signals must not shuffle:\n$sigPlan")
    assert(sigPlan.contains("zlib_len"),
      s"the signal must be the codegen'd expression:\n$sigPlan")
  }

  test("filterNoindex is map-only and scans the page once") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumnRenamed("text", "html")
    val out = api.TextAnalysis.filterNoindex(docs, "html",
      robotsCol = Some("robots"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the robots filter must not shuffle:\n$plan")
    // one codegen stage hosts both the filter predicate and the kept
    // column, so subexpression elimination evaluates the scan once —
    // the expression must appear, and only within one WholeStageCodegen
    assert(plan.contains("html_meta_robots"),
      s"the parse must be the codegen'd expression:\n$plan")
    assert(plan.split("WholeStageCodegen").length <= 3,
      s"filter+project must share one codegen stage:\n$plan")
  }

  test("corpusReport: one map-side-combined aggregate, bodies never shuffle") {
    val plan = planOf("corpus_report")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"card must partial-aggregate before the exchange:\n$plan")
    // the distinct expansion shuffles (dims, xxhash64) pairs — the only
    // exchanges carry the slice keys + an 8-byte hash, never text
    assert(!plan.contains("Exchange hashpartitioning(text"),
      s"document bodies must not be a shuffle key:\n$plan")
  }

  test("perplexityBucketsSketch classify pass: no window, no sort, no exchange") {
    // the sketch's whole point vs the exact operator: the returned plan is
    // a map-only classification (cut bins ride as literals) — the two
    // bounded histogram aggregates run at build time, not in this plan
    import spark.implicits._
    val scored = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "fr",
      (i % 37).toDouble)).toDF("doc_id", "lang", "s").localCheckpoint()
    val out = api.TextAnalysis.perplexityBucketsSketch(scored, "lang", "s")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"sketch classify must not window:\n$plan")
    assert(!plan.contains("Sort"), s"sketch classify must not sort:\n$plan")
    assert(!plan.contains("Exchange"), s"sketch classify must not shuffle:\n$plan")
  }
}
