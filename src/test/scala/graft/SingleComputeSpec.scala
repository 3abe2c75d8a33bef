package graft

import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-pass contracts won in round 12: operators whose plan used
  * to compute an expensive signature/tokenize subtree ONCE PER CONSUMER
  * (self-join sides, agg + probe branches) now compute it once — either
  * through an explicit bucket repartition the join reads as a
  * ReusedExchange, or by evaluating the flag rule as a window instead of
  * a self-semi-join. A Spark upgrade or refactor that silently breaks the
  * reuse doubles the dominant CPU of the whole mining family; this suite
  * makes that loud. Counts are structural over the FINAL adaptive plan
  * (cache subtrees excluded — InMemoryRelation's printed description
  * embeds its build plan).
  */
class SingleComputeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def liveNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: InMemoryTableScanExec => Seq(c)
    // a ReusedExchange is a POINTER to another stage's output, not a
    // recompute — descending into it would double-count the shared subtree
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r)
    case a: AdaptiveSparkPlanExec => liveNodes(a.executedPlan)
    case s: QueryStageExec => liveNodes(s.plan)
    case _ => p +: p.children.flatMap(liveNodes)
  }

  /** Number of live plan nodes computing an expression whose string form
    * mentions `fn` — each counted node is one evaluation site of the
    * expensive kernel. */
  private def computeSites(df: org.apache.spark.sql.DataFrame, fn: String): Int = {
    df.collect()
    liveNodes(df.queryExecution.executedPlan)
      .count(n => n.expressions.exists(_.toString.contains(fn)))
  }

  test("nearDupPairs: the lsh_min banding pass runs once") {
    graft.sql.LshFunctions.register(spark)
    val df = api.BandedLsh.nearDupPairs(docs, "doc_id", "text", 4, 8, 3, 42L, 0.6)
    assert(computeSites(df, "lsh_min") == 1,
      s"banding must compute once:\n${df.queryExecution.executedPlan}")
  }

  test("nearDupPairs over a cached input: one banding pass, one band exchange") {
    // a join over a cached input planned its two sides' band exchanges
    // separately under AQE, so the banding ran twice; the fused operator
    // has one consumer of the banded rows
    val cached = docs.cache()
    try {
      val df = api.BandedLsh.nearDupPairs(cached, "doc_id", "text", 4, 8, 3, 42L, 0.6)
      assert(computeSites(df, "lsh_min") == 1,
        s"banding must compute once:\n${df.queryExecution.executedPlan}")
      // exchanges shipping banded rows: the Generate that explodes the
      // bands runs in the exchange's own stage
      def stage(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: Exchange | _: QueryStageExec => Nil
        case _ => p +: p.children.flatMap(stage)
      }
      val bandExchanges = liveNodes(df.queryExecution.executedPlan).count {
        case e: ShuffleExchangeExec => stage(e.child).exists(_.isInstanceOf[GenerateExec])
        case _ => false
      }
      assert(bandExchanges == 1,
        s"one (band, hash) exchange expected:\n${df.queryExecution.executedPlan}")
    } finally cached.unpersist()
  }

  test("bandedSelfJoinPairs over a cached input: all seeds share one spread exchange") {
    // one spread exchange per seed was not reused under AQE over a cached
    // input: a 2-seed call shuffled its input once per seed
    val cached = docs.cache()
    try {
      val df = api.BandedLsh.bandedSelfJoinPairs(cached, "doc_id", "text", 4, 1, 3,
        Seq(11L, 12L), 0.6)
      assert(computeSites(df, "lsh_min") == 1,
        s"both seeds' banding must compute in one node:\n${df.queryExecution.executedPlan}")
      // the id spread: a strict exchange whose own stage explodes nothing
      def stage(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: Exchange | _: QueryStageExec => Nil
        case _ => p +: p.children.flatMap(stage)
      }
      import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
      val spreads = liveNodes(df.queryExecution.executedPlan).count {
        case e: ShuffleExchangeExec => e.shuffleOrigin == REPARTITION_BY_NUM &&
          !stage(e.child).exists(_.isInstanceOf[GenerateExec])
        case _ => false
      }
      assert(spreads == 1, s"one spread exchange expected:\n${df.queryExecution.executedPlan}")
    } finally cached.unpersist()
  }

  test("signatureDupPairs: both lsh_min passes run once") {
    val df = api.BandedLsh.nearDupPairsBySignature(docs, "doc_id", "text",
      4, 8, 3, 42L, k = 24, sigSeed = 77L, threshold = 0.3)
    assert(computeSites(df, "lsh_min") == 1,
      s"banding+signature must compute once:\n${df.queryExecution.executedPlan}")
  }

  test("simhashDupPairs: the simhash pass runs once") {
    val df = api.Dedup.simhashDupPairs(docs, "doc_id", "text", 4, 6)
    assert(computeSites(df, "simhash64") == 1,
      s"simhash must compute once:\n${df.queryExecution.executedPlan}")
  }

  test("cosineLshPairs: the sketch pass runs once") {
    val df = api.Ann.cosineLshPairs(emb, nbits = 64, bands = 8,
      seed = 7L, threshold = 0.3)
    assert(computeSites(df, "cosine_sketch") == 1,
      s"sketching must compute once:\n${df.queryExecution.executedPlan}")
  }

  test("editVerifiedPairs: the lsh_min banding pass runs once") {
    import org.apache.spark.sql.functions._
    // short keys, the record-linkage shape: the first 24 chars of each doc
    val keys = docs.select(col("doc_id"), substring(col("text"), 1, 24).as("key"))
    val df = api.BandedLsh.editVerifiedPairs(keys, "doc_id", "key",
      ngramWidth = 2, bandCount = 4, bandSize = 6, seed = 5L, minSim = 0.5)
    assert(computeSites(df, "lsh_min") == 1,
      s"banding must compute once:\n${df.queryExecution.executedPlan}")
  }

  test("imageNearDupPairs: the image hash runs once") {
    // through parquet: over a local relation the optimizer folds the hash
    // into the scan on the driver and no plan node computes it
    val dir = java.nio.file.Files.createTempDirectory("graft-media").resolve("m").toString
    api.Multimodal.syntheticPngTwins(spark, 48).write.parquet(dir)
    val media = spark.read.parquet(dir)
    val df = api.Multimodal.imageNearDupPairs(media, "media_id", "bytes")
    assert(computeSites(df, "image_dhash") == 1,
      s"image hash must compute once:\n${df.queryExecution.executedPlan}")
  }

  test("dupSpans: the gram explode runs once (window-form flag rule)") {
    for (crossDoc <- Seq(true, false)) {
      val df = api.Dedup.dupSpans(docs, "doc_id", "text", width = 8,
        crossDocOnly = crossDoc)
      df.collect()
      val generates = liveNodes(df.queryExecution.executedPlan)
        .count(n => n.nodeName.contains("Generate") &&
          n.expressions.exists(_.toString.contains("xxhash64")))
      assert(generates == 1,
        s"crossDocOnly=$crossDoc: gram mining must run once:\n${df.queryExecution.executedPlan}")
    }
  }

  test("dropBoilerplateLines: the line explode runs once") {
    import org.apache.spark.sql.functions._
    // plant real boilerplate: with nothing flagged, AQE's empty-relation
    // propagation prunes the whole lines subtree and the count reads 0
    val planted = docs.select(col("doc_id"),
      concat(lit("subscribe now\n"), col("text")).as("text"))
    val df = api.Dedup.dropBoilerplateLines(planted, "doc_id", "text", 3L)
    df.collect()
    val generates = liveNodes(df.queryExecution.executedPlan)
      .count(_.nodeName.contains("Generate"))
    assert(generates == 1,
      s"line explode must run once:\n${df.queryExecution.executedPlan}")
  }
}
