package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Deterministic sampling/splitting invariants: layout invariance is the
  * whole point of hash-based sampling, so it is what the spec pins. */
class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("sampleByHash is partitioning- and run-invariant") {
    val a = Sampling.sampleByHash(docs, "doc_id", 0.25, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Sampling.sampleByHash(docs.repartition(7).sortWithinPartitions(desc("text")),
        "doc_id", 0.25, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("sampleByHash hits the requested fraction and seeds are independent") {
    val n = docs.count().toDouble
    val f = 0.3
    val kept = Sampling.sampleByHash(docs, "doc_id", f, seed = 1L).count().toDouble
    assert(math.abs(kept / n - f) < 0.1, s"kept ${kept / n}, wanted ~$f")
    val other = Sampling.sampleByHash(docs, "doc_id", f, seed = 2L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val first = Sampling.sampleByHash(docs, "doc_id", f, seed = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(first != other, "different seeds must draw different samples")
  }

  test("stratifiedSampleByHash takes exactly k per stratum, uniform in hash order") {
    val k = 3
    val out = Sampling.stratifiedSampleByHash(docs, "lang", "doc_id", k, seed = 11L)
    val perStratum = out.groupBy("lang").count().collect()
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { r =>
      val expect = math.min(k.toLong, sizes(r.getString(0)))
      assert(r.getLong(1) == expect, s"stratum ${r.getString(0)}")
    }
  }

  test("assignSplits is exhaustive, disjoint and layout-invariant") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.assignSplits(docs, "doc_id", seed = 5L, splits)
    assert(out.count() == docs.count(), "every row keeps exactly one split")
    val labels = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(labels.keySet.subsetOf(Set("train", "val", "test")))
    assert(labels("train") > labels.getOrElse("val", 0L))
    val again = Sampling.assignSplits(docs.repartition(5), "doc_id", seed = 5L, splits)
      .filter(col("split") === "test").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val first = out.filter(col("split") === "test").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(first.sameElements(again))
  }

  test("assignSplits rejects fractions that do not sum to 1") {
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(docs, "doc_id", 5L, Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("shuffleByHash is a reproducible total order, invariant to input layout") {
    val a = Sampling.shuffleByHash(docs, "doc_id", 21L)
      .select("doc_id").collect().map(_.getLong(0))
    val b = Sampling.shuffleByHash(docs.repartition(7), "doc_id", 21L)
      .select("doc_id").collect().map(_.getLong(0))
    assert(a.sameElements(b), "shuffle order must not depend on partitioning")
    assert(!a.sameElements(a.sorted), "seeded order should differ from id order")
    assert(a.toSet == docs.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("vocabTopK plans top-k as TakeOrderedAndProject, not a full sort") {
    val df = TextAnalysis.vocabTopK(docs, "text", 20)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected heap top-k:\n$plan")
    val rows = df.collect()
    assert(rows.length == 20)
    // descending counts with alphabetic tiebreak — a total order
    val pairs = rows.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy { case (c, t) => (-c, t) }))
  }

  test("sampleByHash stays a narrow plan: no exchange, filter in the scan stage") {
    val plan = Sampling.sampleByHash(docs, "doc_id", 0.25, 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sample must not shuffle:\n$plan")
  }

  test("mixSources applies per-source rates over one score, no shuffle") {
    val mixed = Sampling.mixSources(docs, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5, seed = 3L)
    val bySrc = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == total("src0"), "rate 1.0 keeps everything")
    assert(!bySrc.contains("src1"), "rate 0.0 drops everything")
    // default-rate sources keep roughly half
    val restKept = bySrc.filterKeys(s => s != "src0" && s != "src1").values.sum.toDouble
    val restAll = total.filterKeys(s => s != "src0" && s != "src1").values.sum.toDouble
    assert(math.abs(restKept / restAll - 0.5) < 0.2)
    // the keep decision is the same score as sampleByHash: a kept row in a
    // rate-r source is exactly a sampleByHash(r) survivor
    val viaSample = Sampling.sampleByHash(docs.filter(col("source") === "src2"),
      "doc_id", 0.5, 3L).select("doc_id").collect().map(_.getLong(0)).sorted
    val viaMix = mixed.filter(col("source") === "src2")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(viaSample.sameElements(viaMix))
    val plan = mixed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixing must stay narrow:\n$plan")
  }

  test("mixByTemperature: alpha endpoints give natural / equalized allocations") {
    val total = docs.count()
    val bySrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha = 1: q_i = p_i, so rate_i = target/N for EVERY source (natural
    // proportions — the mix is an unbiased downsample)
    val (_, natural) = Sampling.mixByTemperature(docs, "source", "doc_id",
      alpha = 1.0, targetRows = total / 2, seed = 5L)
    val flat = (total / 2).toDouble / total
    natural.values.foreach(r => assert(math.abs(r - flat) < 1e-12, s"$natural"))
    // alpha = 0: q_i = 1/|sources|, so expected take is equal per source —
    // rate_i inversely proportional to count_i (capped at 1)
    val (_, equal) = Sampling.mixByTemperature(docs, "source", "doc_id",
      alpha = 0.0, targetRows = total / 2, seed = 5L)
    val perSrc = (total / 2).toDouble / bySrc.size
    equal.foreach { case (s, r) =>
      assert(math.abs(r - math.min(1.0, perSrc / bySrc(s))) < 1e-12)
    }
    // a non-string source column fails with the real problem up front, not
    // an opaque ClassCastException at collect time
    val typeErr = intercept[IllegalArgumentException] {
      Sampling.mixByTemperature(docs.select(col("doc_id"),
          col("doc_id").as("source")), "source", "doc_id",
        alpha = 0.5, targetRows = 10L, seed = 5L)
    }
    assert(typeErr.getMessage.contains("must be StringType"))
    // null-source rows get no allocation and are dropped, not crashed on
    import spark.implicits._
    val withNull = docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("source")).as("source"))
    val (keptN, ratesN) = Sampling.mixByTemperature(withNull, "source", "doc_id",
      alpha = 0.5, targetRows = 50L, seed = 5L)
    assert(!ratesN.contains(null) &&
      keptN.filter(col("source").isNull).count() == 0)
    // kept rows are exactly mixSources under the derived rates (same seed)
    val (kept, rates) = Sampling.mixByTemperature(docs, "source", "doc_id",
      alpha = 0.5, targetRows = total / 3, seed = 7L)
    val viaMix = Sampling.mixSources(docs, "source", "doc_id", rates, 0.0, 7L)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(viaMix))
  }

  test("weightedSampleTopK: layout-invariant, top-k plan, w_i/Σw for k=1") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, 3.0), (3L, 0.0), (4L, -1.0)).toDF("k", "w")
    // k=1 inclusion probability is exactly w_i / Σw — count wins over seeds
    val wins = (0 until 400).map { s =>
      Sampling.weightedSampleTopK(df, "k", "w", 1, seed = s.toLong)
        .head.getLong(0)
    }
    assert(!wins.contains(3L) && !wins.contains(4L), "non-positive weights must never win")
    val share2 = wins.count(_ == 2L).toDouble / wins.size
    assert(share2 > 0.65 && share2 < 0.85, s"weight-3 item won $share2, want ~0.75")
    // layout invariance of the selected set
    val base = Sampling.weightedSampleTopK(docs, "doc_id", "n_chars", 20, 5L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val shuffled = Sampling.weightedSampleTopK(
        docs.repartition(7).sortWithinPartitions(desc("text")), "doc_id", "n_chars", 20, 5L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(base == shuffled)
    // global top-k must plan as TakeOrderedAndProject, not a full sort
    val plan = Sampling.weightedSampleTopK(docs, "doc_id", "n_chars", 20, 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("dsirResample: tilts toward the target, log-space A-ES equals weightedSampleTopK on exp(logw)") {
    import org.apache.spark.sql.functions.{col, exp}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = docs.filter(col("lang") === "en")
    val k = 60
    val sel = Sampling.dsirResample(docs, target, "doc_id", "text",
      k = k, buckets = 512, seed = 7L)
    val selRows = sel.select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(selRows.length == k)
    // the selection must actually look more like the target than the corpus
    val corpusEn = docs.filter(col("lang") === "en").count().toDouble / docs.count()
    val selEn = selRows.count(_._2 == "en").toDouble / k
    assert(selEn > corpusEn,
      s"DSIR selection en-rate $selEn must beat the corpus base rate $corpusEn")
    // log-space key is a strictly monotone transform of the classic
    // ln(1/u)/w key: wherever exp(logw) is finite, the two rules must
    // select the IDENTICAL set (same seed, same uniforms)
    val ratios = Sampling.dsirLogRatios(docs, target, "text", 512)
    val weighted = Sampling.dsirScore(docs, "text", ratios)
      .withColumn("__w", exp(col("logw")))
    assert(weighted.filter(!(col("__w") > 0.0) ||
      col("__w").isNull || col("__w") === Double.PositiveInfinity).count() == 0,
      "fixture precondition: every exp(logw) finite and positive")
    val viaExp = Sampling.weightedSampleTopK(weighted, "doc_id", "__w", k, 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selRows.map(_._1).toSet == viaExp,
      "log-space A-ES must select the same set as the exp-weight rule")
    // determinism: a repartitioned input selects the identical rows
    val again = Sampling.dsirResample(docs.repartition(13), target, "doc_id",
        "text", k = k, buckets = 512, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == selRows.map(_._1).toSet)
  }

  test("dsirScore/dsirResample: null text is featureless (logw 0.0), never a null key") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val target = Seq((100L, "alpha beta"), (101L, "alpha gamma"))
      .toDF("doc_id", "text")
    // nulls planted with ids that would win any null-first sort tie
    val raw = Seq((0L, null), (1L, null), (2L, "alpha beta alpha"),
        (3L, "delta"), (4L, "alpha"), (5L, null))
      .toDF("doc_id", "text")
    val ratios = Sampling.dsirLogRatios(raw, target, "text", 64)
    val scored = Sampling.dsirScore(raw, "text", ratios)
    assert(scored.filter(col("logw").isNull).count() == 0,
      "null text must score, not null out")
    assert(scored.filter(col("doc_id") === 0L).select("logw")
      .as[Double].head() == 0.0, "null text folds to the empty-stream 0.0")
    // a null-text row must not hijack the top-k via null-first ordering:
    // k=2 over a fixture where the two real alpha docs carry all the weight
    val sel = Sampling.dsirResample(raw, target, "doc_id", "text",
        k = 2, buckets = 64, seed = 7L)
      .select("doc_id", "logw").collect()
    assert(sel.forall(r => !r.isNullAt(1)), "selected rows carry real logw")
  }
}
