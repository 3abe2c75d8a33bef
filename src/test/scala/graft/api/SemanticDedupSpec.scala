package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))

  test("semanticDedup verdicts are internally consistent with a brute-force recheck") {
    val assigned = SemanticDedup.assignClusters(emb, nClusters = 4, seed = 77L,
      sampleSize = 100)
    val verdicts = SemanticDedup.semanticDedup(emb, nClusters = 4, tau = 0.3,
      seed = 77L, sampleSize = 100)
    val n = emb.count()
    assert(verdicts.count() == n, "one verdict row per input vector")
    // recheck the keep rule against an independent all-pairs computation
    // over the same cluster assignment: dropped iff a lower-id same-cluster
    // member is cosine >= tau away
    val a = assigned.select(col("vec_id").as("id_a"), col("cluster"),
      col("embedding").as("va"))
    val b = assigned.select(col("vec_id").as("id_b"), col("cluster"),
      col("embedding").as("vb"))
    val shouldDrop = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(Ann.cosine(col("va"), col("vb")) >= 0.3)
      .select(col("id_b").as("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val got = verdicts.collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got.size == n)
    got.foreach { case (id, kept) =>
      assert(kept == !shouldDrop(id), s"vec $id kept=$kept but brute force disagrees")
    }
  }

  test("tau above max pairwise cosine keeps everything; tau=-1 keeps one per cluster chain") {
    val all = SemanticDedup.semanticDedup(emb, nClusters = 4, tau = 1.01,
      seed = 77L, sampleSize = 100)
    assert(all.filter(!col("kept")).count() == 0)
    // tau = -1: every pair "matches", so exactly the lowest id per cluster survives
    val one = SemanticDedup.semanticDedup(emb, nClusters = 4, tau = -1.0,
      seed = 77L, sampleSize = 100)
    val keptPerCluster = one.filter(col("kept"))
      .groupBy("cluster").count().collect().map(_.getLong(1))
    assert(keptPerCluster.forall(_ == 1L), "tau=-1 must keep exactly one per cluster")
    val mins = one.groupBy("cluster").agg(min("vec_id").as("lo")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    one.filter(col("kept")).collect().foreach { r =>
      assert(r.getLong(0) == mins(r.getInt(1)), "survivor must be the cluster's lowest id")
    }
  }

  test("assignClusters is deterministic and sample-init fills multiple cells") {
    val c1 = SemanticDedup.assignClusters(emb, 4, 77L, sampleSize = 100)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val c2 = SemanticDedup.assignClusters(emb, 4, 77L, sampleSize = 100)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(c1 == c2, "same seed must give identical assignment")
    assert(c1.values.toSet.size > 1, "sample-init must not collapse to one cell")
  }

  test("assignToCentroids: a fitted IVF index's centroids slot in") {
    val idx = Ann.fitIvf(emb, nlist = 4, seed = 77L)
    val viaIvf = SemanticDedup.assignToCentroids(emb, idx.centroids)
    assert(viaIvf.select("vec_id", "cluster").count() == emb.count())
    assert(viaIvf.select("cluster").distinct().count() >= 1)
  }

  test("clusterPrototypes: k most central per cell, prefix of the full ranking") {
    val all = SemanticDedup.clusterPrototypes(emb, nClusters = 4, k = 1 << 20,
      seed = 77L, sampleSize = 100)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(0), r.getDouble(3)))
    assert(all.length == emb.count(), "k >= cell size must rank every vector")
    // ranks are dense per cell and ordered by (center_dist, id)
    all.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length).toSeq)
      val dists = sorted.map(_._4)
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b },
        "center_dist must be non-decreasing in rank")
    }
    // a small k returns exactly the per-cell prefix of the full ranking
    val top2 = SemanticDedup.clusterPrototypes(emb, nClusters = 4, k = 2,
      seed = 77L, sampleSize = 100)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(0))).toSet
    val want = all.filter(_._2 <= 2).map(t => (t._1, t._2, t._3)).toSet
    assert(top2 == want)
  }

  test("embedOverlap flags exactly the above-threshold cross pairs, self excluded") {
    val bench = emb.filter(col("vec_id") < 3)
    val got = Contamination.embedOverlap(emb, bench, tau = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent recheck with a plain cross join
    val want = emb.select(col("vec_id").as("ca"), col("embedding").as("va"))
      .crossJoin(bench.select(col("vec_id").as("cb"), col("embedding").as("vb")))
      .filter(col("ca") =!= col("cb"))
      .filter(Ann.cosine(col("va"), col("vb")) >= 0.2)
      .select("ca", "cb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.forall { case (a, b) => a != b })
  }

  test("embedOverlapAnn is a recall>=0.9 subset of embedOverlap; full-probe degenerates to equality") {
    val bench = Sampling.sampleByHash(emb, "vec_id", 0.05, 99L)
    val exact = Contamination.embedOverlap(emb, bench, tau = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture is vacuous: no exact pairs")
    val ann = Contamination.embedOverlapAnn(emb, bench, tau = 0.2,
        nlist = 4, nprobe = 3, seed = 101L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 relative to the brute pass: every emitted pair is
    // exact-verified, so the ANN set can only MISS pairs, never add
    assert(ann.subsetOf(exact), s"ANN emitted non-exact pairs: ${ann -- exact}")
    val recall = ann.size.toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall < 0.9 (|ann|=${ann.size}, |exact|=${exact.size})")
    // nprobe = nlist probes every cell: the shortlist is the whole bench
    // and the pair set must equal the brute pass exactly
    val full = Contamination.embedOverlapAnn(emb, bench, tau = 0.2,
        nlist = 4, nprobe = 4, seed = 101L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nprobe=nlist must degenerate to embedOverlap's pair set")
  }

  test("embedOverlapAnn broadcastBench=false: same pairs, shuffled join, no size guard") {
    val spark = emb.sparkSession
    val bench = Sampling.sampleByHash(emb, "vec_id", 0.05, 99L)
    val hinted = Contamination.embedOverlapAnn(emb, bench, tau = 0.2,
        nlist = 4, nprobe = 3, seed = 101L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pin the guard BELOW the bench size: the broadcast path must refuse,
    // the fallback must proceed and produce the identical pair set
    val prev = scala.util.Try(spark.conf.get("graft.ann.maxQueryRows")).toOption
    spark.conf.set("graft.ann.maxQueryRows", "1")
    try {
      intercept[IllegalArgumentException] {
        Contamination.embedOverlapAnn(emb, bench, tau = 0.2,
          nlist = 4, nprobe = 3, seed = 101L)
      }
      val big = Contamination.embedOverlapAnn(emb, bench, tau = 0.2,
        nlist = 4, nprobe = 3, seed = 101L, broadcastBench = false)
      val plan = big.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
        s"fallback must not broadcast the bench side:\n$plan")
      assert(big.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == hinted,
        "the big-bench fallback must not change the pair set")
    } finally prev match {
      case Some(v) => spark.conf.set("graft.ann.maxQueryRows", v)
      case None => spark.conf.unset("graft.ann.maxQueryRows")
    }
  }
}
