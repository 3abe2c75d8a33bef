package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ContaminationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def shingleSet(text: String, w: Int): Set[Int] = {
    val b = text.getBytes("UTF-8")
    graft.core.Shingles.sortedShinglesUtf8(b, 0, b.length, w).toSet
  }

  test("sharedNgrams counts are exact distinct shingle intersections") {
    val bench = Sampling.sampleByHash(docs, "doc_id", 0.1, 99L)
    val flagged = Contamination.sharedNgrams(docs, bench, "doc_id", "text", 8, 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flagged.nonEmpty, "fixture has near-dups; expected flagged pairs")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    flagged.take(20).foreach { case (d, b, n) =>
      assert(d != b, "benchmark docs must not flag themselves")
      val expect = (shingleSet(texts(d), 8) & shingleSet(texts(b), 8)).size
      assert(n == expect, s"pair ($d,$b): got $n, recomputed $expect")
      assert(n >= 10)
    }
  }

  test("removeContaminated drops exactly the flagged docs") {
    val bench = Sampling.sampleByHash(docs, "doc_id", 0.1, 99L)
    val flaggedIds = Contamination.sharedNgrams(docs, bench, "doc_id", "text", 8, 10L)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val clean = Contamination.removeContaminated(docs, bench, "doc_id", "text", 8, 10L)
    assert(clean.count() == docs.count() - flaggedIds.size)
    val remaining = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(remaining.intersect(flaggedIds).isEmpty)
  }

  test("the corpus side broadcast-joins the benchmark shingles (no corpus shuffle)") {
    val bench = Sampling.sampleByHash(docs, "doc_id", 0.1, 99L)
    val plan = Contamination.sharedNgrams(docs, bench, "doc_id", "text", 8, 10L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$plan")
  }

  test("bloom-pruned path is bit-identical to sharedNgrams, even under heavy fp") {
    val bench = Sampling.sampleByHash(docs, "doc_id", 0.1, 99L)
    val exact = Contamination.sharedNgrams(docs, bench, "doc_id", "text", 8, 10L)
      .orderBy("doc_id", "bench_id").collect().toSeq
    // log2m=8 (256 bits, k=1) is deliberately undersized: most probes come
    // back might_contain=true, so this exercises fp survival through the
    // pre-filter AND their elimination by the exact join
    for (log2m <- Seq(8, 20)) {
      val pruned = Contamination.sharedNgramsBloomPruned(
          docs, bench, "doc_id", "text", 8, 10L, log2m = log2m, k = 1)
        .orderBy("doc_id", "bench_id").collect().toSeq
      assert(pruned == exact, s"log2m=$log2m diverged from the exact path")
    }
  }

  test("bloom probe filters the corpus before the exact join reaches it") {
    val bench = Sampling.sampleByHash(docs, "doc_id", 0.1, 99L)
    val plan = Contamination.sharedNgramsBloomPruned(
        docs, bench, "doc_id", "text", 8, 10L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_contains"),
      s"map-side bloom probe missing from plan:\n$plan")
    // The eagerly-built bloom is a binary LITERAL, so the probe must be a
    // plain Filter in the corpus stage — no join machinery (the lazy
    // crossJoin(broadcast) form planned as a codegen-breaking
    // BroadcastNestedLoopJoin). And it must sit BELOW the exact join
    // (executed plans print top-down), or it prunes nothing.
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bloom probe must not need a nested-loop join:\n$plan")
    val lines = plan.linesIterator.toSeq
    val probeAt = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("bloom_contains"))
    val exactJoinAt = lines.indexWhere(l =>
      l.contains("Join") && l.contains("[sh") && !l.contains("bloom_contains"))
    assert(probeAt >= 0, s"bloom probe must be a Filter in the corpus stage:\n$plan")
    assert(exactJoinAt >= 0 && exactJoinAt < probeAt,
      s"exact join must consume the bloom-pruned stream:\n$plan")
  }

  test("contaminatedSpans excises a planted benchmark paragraph, the remainder survives") {
    import spark.implicits._
    // letters only — digits are separators under the [^a-z]+ tokenizer
    def words(n: Int, tag: String): String =
      (0 until n).map(i => s"$tag${('a' + i % 26).toChar}").mkString(" ")
    val benchPara = "zebra quagga okapi tapir gnu eland kudu oryx"
    val uniqueHead = words(6, "head")
    val uniqueTail = words(5, "tail")
    val corpus = Seq(
      (1L, s"$uniqueHead $benchPara $uniqueTail"), // leak mid-document
      (2L, words(20, "clean")))                    // no benchmark content
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"${words(4, "bq")} $benchPara ${words(3, "bt")}"))
      .toDF("doc_id", "text")
    val spans = Contamination.contaminatedSpans(corpus, bench, "doc_id",
        "text", width = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly the 8-token paragraph in doc 1 (positions 6..13), nothing else
    assert(spans.toSeq == Seq((1L, 6L, 13L)))
    val cut = Contamination.cutContaminatedSpans(corpus, bench, "doc_id",
        "text", width = 4)
      .orderBy("doc_id").select("text").as[String].collect()
    assert(cut(0) == s"$uniqueHead $uniqueTail",
      "the unique remainder must survive the cut")
    assert(cut(1) == words(20, "clean"),
      "a clean doc passes through as its canonical token stream")
  }

  test("splitLeakage flags cross-split near-dup pairs only") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (1L, base, "train"),
      (2L, base + " x", "test"),                   // cross-split near-dup: LEAK
      (3L, base.replace("quick", "rapid"), "train"), // near-dup of 1, SAME split
      (4L, "completely different content with no overlap at all here", "test"))
      .toDF("doc_id", "text", "split")
    val got = Contamination.splitLeakage(df, "doc_id", "text", "split",
        ngramWidth = 4, bandCount = 8, bandSize = 3, seed = 123L, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got.forall { case (_, sa, _, sb) => sa != sb },
      s"every flagged pair must straddle splits: ${got.toSeq}")
    assert(got.exists { case (a, _, b, _) => (a, b) == (1L, 2L) },
      s"the planted cross-split near-dup must flag: ${got.toSeq}")
    assert(!got.exists { case (a, _, b, _) => (a, b) == (1L, 3L) },
      s"a same-split near-dup is dedup's business, not leakage: ${got.toSeq}")
    assert(!got.exists { case (a, _, b, _) => a == 4L || b == 4L },
      s"unrelated content must not flag: ${got.toSeq}")
  }

  test("contaminatedSpans: corpus flags without shuffling (benchmark grams broadcast)") {
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val df = Contamination.contaminatedSpans(corpus, bench, "doc_id", "text", width = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench gram set must broadcast into the semi-join:\n$plan")
    // the corpus gram stream must not be exchange-partitioned for the
    // flagging join (a sort-merge semi-join would shuffle BOTH sides on
    // gh); the bench side's distinct legitimately exchanges on gh once,
    // bounded by benchmark size, under the broadcast
    assert(!plan.contains("SortMergeJoin"),
      s"flagging must not sort-merge (corpus-side gh shuffle):\n$plan")
  }
}
