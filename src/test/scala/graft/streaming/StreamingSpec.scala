package graft.streaming

import java.sql.Timestamp

import scala.reflect.runtime.universe.TypeTag

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L * 10 + min * 60_000L)

  test("normalizeEventTs accepts epoch-nanos Longs and rejects micros-scale values") {
    import spark.implicits._
    // 2026-01-01T00:00:00Z in nanos: well above the 1e17 plausibility floor
    val nanos = 1_767_225_600_000_000_000L
    val ok = EventStreams.normalizeEventTs(
      Seq(nanos).toDF("ts"))
      .select(col("ts").cast("long")).head().getLong(0)
    assert(ok == nanos / 1_000_000_000L, "nanos Long should normalize to the same instant")
    // the same instant in MICROS (~1.8e15) must fail fast, not be silently
    // divided by 1000 into a 1970s timestamp
    val ex = intercept[Exception] {
      EventStreams.normalizeEventTs(Seq(nanos / 1000L).toDF("ts")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("below the nanos-plausibility floor")), msgs(ex).toString)
    // epoch-zero sentinels and pre-1970 nanos are legitimate, not misreads
    val edge = EventStreams.normalizeEventTs(Seq(0L, -1_000_000_000_000_000_000L).toDF("ts"))
      .select(col("ts").cast("long")).collect().map(_.getLong(0)).toSet
    assert(edge == Set(0L, -1_000_000_000L))
  }

  test("embedNearDupCandidates: replay equals batch co-bucket math; zero-norm skipped") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long"),
        expr("timestamp_seconds(vec_id + 1)").as("ts"),
        col("embedding").cast("array<double>"))
      .as[(Long, java.sql.Timestamp, Seq[Double])].collect().toSeq.sortBy(_._1)
    // inject one zero-norm vector: it must never emit or absorb candidates
    val dim = emb.head._3.length
    val withZero = emb :+ ((9999L, new Timestamp(86400_000L),
      Seq.fill(dim)(0.0)))
    val got = EventStreams.embedNearDupReplay(spark, withZero, nBatches = 4)
      .select(least(col("doc_id"), col("peer_id")), greatest(col("doc_id"), col("peer_id")), col("band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(!got.exists { case (a, b, _) => a == 9999L || b == 9999L },
      "zero-norm vector must not block")
    // batch recomputation of the same co-bucket pairs via the expression path
    val vecs = emb.toDF("vec_id", "ts", "embedding")
      .filter(aggregate(col("embedding"), lit(0.0), (acc, v) => acc + v * v) > 0.0)
    val banded = vecs.select(col("vec_id"),
        posexplode(graft.api.SketchBlocking.chunks(
          graft.functions.cosine_sketch64(col("embedding"), 64, 41L), 8, 64)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("chunk"))
    val want = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"), col("a.band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"streamed candidates != batch co-bucket pairs (${got.size} vs ${want.size})")
    assert(want.nonEmpty, "fixture must produce at least one candidate")
  }

  test("windowedCounts over a MemoryStream emits watermarked window rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedCounts(df, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    try {
      mem.addData((ts(0), "click", 1.0), (ts(5), "click", 2.0), (ts(61), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, cnt FROM win_out ORDER BY win_start, event_type")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows.contains(("click", 2L)))
      assert(rows.contains(("view", 1L)))
    } finally q.stop()
  }

  test("sessionize over a MemoryStream groups events by idle gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 10 * 60_000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      mem.addData(
        EventStreams.Event(1, ts(0), 100, "click", 1.0),
        EventStreams.Event(2, ts(3), 100, "click", 1.0),
        // same batch, same user, past the gap: the first session must be
        // emitted on the spot (flatMap), not silently replaced
        EventStreams.Event(3, ts(30), 100, "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the gap: open sessions time out closed
      mem.addData(EventStreams.Event(4, ts(120), 200, "view", 1.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Event(5, ts(240), 200, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, events FROM sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.contains((100L, 2L)), s"in-batch closed session lost: $rows")
      assert(rows.contains((100L, 1L)), s"timed-out tail session lost: $rows")
    } finally q.stop()
  }

  test("streaming sessionize replay equals the batch twin on fixture events") {
    import spark.implicits._
    // whole-second quantization: sessionizeBatch (and its DuckDB oracle)
    // compare gaps in floor-seconds while the streaming operator uses ms —
    // on whole-second data the two gap semantics coincide exactly
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = EventStreams.normalizeEventTs(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      .withColumn("ts", expr("timestamp_seconds(cast(ts as long))"))
      .select(col("event_id").cast("long").as("event_id"), col("ts"),
        col("user_id").cast("long").as("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .as[EventStreams.Event].collect().toSeq
    val gap = 30 * 60_000L
    // full historical replay in one micro-batch, then the flush closes
    // every per-user tail session
    val streamed = EventStreams.sessionizeReplay(spark, events, gap, nBatches = 1)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val batch = EventStreams.sessionizeBatch(events.toDF(), gapMs = gap)
      .select("user_id", "start", "end", "events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"streaming-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
    assert(batch.nonEmpty)
  }

  test("sessionize merges cross-batch out-of-order events like the batch twin") {
    import spark.implicits._
    // Out-of-order ACROSS micro-batches, within the watermark delay: the
    // late events must merge into / bridge existing runs — never drag a
    // session's end before its start, never split a session the batch twin
    // merges. (Regression: the previous per-session state extended lastMs
    // backwards on this input.)
    val gap = 10 * 60_000L
    val streamed = EventStreams.sessionizeLateReplay(spark, Seq(
        // batch 1: user 100 at t=12 and t=30 (two separate open runs);
        Seq(EventStreams.Event(1, ts(12), 100, "click", 1.0),
          EventStreams.Event(2, ts(30), 100, "click", 1.0)),
        // batch 2: LATE events — t=10 (before the first run's start) and
        // t=21 (bridges the 12..30 gap, so all four events become ONE
        // session)
        Seq(EventStreams.Event(3, ts(10), 100, "click", 1.0),
          EventStreams.Event(4, ts(21), 100, "click", 1.0))),
        gap, "2 hours")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val batch = EventStreams.sessionizeBatch(Seq(
      (1L, ts(12), 100L, "click", 1.0), (2L, ts(30), 100L, "click", 1.0),
      (3L, ts(10), 100L, "click", 1.0), (4L, ts(21), 100L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value"), gapMs = gap)
      .select("user_id", "start", "end", "events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(streamed == batch,
      s"streaming-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    assert(streamed == Set((100L, ts(10), ts(30), 4L)), s"got $streamed")
    assert(streamed.forall { case (_, s, e, _) => !e.before(s) })
  }

  test("restart replay recovers open windows: both phases emit, union = batch twin") {
    import spark.implicits._
    // 240 events over 4 hours; the stop lands mid-stream so early windows
    // close before the crash and at least one window straddles it
    val events = (0 until 240).map { i =>
      EventStreams.Event(i.toLong, ts(i), i.toLong % 11,
        if (i % 2 == 0) "click" else "view", (i % 9).toDouble)
    }
    val got = EventStreams.windowedCountsRestartReplay(spark, events)
      .orderBy("win_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val batch = EventStreams.windowedCounts(events.toDF(), "1 hour")
      .orderBy("win_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == batch, "restart must be output-invisible")
    // the crash genuinely split emission: with a 1-hour watermark over a
    // 4-hour pre-stop... the pre-stop half covers ~2 h, so at least the
    // first window closed before the stop. The sink's parquet files carry
    // their writing query's id in the commit log; cheaper and just as
    // binding: the FIRST query alone cannot have emitted everything,
    // because the tail windows' data did not exist yet — assert the sink
    // holds every window including ones only the restarted query could
    // finish (last window present), and early ones it could not have
    // re-emitted without duplicating (each (win, type) appears once).
    val keys = got.map(g => (g._1, g._2))
    assert(keys.distinct.size == keys.size, "duplicate emission after restart")
    assert(got.map(_._1).distinct.size >= 3, "expected several hourly windows")
  }

  test("dedupByContent drops repeated texts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.dedupByContent(df, "text")
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta"))
      q.processAllAvailable()
      mem.addData((3L, ts(2), "alpha beta"), (4L, ts(3), "epsilon zeta"))
      q.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM content_dedup ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(kept == Seq(1L, 2L, 4L)) // doc 3 is a content dup of doc 1
    } finally q.stop()
  }

  test("nearDupCandidates emits collisions against prior stream members") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.nearDupCandidates(df, ngramWidth = 3, bandCount = 6,
        bandSize = 2, lshSeed = 7L)
      .writeStream.format("memory").queryName("ndc").outputMode("append").start()
    try {
      val base = "spark native locality sensitive hashing engine for the pipeline"
      mem.addData((1L, ts(0), base), (2L, ts(1), "completely unrelated content words here"))
      q.processAllAvailable()
      mem.addData((3L, ts(2), base)) // exact dup of doc 1 arriving later
      q.processAllAvailable()
      val cands = spark.sql("SELECT DISTINCT doc_id, peer_id FROM ndc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands.contains((3L, 1L)), s"got $cands")
      assert(!cands.exists(c => c._1 == 2L || c._2 == 2L), s"unrelated doc collided: $cands")
    } finally q.stop()
  }

  test("windowedLastValue replay equals the batch twin; tie key decides survivors") {
    import spark.implicits._
    val events = Seq(
      EventStreams.Event(1L, ts(10), 100L, "m", 1.0),
      EventStreams.Event(3L, ts(50), 100L, "m", 3.0),   // same ts as id 2...
      EventStreams.Event(2L, ts(50), 100L, "m", 2.0),   // ...id 3 wins the tie
      EventStreams.Event(4L, ts(7200), 100L, "m", 4.0), // next window
      EventStreams.Event(5L, ts(20), 200L, "m", 5.0))
    val streamed = EventStreams.windowedLastValueReplay(spark, events, "1 hour", nBatches = 3)
      .orderBy("win_start", "user_id").collect().map(_.toSeq).toSeq
    val batch = EventStreams.windowedLastValue(
        events.toDF(), "1 hour", watermark = "1 hour")
      .orderBy("win_start", "user_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(batch.map(r => (r(1), r(2))) ==
      Seq((100L, 3.0), (200L, 5.0), (100L, 4.0)))
  }

  test("attributionJoin replay equals the batch join; cross-batch matches emit") {
    import spark.implicits._
    // NB: this suite's ts() is in MINUTES
    val clicks = Seq(
      EventStreams.Event(1L, ts(0), 100L, "click", 0.0),
      EventStreams.Event(2L, ts(100), 100L, "click", 0.0),
      EventStreams.Event(3L, ts(0), 200L, "click", 0.0))
    val purchases = Seq(
      EventStreams.Event(10L, ts(60), 100L, "purchase", 9.5),  // 60 min after click 1 — the INCLUSIVE boundary
      EventStreams.Event(11L, ts(130), 100L, "purchase", 1.0), // 30 min after click 2; 130 > 60 excludes click 1
      EventStreams.Event(12L, ts(50), 300L, "purchase", 2.0))  // no click for user 300
    val streamed = EventStreams.attributionJoinReplay(spark, clicks, purchases,
        nBatches = 2)
      .orderBy("click_id", "purchase_id").collect().map(_.toSeq).toSeq
    val batch = EventStreams.attributionJoin(clicks.toDF(), purchases.toDF(), "1 hour")
      .orderBy("click_id", "purchase_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(batch.map(r => (r(0), r(1))) == Seq((1L, 10L), (2L, 11L)))
  }

  test("rollingDedupReplay: intra-batch admits land in the index (pin-before-write)") {
    // the regression the /code-review pass caught: keep is lazy and the
    // foreachBatch writes mutate the tables its probe reads — unpinned, the
    // index append re-evaluated keep AFTER the corpus insert landed A and
    // B, so the identical pair saw each other as corpus near-dups, dropped
    // out of the re-evaluation, and their signature rows were never
    // appended. Observable: a batch-2 duplicate of A probed into the hole
    // and was wrongly admitted.
    import spark.implicits._
    val corpus = Seq(
      (0L, "totally unrelated corpus document body zero"),
      (1L, "another unrelated corpus document body one"))
    val dupText = "the exact same brand new document text arriving twice"
    val stream = Seq(
      (10L, dupText), (11L, dupText),                     // batch 1: intra-batch pair, BOTH admit
      (12L, dupText), (13L, "a genuinely fresh document body"))  // batch 2: 12 must block on the appended rows
    val out = EventStreams.rollingDedupReplay(spark, corpus, stream,
        nBatches = 2, hotBucketCap = 100000L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(out == Seq((10L, true), (11L, true), (12L, false), (13L, true)),
      s"got $out")
  }

  test("annAppendReplay: streamed ingestion is bit-identical to one batch append") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic 8-dim fixture: 40 base vectors fit the models, 24 more
    // arrive — streamed over 3 batches on one index, batch-appended on the
    // twin. Frozen models must make the two codes tables row-identical
    // (ids, cells, AND pq codes), regardless of batch boundaries.
    def vec(i: Long): Seq[Double] =
      (0 until 8).map(j => math.sin(i * 0.7 + j * 1.3) * (1 + (i % 5)))
    val base = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val more = (100L until 124L).map(i => (i, vec(i)))
    for (p <- Seq("graft_sann_a", "graft_sann_b");
         t <- Seq(s"${p}_codes", s"${p}_model"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val idxA = graft.api.Ann.fitIvfPq(base, nlist = 4, m = 4, ksub = 8,
      seed = 11L, iters = 3)
    graft.api.Ann.saveIvfPqIndex(idxA, "graft_sann_a")
    val idxB = graft.api.Ann.fitIvfPq(base, nlist = 4, m = 4, ksub = 8,
      seed = 11L, iters = 3)
    graft.api.Ann.saveIvfPqIndex(idxB, "graft_sann_b")
    try {
      val perCell = EventStreams.annAppendReplay(spark, "graft_sann_a",
        more, nBatches = 3)
      graft.api.Ann.appendToIvfPqIndex(more.toDF("vec_id", "embedding"),
        "graft_sann_b")
      def rows(p: String) = spark.table(s"${p}_codes")
        .select(col("neighbor_id"), col("cell"), col("codes").cast("string"))
        .collect().map(_.toSeq).toSet
      assert(rows("graft_sann_a") == rows("graft_sann_b"),
        "streamed and batch ingestion must produce identical codes tables")
      assert(perCell.agg(sum("cell_rows")).head().getLong(0) == 40L + 24L)
    } finally for (p <- Seq("graft_sann_a", "graft_sann_b");
                   t <- Seq(s"${p}_codes", s"${p}_model"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("annNoveltyReplay: verdicts equal the batch loop at EVERY batch split") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // batch boundaries are semantic here (admission sees pre-batch state
    // only): a clone of a streamed natural drops at nBatches>1 but can
    // ADMIT intra-batch at nBatches=1 — so the check is replay(n) ==
    // driver-loop(n) per n, not one pinned verdict set
    def vec(i: Long): Seq[Double] =
      (0 until 8).map(j => math.sin(i * 0.7 + j * 1.3) * (1 + (i % 5)))
    val base = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val stream: Seq[(Long, Seq[Double])] =
      (100L until 112L).map(i => (i, vec(i))) ++        // fresh
      (0L until 3L).map(i => (1000L + i, vec(i))) ++    // clones of base
      (100L until 103L).map(i => (2000L + i, vec(i)))   // clones of streamed
    for (n <- Seq(1, 2, 3)) {
      val ps = Seq(s"graft_snov_a$n", s"graft_snov_b$n")
      for (p <- ps; t <- Seq(s"${p}_idx_codes", s"${p}_idx_model", s"${p}_corp"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      try {
        for (p <- ps) {
          graft.api.Ann.saveIvfPqIndex(graft.api.Ann.fitIvfPq(base,
            nlist = 4, m = 4, ksub = 8, seed = 11L, iters = 3), s"${p}_idx")
          base.write.format("parquet").mode("overwrite").saveAsTable(s"${p}_corp")
        }
        val streamed = EventStreams.annNoveltyReplay(spark,
            s"${ps.head}_idx", s"${ps.head}_corp", stream, nBatches = n,
            nprobe = 3)
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        val chunk = math.max(1, (stream.size + n - 1) / n)
        val looped = stream.grouped(chunk).flatMap { c =>
          graft.api.Ann.admitNovelVectors(c.toDF("vec_id", "embedding"),
              s"${ps(1)}_idx", s"${ps(1)}_corp", tau = 1e-6, nprobe = 3)
            .collect().map(r => r.getLong(0) -> r.getBoolean(1))
        }.toMap
        assert(streamed == looped, s"nBatches=$n diverged: $streamed vs $looped")
        assert(streamed.keySet.size == stream.size)
      } finally for (p <- ps; t <- Seq(s"${p}_idx_codes", s"${p}_idx_model", s"${p}_corp"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("domainQuotaReplay: first-come quota, batch-boundary independent, state rejects cross-batch") {
    // 3 hosts x 10 arrivals, quota 4: every host's budget fills mid-stream,
    // so any multi-batch replay exercises a cross-batch rejection
    val docs = (0L until 30L).map(i =>
      (i, s"https://h${i % 3}.example.com/p$i")).toSeq
    def verdicts(n: Int) = EventStreams.domainQuotaReplay(spark, docs, n, 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .sortBy(_._1)
    val one = verdicts(1)
    // sequential truth: first 4 arrivals per host admit
    val cnt = scala.collection.mutable.Map.empty[String, Int]
    val want = docs.map { case (id, url) =>
      val h = s"h${id % 3}.example.com"
      val c = cnt.getOrElse(h, 0)
      val adm = c < 4
      if (adm) cnt(h) = c + 1
      (id, h, adm)
    }
    assert(one.toSeq == want)
    // chunking must not change a single verdict (cumulative counter)
    assert(verdicts(7).toSeq == one.toSeq, "micro-batch boundaries changed verdicts")
    assert(one.count(_._3) == 12)
  }

  test("urlDedupReplay: first-come per canonical key, cross-batch, nulls all admit") {
    // 10 canonical identities fetched 3x each under cosmetic variants
    // (scheme case / trailing slash / fragment collapse via
    // normalizedUrl), interleaved so every key straddles batch
    // boundaries; two junk-URL docs must BOTH admit (null-key contract)
    val docs = (0L until 30L).map { i =>
      val k = i % 10
      val variant = (i / 10) match {
        case 0 => s"https://ex.com/p$k"
        case 1 => s"http://WWW.ex.com/p$k/"
        case _ => s"https://ex.com/p$k#frag$i"
      }
      (i, variant)
    } ++ Seq((30L, "not a url"), (31L, "also not a url"))
    def verdicts(n: Int) = EventStreams.urlDedupReplay(spark, docs, n)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    val one = verdicts(1)
    // sequential truth: ids 0-9 admit (first fetch of each key), 10-29
    // reject (re-fetches), 30-31 admit (no URL identity)
    val want = (0L until 30L).map(i => (i, i < 10L)) ++
      Seq((30L, true), (31L, true))
    assert(one.toSeq == want)
    assert(verdicts(6).toSeq == one.toSeq,
      "micro-batch boundaries changed verdicts")
  }

  test("urlDedupReplay: dropParamPrefixes gives batch/stream key parity") {
    import spark.implicits._
    // tracking-param variants of the same page straddle batches; with
    // the prefixes plumbed through, the streaming admit set must equal
    // the batch dedupByUrl keep set on the SAME canonicalization
    val docs = (0L until 12L).map { i =>
      val k = i % 4
      val q = (i / 4) match {
        case 0 => s"?id=$k"
        case 1 => s"?id=$k&utm_source=feed"
        case _ => s"?fbclid=c$i&id=$k"
      }
      (i, s"https://ex.com/p$q")
    }
    val admitted = EventStreams.urlDedupReplay(spark, docs, nBatches = 4,
        dropParamPrefixes = graft.api.Domains.TrackingParamPrefixes)
      .filter($"admitted").select("doc_id").as[Long].collect().sorted
    val batch = graft.api.Domains.dedupByUrl(
        docs.toDF("doc_id", "url"), "url", "doc_id", sortQuery = true,
        dropParamPrefixes = graft.api.Domains.TrackingParamPrefixes)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == batch.toSeq && admitted.length == 4)
  }

  test("sessionizeBatch matches gap semantics") {
    import spark.implicits._
    val events = Seq(
      (1L, ts(0), 100L, "click", 1.0), (2L, ts(3), 100L, "click", 1.0),
      (3L, ts(40), 100L, "click", 1.0), (4L, ts(1), 200L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStreams.sessionizeBatch(events, gapMs = 10 * 60_000L)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getLong(0) == 100L && out(0).getLong(4) == 2L) // first session: 2 events
    assert(out(1).getLong(0) == 100L && out(1).getLong(4) == 1L)
    assert(out(2).getLong(0) == 200L && out(2).getLong(4) == 1L)
  }
  test("contaminationReplay: unioned micro-batch flags equal the batch twin, any split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd eeee"),
      (2L, "aaaa bbbb cccc xxxx yyyy"),
      (3L, "zzzz wwww vvvv uuuu tttt"),
      (10L, "aaaa bbbb cccc dddd eeee extra tail")
    )
    val bench = Seq((100L, "aaaa bbbb cccc dddd eeee")).toDF("doc_id", "text")
    def batchRun = graft.api.Contamination
      .sharedNgrams(docs.toDF("doc_id", "text"), bench, "doc_id", "text",
        ngramWidth = 4, minShared = 5L)
      .orderBy("doc_id", "bench_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    for (nb <- Seq(1, 2, 4)) {
      val got = graft.streaming.EventStreams
        .contaminationReplay(spark, docs, bench, nBatches = nb,
          ngramWidth = 4, minShared = 5L)
        .orderBy("doc_id", "bench_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == batchRun, s"nBatches=$nb")
    }
    assert(batchRun.nonEmpty && !batchRun.exists(_._1 == 3L))
  }

  // ---- Split invariance: every replay with a batch twin, run at 1, 3 and
  // 7 micro-batches, must equal the twin row for row (the replays'
  // "bit-equal for any micro-batch split" contract). Each case carries its
  // own fixture and the sanity checks its twin must pass first.

  private case class SplitCase(replay: String, run: Int => DataFrame, twin: () => DataFrame,
                               sanity: Seq[Seq[Any]] => Unit = _ => ())

  private def frame[A <: Product : TypeTag](rows: Seq[A], cols: String*): DataFrame = {
    val df = spark.createDataFrame(rows)
    if (cols.isEmpty) df else df.toDF(cols: _*)
  }

  private def shuffledEvents(seed: Int, n: Int)(mk: Int => EventStreams.Event) =
    new scala.util.Random(seed).shuffle((0 until n).toList).map(mk)

  private def clickOrView(i: Int) = if (i % 2 == 0) "click" else "view"

  // 300 events over three hourly windows in shuffled arrival order
  private val mixedEvents = shuffledEvents(7, 300)(i =>
    EventStreams.Event(i.toLong, ts(i % 170), i.toLong % 97, clickOrView(i), i.toDouble))
  // deliberate score ties (7 value levels): the id tie-break must make every
  // split keep the same tied rows at the k boundary
  private val tiedEvents = shuffledEvents(11, 300)(i =>
    EventStreams.Event(i.toLong, ts(i % 170), i.toLong % 97, clickOrView(i), (i % 7).toDouble))
  private val freqEvents = shuffledEvents(23, 300)(i =>
    EventStreams.Event(i.toLong, ts(i % 170), i.toLong % 7, clickOrView(i), i.toDouble))
  private val quantileEvents = shuffledEvents(13, 400)(i =>
    EventStreams.Event(i.toLong, ts(i % 170), i.toLong % 97, "m", (i % 250) * 1.37 + 0.5))
  private val sessionEvents = shuffledEvents(11, 200)(i =>
    EventStreams.Event(i.toLong, ts(i * 2), i.toLong % 7, "click", i.toDouble))
  private val clicks = (0 until 60).map(i =>
    EventStreams.Event(i.toLong, ts(i * 3), i.toLong % 9, "click", 0.0))
  private val purchases = (0 until 30).map(i =>
    EventStreams.Event(1000L + i, ts(i * 6 + 2), i.toLong % 9, "purchase", i * 1.5))
  private val texts = (0L until 40L).map(i => (i, s"document body ${i % 13}"))
  private val hostUrls = (0L until 30L).map(i => (i, s"https://h${i % 3}.example.com/p$i"))
  // 10 canonical pages fetched 3x under cosmetic variants, plus 2 junk URLs
  private val variantUrls = (0L until 30L).map { i =>
    val k = i % 10
    (i, (i / 10) match {
      case 0 => s"https://ex.com/p$k"
      case 1 => s"http://WWW.ex.com/p$k/"
      case _ => s"https://ex.com/p$k#frag$i"
    })
  } ++ Seq((30L, "not a url"), (31L, "also not a url"))
  private val contamDocs = Seq(
    (1L, "aaaa bbbb cccc dddd eeee"), (2L, "aaaa bbbb cccc xxxx yyyy"),
    (3L, "zzzz wwww vvvv uuuu tttt"), (10L, "aaaa bbbb cccc dddd eeee extra tail"))
  private def contamBench = frame(Seq((100L, "aaaa bbbb cccc dddd eeee")), "doc_id", "text")

  private val splitCases = Seq(
    SplitCase("windowedCountsReplay",
      EventStreams.windowedCountsReplay(spark, mixedEvents, _),
      () => EventStreams.windowedCounts(frame(mixedEvents), "1 hour")),
    SplitCase("windowedDistinctReplay",
      EventStreams.windowedDistinctReplay(spark, mixedEvents, _, p = 8),
      () => EventStreams.windowedDistinctUsers(frame(mixedEvents), "1 hour", p = 8),
      rows => {
        // three windows, and the estimates count something
        assert(rows.map(_(0)).distinct.size == 3)
        assert(rows.filter(_(1) == "click").map(_(2).asInstanceOf[Double]).head > 0)
      }),
    SplitCase("windowedTopKReplay",
      EventStreams.windowedTopKReplay(spark, tiedEvents, _),
      () => EventStreams.windowedTopKEvents(frame(tiedEvents), k = 3, "1 hour"),
      rows => rows.groupBy(r => (r(0), r(1))).values.foreach { g =>
        // exactly 3 ranked rows per (window, type), scores non-increasing,
        // tied scores in ascending id order
        val ranked = g.sortBy(_(2).asInstanceOf[Long])
        assert(ranked.map(_(2)) == Seq(1L, 2L, 3L))
        ranked.sliding(2).foreach { case Seq(a, b) =>
          val (sa, sb) = (a(4).asInstanceOf[Double], b(4).asInstanceOf[Double])
          assert(sa > sb || (sa == sb && a(3).asInstanceOf[Long] < b(3).asInstanceOf[Long]))
        }
      }),
    SplitCase("windowedQuantilesReplay",
      EventStreams.windowedQuantilesReplay(spark, quantileEvents, _),
      () => EventStreams.windowedValueQuantiles(frame(quantileEvents), "1 hour", b = 5),
      rows => {
        // the first window's p50 sits within the histogram's relative error
        val vs = quantileEvents.filter(_.ts.getTime < ts(60).getTime)
          .map(e => (e.value * 100).toLong).sorted
        val exactP50 = vs(math.ceil(0.5 * vs.size).toInt - 1)
        val p50 = rows.head(2).asInstanceOf[Long]
        assert(math.abs(p50 - exactP50).toDouble / math.max(exactP50, 1) <= 1.0 / 32 + 1e-9)
      }),
    SplitCase("windowedFreqReplay",
      EventStreams.windowedFreqReplay(spark, freqEvents, Seq(0L, 1L, 2L), _),
      () => EventStreams.windowedUserFreq(frame(freqEvents), Seq(0L, 1L, 2L), "1 hour"),
      rows => {
        // CMS guarantee: every estimate bounds the true per-window count below
        val truth = freqEvents.groupBy(e =>
            (new Timestamp(e.ts.getTime / 3600000L * 3600000L), e.event_type, e.user_id))
          .view.mapValues(_.size.toLong).toMap
        assert(rows.nonEmpty && rows.forall(r =>
          r(3).asInstanceOf[Long] >= truth.getOrElse(
            (r(0).asInstanceOf[Timestamp], r(1).asInstanceOf[String], r(2).asInstanceOf[Long]), 0L)))
      }),
    SplitCase("windowedLastValueReplay",
      EventStreams.windowedLastValueReplay(spark, mixedEvents, "1 hour", _),
      () => EventStreams.windowedLastValue(frame(mixedEvents), "1 hour")),
    SplitCase("sessionizeReplay",
      EventStreams.sessionizeReplay(spark, sessionEvents, 10 * 60_000L, _),
      () => EventStreams.sessionizeBatch(frame(sessionEvents), 10 * 60_000L)
        .select("user_id", "start", "end", "events")),
    SplitCase("attributionJoinReplay",
      EventStreams.attributionJoinReplay(spark, clicks, purchases, _),
      () => EventStreams.attributionJoin(frame(clicks), frame(purchases))),
    SplitCase("dedupContentReplay",
      EventStreams.dedupContentReplay(spark, texts, _),
      () => graft.api.Dedup.exact(frame(texts, "doc_id", "text"), Seq("text"), "doc_id")),
    SplitCase("domainQuotaReplay",
      EventStreams.domainQuotaReplay(spark, hostUrls, _, 4),
      // the operator on a batch frame: one timestamp, so arrival is id order
      () => EventStreams.domainQuotaAdmit(frame(hostUrls.map { case (id, u) =>
        (id, ts(0), u) }, "doc_id", "ts", "url"), 4),
      rows => assert(rows.count(_(2) == true) == 12)),
    SplitCase("urlDedupReplay",
      EventStreams.urlDedupReplay(spark, variantUrls, _),
      () => {
        val docs = frame(variantUrls, "doc_id", "url")
        val kept = graft.api.Domains.dedupByUrl(docs, "url", "doc_id", sortQuery = true)
          .select(col("doc_id"), lit(true).as("admitted"))
        docs.join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("admitted"), lit(false)).as("admitted"))
      }),
    SplitCase("contaminationReplay",
      EventStreams.contaminationReplay(spark, contamDocs, contamBench, _, 4, 5L),
      () => graft.api.Contamination.sharedNgrams(frame(contamDocs, "doc_id", "text"),
        contamBench, "doc_id", "text", ngramWidth = 4, minShared = 5L),
      rows => assert(rows.nonEmpty && !rows.exists(_(0) == 3L))))

  for (c <- splitCases) test(s"split invariance 1/3/7: ${c.replay}") {
    val twin = c.twin()
    val cols = twin.columns.toSeq.map(col)
    def rows(df: DataFrame) = df.select(cols: _*).orderBy(cols: _*).collect().map(_.toSeq).toSeq
    val want = rows(twin)
    assert(want.nonEmpty, "the fixture must give the twin some rows")
    c.sanity(want)
    for (n <- Seq(1, 3, 7)) {
      val got = rows(c.run(n))
      assert(got == want, s"nBatches=$n: streamed-only ${got.diff(want).take(3)}, " +
        s"twin-only ${want.diff(got).take(3)}")
    }
  }
}
