package graft.streaming

import java.sql.Timestamp

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The stateful streaming operators re-run under the RocksDB state store —
  * the provider a production cluster actually deploys for large state
  * (HDFS-backed in-memory maps, the default, cap state at executor heap;
  * RocksDB spills to local disk, the 100 TB/day posture). The provider is
  * a SQLConf read at QUERY START, so this is config-only for the
  * operators: every replay below must stay bit-equal to its batch twin,
  * and the first test PINS that the conf actually engages RocksDB (via
  * the provider's own progress metrics), so a silent fallback to the
  * default store can't turn this suite into a no-op.
  *
  * Conf is set in beforeAll and restored in afterAll — the shared session
  * runs every other suite on the default provider.
  */
class RocksDbStreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private var saved: Option[String] = None

  // SERIAL-EXECUTION ASSUMPTION: this suite mutates the SHARED session's
  // state-store provider conf for its lifetime, which is safe only because
  // sbt runs forked suites serially (`testForkedParallel` defaults false and
  // build.sbt does not override it). If suite-level parallelism is ever
  // enabled, a concurrently running streaming suite would silently execute
  // under RocksDB (or race the afterAll restore) — switch this suite to a
  // dedicated SparkSession.newSession() with the provider set there instead.
  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
  }

  override def afterAll(): Unit = {
    saved match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
    super.afterAll()
  }

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L * 10 + min * 60_000L)

  test("provider pin: stateful query reports RocksDB metrics, not the default store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get(ProviderKey) == RocksDb)
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.windowedCounts(mem.toDF(), "1 hour", watermark = "3650 days")
      .writeStream.format("memory").queryName("rocks_pin_out")
      .outputMode("append").start()
    try {
      mem.addData(EventStreams.Event(1, ts(0), 1, "click", 1.0),
        EventStreams.Event(2, ts(61), 2, "view", 2.0))
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.nonEmpty, "windowed aggregation must carry a state operator")
      val metricKeys = ops.flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"no RocksDB metrics in state-operator progress — provider did not engage: " +
          s"${metricKeys.mkString(", ")}")
    } finally q.stop()
  }

  test("windowed counts replay bit-equal to batch twin under RocksDB") {
    import spark.implicits._
    val events = (0 until 240).map { i =>
      EventStreams.Event(i.toLong, ts(i), i.toLong % 11,
        if (i % 2 == 0) "click" else "view", (i % 9).toDouble)
    }
    val batch = EventStreams.windowedCounts(events.toDF(), "1 hour")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    val streamed = EventStreams.windowedCountsReplay(spark, events, nBatches = 4)
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionize (flatMapGroupsWithState) replay equals batch twin under RocksDB") {
    import spark.implicits._
    // whole-second quantization, same as the default-provider suite
    val rng = new scala.util.Random(11)
    val events = rng.shuffle((0 until 200).toList).map { i =>
      EventStreams.Event(i.toLong, ts(i * 2), i.toLong % 7, "click", i.toDouble)
    }
    val gapMs = 10 * 60 * 1000L
    val batch = EventStreams.sessionizeBatch(events.toDF(), gapMs)
      .select("user_id", "start", "end", "events")
      .orderBy("user_id", "start").collect().map(_.toSeq).toSeq
    val streamed = EventStreams.sessionizeReplay(spark, events, gapMs, nBatches = 4)
      .select("user_id", "start", "end", "events")
      .orderBy("user_id", "start").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("first-come URL dedup (per-key seen state, the O(distinct URLs) op) under RocksDB") {
    // one state entry per distinct URL is exactly the state shape that
    // outgrows executor heap on a real frontier — the op this provider
    // exists for. Verdicts must match the sequential first-seen walk.
    val docs = (0L until 40L).map(i =>
      (i, s"https://ex.com/p${i % 8}")) ++ Seq((40L, "junk url"))
    val got = EventStreams.urlDedupReplay(spark, docs, nBatches = 4)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    val want = (0L until 40L).map(i => (i, i < 8L)) :+ ((40L, true))
    assert(got.toSeq == want.toSeq)
  }

  test("sketch state (HLL distinct) replay bit-equal under RocksDB") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val events = rng.shuffle((0 until 300).toList).map { i =>
      EventStreams.Event(i.toLong, ts(i % 170), i.toLong % 97,
        if (i % 2 == 0) "click" else "view", i.toDouble)
    }
    val batch = EventStreams.windowedDistinctUsers(events.toDF(), "1 hour", p = 8)
      .select("win_start", "event_type", "approx_users")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    val streamed = EventStreams.windowedDistinctReplay(spark, events, 4, p = 8)
      .select("win_start", "event_type", "approx_users")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("checkpoint restart recovery works on RocksDB state files") {
    import spark.implicits._
    val events = (0 until 240).map { i =>
      EventStreams.Event(i.toLong, ts(i), i.toLong % 11,
        if (i % 2 == 0) "click" else "view", (i % 9).toDouble)
    }
    val got = EventStreams.windowedCountsRestartReplay(spark, events)
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    val batch = EventStreams.windowedCounts(events.toDF(), "1 hour")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    assert(got == batch, "restart must be output-invisible under RocksDB")
    val keys = got.map(r => (r(0), r(1)))
    assert(keys.distinct.size == keys.size, "duplicate emission after restart")
  }

  test("stream-stream interval join replay equals batch join under RocksDB") {
    import spark.implicits._
    val clicks = (0 until 60).map(i =>
      EventStreams.Event(i.toLong, ts(i * 3), i.toLong % 9, "click", 0.0))
    val purchases = (0 until 30).map(i =>
      EventStreams.Event(1000L + i, ts(i * 6 + 2), i.toLong % 9, "purchase", i * 1.5))
    val batch = EventStreams.attributionJoin(clicks.toDF(), purchases.toDF())
      .orderBy("click_id", "purchase_id").collect().map(_.toSeq).toSeq
    val streamed = EventStreams.attributionJoinReplay(spark, clicks, purchases,
        nBatches = 4)
      .orderBy("click_id", "purchase_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }
}
