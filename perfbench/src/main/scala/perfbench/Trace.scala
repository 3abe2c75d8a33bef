package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Calls into the program, timed from the outside.
  *
  * Every call is counted (attempted / failed) and its wall time kept as a
  * sample, traced or not: the per-operation latencies are end-to-end
  * numbers. While tracing is on, each call also leaves a span (name, layer,
  * start, end, parent, pass) in memory; [[Recorder]] adds Spark's own job,
  * task and query-planning events at the same boundaries. Nothing is
  * written until the run ends. */
object Calls {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        pass: Int, startMs: Double, endMs: Double)
  final case class Sample(name: String, pass: Int, seconds: Double)

  // epoch-ms clock with sub-ms resolution, comparable with Spark event times
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  @volatile var tracing = false
  var pass = -1
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val spans = ArrayBuffer[Span]()
  val samples = ArrayBuffer[Sample]()
  private var stack = List(-1)

  /** Run `body` as one call of `layer`/`name`; an exception counts as a
    * failed operation and propagates. */
  def call[T](layer: String, name: String)(body: => T): T = {
    attempted.incrementAndGet()
    val id = spans.length
    val parent = stack.head
    if (tracing) { spans += Span(id, parent, layer, name, pass, nowMs, Double.NaN); stack = id :: stack }
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
    finally {
      samples += Sample(name, pass, (System.nanoTime() - t0) / 1e9)
      if (tracing) { spans(id) = spans(id).copy(endMs = nowMs); stack = stack.tail }
    }
  }

  /** A correctness check: counted as an operation, failed when false. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      System.out.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
    ok
  }
}

/** Spark listener + query-execution listener that keeps raw events in
  * memory: job intervals, one record per finished task, and the
  * analysis/optimization/planning phase times of every executed query. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[Array[Double]]() // jobId, startMs, endMs
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Double]()
  // stageId, launchMs, finishMs, runMs, cpuNs, gcMs, shuffleReadB, shuffleWriteB, spillB
  val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  val queries = new ConcurrentLinkedQueue[Array[Double]]() // planning endMs, planMs
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time.toDouble); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
    jobs.add(Array(e.jobId.toDouble, start, e.time.toDouble)); touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(Array(e.stageId.toDouble, i.launchTime.toDouble, i.finishTime.toDouble,
      m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
      m.shuffleReadMetrics.totalBytesRead.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
      (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
    touch()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      queries.add(Array(phases.map(_.endTimeMs).max.toDouble, phases.map(_.durationMs).sum.toDouble))
    touch()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listener bus has delivered every job end and then been
    * quiet for a moment, so the events cover the calls that caused them. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
      (!jobStarts.isEmpty || System.nanoTime() - lastEvent.get() < 300L * 1000000L))
      Thread.sleep(50)
  }

  def tasksSince(ms: Double): Seq[Array[Double]] = tasks.asScala.filter(_(1) >= ms).toSeq
}
