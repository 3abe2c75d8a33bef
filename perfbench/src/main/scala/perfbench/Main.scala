package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <n> --dir <scratch dir> --out <raw result json>
  *
  * Set-up (session start, input generation, loading the inputs into Spark
  * three times, the workload's warm-up passes) is followed by timed passes
  * for about `--seconds`, at least two so no run's wall time rests on a
  * single pass, then by the correctness checks. With `--trace 1`
  * the run also measures the kernel and expression rows, and alternates
  * untraced and traced passes (at least untraced, traced, untraced) so the
  * tracing overhead is measured in the same process. The raw result goes to
  * `--out`; run.py derives the metrics from it. */
object Main {
  private val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val out = mutable.LinkedHashMap[String, Any]()
    out("workload") = workload.name
    out("seed") = seed
    out("trace") = trace
    out("box") = box(cores)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = System.nanoTime()
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    base.sparkContext.setLogLevel("ERROR")
    out("session_start_s") = (System.nanoTime() - t0) / 1e9
    out("jvm_to_session_s") = (Calls.nowMs - jvmStartMs) / 1e3

    // set-up: the inputs are generated once; loading them is repeated, each
    // time into a fresh session over the shared context with the SQL
    // functions registered anew
    val g0 = System.nanoTime()
    val stats = workload.generate(seed)
    out("generate_s") = (System.nanoTime() - g0) / 1e9
    out("input") = stats
    System.out.println(s"[perfbench] input ${workload.name} seed=$seed " +
      stats.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    var spark: SparkSession = null
    val register = mutable.ArrayBuffer[Double]()
    val loads = mutable.ArrayBuffer[Double]()
    for (_ <- 0 until SetupRepeats) {
      val s0 = System.nanoTime()
      spark = base.newSession()
      graft.sql.LshFunctions.register(spark)
      register += (System.nanoTime() - s0) / 1e6
      workload.load(spark)
      loads += (System.nanoTime() - s0) / 1e9
    }
    out("register_ms") = register
    out("load_s") = loads

    val rec = new Recorder
    val w0 = System.nanoTime()
    for (_ <- 0 until workload.warmupPasses) workload.pass(spark) // JIT, codegen caches, first touch
    out("warmup_s") = (System.nanoTime() - w0) / 1e9

    if (trace) {
      out("core") = Micro.core(workload, seed)
      rec.attach(spark)
      out("expr") = Micro.expr(spark, workload, seed, rec)
      val plans = (0 until 6).map { _ =>
        val p0 = System.nanoTime()
        spark.sql(workload.planQuery).queryExecution.executedPlan
        (System.nanoTime() - p0) / 1e6
      }.drop(1).sorted
      out("sql_plan_ms") = plans(plans.length / 2)
      rec.detach(spark)
      rec.drain()
    }

    // timed passes: another pass starts while, at the median pass time so
    // far, it would end nearer to `seconds` than stopping now; in a traced
    // run even passes are untraced, odd ones traced
    val cpu = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val m0 = System.nanoTime()
    var i = 0
    val minPasses = if (trace) 3 else 2
    Calls.samples.clear()
    def typical: Double = { val w = passes.map(_("wall_s").asInstanceOf[Double]).sorted; w(w.length / 2) }
    while (i < minPasses || (System.nanoTime() - m0) / 1e9 + typical / 2 <= seconds) {
      val traced = trace && i % 2 == 1
      if (traced) { rec.attach(spark); Calls.tracing = true }
      Calls.pass = i
      val c0 = cpu.getProcessCpuTime
      val startMs = Calls.nowMs
      val p0 = System.nanoTime()
      workload.pass(spark)
      val wall = (System.nanoTime() - p0) / 1e9
      val endMs = Calls.nowMs
      val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
      if (traced) { Calls.tracing = false; rec.drain(); rec.detach(spark) }
      passes += Map("pass" -> i, "traced" -> traced, "start_ms" -> startMs, "end_ms" -> endMs,
        "wall_s" -> wall, "cpu_s" -> cpuS)
      i += 1
    }
    out("passes") = passes
    out("samples") = Calls.samples.map(s => Map("name" -> s.name, "pass" -> s.pass, "s" -> s.seconds))

    Calls.pass = -1
    def guarded(name: String)(body: => Any): Any =
      try body
      catch { case e: Exception => Calls.check(name, ok = false, e.toString); Map("error" -> e.toString) }
    val v0 = System.nanoTime()
    out("verify") = guarded("verify")(workload.verify(spark))
    out("golden") = guarded("golden_vectors")(Golden.check(spark))
    out("verify_s") = (System.nanoTime() - v0) / 1e9
    if (trace) {
      out("counters") = workload.counters(spark)
      out("spans") = Calls.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      out("jobs") = rec.jobs.asScala.toSeq.map(_.toSeq)
      out("tasks") = rec.tasks.asScala.toSeq.map(_.toSeq)
      out("queries") = rec.queries.asScala.toSeq.map(_.toSeq)
    }
    out("rows") = workload.rows
    out("docs") = workload.docs
    out("attempted") = Calls.attempted.get()
    out("failed") = Calls.failed.get()
    out("peak_rss_mb") = peakRssMb()
    base.stop()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(opts("out")), json.writeValueAsBytes(out))
  }

  private def box(cores: Int): Map[String, Any] = Map(
    "host" -> java.net.InetAddress.getLocalHost.getHostName,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "cores_used" -> cores,
    "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
    "os" -> s"${sys.props("os.name")} ${sys.props("os.version")} ${sys.props("os.arch")}",
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20))

  /** Peak resident set size of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** The reference's golden vectors (as pinned in the library's
  * GoldenVectorsSpec), evaluated through the SQL surface. */
object Golden {
  private def u64(s: String): Long = java.lang.Long.parseUnsignedLong(s)

  def check(spark: SparkSession): Map[String, Any] = {
    val row = spark.sql(
      """SELECT lsh_min('Princeton University', 2, 3, 2, 123),
        |  lsh_min32('Princeton University', 2, 3, 2, 123),
        |  lsh_min('Alice Johnson', 2, 3, 2, 123),
        |  lsh_euclidean(array(1.1, 2.2, 3.3, 5.8, 3.9), 0.5, 2, 3, 123),
        |  lsh_euclidean32(array(1.1, 2.2, 3.3, 5.8, 3.9), 0.5, 2, 3, 123),
        |  lsh_jaccard('Princeton University', 'Harvard University', 2),
        |  lsh_jaccard('Olivia Thomas', 'Olive Thomason', 2),
        |  lsh_jaccard('Emily Davis', 'Laura Bennett', 2)""".stripMargin).collect()(0)
    val want: Seq[(String, Any)] = Seq(
      "lsh_min" -> Seq(u64("6891191098855684803"), u64("6484452798683863108"), u64("14488917645112899542")),
      "lsh_min32" -> Seq(379615939L, 3696678980L, 685242326L).map(_.toInt),
      "lsh_min_name" -> Seq(u64("13571929851950895096"), u64("9380027513982184887"), u64("2973452616913389687")),
      "lsh_euclidean" -> Seq(u64("4153593470791884295"), u64("13333357882440433242")),
      "lsh_euclidean32" -> Seq(1206820359L, 3590602330L).map(_.toInt),
      "lsh_jaccard" -> 0.4, "lsh_jaccard_2" -> 0.5625, "lsh_jaccard_3" -> 0.0)
    val bad = want.zipWithIndex.collect {
      case ((name, v: Seq[_]), i) if row.getSeq[Any](i) != v => name
      case ((name, v: Double), i) if row.getDouble(i) != v => name
    }
    Calls.check("golden_vectors", bad.isEmpty, s"mismatch in ${bad.mkString(", ")}")
    Map("checked" -> want.length, "mismatched" -> bad)
  }
}
