package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** JVM side of the benchmark: runs one workload over the inputs that
  * `run.py` generated into `runDir`, and writes the raw measurements
  * (samples, per-batch progress, counters, check results) to
  * `runDir/result.json`. Percentiles and the reported metrics are
  * derived from those raw figures by `report.py`.
  *
  * Usage: `perfbench.Main <workload> <runDir> <seconds> <trace 0|1>` */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: perfbench.Main <workload> <runDir> <seconds> <trace 0|1>")
    val Array(workload, runDir, secondsArg, traceArg) = args
    val ctx = new Ctx(runDir, secondsArg.toInt, traceArg == "1")
    val body: Ctx => Unit = workload match {
      case "neel-stream" => NeelStream.run
      case "fanin-stream" => FaninStream.run
      case "dedup-ingest" => DedupIngest.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.log(s"session up; running $workload")
    try body(ctx)
    catch {
      case e: Throwable =>
        ctx.broken(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      ctx.log("checks done")
      ctx.writeResult()
      if (ctx.spark != null) ctx.spark.stop()
      ctx.log("session stopped")
    }
  }
}

/** One run's session, parameters and raw result. */
final class Ctx(val runDir: String, val seconds: Int, val traced: Boolean) {
  val params: java.util.Properties = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$runDir/params.properties")
    try p.load(in) finally in.close()
    p
  }
  def param(k: String): String =
    Option(params.getProperty(k)).getOrElse(throw new NoSuchElementException(s"param $k"))
  def intParam(k: String): Int = param(k).toInt

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  val progress = new ProgressLog
  val jobsListener: Option[JobsListener] = if (traced) Some(new JobsListener) else None

  private val setupT0 = System.nanoTime()
  val spark: SparkSession = {
    val b = graft.SessionFs.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.metricsEnabled", "false")
    val withFs = if (!traced) b else b
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalFs].getName)
    withFs.getOrCreate()
  }
  spark.sparkContext.setLogLevel("WARN")
  spark.streams.addListener(progress)
  jobsListener.foreach(spark.sparkContext.addSparkListener)
  Trace.enabled = false
  private val sessionS = (System.nanoTime() - setupT0) / 1e9

  // ---- raw result ------------------------------------------------------
  private val setupParts = mutable.LinkedHashMap[String, Any]("session_s" -> sessionS)
  private val series = mutable.LinkedHashMap[String, Any]()
  private val values = mutable.LinkedHashMap[String, Any]()
  private val failures = mutable.ArrayBuffer[String]()
  private var failedCount = 0L
  private var attemptedCount = 0L

  def setup(k: String, v: Any): Unit = setupParts(k) = v
  def put(k: String, v: Any): Unit = values(k) = v
  def putSeries(k: String, v: Iterable[Double]): Unit = series(k) = v.toSeq
  def attempted(n: Long): Unit = attemptedCount += n
  /** `n` attempted units failed their output check. */
  def fail(msg: String, n: Long): Unit = {
    failedCount += n
    note(msg)
  }
  /** A check on the run as a whole failed. */
  def broken(msg: String): Unit = {
    structuralFailure = true
    note(msg)
  }
  /** Record a failure message (the first 20 are kept). */
  def note(msg: String): Unit = {
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] check failed: $msg")
  }
  private var structuralFailure = false

  private val bornNs = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - bornNs) / 1e9}%7.2f s  $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  // ---- measured window -------------------------------------------------
  private var windowStartMs = 0L
  private var windowEndMs = 0L
  private var gcAtStart = 0L
  private var fsAtStart = Map.empty[String, Long]

  def startWindow(): Unit = {
    log("measured window starts")
    windowStartMs = System.currentTimeMillis()
    gcAtStart = Gc.totalMs
    if (traced) {
      fsAtStart = FsCounts.snapshot
      jobsListener.foreach(_.measuring = true)
      Trace.enabled = true
    }
  }

  def endWindow(): Unit = {
    log("measured window ends")
    windowEndMs = System.currentTimeMillis()
    put("window_s", (windowEndMs - windowStartMs) / 1000.0)
    put("jvm.gc_ms", (Gc.totalMs - gcAtStart).toDouble)
    if (traced) {
      Trace.enabled = false
      jobsListener.foreach { j =>
        j.measuring = false
        put("jobs.count", j.jobs.get)
        put("jobs.tasks", j.tasks.get)
        put("jobs.executor_run_ms", j.runMs.get)
        put("jobs.executor_cpu_ms", j.cpuNs.get / 1e6)
        put("jobs.driver_gap_ms", j.driverGapMs(windowStartMs, windowEndMs))
        put("jobs.shuffle_read_bytes", j.shuffleRead.get)
        put("jobs.shuffle_write_bytes", j.shuffleWrite.get)
        put("jobs.spill_bytes", j.spill.get)
        put("jobs.task_skew", j.taskSkew)
      }
      val fs = FsCounts.snapshot
      fs.foreach { case (k, v) => put(s"fs.${k}_calls", v - fsAtStart(k)) }
    }
  }

  def fsTotal: Long = if (traced) FsCounts.total else 0L

  /** Per-batch raw progress of one query, as series. */
  def putProgress(ps: Seq[StreamingQueryProgress]): Unit = {
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    putSeries("progress.batch_id", ps.map(_.batchId.toDouble))
    putSeries("progress.start_ms", ps.map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
    putSeries("progress.input_rows", ps.map(_.numInputRows.toDouble))
    for (k <- Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "triggerExecution"))
      putSeries(s"progress.$k", ps.map(d(_, k)))
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.map(_.stateOperators.map(f).sum.toDouble)
    putSeries("progress.state_rows_total", st(_.numRowsTotal))
    putSeries("progress.state_rows_updated", st(_.numRowsUpdated))
    putSeries("progress.state_rows_removed", st(_.numRowsRemoved))
    putSeries("progress.state_memory_bytes", st(_.memoryUsedBytes))
    putSeries("progress.state_commit_ms", st(_.commitTimeMs))
    // one span per batch with its phases as children, laid end to end
    // from the trigger start (progress reports durations, not offsets)
    if (traced) {
      Trace.enabled = true
      for (p <- ps) {
        val t0 = Trace.nsOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val bid = Trace.batchSpanId(p.batchId)
        Trace.record(0L, "streaming", "batch", p.batchId, t0,
          t0 + (d(p, "triggerExecution") * 1e6).toLong, id = bid)
        var at = t0
        for (k <- Seq("latestOffset", "queryPlanning", "walCommit", "addBatch",
            "commitOffsets")) {
          val dur = (d(p, k) * 1e6).toLong
          val layer = if (k == "latestOffset") "sources" else "streaming"
          Trace.record(bid, layer, k, p.batchId, at, at + dur)
          at += dur
        }
      }
      Trace.enabled = false
    }
  }

  /** Files and bytes under a local directory (checkpoint sizes). */
  def dirStats(dir: String): (Long, Long) = {
    val root = new java.io.File(dir)
    if (!root.exists) (0L, 0L)
    else {
      var n = 0L
      var b = 0L
      val it = java.nio.file.Files.walk(root.toPath).iterator()
      while (it.hasNext) {
        val f = it.next().toFile
        if (f.isFile) { n += 1; b += f.length }
      }
      (n, b)
    }
  }

  def writeResult(): Unit = {
    if (traced) {
      Trace.selfMsByLayer.foreach { case (l, ms) => put(s"self.$l", ms) }
      put("trace.spans", Trace.all.size.toLong)
      Trace.write(s"$runDir/trace.jsonl")
    }
    val json = Trace.json(Map(
      "setup" -> setupParts.toMap,
      "series" -> series.toMap,
      "values" -> values.toMap,
      "attempted" -> attemptedCount,
      "failed" -> failedCount,
      "correct" -> (failedCount == 0 && !structuralFailure),
      "failures" -> failures.toSeq))
    val out = new java.io.PrintWriter(s"$runDir/result.json", "UTF-8")
    try out.println(json) finally out.close()
  }
}
