package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, get_json_object, json_array_length, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Shared open-loop machinery of the two stream workloads.
  *
  * Input enters through `graft-rate-csv`, which admits exactly
  * `rowsPerTrigger` rows per trigger, so micro-batch k holds rows
  * [k·R, (k+1)·R). The first `warmBatches` batches warm the query in;
  * batches from there on are measured against a fixed schedule: batch k
  * is due at D_k = D_first + (k − first)·trigger, where D_first is the
  * trigger boundary at which the first measured batch was scheduled,
  * and its rows are created evenly over the trigger interval before
  * D_k. A stall delays every later batch against that schedule, so
  * lateness counts. */
final class OpenLoop(c: Ctx, val name: String, rowsPerTweet: Int = 1) {
  val rowsPerTrigger: Int = c.intParam("rows_per_trigger")
  val triggerMs: Long = c.intParam("trigger_ms").toLong
  val warmBatches: Int = c.intParam("warm_batches")
  val measureBatches: Int = c.intParam("measure_batches")
  val deadlineMs: Long = c.intParam("deadline_ms").toLong
  val lastMeasured: Long = warmBatches + measureBatches - 1L

  /** (batchId, emission epoch ms, fs calls at emission). */
  val emissions = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  def source(s: SparkSession, path: String): DataFrame =
    s.readStream.format("graft-rate-csv")
      .option("path", path).option("sep", "\t")
      .option("rowsPerTrigger", rowsPerTrigger.toString)
      .load()

  private var startedNs = 0L

  /** Start the measured query. The time until its warm-in batches are
    * done is set-up: a job pays that JIT and planning warm-up once per
    * start. */
  def start(q: => StreamingQuery): StreamingQuery = {
    startedNs = System.nanoTime()
    q
  }

  /** The sink body every batch runs inside: the body's own work, then
    * the emission stamp. */
  def onBatch(bid: Long)(body: => Unit): Unit = {
    Trace.span(c.spark, "sinks", "foreachBatch", bid, Trace.batchSpanId(bid))(body)
    emissions.add((bid, System.currentTimeMillis(), c.fsTotal))
    if (bid == warmBatches - 1L) {
      c.setup("warmup_s", (System.nanoTime() - startedNs) / 1e9)
      c.startWindow()
    }
  }

  /** Poll until `done`, or fail after `limitMs`. */
  def await(q: StreamingQuery, limitMs: Long)(done: => Boolean): Boolean = {
    val until = System.currentTimeMillis() + limitMs
    while (!done && q.exception.isEmpty && System.currentTimeMillis() < until)
      Thread.sleep(20)
    q.exception.foreach(e => c.broken(s"$name failed: ${e.getMessage}"))
    done
  }

  def emissionOf(bid: Long): Option[Long] =
    emissions.asScala.find(_._1 == bid).map(_._2)

  /** Schedule anchor: the trigger boundary the first measured batch was
    * scheduled at (progress timestamps are trigger starts). */
  lazy val anchorMs: Long = {
    val t = c.progress.of(name).find(_.batchId == warmBatches).map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli).getOrElse(
        throw new IllegalStateException(s"$name: no progress for batch $warmBatches"))
    t - Math.floorMod(t, triggerMs)
  }

  def dueMs(bid: Long): Long = anchorMs + (bid - warmBatches) * triggerMs

  /** Scheduled creation time of input row `row`. */
  def createdMs(row: Long): Double = {
    val bid = row / rowsPerTrigger
    val j = row - bid * rowsPerTrigger
    dueMs(bid) - triggerMs + j * triggerMs.toDouble / rowsPerTrigger
  }

  /** Measured-window figures shared by both streams: output rate,
    * source lag/backlog, per-batch progress and fs calls. */
  def report(): Unit = {
    val ems = emissions.asScala.toSeq.sortBy(_._1)
    val measured = ems.filter(e => e._1 >= warmBatches && e._1 <= lastMeasured)
    if (measured.size >= 2) {
      val span = measured.last._2 - measured.head._2
      c.put("tweets_per_s.rows", (measured.size - 1).toDouble * rowsPerTrigger / rowsPerTweet)
      c.put("tweets_per_s.span_ms", span)
    }
    val ps = c.progress.of(name).sortBy(_.batchId)
    c.putProgress(ps)
    c.put("measured_first_batch", warmBatches.toLong)
    c.put("measured_last_batch", lastMeasured)
    val inWindow = ps.filter(p => p.batchId >= warmBatches && p.batchId <= lastMeasured)
    c.putSeries("sources.admission_lag_ms", inWindow.map { p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli - dueMs(p.batchId)).toDouble
    })
    // rows created by a batch's emission but not yet admitted
    c.putSeries("sources.backlog_rows", measured.map { case (bid, e, _) =>
      val lateMs = e - dueMs(bid)
      math.max(0.0, lateMs.toDouble * rowsPerTrigger / triggerMs)
    })
    c.putSeries("fs.batch_calls", ems.sliding(2).collect {
      case Seq(a, b) if b._1 >= warmBatches => (b._3 - a._3).toDouble
    }.toSeq)
  }
}

/** `neel-stream`: tweet JSON → `graft-rate-csv` → `NeelPipeline.run`
  * (update mode) → `foreachBatch`, open loop at a fixed rate. */
object NeelStream {
  private val AnalysisId = "perfbench"
  private val ProcessDate = "2026-01-01T00:00:00Z"

  def run(c: Ctx): Unit = {
    val s = c.spark
    import s.implicits._
    val loop = new OpenLoop(c, "neel_stream")
    val dir = c.runDir

    // ---- measured stream --------------------------------------------
    val lines = Inputs.lines(s"$dir/stream.csv").drop(1)
    // the generator's id per row (0 for a malformed row)
    val ids = Inputs.longs(s"$dir/stream.ids")
    val rowOf: Map[Long, Int] = ids.zipWithIndex.filter(_._1 > 0).toMap
    val progressL = new graft.streaming.ProgressListener(lines.size.toLong,
      queryName = Some(loop.name))
    s.streams.addListener(progressL)
    val out = new ConcurrentLinkedQueue[(Long, Long, String)]()
    val q = loop.start(graft.operators.NeelPipeline.run(s, loop.source(s, s"$dir/stream.csv"),
        AnalysisId, ProcessDate)
      .writeStream.queryName(loop.name).outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(loop.triggerMs))
      .foreachBatch((df: DataFrame, bid: Long) => loop.onBatch(bid) {
        df.collect().foreach(r => out.add((bid, r.getLong(0), r.getString(1))))
      })
      .start())
    val limit = (loop.lastMeasured + 1) * loop.triggerMs + 90000L
    val finished = loop.await(q, limit)(
      c.progress.of(loop.name).exists(_.batchId >= loop.lastMeasured))
    if (!finished) c.broken(s"neel_stream did not reach batch ${loop.lastMeasured}")
    c.endWindow()
    c.put("live_heap_mb", Gc.liveHeapMb())
    val (ckptFiles, ckptBytes) = c.dirStats(s"$dir/ckpt/state")
    c.put("state.checkpoint_files", ckptFiles)
    c.put("state.checkpoint_bytes", ckptBytes)
    q.stop()
    Checks.progressEndsLast(c, progressL)
    loop.report()

    // ---- output checks: the stream equals batch NeelPipeline.run -----
    val batch = graft.operators.NeelPipeline
      .run(s, lines.toDF("value"), AnalysisId, ProcessDate)
    val expected: Map[Long, String] = batch.as[(Long, String)].collect().toMap
    val emitted = out.asScala.toSeq
    val byId = emitted.groupBy(_._2)
    c.attempted(lines.size.toLong)
    var failed = 0L
    val latencies = scala.collection.mutable.ArrayBuffer[Double]()
    for ((id, row) <- rowOf) {
      val got = byId.getOrElse(id, Nil)
      (expected.get(id), got) match {
        case (None, Nil) => ()
        case (Some(want), Seq((b, _, json))) if json == want =>
          if (b >= loop.warmBatches && b <= loop.lastMeasured) {
            val lat = loop.emissionOf(b).get - loop.createdMs(row.toLong)
            latencies += lat
            if (lat > loop.deadlineMs) { failed += 1; c.note(s"tweet $id late: $lat ms") }
          }
        case (want, got) =>
          failed += 1
          c.note(s"tweet $id (row $row): expected ${want.map(_.take(80))}, " +
            s"got ${got.map(_._3.take(80))}")
      }
    }
    val unknown = byId.keySet -- rowOf.keySet
    if (unknown.nonEmpty) c.broken(s"events for ids not in the input: ${unknown.take(5)}")
    if (failed > 0) c.fail(s"$failed tweets missing, wrong or late", failed)
    c.putSeries("latency_ms", latencies)
    c.put("tweets", loop.measureBatches.toLong * loop.rowsPerTrigger)
    c.put("input.tweets_with_events_share", expected.size.toDouble / math.max(1, lines.size))
    if (c.traced) {
      val raw = lines.toDF("value")
      Profile.operators(c, raw)
      Exports.writeAndCheck(c, raw, s"$dir/export", s"$dir/sf")
    }
    val entityHits = batch.select(coalesce(sum(json_array_length(
      get_json_object(col("event_json"), "$.payload.entities"))), lit(0L))).head().getLong(0)
    c.put("input.entities_per_tweet_in_events", entityHits.toDouble / math.max(1, lines.size))
  }
}

object Inputs {
  def lines(path: String): Vector[String] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().toVector finally src.close()
  }
  def longs(path: String): Vector[Long] = lines(path).map(_.trim.toLong)
}

object Checks {
  /** `ProgressListener` must end with `isLast` at progress 1.0. */
  def progressEndsLast(c: Ctx, l: graft.streaming.ProgressListener): Unit = {
    val until = System.currentTimeMillis() + 10000
    while (!l.heartbeats.lastOption.exists(_.isLast) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    l.heartbeats.lastOption match {
      case Some(h) if h.isLast && h.progress == 1.0 => ()
      case other => c.broken(s"ProgressListener ended with $other, not isLast at 1.0")
    }
  }
}
