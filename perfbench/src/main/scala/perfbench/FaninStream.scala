package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.Trigger
import graft.model.{ProcessedTweet, StreamKinds, TaggedPartial}
import graft.streaming.FanIn

/** `fanin-stream`: `FanIn.taggedPartials` output serialized as JSON,
  * replayed in a seeded arrival order through `graft-rate-csv` into
  * `FanIn.fanInStream` with the reference's 15 s timeout. */
object FaninStream {
  private val KindOrder = Seq(StreamKinds.Status, StreamKinds.LinkedTweet,
    StreamKinds.ResourceKind, StreamKinds.DecodedLocation)

  /** The partials sent for one tweet, and the kind its plan dropped
    * ("-" for none). */
  final case class Sent(tweet: Long, partials: Seq[TaggedPartial], dropped: String)

  /** Partials of the documents in `docsJson`, via the engine. */
  private def partialsOf(s: SparkSession, docsJson: String, sfDir: String): Seq[TaggedPartial] = {
    s.read.schema("doc_id BIGINT, text STRING").json(docsJson)
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    FanIn.taggedPartials(s, sfDir).collect().toSeq
  }

  /** Arrange partials in arrival order: tweet i is created at i/rate,
    * each partial arrives after its planned offset; dropped kinds are
    * never sent. Writes the rate-csv file; returns what was sent and
    * the tweet of each staged row. */
  private def stage(s: SparkSession, parts: Seq[TaggedPartial], tweets: Int, rate: Int,
      plan: Map[Long, (Seq[Int], String)], csv: String): (Seq[Sent], Seq[Long]) = {
    import s.implicits._
    val byTweet = parts.groupBy(_.tag.toLong).toSeq.sortBy(_._1).take(tweets)
    val sent = byTweet.map { case (id, ps) =>
      val drop = plan.get(id).map(_._2).getOrElse("-")
      Sent(id, ps.filter(_.kind != drop).sortBy(p => KindOrder.indexOf(p.kind)), drop)
    }
    val arrivals = sent.zipWithIndex.flatMap { case (t, i) =>
      val offs = plan.get(t.tweet).map(_._1).getOrElse(Seq(0, 0, 0, 0))
      t.partials.map(p => (i * 1000.0 / rate + offs(KindOrder.indexOf(p.kind)), t.tweet,
        KindOrder.indexOf(p.kind), p))
    }.sortBy(a => (a._1, a._2, a._3)).map(_._4)
    val json = s.createDataset(arrivals).toJSON.collect()
    val out = new java.io.PrintWriter(csv, "UTF-8")
    try { out.println("value"); json.foreach(out.println) } finally out.close()
    (sent, arrivals.map(_.tag.toLong))
  }

  def run(c: Ctx): Unit = {
    val s = c.spark
    val loop = new OpenLoop(c, "fanin_stream", rowsPerTweet = 4)
    val dir = c.runDir
    val rate = c.intParam("rate_per_s")
    val plan: Map[Long, (Seq[Int], String)] = Inputs.lines(s"$dir/fanin_plan.tsv").map { l =>
      val f = l.split("\t")
      f(0).toLong -> (f.slice(1, 5).map(_.toInt).toSeq, f(5))
    }.toMap
    val schema = Encoders.product[TaggedPartial].schema
    def stream(csv: String): Dataset[TaggedPartial] = {
      import s.implicits._
      loop.source(s, csv).select(from_json(col("value"), schema).as("p"))
        .select("p.*").as[TaggedPartial]
    }

    // ---- set-up: stage the partials ---------------------------------
    val ((sent, rowTweets), stageMs) = c.timed {
      val parts = partialsOf(s, s"$dir/fanin_docs.jsonl", s"$dir/sf")
      c.log(s"${parts.size} partials from the engine")
      stage(s, parts, c.intParam("tweets"), rate, plan, s"$dir/stream.csv")
    }
    c.setup("stage_s", stageMs / 1000.0)
    c.log("partials staged")

    // ---- measured stream --------------------------------------------
    val rows = rowTweets.size
    // row index of each tweet's last partial, from the staged order
    val lastRow: Map[Long, Int] = rowTweets.zipWithIndex
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    val expectEmit = sent.filter(_.dropped != StreamKinds.Status)
    val progressL = new graft.streaming.ProgressListener(rows.toLong, queryName = Some(loop.name))
    s.streams.addListener(progressL)
    val out = new ConcurrentLinkedQueue[(Long, ProcessedTweet)]()
    val q = loop.start(FanIn.fanInStream(stream(s"$dir/stream.csv"), loop.deadlineMs)
      .writeStream.queryName(loop.name).outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(loop.triggerMs))
      .foreachBatch((ds: Dataset[ProcessedTweet], bid: Long) => loop.onBatch(bid) {
        ds.collect().foreach(p => out.add((bid, p)))
      })
      .start())
    val dataEndMs = (rows.toLong / loop.rowsPerTrigger + 1) * loop.triggerMs
    val reached = loop.await(q, dataEndMs + 90000L)(
      c.progress.of(loop.name).exists(_.batchId >= loop.lastMeasured))
    if (!reached) c.broken(s"fanin_stream did not reach batch ${loop.lastMeasured}")
    c.endWindow()
    c.put("live_heap_mb", Gc.liveHeapMb())
    // stop only after the last expected output: every timeout has fired
    // and the orphans' state is purged
    val drained = loop.await(q, loop.deadlineMs + 30000L)(
      out.size >= expectEmit.size &&
        c.progress.of(loop.name).lastOption.exists(p =>
          p.numInputRows == 0 && p.stateOperators.map(_.numRowsTotal).sum == 0))
    if (!drained) c.broken(s"fanin_stream did not drain: ${out.size} of ${expectEmit.size} emitted")
    val (ckptFiles, ckptBytes) = c.dirStats(s"$dir/ckpt/state")
    c.put("state.checkpoint_files", ckptFiles)
    c.put("state.checkpoint_bytes", ckptBytes)
    q.stop()
    Checks.progressEndsLast(c, progressL)
    loop.report()

    // ---- output checks: each emission equals FanIn.assemble ----------
    val emitted = out.asScala.toSeq.groupBy(_._2.status.id)
    c.attempted(sent.size.toLong)
    var failed = 0L
    var complete = 0L
    var timedOut = 0L
    val latencies = scala.collection.mutable.ArrayBuffer[Double]()
    // trigger start of each batch: the timeout of a tweet runs from the
    // batch that admitted its last partial
    val startedMs: Map[Long, Long] = c.progress.of(loop.name).map(p =>
      p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
    for (t <- sent) {
      val want = FanIn.assemble(t.partials)
      val bid = lastRow(t.tweet) / loop.rowsPerTrigger
      (want, emitted.getOrElse(t.tweet, Nil)) match {
        case (None, Nil) => ()
        case (Some(w), Seq((b, got))) if got == w =>
          val emittedMs = loop.emissionOf(b).get
          if (t.dropped == "-") {
            complete += 1
            val lat = emittedMs - loop.createdMs(lastRow(t.tweet).toLong)
            if (bid >= loop.warmBatches && bid <= loop.lastMeasured) latencies += lat
            if (lat > loop.deadlineMs) { failed += 1; c.note(s"tweet ${t.tweet} late: $lat ms") }
          } else {
            timedOut += 1
            // a partial result is due when the timeout fires
            val waited = emittedMs - startedMs(bid)
            if (waited < loop.deadlineMs || waited > loop.deadlineMs + 4 * loop.triggerMs) {
              failed += 1
              c.note(s"tweet ${t.tweet} timed out after $waited ms, not ~${loop.deadlineMs}")
            }
          }
        case (w, got) =>
          failed += 1
          c.note(s"tweet ${t.tweet} (dropped ${t.dropped}): expected ${w.map(_.status.id)}, " +
            s"got ${got.size} emissions")
      }
    }
    if (failed > 0) c.fail(s"$failed tweets missing, wrong or late", failed)
    val orphans = sent.count(_.dropped == StreamKinds.Status).toLong
    c.putSeries("latency_ms", latencies)
    c.put("tweets", sent.size.toLong)
    c.put("fanin.complete_emits", complete)
    c.put("fanin.timeout_emits", timedOut)
    c.put("fanin.orphan_purges", if (drained) orphans else 0L)
    c.put("fanin.timeout_ratio", timedOut.toDouble / math.max(1L, complete + timedOut))
    c.put("input.partials", rows.toLong)
    c.put("input.missing_partial_share",
      sent.count(t => t.dropped != "-" && t.dropped != StreamKinds.Status).toDouble / sent.size)
    c.put("input.orphan_share", orphans.toDouble / sent.size)
  }
}
