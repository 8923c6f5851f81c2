package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{Neel, NeelPipeline}
import graft.sinks.Export

/** The paper's `ExportResultsJob` outputs over a batch of raw tweets:
  * `NeelPipeline.run` events as json and the engine's challenge,
  * extended and dataset shapes (`Neel.queries`) as tsv, written through
  * `graft.sinks.Export`. A traced `neel-stream` run writes them for its
  * input after the measured window, times each write and checks every
  * file read back. */
object Exports {
  private val AnalysisId = "perfbench"
  private val ProcessDate = "2026-01-01T00:00:00Z"
  private val Shapes = Seq("challenge" -> "q23_neel_challenge",
    "extended" -> "q24_export_extended", "dataset" -> "q25_export_dataset")

  /** (name, frame, json?) for every export of one job. The shapes read
    * the engine's `documents` table, so the parsed tweets are staged
    * as `sfDir/documents.parquet` first. */
  def shapes(s: SparkSession, raw: DataFrame, sfDir: String): Seq[(String, DataFrame, Boolean)] = {
    NeelPipeline.parseTweets(raw, skipRetweets = false)
      .select(col("tweet_id").as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    ("events", NeelPipeline.run(s, raw, AnalysisId, ProcessDate), true) +:
      Shapes.map { case (name, q) => (name, Neel.queries(q)(s, sfDir), false) }
  }

  /** Write every export of `raw` under `out`, timing each, then check
    * each file read back against its frame (as a multiset of rows). */
  def writeAndCheck(c: Ctx, raw: DataFrame, out: String, sfDir: String): Unit = {
    val s = c.spark
    val exports = shapes(s, raw, sfDir)
    var tsv = 0.0
    var json = 0.0
    Trace.enabled = true
    try for ((name, df, isJson) <- exports) {
      val (_, ms) = c.timed(Trace.span(s, "sinks", name) {
        if (isJson) Export.writeSingleJson(df, s"$out/$name")
        else Export.writeSingleTsv(df, s"$out/$name")
      })
      if (isJson) json += ms else tsv += ms
    } finally Trace.enabled = false
    val (files, bytes) = c.dirStats(out)
    c.put("sinks.tsv_write_ms", tsv)
    c.put("sinks.json_write_ms", json)
    c.put("sinks.files_written", files)
    c.put("sinks.bytes_written", bytes)
    for ((name, df, isJson) <- exports) {
      val path = s"$out/$name"
      val back = if (isJson) s.read.schema(df.schema).json(path)
        else s.read.schema(df.schema).option("sep", "\t").option("header", "true").csv(path)
      def counts(d: DataFrame) = d.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
      val (want, got) = (counts(df), counts(back))
      val diff = (want.keySet ++ got.keySet).toSeq
        .map(r => math.abs(want.getOrElse(r, 0) - got.getOrElse(r, 0)).toLong).sum
      if (diff > 0) c.broken(s"export $name: $diff rows differ between the file and its frame")
    }
  }
}

/** Each public NEEL stage materialized alone (noop sink) from a cached
  * parse, so the stage's own cost is timed from outside. Traced
  * `neel-stream` runs only, after the measured window, over the
  * stream's input as one batch. */
object Profile {
  def operators(c: Ctx, raw: DataFrame): Unit = {
    val s = c.spark
    def noop(df: DataFrame): Double =
      c.timed(df.write.format("noop").mode("overwrite").save())._2
    Trace.enabled = true
    try {
      val parse = Trace.span(s, "operators", "parseTweets")(noop(NeelPipeline.parseTweets(raw)))
      val valid = NeelPipeline.parseTweets(raw).cache()
      c.put("operators.parse_drop_ratio", 1.0 - valid.count().toDouble / raw.count())
      val ner = Trace.span(s, "operators", "nerEntities")(noop(Neel.nerEntities(s, valid)))
      val resolved = Trace.span(s, "operators", "resolved")(noop(Neel.resolved(s, valid)))
      val geo = Trace.span(s, "operators", "geoDecoded")(noop(Neel.geoDecoded(valid)))
      val events = Trace.span(s, "operators", "resultEvents")(noop(
        NeelPipeline.resultEvents(Neel.resolved(s, valid), "perfbench", "2026-01-01T00:00:00Z")))
      valid.unpersist()
      c.put("operators.parse_ms", parse)
      c.put("operators.ner_ms", ner)
      c.put("operators.resolve_ms", math.max(0.0, resolved - ner))
      c.put("operators.geo_ms", geo)
      c.put("operators.events_ms", math.max(0.0, events - resolved))
    } finally Trace.enabled = false
  }
}
