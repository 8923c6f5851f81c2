package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The end-to-end NEEL pipeline as ONE composition: raw tweet-JSON
  * strings in, analysis-result JSON events out — the library entry
  * point a user of the reference switches to
  * (`J/TwitterStreamJob.java:211-376` end to end).
  *
  * Works identically on a batch DataFrame and a streaming DataFrame
  * (Kafka `value` column or file stream): every stage is a pure
  * per-row column-expression transform, so a stream runs it in any
  * output mode with no state.
  */
object NeelPipeline {

  /** The twitter4j subset the reference actually consumes
    * (SURVEY.md §7.3 step 1: fields read at
    * `J/NeelProcessedTweetWindowFunction.java:41-54`). */
  val tweetSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("retweeted", BooleanType),
    StructField("user", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("screen_name", StringType),
      StructField("location", StringType))))))

  /** [[tweetSchema]] plus the PERMISSIVE parser's corrupt-record
    * column: malformed-ness is keyed off `_corrupt IS NOT NULL`, not
    * off which fields came back null — with
    * `spark.sql.json.enablePartialResults` (default-on in recent
    * Spark) a truncated record whose leading fields parse before the
    * cut surfaces them non-null, so field-null heuristics would
    * misclassify it and, worse, let parse and quarantine disagree
    * about it. The corrupt column is set by the parser itself for any
    * record it could not fully decode, under either partial-results
    * setting, so the parse/quarantine complement is config-independent. */
  private val tweetSchemaCorrupt: StructType =
    tweetSchema.add(StructField("_corrupt", StringType))
  private val corruptOpts = Map(
    "columnNameOfCorruptRecord" -> "_corrupt", "mode" -> "PERMISSIVE")

  /** #12: permissive JSON parse + validity filter + retweet skip.
    * JSON the parser cannot fully decode (corrupt-record column set)
    * -> silently dropped, exactly like the reference's catch-and-skip
    * flatMap (twitter4j throws on any truncated/invalid payload, so a
    * partially-recoverable record is a skip there too). Each tweet is
    * parsed ONCE: the validity rules are a `filter` lambda over the
    * one-element `array(from_json(…))` and the survivor is
    * `explode`d. A `where` over a parsed column would be pushed below
    * its projection with `from_json(…)` substituted into every
    * conjunct; a generator is a barrier the optimizer does not push
    * filters through. */
  def parseTweets(raw: DataFrame, jsonCol: String = "value",
      skipRetweets: Boolean = true): DataFrame = {
    val valid = (t: Column) => t.isNotNull && t("_corrupt").isNull &&
      t("id") > 0 && length(t("text")) > 0
    val parsed = raw
      .select(explode(filter(
        array(from_json(col(jsonCol), tweetSchemaCorrupt, corruptOpts)),
        valid)).as("t"))
      .select(
        col("t.id").as("tweet_id"),
        col("t.text").as("text"),
        col("t.user.id").as("user_id"),
        col("t.user.name").as("user_name"),
        col("t.user.screen_name").as("screen_name"),
        col("t.user.location").as("user_location"),
        coalesce(col("t.retweeted"), lit(false)).as("is_retweet"))
    if (skipRetweets) parsed.where(!col("is_retweet")) else parsed
  }

  /** #30: one `AnalysisResultProducedEvent` JSON per tweet row, the
    * entities assembled inside the row itself: [[Neel.dictionaryArray]]
    * is filtered to the terms the text holds, each hit becomes its
    * (start, end, uri, confidence, category) struct by the [[Neel]]
    * rules, and the array is sorted. Rows with no hit emit nothing.
    * Reads only `tweet_id` and `text`. With no aggregate there is no
    * shuffle and, on a stream, no state store; a re-delivered tweet
    * yields one event per delivery, as in the reference. processDate
    * is a parameter, not `now()`, so outputs are replayable/idempotent
    * (documented divergence from the reference's wall-clock stamp). */
  def resultEvents(tweets: DataFrame, analysisId: String,
      processDate: String): DataFrame = {
    val text = col("text")
    val hit = (d: Column) => Neel.recognized(text, d("term"))
    val entity = (d: Column) => {
      val term = d("term")
      val start = Neel.spanStart(text, term)
      val nil = Neel.isNil(term)
      struct(start.as("start"), Neel.spanEnd(start, term).as("end"),
        Neel.uri(nil, Neel.nilCluster(term, nil), Neel.link(term, nil)).as("uri"),
        Neel.confidence(col("tweet_id"), start).as("confidence"),
        d("category").as("category"))
    }
    tweets
      // `exists` over the literal, not `size(entities) > 0`: the
      // optimizer would push that filter below the projection and
      // build and sort every array twice
      .where(exists(Neel.dictionaryArray, hit))
      .select(col("tweet_id"), to_json(struct(
        lit(analysisId).as("analysisId"),
        lit(processDate).as("processDate"),
        struct(col("tweet_id").as("statusId"),
          array_sort(transform(filter(Neel.dictionaryArray, hit), entity))
            .as("entities")).as("payload")))
        .as("event_json"))
  }

  /** Raw tweet JSON -> result events, batch or streaming. */
  def run(s: SparkSession, rawTweets: DataFrame, analysisId: String,
      processDate: String): DataFrame =
    resultEvents(parseTweets(rawTweets), analysisId, processDate)

  /** The complement of [[parseTweets]]'s silent drop — QUARANTINE with
    * reasons (dead-letter routing): the reference's flatMap
    * catch-and-skip (`J/TwitterStreamJob.java:227-307` parse leg)
    * loses malformed and invalid records without a trace; a production
    * ingest pipeline routes them to a quarantine relation so drop
    * rates are observable and replayable. Reasons mirror the parse's
    * own check order (malformed JSON → non-positive id → empty text →
    * retweet skip), so quarantine ∪ parsed = the raw feed exactly.
    * Pure column expressions over the same single scan as the parse —
    * no second pass at 100 TB — and each record is parsed ONCE, behind
    * the generator barrier [[parseTweets]] uses: `explode` of the
    * one-element `array(from_json(…))` yields exactly one row per raw
    * record, a null struct included, so no malformed record drops
    * out, and the `reason` filter cannot be pushed below it with
    * `from_json(…)` substituted into every branch. */
  def quarantine(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw
      .select(explode(array(
        from_json(col(jsonCol), tweetSchemaCorrupt, corruptOpts))).as("t"))
      .withColumn("reason",
        // "malformed" keys off the parser's OWN corrupt-record column
        // (null input string -> null struct rides along), so the
        // classification is identical under either
        // spark.sql.json.enablePartialResults setting — field-null
        // heuristics are not (a truncated record whose id parses
        // before the cut would leak to the field checks below)
        when(col("t").isNull || col("t._corrupt").isNotNull, "malformed")
          .when(col("t.id").isNull || col("t.id") <= 0, "invalid_id")
          .when(col("t.text").isNull || length(col("t.text")) === 0,
            "empty_text")
          .when(coalesce(col("t.retweeted"), lit(false)), "retweet"))
      .where(col("reason").isNotNull)
      // -1 stands in for MALFORMED unconditionally (under partial
      // results the parser may have recovered an id before the cut —
      // surfacing it would make the output config-dependent), and for
      // "no id recoverable" elsewhere so the output never carries a
      // NULL key (engines disagree on NULL sort order)
      .select(
        when(col("reason") === "malformed", lit(-1L))
          .otherwise(coalesce(col("t.id"), lit(-1L))).as("tweet_id"),
        col("reason"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DEAD-LETTER QUARANTINE over a deterministically corrupted feed:
    // the synthetic tweets are damaged in three disjoint classes
    // (doc_id % 9 = 1 → the JSON truncated to 20 chars, % 9 = 2 → the
    // id negated, % 9 = 3 → the text emptied) before serialization,
    // retweets ride along as the fourth routed class; the quarantine
    // relation must recover exactly the damaged population with the
    // parse's own precedence. Oracle derives the same classes from
    // `documents` directly.
    "q136_parse_quarantine" -> { (s, d) =>
      val base = Neel.syntheticTweets(s, d)
        .withColumn("tweet_id",
          when(pmod(col("tweet_id"), lit(9)) === 2, -col("tweet_id"))
            .otherwise(col("tweet_id")))
        .withColumn("text",
          when(pmod(abs(col("tweet_id")), lit(9)) === 3, lit(""))
            .otherwise(col("text")))
      val json = to_json(struct(
        col("tweet_id").as("id"), col("text"),
        col("is_retweet").as("retweeted"),
        struct(col("user_id").as("id"), col("user_name").as("name"),
          col("screen_name").as("screen_name"),
          col("user_location").as("location")).as("user")))
      val raw = base.select(
        when(pmod(abs(col("tweet_id")), lit(9)) === 1,
          substring(json, 1, 20)).otherwise(json).as("value"))
      quarantine(raw).orderBy(col("reason"), col("tweet_id"))
    },

    // The whole pipeline over JSON-serialized synthetic tweets:
    // to_json -> from_json (real #12 parse) -> NER/NEL/resolve ->
    // result events.
    "q28_pipeline_e2e" -> { (s, d) =>
      val raw = Neel.syntheticTweets(s, d).select(to_json(struct(
        col("tweet_id").as("id"), col("text"),
        col("is_retweet").as("retweeted"),
        struct(col("user_id").as("id"), col("user_name").as("name"),
          col("screen_name").as("screen_name"),
          col("user_location").as("location")).as("user"))).as("value"))
      run(s, raw, analysisId = "a1", processDate = "2026-01-01T00:00:00Z")
        .orderBy(col("tweet_id"))
    },
  )

  def oracle: Map[String, String] = Map(
    // the quarantine must recover exactly the damaged population with
    // the parse's own precedence (malformed > invalid_id > empty_text
    // > retweet); -1 stands in for "no id recoverable"
    "q136_parse_quarantine" ->
      """SELECT * FROM (
        |  SELECT CAST(-1 AS BIGINT) AS tweet_id, 'malformed' AS reason
        |  FROM documents WHERE doc_id % 9 = 1
        |  UNION ALL
        |  -- doc_id 0 exists in the corpus: its UNDAMAGED tweet already
        |  -- fails the id > 0 validity check, which precedes the retweet
        |  -- skip in the parse's own order
        |  SELECT -doc_id, 'invalid_id' FROM documents
        |  WHERE doc_id % 9 = 2 OR doc_id = 0
        |  UNION ALL
        |  SELECT doc_id, 'empty_text' FROM documents WHERE doc_id % 9 = 3
        |  UNION ALL
        |  SELECT doc_id, 'retweet' FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id % 9 NOT IN (1, 2, 3)
        |    AND doc_id <> 0
        |) ORDER BY reason, tweet_id""".stripMargin,
    "q28_pipeline_e2e" -> (Neel.sqlPrefix +
      """, ents AS (
        |  SELECT tweet_id,
        |    list_sort(list(struct_pack(
        |      "start" := pos_start, "end" := pos_end,
        |      uri := CASE WHEN is_nil THEN nil_cluster ELSE link END,
        |      confidence := confidence, category := category))) AS entities
        |  FROM nel GROUP BY tweet_id)
        |SELECT tweet_id,
        |  to_json(struct_pack(analysisId := 'a1',
        |    processDate := '2026-01-01T00:00:00Z',
        |    payload := struct_pack(statusId := tweet_id, entities := entities)))
        |    AS event_json
        |FROM ents ORDER BY tweet_id""".stripMargin),
  )
}
