package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The NEEL (Named Entity Extraction and Linking) pipeline — the
  * reference's core dataflow (SURVEY.md §2.3-§2.7) re-expressed as
  * composable, scale-safe `DataFrame => DataFrame` transforms.
  *
  * Reference semantics covered here (operator numbers from SURVEY.md §2):
  *   - #12 tweet parse + validity filter + retweet filter
  *   - #13/#14 projections to (id,text) / (location,id)
  *   - #16/#17 has-links / has-user-location predicates
  *   - #19 `__` flat→nested re-nesting (+ to_json/from_json round trip)
  *   - #21/#22 entity↔resource hash join + per-tag grouping, in the
  *     relational formulation (explode + broadcast LEFT JOIN +
  *     collect_list) — the stateful formulation lives in
  *     [[graft.streaming.FanIn]]
  *   - #24/#25/#29 NER/NEL stages as deterministic in-engine operators
  *     (dictionary backend) instead of Kafka RPC round trips (SURVEY §0)
  *   - #33-#37 export reshaping (challenge / extended / dataset formats,
  *     with the reference's three export bugs fixed as documented
  *     intended semantics)
  *
  * The external NLP services are replaced by a deterministic
  * dictionary backend so every stage is oracle-checkable: NER finds
  * dictionary terms via `instr`, NEL links terms of length >= 5 to a
  * synthetic KB and marks shorter ones NIL, the link resolver joins a
  * KB resource table, and the geo decoder maps `city_N` to synthetic
  * coordinates. Tweets themselves are synthesized deterministically
  * from the `documents` table (doc_id → tweet id, text → tweet text).
  *
  * Scale notes: the dictionary and KB-resource relations are O(dict)
  * rows and always broadcast; every stage is a narrow transform or a
  * broadcast join. The per-tweet result events
  * (`NeelPipeline.resultEvents`) are assembled inside each tweet's own
  * row from the dictionary as an array literal, so the end-to-end
  * pipeline has no shuffle and, on a stream, no state store. All
  * stages are pure column expressions (no UDFs).
  */
object Neel {

  /** NER dictionary with NEL categories. Terms of length >= 5 are
    * linkable to the synthetic KB; shorter terms are NIL entities. */
  val dictionary: Seq[(String, String)] = Seq(
    "spark" -> "ORG", "stream" -> "CONCEPT", "window" -> "CONCEPT",
    "vector" -> "MATH", "merge" -> "ACTION", "filter" -> "ACTION",
    "join" -> "ACTION", "hash" -> "MATH")

  /** [[dictionary]] as an `array<struct<term, category>>` literal, for
    * per-row NER inside a higher-order function. */
  val dictionaryArray: Column = array(dictionary.map { case (t, c) =>
    struct(lit(t).as("term"), lit(c).as("category")) }: _*)

  /** SQL VALUES literal mirroring [[dictionary]] for the oracle. */
  private val dictValues: String =
    dictionary.map { case (t, c) => s"('$t','$c')" }.mkString(", ")

  // ---------------------------------------------------------------------
  // NER/NEL rules, one definition each: the per-entity-row stages below
  // and the per-tweet entity array of `NeelPipeline.resultEvents` both
  // build from these
  // ---------------------------------------------------------------------

  /** NER hit: the dictionary term occurs in the text. */
  def recognized(text: Column, term: Column): Column = instr(text, term) > 0

  /** 0-based [start, end) span of the term's first occurrence, like
    * the reference (`J/TwitterNeelResultRow.java:7-8`). */
  def spanStart(text: Column, term: Column): Column = instr(text, term) - 1
  def spanEnd(start: Column, term: Column): Column = start + length(term)

  /** KB url prefix: a linked term's `link` and its resource's `url`. */
  private val KbLink = "http://kb/r/"

  /** NEL: terms shorter than 5 chars are NIL entities with a nil
    * cluster; the others link to the synthetic KB. */
  def isNil(term: Column): Column = length(term) < 5
  def link(term: Column, nil: Column): Column =
    when(!nil, concat(lit(KbLink), term))
  def nilCluster(term: Column, nil: Column): Column =
    when(nil, concat(lit("nil-"), term))

  /** The entity's resource uri: its nil cluster when NIL, else its link. */
  def uri(nil: Column, nilCluster: Column, link: Column): Column =
    when(nil, nilCluster).otherwise(link)

  /** Deterministic NEL score in [0, 0.89]. */
  def confidence(tweetId: Column, start: Column): Column =
    ((tweetId * 7 + start) % 90).cast("double") / lit(100.0)

  // ---------------------------------------------------------------------
  // Pipeline stages
  // ---------------------------------------------------------------------

  /** Deterministic tweet synthesis from `documents` (test harness for
    * the Twitter-source contract; columns mirror FIXTURES.md §2). */
  def syntheticTweets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(
      $"doc_id".as("tweet_id"),
      $"text",
      ($"doc_id" % 100).as("user_id"),
      concat(lit("user_"), $"doc_id" % 100).as("user_name"),
      concat(lit("u"), $"doc_id" % 100).as("screen_name"),
      when($"doc_id" % 5 =!= 0, concat(lit("city_"), $"doc_id" % 20))
        .as("user_location"),
      ($"doc_id" % 7 === 0).as("is_retweet"))
  }

  /** #12: validity filter (id > 0, non-empty text) + retweet skip. */
  def ingest(tweets: DataFrame, skipRetweets: Boolean = true): DataFrame = {
    val valid = tweets.filter(col("tweet_id") > 0 && length(col("text")) > 0)
    if (skipRetweets) valid.filter(!col("is_retweet")) else valid
  }

  /** #24/#29: NER stage — dictionary-term recognition with positions.
    * Dict is broadcast; the scan stays narrow. */
  def nerEntities(s: SparkSession, valid: DataFrame): DataFrame = {
    import s.implicits._
    val dict = dictionary.toDF("term", "category")
    valid.join(broadcast(dict), recognized($"text", $"term"), "inner")
      .withColumn("pos_start", spanStart($"text", $"term"))
      .withColumn("pos_end", spanEnd(col("pos_start"), $"term"))
  }

  /** #25: NEL stage — link terms (length >= 5) to the synthetic KB,
    * mark short terms NIL with a nil-cluster, score deterministically. */
  def nelLinked(entities: DataFrame): DataFrame =
    entities
      .withColumn("is_nil", isNil(col("term")))
      .withColumn("link", link(col("term"), col("is_nil")))
      .withColumn("nil_cluster", nilCluster(col("term"), col("is_nil")))
      .withColumn("confidence", confidence(col("tweet_id"), col("pos_start")))

  /** #26: the KB resource relation (link resolver backend). */
  def kbResources(s: SparkSession): DataFrame = {
    import s.implicits._
    dictionary.filter(_._1.length >= 5).map(_._1)
      .toDF("res_term")
      .select(
        concat(lit(KbLink), col("res_term")).as("url"),
        concat(lit("res-"), col("res_term")).as("name"),
        concat(lit("http://kb/thumb/"), col("res_term")).as("thumb"))
  }

  /** #14/#17 + geo stage: decode `city_N` locations to coordinates.
    * Input: tweets with user_location; output tweet_id, latitude,
    * longitude (null-safe for tweets without a location). */
  def geoDecoded(valid: DataFrame): DataFrame = {
    val n = substring(col("user_location"), 6, 10).cast("long")
    valid
      .filter(col("user_location").isNotNull &&
        length(trim(col("user_location"))) >= 2)
      .select(col("tweet_id"),
        (lit(10.0) + n.cast("double") * lit(1.5)).as("latitude"),
        (lit(0.0) - n.cast("double") * lit(2.5)).as("longitude"))
  }

  /** #21 relational fan-in: linked entities LEFT JOIN kb resources on
    * entity.link = resource.url (broadcast — the KB dim is small), plus
    * value backfill from the status text exactly like
    * `J/NeelProcessedTweetWindowFunction.java:87-89`. */
  def resolved(s: SparkSession, valid: DataFrame): DataFrame = {
    val nel = nelLinked(nerEntities(s, valid))
    nel.join(broadcast(kbResources(s)), nel("link") === col("url"), "left")
      .withColumn("value",
        trim(substring(col("text"), col("pos_start") + 1,
          col("pos_end") - col("pos_start"))))
  }

  // ---------------------------------------------------------------------
  // Oracle-checked queries
  // ---------------------------------------------------------------------

  /** Shared oracle CTE prefix mirroring the stages above. */
  private[operators] val sqlPrefix: String =
    s"""WITH tweets AS (
       |  SELECT doc_id AS tweet_id, text,
       |         doc_id % 100 AS user_id,
       |         'user_' || (doc_id % 100) AS user_name,
       |         'u' || (doc_id % 100) AS screen_name,
       |         CASE WHEN doc_id % 5 <> 0 THEN 'city_' || (doc_id % 20) END AS user_location,
       |         (doc_id % 7 = 0) AS is_retweet
       |  FROM documents),
       |valid AS (
       |  SELECT * FROM tweets
       |  WHERE tweet_id > 0 AND length(text) > 0 AND NOT is_retweet),
       |dict(term, category) AS (VALUES $dictValues),
       |ner AS (
       |  SELECT v.*, d.term, d.category,
       |         instr(v.text, d.term) - 1 AS pos_start,
       |         instr(v.text, d.term) - 1 + length(d.term) AS pos_end
       |  FROM valid v CROSS JOIN dict d
       |  WHERE instr(v.text, d.term) > 0),
       |nel AS (
       |  SELECT *,
       |         (length(term) < 5) AS is_nil,
       |         CASE WHEN length(term) >= 5 THEN 'http://kb/r/' || term END AS link,
       |         CASE WHEN length(term) < 5 THEN 'nil-' || term END AS nil_cluster,
       |         CAST((tweet_id * 7 + pos_start) % 90 AS DOUBLE) / 100.0 AS confidence
       |  FROM ner),
       |resources AS (
       |  SELECT 'http://kb/r/' || term AS url, 'res-' || term AS name,
       |         'http://kb/thumb/' || term AS thumb
       |  FROM dict WHERE length(term) >= 5),
       |geo AS (
       |  SELECT tweet_id,
       |         10.0 + CAST(CAST(substring(user_location, 6, 10) AS BIGINT) AS DOUBLE) * 1.5 AS latitude,
       |         0.0 - CAST(CAST(substring(user_location, 6, 10) AS BIGINT) AS DOUBLE) * 2.5 AS longitude
       |  FROM valid
       |  WHERE user_location IS NOT NULL AND length(trim(user_location)) >= 2)
       |""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #12/#13: ingest + validity + retweet skip + projection.
    "q20_tweet_ingest" -> { (s, d) =>
      ingest(syntheticTweets(s, d))
        .select(col("tweet_id"), col("text"), col("user_id"),
          col("user_name"), col("screen_name"), col("user_location"))
        .orderBy(col("tweet_id"))
    },

    // #24/#29: NER output (exploded per recognized entity).
    "q21_ner_entities" -> { (s, d) =>
      nerEntities(s, ingest(syntheticTweets(s, d)))
        .select(col("tweet_id"), col("term"), col("category"),
          col("pos_start"), col("pos_end"))
        .orderBy(col("tweet_id"), col("pos_start"), col("term"))
    },

    // #25: NEL output with links / NILs / confidence.
    "q22_nel_linked" -> { (s, d) =>
      nelLinked(nerEntities(s, ingest(syntheticTweets(s, d))))
        .select(col("tweet_id"), col("term"), col("is_nil"), col("link"),
          col("nil_cluster"), col("confidence"), col("category"))
        .orderBy(col("tweet_id"), col("term"))
    },

    // #21+#33/#34: full relational fan-in flattened to the
    // twitter-neel-challenge export shape.
    "q23_neel_challenge" -> { (s, d) =>
      resolved(s, ingest(syntheticTweets(s, d)))
        .select(col("tweet_id"), col("pos_start"), col("pos_end"),
          uri(col("is_nil"), col("nil_cluster"), col("link")).as("resource_uri"),
          col("confidence"), col("category"))
        .orderBy(col("tweet_id"), col("pos_start"), col("resource_uri"))
    },

    // #35 (intended semantics — every per-entity row carries the full
    // status context; the reference's row-reuse bug is fixed): wide
    // `__`-flattened export. Tweets with no entities emit one bare row.
    "q24_export_extended" -> { (s, d) =>
      val valid = ingest(syntheticTweets(s, d))
      val ent = resolved(s, valid)
        .select(col("tweet_id").as("e_tweet_id"), col("pos_start"),
          col("pos_end"), col("value"), col("link"), col("is_nil"),
          col("nil_cluster"), col("confidence"), col("category"),
          col("name").as("res_name"), col("thumb").as("res_thumb"))
      val geo = geoDecoded(valid)
        .select(col("tweet_id").as("g_tweet_id"), col("latitude"), col("longitude"))
      valid
        .join(ent, col("tweet_id") === col("e_tweet_id"), "left")
        .join(geo, col("tweet_id") === col("g_tweet_id"), "left")
        .select(
          col("tweet_id").as("status__id"),
          col("text").as("status__text"),
          col("user_id").as("status__user__id"),
          col("user_name").as("status__user__name"),
          col("screen_name").as("status__user__screen_name"),
          col("user_location").as("status__user__location"),
          col("latitude").as("status__user__coordinates__latitude"),
          col("longitude").as("status__user__coordinates__longitude"),
          col("pos_start").as("entity__position__start"),
          col("pos_end").as("entity__position__end"),
          col("value").as("entity__value"),
          col("link").as("entity__link"),
          col("is_nil").as("entity__is_nil"),
          col("nil_cluster").as("entity__nil_cluster"),
          col("confidence").as("entity__confidence"),
          col("category").as("entity__category"),
          col("res_name").as("resource__name"),
          col("res_thumb").as("resource__thumb"))
        .orderBy(col("status__id"), col("entity__position__start"),
          col("entity__category"))
    },

    // #36 (intended semantics — the reference never emits rows): the
    // twitter-neel-dataset export projection.
    "q25_export_dataset" -> { (s, d) =>
      ingest(syntheticTweets(s, d))
        .select(col("tweet_id").as("id"), col("text"),
          col("user_id").as("user__id"), col("user_name").as("user__name"),
          col("user_location").as("user__location"))
        .orderBy(col("id"))
    },

    // #19: `__` flat → nested struct → JSON, then parse a field back
    // out (from_json path of #12). Round-trip property is in the spec.
    "q26_nest_roundtrip" -> { (s, d) =>
      ingest(syntheticTweets(s, d))
        .select(col("tweet_id"),
          to_json(struct(
            col("tweet_id").as("id"), col("text").as("text"),
            struct(col("user_id").as("id"), col("user_name").as("name"),
              col("screen_name").as("screen_name")).as("user")))
            .as("payload_json"))
        .withColumn("user_id_rt",
          get_json_object(col("payload_json"), "$.user.id").cast("long"))
        .orderBy(col("tweet_id"))
    },
  )

  def oracle: Map[String, String] = Map(
    "q20_tweet_ingest" -> (sqlPrefix +
      """SELECT tweet_id, text, user_id, user_name, screen_name, user_location
        |FROM valid ORDER BY tweet_id""".stripMargin),
    "q21_ner_entities" -> (sqlPrefix +
      """SELECT tweet_id, term, category, pos_start, pos_end
        |FROM ner ORDER BY tweet_id, pos_start, term""".stripMargin),
    "q22_nel_linked" -> (sqlPrefix +
      """SELECT tweet_id, term, is_nil, link, nil_cluster, confidence, category
        |FROM nel ORDER BY tweet_id, term""".stripMargin),
    "q23_neel_challenge" -> (sqlPrefix +
      """SELECT tweet_id, pos_start, pos_end,
        |  CASE WHEN is_nil THEN nil_cluster ELSE link END AS resource_uri,
        |  confidence, category
        |FROM nel ORDER BY tweet_id, pos_start, resource_uri""".stripMargin),
    "q24_export_extended" -> (sqlPrefix +
      """SELECT v.tweet_id AS status__id, v.text AS status__text,
        |  v.user_id AS status__user__id, v.user_name AS status__user__name,
        |  v.screen_name AS status__user__screen_name,
        |  v.user_location AS status__user__location,
        |  g.latitude AS status__user__coordinates__latitude,
        |  g.longitude AS status__user__coordinates__longitude,
        |  e.pos_start AS entity__position__start,
        |  e.pos_end AS entity__position__end,
        |  trim(substring(e.text, e.pos_start + 1, e.pos_end - e.pos_start)) AS entity__value,
        |  e.link AS entity__link, e.is_nil AS entity__is_nil,
        |  e.nil_cluster AS entity__nil_cluster,
        |  e.confidence AS entity__confidence, e.category AS entity__category,
        |  r.name AS resource__name, r.thumb AS resource__thumb
        |FROM valid v
        |LEFT JOIN nel e ON v.tweet_id = e.tweet_id
        |LEFT JOIN resources r ON e.link = r.url
        |LEFT JOIN geo g ON v.tweet_id = g.tweet_id
        |ORDER BY status__id, entity__position__start, entity__category""".stripMargin),
    "q25_export_dataset" -> (sqlPrefix +
      """SELECT tweet_id AS id, text, user_id AS user__id,
        |  user_name AS user__name, user_location AS user__location
        |FROM valid ORDER BY id""".stripMargin),
    "q26_nest_roundtrip" -> (sqlPrefix +
      """SELECT tweet_id,
        |  to_json(struct_pack(id := tweet_id, text := text,
        |    user := struct_pack(id := user_id, name := user_name,
        |      screen_name := screen_name))) AS payload_json,
        |  CAST(json_extract_string(
        |    to_json(struct_pack(id := tweet_id, text := text,
        |      user := struct_pack(id := user_id, name := user_name,
        |        screen_name := screen_name))), '$.user.id') AS BIGINT) AS user_id_rt
        |FROM valid ORDER BY tweet_id""".stripMargin),
  )
}
