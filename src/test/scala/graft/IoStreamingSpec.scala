package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Multimodal
import graft.sinks.Export
import graft.streaming.{ProgressListener, Sources}

/** File sinks, rate-limited streaming source, progress listener, and
  * the streaming guises of the batch transforms (watermarked window
  * agg, streaming dedup). */
class IoStreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("single-file TSV export round-trips with header") {
    val s = spark
    val rows = operators.Requests.queries("q61_challenge_tsv")(s, sf)
    val out = tmpDir("tsv_export")
    Export.writeSingleTsv(rows, out, header = true)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1, "export must be a single file")
    val back = s.read.option("sep", "\t").option("header", "true").csv(out)
    assert(back.count() === rows.count())
    assert(back.columns.toSeq === Seq("line"))
  }

  test("single-file JSON export round-trips") {
    val s = spark
    val rows = operators.Requests.queries("q62_json_export")(s, sf)
    val out = tmpDir("json_export")
    Export.writeSingleJson(rows, out)
    val back = s.read.json(out)
    assert(back.count() === rows.count())
  }

  test("rate-limited CSV stream admits maxFilesPerTrigger per batch") {
    val s = spark
    import s.implicits._
    // stage the documents as 4 csv part files
    val staged = tmpDir("csv_stage")
    val docs = Tables.documents(s, sf).select($"doc_id", $"lang")
    docs.repartition(4).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(staged)
    val stream = Sources.csvDatasetStream(s, staged, docs.schema,
      maxFilesPerTrigger = 1)
    val q = stream.writeStream.format("memory").queryName("rate_csv")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(s.table("rate_csv").count() === docs.count())
    // one batch per file => at least 4 committed batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >=4 rate-limited batches, got ${q.recentProgress.length}")
  }

  test("progress listener reports monotone progress and a final isLast") {
    val s = spark
    import s.implicits._
    val staged = tmpDir("csv_progress")
    val docs = Tables.documents(s, sf).select($"doc_id", $"lang")
    val expected = docs.count()
    docs.repartition(3).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(staged)
    val listener = new ProgressListener(expectedRows = expected,
      queryName = Some("progress_csv"))
    s.streams.addListener(listener)
    try {
      val q = Sources.csvDatasetStream(s, staged, docs.schema, maxFilesPerTrigger = 1)
        .writeStream.format("memory").queryName("progress_csv")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      // listener events are delivered async; wait for the terminal one
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !listener.heartbeats.exists(_.isLast)) Thread.sleep(100)
      val hbs = listener.heartbeats
      assert(hbs.exists(_.isLast), "no terminal heartbeat")
      assert(hbs.last.progress === 1.0)
      val ps = hbs.map(_.progress)
      assert(ps.zip(ps.tail).forall { case (a, b) => b >= a }, s"not monotone: $ps")
    } finally s.streams.removeListener(listener)
  }

  test("progress listener with a name filter ignores concurrent queries") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val staged = tmpDir("csv_progress_iso")
    val docs = Tables.documents(s, sf).select($"doc_id", $"lang")
    val expected = docs.count()
    docs.repartition(2).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(staged)
    val listener = new ProgressListener(expectedRows = expected,
      queryName = Some("progress_iso"))
    s.streams.addListener(listener)
    // a noisy concurrent stream whose rows must NOT count
    val noise = MemoryStream[Long]
    noise.addData(1L to 500L: _*)
    val nq = noise.toDS().writeStream.format("memory")
      .queryName("progress_noise").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      val q = Sources.csvDatasetStream(s, staged, docs.schema, maxFilesPerTrigger = 1)
        .writeStream.format("memory").queryName("progress_iso")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      nq.awaitTermination(60000)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
        !listener.heartbeats.exists(_.isLast)) Thread.sleep(100)
      assert(listener.inputRows === expected,
        s"listener counted ${listener.inputRows}, expected $expected — " +
          "concurrent query contaminated the progress")
      assert(listener.heartbeats.exists(_.isLast))
    } finally {
      s.streams.removeListener(listener)
      nq.stop()
    }
  }

  test("watermarked streaming window agg matches batch semantics") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val counts = mem.toDS().toDF("ts", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("start"), $"n")
    val q = counts.writeStream.format("memory").queryName("win_stream")
      .outputMode("append").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData((t(1, 10), 1.0), (t(1, 20), 2.0), (t(2, 5), 3.0))
      q.processAllAvailable()
      // advance watermark past hour 2 so hours 1-2 finalize
      mem.addData((t(4, 0), 9.0))
      q.processAllAvailable()
      val rows = s.table("win_stream").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
      assert(rows("2024-01-01 01:00:00.0") === 2L)
      assert(rows("2024-01-01 02:00:00.0") === 1L)
      // a late event behind the watermark is DROPPED: the finalized
      // hour-1 window never re-emits or changes
      mem.addData((t(1, 30), 99.0))
      q.processAllAvailable()
      val after = s.table("win_stream").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1)))
      assert(after.count(_._1 == "2024-01-01 01:00:00.0") === 1)
      assert(after.toMap.apply("2024-01-01 01:00:00.0") === 2L)
    } finally q.stop()
  }

  test("restart from checkpoint resumes without duplicates") {
    val s = spark
    import s.implicits._
    val staged = tmpDir("ckpt_stage")
    val ckpt = tmpDir("ckpt_loc")
    val docs = Tables.documents(s, sf).select($"doc_id")
    val half = docs.count() / 2
    docs.where($"doc_id" < half).repartition(1).write.mode("overwrite")
      .option("header", "true").csv(staged)
    val outDir = tmpDir("ckpt_sink")
    def start() = s.readStream.schema(docs.schema)
      .option("header", "true").option("maxFilesPerTrigger", 1).csv(staged)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    val q1 = start()
    q1.awaitTermination(60000)
    val firstRun = s.read.parquet(outDir).count()
    assert(firstRun > 0 && firstRun < docs.count())
    // more data arrives while the query is down
    docs.where($"doc_id" >= half).repartition(1).write.mode("append")
      .option("header", "true").csv(staged)
    val q2 = start()
    q2.awaitTermination(60000)
    // exactly-once: every doc delivered exactly once across restarts
    val out = s.read.parquet(outDir)
    assert(out.count() === docs.count(),
      s"run1=$firstRun final=${out.count()} expected=${docs.count()}")
    assert(out.select($"doc_id").distinct().count() === docs.count())
  }

  test("streaming session windows close after the gap + watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = mem.toDS().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"), $"n_events")
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // user 1: two events 10 min apart (one session), then a gap
      mem.addData((1L, t(1, 0), 1.0), (1L, t(1, 10), 2.0))
      q.processAllAvailable()
      // advance watermark far past the session gap => session finalizes
      mem.addData((2L, t(3, 0), 9.0))
      q.processAllAvailable()
      mem.addData((2L, t(5, 0), 9.0))
      q.processAllAvailable()
      val rows = s.table("sess_stream").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
      assert(rows.contains((1L, "2024-01-01 01:00:00.0", 2L)),
        s"user 1 session not finalized: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming dedup (dropDuplicates) emits each key once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[String]
    val dedup = mem.toDS().toDF("content_md5").dropDuplicates("content_md5")
    val q = dedup.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData("a", "b", "a")
      q.processAllAvailable()
      mem.addData("b", "c")
      q.processAllAvailable()
      val seen = s.table("dedup_stream").as[String].collect().sorted
      assert(seen.toSeq === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("fan-in runs on the RocksDB state store (the 100 TB state path)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[graft.model.TaggedPartial]
    val q = streaming.FanIn.fanInStream(mem.toDS(), timeoutMs = 600000)
      .writeStream.format("memory").queryName("fanin_rocks")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .start()
    try {
      import graft.model._
      val tag = "77"
      mem.addData(
        TaggedPartial(tag, StreamKinds.Status,
          Some(TweetStatus(77L, "spark streams", None, isRetweet = false,
            TweetUser(1L, "u", "sn", None))), None, None, None),
        TaggedPartial(tag, StreamKinds.LinkedTweet, None,
          Some(Seq.empty[LinkedEntity]), None, None),
        TaggedPartial(tag, StreamKinds.ResourceKind, None, None,
          Some(Seq.empty[Resource]), None),
        TaggedPartial(tag, StreamKinds.DecodedLocation, None, None, None,
          Some(Coordinates(1.0, 2.0))))
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline &&
        s.table("fanin_rocks").count() < 1) Thread.sleep(100)
      assert(s.table("fanin_rocks").count() === 1)
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.forall(_.customMetrics != null))
    } finally {
      q.stop()
      prev match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("NeelPipeline.run on a JSON stream equals its batch result") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val raw = operators.Neel.syntheticTweets(s, sf).select(to_json(struct(
      col("tweet_id").as("id"), col("text"),
      col("is_retweet").as("retweeted"),
      struct(col("user_id").as("id"), col("user_name").as("name"),
        col("screen_name").as("screen_name"),
        col("user_location").as("location")).as("user"))).as("value"))
      .as[String].collect()
    val batch = operators.NeelPipeline.queries("q28_pipeline_e2e")(s, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val mem = MemoryStream[String]
    val q = operators.NeelPipeline.run(s, mem.toDS().toDF("value"),
        "a1", "2026-01-01T00:00:00Z")
      .writeStream.format("memory").queryName("pipeline_stream")
      .outputMode("append").start()
    try {
      raw.grouped(200).foreach(g => mem.addData(g.toSeq))
      q.processAllAvailable()
      val got = s.table("pipeline_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(got.sameElements(batch))
    } finally q.stop()
  }

  test("malformed tweet JSON is silently dropped (reference #12)") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      """{"id": 5, "text": "spark is here", "retweeted": false,
        | "user": {"id": 1, "name": "n", "screen_name": "sn", "location": null}}""".stripMargin.replace("\n", ""),
      "not json at all",
      """{"id": 0, "text": "invalid id"}""",
      """{"id": 6, "text": ""}""").toDF("value")
    val out = operators.NeelPipeline.parseTweets(raw)
    assert(out.count() === 1)
    assert(out.select($"tweet_id").as[Long].head() === 5L)
  }

  test("parse/quarantine split is independent of JSON partial-results " +
      "(corrupt-record keyed, not field-null heuristics)") {
    val s = spark
    import s.implicits._
    // the hazard case: a truncated record whose id field parses BEFORE
    // the cut — under spark.sql.json.enablePartialResults=true a
    // field-null heuristic sees a non-null id and misroutes it (and
    // would surface the recovered id instead of the -1 sentinel)
    val raw = Seq(
      """{"id": 123456, "text":""",
      """{"id": 7, "text": "ok", "retweeted": false,
        | "user": {"id": 1, "name": "n", "screen_name": "sn", "location": null}}""".stripMargin.replace("\n", ""),
      """{"id": -3, "text": "neg"}""",
      """{"id": 8, "text": ""}""").toDF("value")
    def run(): (Seq[Long], Seq[(Long, String)]) = (
      operators.NeelPipeline.parseTweets(raw)
        .select($"tweet_id").as[Long].collect().toSeq.sorted,
      operators.NeelPipeline.quarantine(raw)
        .as[(Long, String)].collect().toSeq.sorted)
    val key = "spark.sql.json.enablePartialResults"
    val prev = s.conf.getOption(key)
    try {
      s.conf.set(key, "true")
      val on = run()
      s.conf.set(key, "false")
      val off = run()
      assert(on == off,
        s"partial-results setting changed the split: on=$on off=$off")
      assert(on._1 == Seq(7L), s"parse kept the wrong rows: ${on._1}")
      assert(on._2 == Seq((-3L, "invalid_id"), (-1L, "malformed"),
        (8L, "empty_text")).sorted,
        s"quarantine routing wrong: ${on._2}")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("native payload synthesis is byte-identical to the declarative hex form") {
    val s = spark
    import s.implicits._
    val ids = Tables.documents(s, sf).select($"doc_id").limit(64)
    def bytesOf(c: org.apache.spark.sql.Column): Map[Long, Seq[Byte]] =
      ids.select($"doc_id", c.as("b")).as[(Long, Array[Byte])]
        .collect().map { case (id, b) => id -> b.toSeq }.toMap
    assert(bytesOf(graft.functions.MediaFunctions.ppmPayload($"doc_id")) ===
      bytesOf(Multimodal.ppmPayloadDeclarative),
      "PPM kernel diverges from the declarative synthesis")
    assert(bytesOf(graft.functions.MediaFunctions.wavPayload($"doc_id")) ===
      bytesOf(Multimodal.wavPayloadDeclarative),
      "WAV kernel diverges from the declarative synthesis")
    assert(bytesOf(graft.functions.MediaFunctions.y4mPayload($"doc_id")) ===
      bytesOf(Multimodal.y4mPayloadDeclarative),
      "Y4M kernel diverges from the declarative synthesis")
  }

  test("media payloads never shuffle in the multimodal feature plans") {
    for (q <- Seq("q71_media_features", "q74_audio_meta", "q90_video_features",
        "q90b_keyframes")) {
      val plan = Multimodal.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q decode stage must stay map-only (sort for presentation only)")
    }
  }

  test("decode features: real PPM pixels for images, byte fingerprint of the real containers for audio/video") {
    val s = spark
    import s.implicits._
    val feats = Multimodal.queries("q71_media_features")(s, sf)
      .select($"doc_id", $"checksum").as[(Long, Long)].collect().toMap
    val ids = Tables.documents(s, sf)
      .select($"doc_id").as[Long].collect()
    ids.foreach { id =>
      val expected =
        if (id % 3 == 0) {
          // image: the position-weighted checksum over the ACTUAL
          // decoded raster — (doc_id + 7k) mod 256 pixel bytes
          val n = (id % 16 + 4).toInt * (id % 12 + 4).toInt * 3
          (0 until n).foldLeft(0L) { (a, k) =>
            (a + ((id + 7L * k) % 256) * (k + 1)) % 1000000007L
          }
        } else if (id % 3 == 1) {
          // audio: the byte fingerprint over the ACTUAL synthesized
          // RIFF/WAV payload — rebuilt here through WavCodec.encode,
          // which doubles as a check that the SQL-side synthesis and
          // the canonical writer emit identical bytes
          val n = (id % 800 + 160).toInt
          val samples = Array.tabulate(n)(k =>
            ((id * 31 + 7L * k) % 4096 - 2048).toShort)
          graft.operators.WavCodec.encode(16000, samples)
            .take(64).map(_ & 0xFF).map(_.toLong).sum % 997
        } else {
          // video: the byte fingerprint over the ACTUAL synthesized
          // YUV4MPEG2 payload — rebuilt here through Y4mCodec.encode
          // (same canonical-writer cross-check as the audio leg)
          val w = (id % 8 + 4).toInt
          val h = (id % 6 + 4).toInt
          val nf = (id % 6 + 2).toInt
          val frames = Array.tabulate(nf)(f => Array.tabulate(w * h)(k =>
            ((id + 11L * f + 7L * k) % 256).toByte))
          graft.operators.Y4mCodec.encode(w, h, 25, 1, "mono", frames)
            .take(64).map(_ & 0xFF).map(_.toLong).sum % 997
        }
      assert(feats(id) === expected, s"doc $id")
    }
  }

  test("q90b keyframes: the gate exercises both branches and frame 0 always keys") {
    val s = spark
    import s.implicits._
    val rows = Multimodal.queries("q90b_keyframes")(s, sf)
      .select($"frame_idx", $"is_key").as[(Int, Boolean)].collect()
    assert(rows.filter(_._1 == 0).forall(_._2), "a frame 0 is not a key")
    val later = rows.filter(_._1 > 0)
    assert(later.exists(_._2), "no scene change detected anywhere — gate too high")
    assert(later.exists(!_._2), "every frame is a key — gate too low")
  }

  test("PPM codec: full grammar round-trip and malformed-input rejection") {
    import graft.operators.PpmCodec
    // a non-trivial 5x3 gradient image through encode -> decode
    val px = Array.tabulate(5 * 3 * 3)(k => ((k * 17 + 3) % 256).toByte)
    val img = PpmCodec.decode(PpmCodec.encode(5, 3, px))
    assert(img.width === 5 && img.height === 3)
    assert(img.pixels.toSeq === px.toSeq)
    // hand-built header exercising comments, mixed whitespace, and a
    // raster whose first byte is '#' (must NOT be eaten as a comment)
    val raster = Array.tabulate(2 * 2 * 3)(k =>
      (if (k == 0) '#'.toInt else k * 31 % 256).toByte)
    val wild = ("P6 # format comment\n# full-line comment\n 2\t2 # dims\n" +
      "# one more\n255\n").getBytes("US-ASCII") ++ raster
    val parsed = PpmCodec.decode(wild)
    assert(parsed.width === 2 && parsed.height === 2)
    assert(parsed.pixels.toSeq === raster.toSeq)
    // malformed inputs are rejected, not guessed at
    for (bad <- Seq(
        "P5\n2 2\n255\n".getBytes("US-ASCII") ++ raster, // wrong magic
        "P6\n2 2\n65535\n".getBytes("US-ASCII") ++ raster, // 2-byte samples
        "P6\n2 2\n255\n".getBytes("US-ASCII") ++ raster.take(5), // truncated
        "P6\n2 2\n255".getBytes("US-ASCII"), // no separator
        // adversarial dims whose w*h*3 wraps Int to a small positive
        // value — must be rejected as overflow, not parsed as a tiny
        // raster with bogus huge dims (40000*40000*3 = 0x1_1E1A_3000)
        "P6\n40000 40000\n255\n".getBytes("US-ASCII") ++ raster))
      intercept[IllegalArgumentException](PpmCodec.decode(bad))
  }

  test("WAV codec: full container grammar round-trip and malformed-input rejection") {
    import graft.operators.WavCodec
    // a non-trivial signal through encode -> decode
    val sig = Array.tabulate(300)(k => ((k * 131 - 7000) % 4096).toShort)
    val wav = WavCodec.decode(WavCodec.encode(16000, sig))
    assert(wav.sampleRate === 16000 && wav.channels === 1)
    assert(wav.samples.toSeq === sig.toSeq)
    // hand-built container exercising the chunk grammar: an unknown
    // LIST chunk before fmt, an odd-sized unknown chunk (pad byte),
    // fmt/data in canonical order afterwards
    def le16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = le16(v & 0xFFFF) ++ le16(v >>> 16)
    def tag(s: String) = s.getBytes("US-ASCII")
    val samples = Array[Short](100, -200, 32767, -32768)
    val fmtChunk = tag("fmt ") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val dataChunk = tag("data") ++ le32(8) ++
      samples.flatMap(v => le16(v & 0xFFFF))
    val listChunk = tag("LIST") ++ le32(4) ++ tag("INFO")
    val oddChunk = tag("junk") ++ le32(3) ++ Array[Byte](1, 2, 3, 0) // padded
    val body = tag("WAVE") ++ listChunk ++ oddChunk ++ fmtChunk ++ dataChunk
    val wild = WavCodec.decode(tag("RIFF") ++ le32(body.length) ++ body)
    assert(wild.sampleRate === 8000)
    assert(wild.samples.toSeq === samples.toSeq)
    // malformed containers are rejected, not guessed at
    val good = WavCodec.encode(16000, sig)
    def patched(off: Int, bs: Byte*): Array[Byte] = {
      val c = good.clone(); bs.zipWithIndex.foreach { case (b, i) => c(off + i) = b }; c
    }
    for (bad <- Seq(
        patched(0, 'R', 'I', 'F', 'X'), // bad magic
        patched(8, 'W', 'A', 'V', 'X'), // bad form type
        patched(20, 3, 0), // IEEE-float format, not PCM
        patched(34, 8, 0), // 8-bit samples
        patched(22, 2, 0), // stereo
        good.dropRight(5), // truncated data (RIFF size now lies)
        tag("RIFF") ++ le32(4) ++ tag("WAVE"))) // no fmt/data at all
      intercept[IllegalArgumentException](WavCodec.decode(bad))
  }

  test("Y4M codec: full container grammar round-trip and malformed-input rejection") {
    import graft.operators.Y4mCodec
    // a non-trivial mono stream through encode -> decode
    val frames = Array.tabulate(3)(f =>
      Array.tabulate(6 * 4)(k => ((f * 37 + k * 11) % 256).toByte))
    val v = Y4mCodec.decode(Y4mCodec.encode(6, 4, 25, 1, "mono", frames))
    assert(v.width === 6 && v.height === 4)
    assert(v.fpsNum === 25 && v.fpsDen === 1 && v.colorspace === "mono")
    assert(v.frames.length === 3)
    assert(v.frames.map(_.toSeq).toSeq === frames.map(_.toSeq).toSeq)
    // hand-built stream exercising the wider grammar: a 4:2:0
    // colorspace (Y + U + V planes), an X extension parameter
    // (ignored per spec), a defaulted C (-> 420), and FRAME headers
    // carrying their own parameters
    val yuv = Array.tabulate(4 * 2 + 2 * (2 * 1))(k => (k * 29 % 256).toByte)
    val wild = Y4mCodec.decode(
      "YUV4MPEG2 W4 H2 F30000:1001 It A4:3 C420jpeg Xmeta=1\n"
        .getBytes("US-ASCII") ++
        "FRAME Ixyz\n".getBytes("US-ASCII") ++ yuv)
    assert(wild.width === 4 && wild.height === 2)
    assert(wild.fpsNum === 30000 && wild.fpsDen === 1001)
    assert(wild.colorspace === "420jpeg")
    assert(wild.frames.length === 1 && wild.frames(0).toSeq === yuv.toSeq)
    val defaulted = Y4mCodec.decode(
      "YUV4MPEG2 W4 H2 F25:1\n".getBytes("US-ASCII") ++
        "FRAME\n".getBytes("US-ASCII") ++ yuv)
    assert(defaulted.colorspace === "420" && defaulted.frames.length === 1)
    // a zero-frame stream is structurally legal (header only)
    assert(Y4mCodec.decode("YUV4MPEG2 W4 H2 F25:1 Cmono\n"
      .getBytes("US-ASCII")).frames.isEmpty)
    // malformed streams are rejected, not guessed at
    val good = Y4mCodec.encode(6, 4, 25, 1, "mono", frames)
    for (bad <- Seq(
        "YUV4MPEG3 W4 H2 F25:1 Cmono\n".getBytes("US-ASCII"), // bad magic
        "YUV4MPEG2 H2 F25:1 Cmono\n".getBytes("US-ASCII"), // missing W
        "YUV4MPEG2 W4 H2 Cmono\n".getBytes("US-ASCII"), // missing F
        "YUV4MPEG2 W4x H2 F25:1 Cmono\n".getBytes("US-ASCII"), // bad int
        "YUV4MPEG2 W4 H2 F25:1 C444\n".getBytes("US-ASCII"), // unsupported C
        "YUV4MPEG2 W5 H3 F25:1\n".getBytes("US-ASCII"), // odd dims for 420
        "YUV4MPEG2 W4 H2 F25:1 Q9\n".getBytes("US-ASCII"), // unknown param
        "YUV4MPEG2 W4 H4 W4 F25:1 Cmono\n".getBytes("US-ASCII"), // duplicate W
        "YUV4MPEG2 W4 H2 F25:1 Cmono".getBytes("US-ASCII"), // no newline
        good.dropRight(5), // truncated last frame
        good ++ Array[Byte](1, 2, 3), // trailing bytes (bad FRAME marker)
        good.patch(good.length - 6 * 4 - 6,
          "FRAMX\n".getBytes("US-ASCII"), 6))) // corrupt frame magic
      intercept[IllegalArgumentException](Y4mCodec.decode(bad))
  }
}
