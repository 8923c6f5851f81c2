package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Scale-shape proofs: batch/stream duality of the temporal
  * transforms, the foreachBatch RPC-adapter pattern, and bucketed
  * co-located joins (the shuffle-elimination story for 100 TB). */
class ScaleShapeSpec extends SparkSpec {

  test("q50 window agg: streaming replay equals the batch result") {
    val s = spark
    import s.implicits._
    val batch = operators.Temporal.queries("q50_window_agg")(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    // replay the same events through readStream (AvailableNow) with the
    // SAME transform body — the batch/stream duality of SURVEY §7.1.
    // Take the raw file schema from a batch read so the stream sees
    // whatever physical layout the driver generated, then normalize
    // through the same Tables.normalizeEvents the batch loader uses.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = s.read.parquet(s"$sf/events.parquet").schema
    // FileStreamSource needs a directory, not a bare file — stage a copy
    val stagedDir = Files.createTempDirectory("events_stream")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      stagedDir.resolve("events.parquet"))
    val streamed = s.readStream.schema(rawSchema)
      .parquet(stagedDir.toString)
    val withTs = Tables.normalizeEvents(streamed)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select($"w.start".as("window_start"), $"event_type", $"n")
    val q = withTs.writeStream.format("memory").queryName("win_replay")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = s.table("win_replay").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === batch.map { case (t, e, n) => (t, e, n) })
  }

  test("foreachBatch adapter ships one request file per micro-batch") {
    val s = spark
    import s.implicits._
    // stage documents as 3 csv files -> 3 micro-batches (files/trigger=1)
    val staged = Files.createTempDirectory("rpc_stage").toString
    val outDir = Files.createTempDirectory("rpc_out").toString
    val docs = Tables.documents(s, sf).select($"doc_id", $"lang")
    docs.repartition(3).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(staged)
    val q = streaming.Sources.csvDatasetStream(s, staged, docs.schema, 1)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // the Kafka-producer adapter point (#8/#24): serialize the
        // batch as one request payload; here a file stands in for the
        // topic
        val payload = batch.agg(to_json(collect_list(struct(col("doc_id"))))).head.getString(0)
        Files.writeString(java.nio.file.Paths.get(s"$outDir/req-$id.json"), payload)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val reqs = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("req-"))
    assert(reqs.length >= 3, s"expected >=3 request files, got ${reqs.length}")
  }

  test("bucketed tables join without any shuffle exchange") {
    val s = spark
    val wh = Files.createTempDirectory("bucketed_wh").toString
    s.sql("DROP TABLE IF EXISTS li_b")
    s.sql("DROP TABLE IF EXISTS ord_b")
    try {
      Tables.lineitem(s, sf).select("l_orderkey", "l_quantity")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/li_b").saveAsTable("li_b")
      Tables.orders(s, sf).select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/ord_b").saveAsTable("ord_b")
      val joined = s.table("li_b")
        .join(s.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(800)}")
      assert(joined.count() === Tables.lineitem(s, sf).count())
    } finally {
      s.sql("DROP TABLE IF EXISTS li_b")
      s.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("q58 profile plans exactly one scan of the corpus") {
    val plan = graft.operators.Profile
      .queries("q58_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllMatchIn(plan).size
    assert(scans === 1, s"expected one corpus scan, got $scans:\n$plan")
  }

  test("q60 batch numbering has no single-partition window exchange") {
    // the former global row_number() OVER (ORDER BY tweet_id) planned
    // Exchange SinglePartition + a one-partition WindowExec; the
    // zipWithIndex-shaped numbering must not.
    val plan = graft.operators.Requests
      .queries("q60_request_batches")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"single-partition exchange:\n$plan")
  }

  test("q124 global rank plans no single-partition window; offsets ride a broadcast") {
    // the naive total order — row_number() OVER (ORDER BY n_tokens,
    // doc_id) — plans Exchange SinglePartition + a one-partition
    // WindowExec; q124's bucketed form must keep the rank window
    // PARTITIONED (parallel across difficulty values) and join the
    // driver-computed prefix offsets as a broadcast.
    val q = graft.operators.TextAnalysis
      .queries("q124_curriculum_rank")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the presentation orderBy plans a RANGE exchange (sort, not
    // window); nothing in the plan may funnel to one partition
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"offset join not broadcast:\n${plan.take(1200)}")
    // rank is a contiguous total order 1..N
    import org.apache.spark.sql.functions._
    val n = q.count()
    val stats = q.agg(min(col("global_rank")), max(col("global_rank")),
      countDistinct(col("global_rank"))).head()
    assert(stats.getLong(0) === 1L && stats.getLong(1) === n &&
      stats.getLong(2) === n, s"rank not contiguous: $stats over $n rows")
  }

  test("q128 pack manifest: no single-partition window, exact running sum, monotone packs") {
    val q = graft.operators.Curation
      .queries("q128_epoch_pack")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange:\n${plan.take(1200)}")
    import org.apache.spark.sql.functions._
    val out = q.cache()
    try {
      // the bucketed running sum must equal the true total per epoch
      val agg = out.groupBy(col("epoch"))
        .agg(sum(col("n_toks")).as("tot"), max(col("cum_toks")).as("mx"),
          min(col("cum_toks") - col("n_toks")).as("first_start"),
          countDistinct(col("pack_id")).as("n_packs"))
        .collect()
      assert(agg.nonEmpty)
      agg.foreach { r =>
        assert(r.getAs[Long]("tot") === r.getAs[Long]("mx"),
          s"running sum drifted: $r")
        assert(r.getAs[Long]("first_start") === 0L, s"first doc not at offset 0: $r")
        assert(r.getAs[Long]("n_packs") > 1, s"budget never crossed — fixture rot? $r")
      }
      // pack_id is non-decreasing along the shuffled order (cum_toks)
      val inversions = out.as("a").join(out.as("b"),
        col("a.epoch") === col("b.epoch") &&
          col("a.cum_toks") < col("b.cum_toks") &&
          col("a.pack_id") > col("b.pack_id")).count()
      assert(inversions === 0L, s"$inversions pack-order inversions")
    } finally out.unpersist()
  }

  test("partitioned writes prune to the filtered partition at scan time") {
    val s = spark
    val out = Files.createTempDirectory("part_docs").toString
    Tables.documents(s, sf).write.mode("overwrite")
      .partitionBy("lang").parquet(out)
    val q = s.read.parquet(out).where(col("lang") === "en")
      .select(col("doc_id"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"no partition pruning:\n${scan.take(600)}")
    val full = Tables.documents(s, sf).where(col("lang") === "en").count()
    assert(q.count() === full)
  }

  test("a session built with GraftExtensions folds self-cosine to a literal") {
    val s = spark
    import graft.functions.{FoldSelfCosine, VectorFunctions}
    import org.apache.spark.sql.functions.col
    // apply the injected rule's transformation directly on the plan.
    // The raw parquet column is nullable, so the fold must NOT fire
    // (BinaryExpression is null-intolerant: NULL input → NULL result,
    // and a literal 1.0 would change that) …
    val nullable = Tables.embeddings(s, sf).limit(5)
      .select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
    val keptPlan = FoldSelfCosine(nullable.queryExecution.analyzed)
    assert(keptPlan.toString.contains("graft_cosine"),
      s"fold fired on a NULLABLE column (would turn NULL into 1.0):\n$keptPlan")
    // … while a provably non-null input folds to the literal.
    import org.apache.spark.sql.functions.{array, lit}
    val nonNull = Tables.embeddings(s, sf).limit(5)
      .select(VectorFunctions.cosine(
        array(lit(1.0f), lit(2.0f)), array(lit(1.0f), lit(2.0f))).as("c"))
    val optimized = FoldSelfCosine(nonNull.queryExecution.analyzed)
    assert(!optimized.toString.contains("graft_cosine"),
      s"self-cosine not folded:\n$optimized")
    assert(optimized.toString.contains("1.0"))
    // the extension class wires both the function and the rule without
    // error (a fresh builder would be needed for an end-to-end session;
    // getOrCreate reuses the active test session, so wiring is checked
    // on a bare SparkSessionExtensions instance)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
  }

  test("salted join is set-identical to the plain join under forced shuffle") {
    val s = spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = Tables.events(s, sf).select($"user_id", $"event_id", $"value")
      val right = Tables.events(s, sf).groupBy($"user_id")
        .agg(count(lit(1)).as("user_events"))
      val plain = left.join(right, "user_id")
        .select($"event_id", $"user_events")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val salted = operators.Skew.saltedJoin(left, right, "user_id", salts = 8)
        .select($"event_id", $"user_events")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(salted.sameElements(plain))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted aggregation equals the direct aggregation") {
    val s = spark
    import s.implicits._
    val direct = Tables.events(s, sf).groupBy($"event_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = operators.Skew.saltedSum(
        Tables.events(s, sf), "event_type", col("value"), salts = 8)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(salted === direct)
  }

  test("compaction rewrites a fragmented dataset into sized files, row-identical") {
    val s = spark
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    val frag = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val dest = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // 32 tiny files — the streaming-sink fragmentation pattern
    docs.repartition(32).write.mode("overwrite").parquet(frag)
    // target sized so the fragments compact to a couple of files
    val outFiles = sinks.Compact.compactParquet(s, frag, dest,
      targetBytes = 64L << 10)
    assert(outFiles < 32)
    val before = docs.orderBy(col("doc_id")).collect()
    val after = s.read.parquet(dest).orderBy(col("doc_id")).collect()
    assert(after === before)
    for (p <- Seq(frag, dest)) Fs.deleteRecursively(p)
  }

  test("q76 bounded pair search: a skewed mega-cell's candidate volume stays capped") {
    val s = spark
    import s.implicits._
    // every vector lands in ONE cell — the adversarial skew SemDeDup
    // hits when one region of embedding space dominates the corpus.
    // The naive within-cell quadratic would be n*(n-1)/2 candidates in
    // a single task; the rank-chunked search must stay <= ~1.5*cap*n.
    val n = 600
    val cap = 50
    val assigned = s.range(n.toLong).select(
      lit(0).as("cid"), col("id").as("vec_id"),
      array(lit(1.0f), (col("id") % 97).cast("float")).as("embedding"),
      (col("id") % 97).cast("double").as("dist"))
    val got = operators.Similarity.cellBoundedCandidates(assigned, cap).count()
    val quadratic = n.toLong * (n - 1) / 2
    val bound = (1.5 * cap * n).toLong
    assert(got <= bound, s"candidates $got exceed hard bound $bound")
    assert(got < quadratic / 2,
      s"chunking gave no reduction vs the full quadratic ($got vs $quadratic)")
    // …while a cell at or under the cap keeps the exact full quadratic
    val small = operators.Similarity
      .cellBoundedCandidates(assigned.limit(40), cap).count()
    assert(small === 40L * 39 / 2)
  }

  test("q82/q83 fan-out stages run on more than one partition") {
    val s = spark
    // the corpus parquet is ONE split at test scale; without the
    // explicit pre-explode repartition the whole tokenize/window-hash
    // map stage (and everything until the next shuffle) runs on a
    // single core — the q31 fan-out-blindness regression this guards.
    // The queries localCheckpoint (cut) these stages, which severs
    // lineage — the FINAL plan can never show the repartition (a
    // previous revision of this test string-matched it anyway and
    // passed vacuously via the downstream doc_id shuffle). So assert
    // on the PRE-CUT fragments the queries actually materialize:
    // (a) the explicit-count exchange is in the fragment's plan, and
    // (b) for q82 (no shuffle between repartition and cut) the
    // materialized RDD really has the repartitioned width.
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    assume(parts > 1)
    val docs82 = Tables.documents(s, sf)
      .withColumn("toks", expr(operators.Tokens.toksExpr))
    val termsPlan = operators.Curation.surprisalTermsPlan(s, docs82)
      .queryExecution.executedPlan.toString
    assert(termsPlan.contains("REPARTITION_BY_NUM"),
      s"q82 lost its explicit pre-explode repartition:\n${termsPlan.take(800)}")
    assert(operators.Curation.surprisalTerms(s, docs82)
      .rdd.getNumPartitions === parts,
      "q82's materialized term stage is not at the repartitioned width")
    val winsPlan = operators.Dedup
      .substringWindowsPlan(s, Tables.documents(s, sf))
      .queryExecution.executedPlan.toString
    assert(winsPlan.contains("REPARTITION_BY_NUM"),
      s"q83 lost its explicit pre-explode repartition:\n${winsPlan.take(800)}")
  }

  test("q82b scores through a broadcast vocab — no shuffle join on term") {
    val s = spark
    // the production CCNet shape: the capped vocab (+OOV bucket) is
    // broadcast, so scoring never shuffles the corpus-scale term
    // stream by term. Vocab TRAINING may exchange partially-aggregated
    // (term, count) rows (map-side combine bounds that at partitions x
    // vocab); what must not appear is a shuffle-based JOIN keyed on
    // term — that was q82's documented production caveat.
    val df = SparkEntry.queries("q82b_surprisal_vocab")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [term"),
      s"vocab join is not broadcast:\n${plan.take(1200)}")
    for (shuffled <- Seq("SortMergeJoin [term", "ShuffledHashJoin [term"))
      assert(!plan.contains(shuffled),
        s"corpus shuffled by term through a $shuffled:\n${plan.take(1200)}")
  }

  test("q118 LM scoring joins are all broadcast — no shuffle join on a model key") {
    val s = spark
    // the bigram LM is a model artifact (MBs against a 100 TB corpus):
    // vocab membership ×2, bigram counts, context counts, and vocab
    // size must all reach the corpus-scale bigram stream as broadcast
    // joins (every model join leads with the lang key); the only
    // corpus-volume exchange is the explicit doc_id repartition the
    // per-doc aggregation then reuses
    val df = SparkEntry.queries("q118_lm_perplexity")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [lang"),
      s"model join is not broadcast:\n${plan.take(1200)}")
    for (shuffled <- Seq("SortMergeJoin [lang", "ShuffledHashJoin [lang"))
      assert(!plan.contains(shuffled),
        s"corpus shuffled through a model join ($shuffled):\n${plan.take(1200)}")
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"q118 lost its explicit pre-explode doc_id repartition:\n${plan.take(800)}")
  }

  test("q119 NB scoring joins the broadcast model — no shuffle join on term") {
    val s = spark
    // same contract as q118 for the NB quality classifier: the term →
    // (cnt_keep, cnt_drop) model broadcasts; training's groupBy(term)
    // may exchange map-side partials, but no corpus-scale token stream
    // may shuffle through a term-keyed JOIN
    val df = SparkEntry.queries("q119_nb_quality")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [term"),
      s"model join is not broadcast:\n${plan.take(1200)}")
    for (shuffled <- Seq("SortMergeJoin [term", "ShuffledHashJoin [term"))
      assert(!plan.contains(shuffled),
        s"corpus shuffled by term through a $shuffled:\n${plan.take(1200)}")
  }

  test("q127 fuzzy decontamination broadcasts the benchmark bands — no corpus shuffle by band key") {
    val s = spark
    // the benchmark slice is eval-suite sized by definition: its
    // melted (band_id, band_key) rows must reach the train side as a
    // BROADCAST join, so candidate generation never shuffles the
    // corpus by band key; the only corpus-scale exchanges are the
    // signature relation's own doc_id layout and the verdict
    // aggregation
    val df = SparkEntry.queries("q127_fuzzy_decontaminate")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [band_id"),
      s"benchmark band join is not broadcast:\n${plan.take(1200)}")
    for (shuffled <- Seq("SortMergeJoin [band_id", "ShuffledHashJoin [band_id"))
      assert(!plan.contains(shuffled),
        s"corpus shuffled by band key ($shuffled):\n${plan.take(1200)}")
  }

  test("q122 IVF refresh moves only drifted vectors — unmoved cells byte-identical") {
    val s = spark
    import s.implicits._
    val staging = java.nio.file.Files.createTempDirectory("ivf_refresh").toString
    try {
      val dir = s"$staging/assignment"
      def vec(x: Float, y: Float): Array[Float] =
        Array(x, y) ++ Array.fill(62)(0f)
      // cell 0 holds a STRAY vector that actually sits on cell 1's
      // cluster; cell 2 is far away and must not be touched at all
      Seq(
        (1L, "a", vec(1.0f, 0f), 0), (2L, "a", vec(1.2f, 0f), 0),
        (9L, "x", vec(0f, 10f), 0), // the drifted row
        (11L, "b", vec(0f, 10.2f), 1), (12L, "b", vec(0f, 9.8f), 1),
        (21L, "c", vec(100f, 0f), 2), (22L, "c", vec(100.4f, 0f), 2))
        .toDF("vec_id", "label", "embedding", "cid")
        .repartition(col("cid"))
        .write.partitionBy("cid").parquet(dir)
      val v1 = graft.plans.Snapshots.commit(s, dir)
      val conf = s.sparkContext.hadoopConfiguration
      val (hfs, _) = graft.Fs.resolve(dir, conf)
      def files(v: Int) = graft.plans.Snapshots.files(s, dir, v).map { p =>
        val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
        p -> (st.getLen, st.getModificationTime)
      }.toMap
      val before = files(v1)
      val (v2, delta) = operators.Similarity.refreshAssignmentCommit(s, dir,
        s"$staging/cents")
      val out = delta.collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2),
          r.getBoolean(3)))).toMap
      assert(out(9L) === ((0, 1, true)), s"stray row did not move: $out")
      assert(out.filterKeys(_ != 9L).values.forall(v => !v._3),
        s"non-drifted rows moved: $out")
      val after = files(v2)
      // cell 2 had no movers in or out — its v1 files carry into v2
      // with the same path, size and mtime (a full-table rewrite would
      // replace them)
      val untouched = before.keys.filter(_.contains("cid=2"))
      assert(untouched.nonEmpty &&
        untouched.forall(p => before.get(p) == after.get(p)),
        "refresh rewrote a cell with no movers")
      assert(after.keys.count(_.contains("cid=2")) == untouched.size,
        "refresh added a file to a cell with no movers")
      // the committed table agrees with the reported delta
      val cidOf = graft.plans.Snapshots.read(s, dir, v2)
        .select($"vec_id", $"cid")
        .as[(Long, Int)].collect().toMap
      assert(cidOf(9L) === 1 && cidOf(1L) === 0 && cidOf(21L) === 2,
        s"on-disk assignment wrong after refresh: $cidOf")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("q115 CMS estimate is a broadcast lookup; no unbounded-key join in the sketch branch") {
    val s = spark
    // the sketch is D×W counters — the estimate joins the probe cells
    // against the BROADCAST sketch on (i, bucket); what must not
    // appear is a shuffle-based join (its key space is bounded, but a
    // shuffled join would still exchange the probe side per lookup)
    val df = SparkEntry.queries("q115_cms_freq")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [i#"),
      s"sketch lookup is not broadcast:\n${plan.take(1200)}")
    for (shuffled <- Seq("SortMergeJoin [i#", "ShuffledHashJoin [i#"))
      assert(!plan.contains(shuffled),
        s"sketch lookup shuffled through $shuffled:\n${plan.take(1200)}")
    // est >= exact pointwise (CMS never under-counts), and the small-W
    // geometry must actually produce a collision to exercise the
    // overestimate path (guard against vacuity)
    val rows = df.collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall { case (ex, est) => est >= ex })
    assert(rows.exists { case (ex, est) => est > ex },
      "no bucket collision at this W — the overestimate path is untested")
  }

  test("q84 decontamination gate is a stream-static broadcast join, not a plan literal") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the benchmark gram set must reach the STREAM as a broadcast
    // relation (O(1) plan size in |bench|), not as the O(|bench|)
    // array-of-literals the previous q84 planned per micro-batch. An
    // equi-hash join can't express the per-row gate in append mode
    // (see curationGates' doc), so the expected shape is a LeftAnti
    // BroadcastNestedLoopJoin on array_contains.
    val docs = Tables.documents(s, sf)
      .withColumn("toks", expr(operators.Tokens.toksExpr))
    val bench = docs
      .where($"doc_id" % operators.Curation.BenchmarkMod === 0)
      .select(explode(operators.Curation.grams5($"toks")).as("gram"))
      .distinct()
    val mem = MemoryStream[(Long, String)]
    val gated = operators.Curation.curationGates(
      mem.toDS().toDF("doc_id", "text"), bench)
    val q = gated.writeStream.format("memory").queryName("q84_plan_probe")
      .outputMode("append").start()
    try {
      mem.addData(docs.where($"doc_id" % operators.Curation.BenchmarkMod =!= 0)
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().take(50).toIndexedSeq)
      q.processAllAvailable()
      val baos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(baos))(q.explain())
      val plan = baos.toString
      assert(plan.contains("BroadcastNestedLoopJoin") &&
        plan.contains("LeftAnti") && plan.contains("array_contains"),
        s"q84's gate is not the broadcast anti join:\n${plan.take(1500)}")
    } finally {
      q.stop()
      s.catalog.dropTempView("q84_plan_probe")
    }
  }

  test("q86 knn join: no corpus-scale cartesian; candidates come from a cid equi-join") {
    val s = spark
    val df = SparkEntry.queries("q86_knn_join")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    // never corpus x corpus: no cartesian product anywhere, and the
    // only nested-loop broadcast allowed is the k-row centroid
    // relation feeding the probe assignment
    assert(!plan.contains("CartesianProduct"),
      s"q86 plans a cartesian product:\n${plan.take(1500)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size
    assert(bnlj <= 1,
      s"q86 plans $bnlj nested-loop joins (only the centroid broadcast " +
        s"is allowed):\n${plan.take(1500)}")
    // candidate generation must be the cell equi-join
    assert(Seq("SortMergeJoin [cid", "ShuffledHashJoin [cid",
        "BroadcastHashJoin [cid").exists(plan.contains),
      s"q86's candidate join is not keyed on cid:\n${plan.take(1500)}")
  }

  test("PQ index lifecycle: saved artifacts reproduce ADC top-k, memo cleared") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("pq_index").toString
    val expected = SparkEntry.queries("q89b_pq_adc_topk")(s, sf)
      .collect().map(_.toString).toSeq
    graft.plans.PqIndex.save(s, sf, dir)
    // the corpus-sized artifact must be PACKED: one row per vector
    // (two 32-bit halves), not the 8-rows-per-vector exploded join
    // layout — at 100 TB that factor is the index's footprint
    val nVecs = Tables.embeddings(s, sf).count()
    val nCodes = s.read.parquet(s"$dir/codes").count()
    assert(nCodes == nVecs,
      s"codes/ has $nCodes rows for $nVecs vectors — exploded layout leaked " +
        "back into the persisted artifact")
    // the served path must work from the artifacts alone — drop the
    // session-memoized model before loading
    operators.Similarity.clearMemos()
    val h = graft.plans.PqIndex.load(s, dir)
    val served = graft.plans.PqIndex.serve(s, h)
      .collect().map(_.toString).toSeq
    assert(served == expected,
      "reloaded PQ artifacts diverge from the freshly-trained ADC result")
    Fs.deleteRecursively(dir)
  }

  test("q96 hard negatives: same cartesian-free cell-equi-join shape as q86") {
    val s = spark
    val plan = SparkEntry.queries("q96_hard_negatives")(s, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"q96 plans a cartesian product:\n${plan.take(1500)}")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).size
    assert(bnlj <= 1,
      s"q96 plans $bnlj nested-loop joins (only the centroid broadcast " +
        s"is allowed):\n${plan.take(1500)}")
    assert(Seq("SortMergeJoin [cid", "ShuffledHashJoin [cid",
        "BroadcastHashJoin [cid").exists(plan.contains),
      s"q96's candidate join is not keyed on cid:\n${plan.take(1500)}")
  }

  test("q97 hybrid search: both legs end in TakeOrderedAndProject, fusion is constant-size") {
    val s = spark
    val plan = SparkEntry.queries("q97_hybrid_search")(s, sf)
      .queryExecution.executedPlan.toString
    // each leg's top-M must be per-partition top-k + merge, not a
    // global sort of the corpus
    val topk = "TakeOrderedAndProject".r.findAllMatchIn(plan).size
    assert(topk >= 2,
      s"q97 plans $topk TakeOrderedAndProject nodes, expected both legs " +
        s"+ the fused top-k:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct"),
      s"q97 plans a cartesian product:\n${plan.take(1500)}")
  }

  test("q86 probe assignment is map-side: no window, no shuffle in the fragment") {
    val s = spark
    val pr = operators.Similarity.knnProbes(s, sf)
    val plan = pr.queryExecution.executedPlan.toString
    // the scale contract: the NProbe-cells-per-row selection happens
    // per row under the centroid broadcast (the TopCells kernel) —
    // the n×k crossJoin + row_number() form it replaced shuffled
    // n²/1000 rows with corpus-derived k
    assert(!plan.contains("Window"),
      s"q86 probe assignment ranks via a window (n×k shuffle):\n${plan.take(1500)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q86 probe assignment shuffles before the cell join:\n${plan.take(1500)}")
    assert(plan.contains("graft_top_cells"),
      s"q86 probe assignment does not use the TopCells kernel:\n${plan.take(1500)}")
  }

  test("q86 chunk contract: probes meet members of same-or-adjacent rank chunks, once each") {
    val s = spark
    import s.implicits._
    // mega-cell fixture: one cell holds 4/5 of all probe rows (the
    // skew q86 must survive), plus foreign probes (pos > 0) that rank
    // into the cell without serving as neighbors; sweep under-cap
    // (exact all-members semantics) and tiny-chunk shapes
    for ((n, cap) <- Seq((40, 64), (200, 16), (120, 7))) {
      val probes = s.range(n.toLong).select(
        col("id").as("vec_id"),
        when(col("id") % 4 === 0, 1).otherwise(0).as("pos"),
        when(col("id") % 5 === 0, 1).otherwise(0).cast("int").as("cid"),
        pmod(col("id") * 37 + 11, lit(97)).cast("double").as("qdist"))
      val got = operators.Similarity.knnBoundedCandidates(probes, cap)
        .select($"vec_id", $"cid", $"nn_id").as[(Long, Int, Long)].collect()
      assert(got.length === got.toSet.size,
        s"duplicate candidate pairs at n=$n cap=$cap")
      val rows = probes.select($"cid", $"vec_id", $"qdist", $"pos")
        .as[(Int, Long, Double, Int)].collect()
      val expected = rows.groupBy(_._1).flatMap { case (cid, cell) =>
        val ranked = cell.toSeq.sortBy(r => (r._3, r._2)).zipWithIndex
          .map { case ((_, id, _, pos), i) =>
            (id, pos, if (cell.length > cap) i / cap else 0) }
        for {
          (p, _, cp) <- ranked; (m, mpos, cm) <- ranked
          if mpos == 0 && m != p && math.abs(cp - cm) <= 1
        } yield (p, cid, m)
      }.toSet
      assert(got.toSet === expected, s"candidate set mismatch at n=$n cap=$cap")
      // the hard bound: no probe row meets more than 3*cap members
      val worst = got.groupBy(p => (p._1, p._2)).values.map(_.size).max
      assert(worst <= 3 * cap,
        s"per-probe candidate volume $worst exceeds 3*cap at n=$n cap=$cap")
    }
  }

  test("q87 image near-dup: candidates come from the band-bucket equi-join, never all-pairs") {
    val s = spark
    val df = SparkEntry.queries("q87_image_neardup_dhash")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q87 plans an all-pairs join:\n${plan.take(1500)}")
    // pair generation must be keyed on the (band index, band value)
    // bucket — the decoded-pixel dHash signature's LSH shape
    assert(Seq("SortMergeJoin [j", "ShuffledHashJoin [j",
        "BroadcastHashJoin [j").exists(plan.contains),
      s"q87's candidate join is not keyed on the hash band:\n${plan.take(1500)}")
  }

  test("q95 audio near-dup: candidates from the double-offset grid equi-join, never all-pairs") {
    val s = spark
    val df = SparkEntry.queries("q95_audio_neardup")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q95 plans an all-pairs join:\n${plan.take(1500)}")
    // pair generation must be keyed on the (window, grid, code)
    // magnitude-grid bucket
    assert(Seq("SortMergeJoin [w", "ShuffledHashJoin [w",
        "BroadcastHashJoin [w").exists(plan.contains),
      s"q95's candidate join is not keyed on the energy grid:\n${plan.take(1500)}")
    val rows = df.collect()
    assert(rows.nonEmpty, "q95 found no near-dup pairs at this SF")
    assert(rows.forall(r => r.getLong(2) <= operators.Multimodal.AudioLinfMax),
      "q95 emitted a pair beyond the L-inf bound")
  }

  test("q92 frame near-dup: candidates blocked by (video, band), never nf^2 all-pairs") {
    val s = spark
    val df = SparkEntry.queries("q92_frame_neardup")(s, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q92 plans an all-pairs join:\n${plan.take(1500)}")
    // pair generation must be keyed on (doc_id, band index, band
    // value) — the within-video LSH blocking; a real video has
    // thousands of frames, so a per-video quadratic is a scale bug
    assert(Seq("SortMergeJoin [doc_id", "ShuffledHashJoin [doc_id",
        "BroadcastHashJoin [doc_id").exists(plan.contains),
      s"q92's candidate join is not keyed on (doc_id, band):\n${plan.take(1500)}")
  }

  test("q63b bloom probe: map-only gate under the bitmap broadcast, no shuffle by gram") {
    val s = spark
    val df = SparkEntry.queries("q63b_bloom_decontaminate")(s, sf)
    // the bitmap is built eagerly before this plan exists, so the
    // plan here IS the probe side: the only join on gram would be a
    // regression back to q63's broadcast-string form, and any
    // exchange keyed on gram is a corpus shuffle the bloom exists to
    // avoid (the one-row bitmap arrives via BroadcastNestedLoopJoin)
    val plan = df.queryExecution.executedPlan.toString
    for (j <- Seq("SortMergeJoin [gram", "ShuffledHashJoin [gram",
        "BroadcastHashJoin [gram"))
      assert(!plan.contains(j),
        s"q63b probe joins on gram:\n${plan.take(1500)}")
    assert(!plan.contains("hashpartitioning(gram"),
      s"q63b probe shuffles by gram:\n${plan.take(1500)}")
  }

  test("q94 token-budget mix: verdicts decided under a broadcast; kept tokens respect every budget") {
    val s = spark
    val df = SparkEntry.queries("q94_token_budget_mix")(s, sf)
    // the corpus-side decision join must be the broadcast of the
    // small bucket-verdict relation — a shuffle of the corpus by
    // (source, quality) here would mean the two-phase threshold
    // regressed to sorting documents
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [source"),
      s"q94's decision join is not a broadcast:\n${plan.take(1500)}")
    val rows = df.collect()
    val bySource = rows.groupBy(_.getString(1))
    for ((src, rs) <- bySource) {
      val budget = rs.map(_.getLong(2)).sum / 2
      val kept = rs.filter(_.getBoolean(4)).map(_.getLong(2)).sum
      assert(kept <= budget && kept > 0,
        s"source $src: kept $kept tokens vs budget $budget")
    }
  }

  test("q92b scene groups: a static video contracts to one rep and zero pair rows") {
    val s = spark
    import s.implicits._
    // the q92 killer shape: one long static shot — every frame has the
    // identical dHash signature, so the exhaustive pair list is
    // nf*(nf-1)/2 while the contracted scene-group path must see ONE
    // rep and ZERO edges (q92b's output plan is lineage-cut, so the
    // scale property is asserted on the pre-cut fragments directly)
    val nf = 400
    val sig = (0 until nf).map(f => (7L, f, 11, 22, 33, 44))
      .toDF("doc_id", "frame_idx", "b0", "b1", "b2", "b3")
    val reps = operators.Multimodal.sceneReps(sig)
    assert(reps.count() == 1L,
      "identical signatures did not contract to a single rep")
    val repSig = reps.select(col("doc_id"), col("rep").as("frame_idx"),
      col("b0"), col("b1"), col("b2"), col("b3"))
    assert(operators.Multimodal.framePairs(repSig).count() == 0L,
      "a single-rep video must generate no candidate pairs")
    // and the full kernel still labels every frame into the one scene
    val out = operators.Multimodal.sceneGroups(sig)
    val scenes = out.select("scene_id").distinct().as[Int].collect().toSeq
    assert(out.count() == nf.toLong && scenes == Seq(0),
      s"static video must be one scene labeled 0, got $scenes")
    Materialize.release(out)
  }

  test("q90b/q92b negative control: a cut-free video is one keyframe and one scene") {
    val s = spark
    import s.implicits._
    // semantic twin of the static-video contraction test (VERDICT r9
    // #7): content-level this time — synthesize a genuinely cut-free
    // video through the REAL Y4M encode→decode path and require the
    // keyframe and scene kernels to find nothing to cut on. The
    // frames drift +2 luma levels per frame: 2000 milli-luma is under
    // the 8000 keyframe gate, and a constant per-frame shift cancels
    // in dHash's neighbor differences, so it is also signature-static.
    val (w, h, nf) = (16, 12, 30)
    val frames = Array.tabulate(nf)(f => Array.tabulate(w * h)(k =>
      (((k * 37) % 180) + 2 * f).toByte))
    val media = operators.Y4mCodec.encode(w, h, 25, 1, "mono", frames)
    val videos = Seq(operators.Multimodal.VideoRow(42L, media)).toDS()
    val kf = operators.Multimodal.keyframes(videos)
      .select($"frame_idx", $"is_key").as[(Int, Boolean)].collect()
    assert(kf.length == nf, s"expected $nf frame rows, got ${kf.length}")
    val keys = kf.filter(_._2).map(_._1).toSeq
    assert(keys == Seq(0),
      s"cut-free video must key exactly frame 0, got keyframes $keys")
    val out = operators.Multimodal.sceneGroups(
      operators.Multimodal.videoFrameSigs(videos))
    val scenes = out.select("scene_id").distinct().as[Int].collect().toSeq
    assert(out.count() == nf.toLong && scenes == Seq(0),
      s"cut-free video must be one scene labeled 0, got $scenes")
    Materialize.release(out)
  }

  test("q88/q89b/q91: hierarchical probe and ADC plans stay broadcast-keyed, never corpus-scale loops") {
    val s = spark
    for (q <- Seq("q88_ann_ivf_hier", "q89b_pq_adc_topk", "q91_ivfpq_adc_topk")) {
      val plan = SparkEntry.queries(q)(s, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n${plan.take(1200)}")
      // the only nested-loop joins allowed are the broadcast of the
      // 1-row query vector / tiny probe relations
      assert(!plan.contains("SortMergeJoin"),
        s"$q shuffles the corpus for a lookup that should ride " +
          s"broadcasts:\n${plan.take(1200)}")
    }
    // q89b's candidate fetch is the (j, cid) equi-join against the
    // broadcast lookup table — assert it stayed a hash join on j
    val adc = SparkEntry.queries("q89b_pq_adc_topk")(s, sf)
      .queryExecution.executedPlan.toString
    assert(adc.contains("BroadcastHashJoin [j"),
      s"q89b's table lookup is not the broadcast hash join:\n${adc.take(1200)}")
  }

  test("q91 persisted layout: ccid partition pruning serves the probe from NProbe partitions") {
    // the claim in q91's plan comment, executed: write the encoded
    // table PARTITIONED BY the coarse cell, and a probe-shaped filter
    // must be served by file-level partition pruning — only the
    // probed cells' files are ever opened
    val s = spark
    val (_, encoded) = operators.Similarity.ivfPqModel(s, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    try {
      encoded.write.mode("overwrite").partitionBy("ccid").parquet(dir)
      val cells = s.read.parquet(dir).select("ccid").distinct().count()
      assert(cells > operators.Similarity.NProbe,
        s"fixture degenerate: only $cells cells trained")
      val probed = s.read.parquet(dir)
        .where(col("ccid").isin(0, 1, 2))
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"),
        s"ccid filter did not reach the scan as a partition filter:\n${plan.take(1200)}")
      // inputFiles ignores filters — read the executed scan's actual
      // file-count metric instead (unwrapping AQE)
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        def scan(p: org.apache.spark.sql.execution.SparkPlan): Long =
          (p match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case other => other
          }).collectLeaves()
            .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
            .sum
        scan(df.queryExecution.executedPlan)
      }
      val allFiles = filesRead(s.read.parquet(dir))
      val probedFiles = filesRead(probed)
      assert(probedFiles > 0 && probedFiles < allFiles,
        s"probe read every file ($probedFiles of $allFiles) — no pruning")
      info(s"probe opens $probedFiles of $allFiles files across $cells cells")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("no registered query plans a global Window over an unbounded input") {
    // A Window with no partition key executes on ONE task over its
    // whole input — acceptable only when that input is already
    // limit-bounded (a top-M list), never when it is corpus-sized.
    // Today every such window carries a pmod constant key or sits
    // above a limit; this guard keeps a future query from shipping a
    // genuine single-partition corpus sort. Replay-backed queries are
    // skipped: their result is a materialized memory-sink frame whose
    // plan is a post-replay projection (and executing them here would
    // re-run every stream).
    val s = spark
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    def limitBounded(p: LogicalPlan): Boolean =
      p.collectFirst {
        case _: GlobalLimit => (); case _: LocalLimit => ()
      }.isDefined
    val skip = Bench.staging.filter(_.name == "replay").flatMap(_.keys).toSet
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if !skip(Bench.key(name))) {
      val plan = fn(s, sf).queryExecution.optimizedPlan
      plan.foreach {
        case w: LWindow if w.partitionSpec.isEmpty =>
          assert(limitBounded(w.child),
            s"$name plans a global Window with no partition key over an " +
              s"input that is not limit-bounded:\n${w.treeString.take(1200)}")
        case _ => ()
      }
    }
  }

  test("BM25 index lifecycle: served scores equal fresh, postings scan prunes to query-term buckets") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("bm25_index").toString
    try {
      val expected = operators.TextAnalysis.bm25Agg(s, sf)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      graft.plans.Bm25Index.save(s, sf, dir)
      val h = graft.plans.Bm25Index.load(s, dir)
      val served = graft.plans.Bm25Index.serve(s, h,
        operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      assert(served == expected,
        "served BM25 scores diverge from the fresh computation")
      // the postings read must be pruned at the FILE level by the
      // query terms' tbucket partitions — the scan contract that makes
      // a 3-term query open ~3/64 of a 100 TB index
      val plan = graft.plans.Bm25Index.serve(s, h,
        operators.TextAnalysis.Bm25QueryTerms)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
        plan.contains("tbucket"),
        s"tbucket filter did not reach the postings scan as a partition " +
          s"filter:\n${plan.take(1200)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** A committed MinHash serve of `probeRows` (a localized sketch)
    * scans exactly the current version's manifested files: its band
    * files, and its tombstone list (if any) as the anti-join's side —
    * no file of another version and no landed file no version
    * references. */
  private def assertServeReadsVersionFiles(idx: String,
      probeRows: org.apache.spark.sql.DataFrame): Unit = {
    import graft.plans.{MinHashIndex, Snapshots}
    val s = spark
    val bands = s"$idx/bands"
    val path = (f: String) => new java.net.URI(f).getPath
    val want = Snapshots.files(s, bands, Snapshots.current(s, bands).get)
      .map(path).toSet
    assert(want.exists(_.contains("/band_id=")),
      s"fixture rot: no band file manifested: ${want.take(3)}")
    val read = MinHashIndex.serveRows(s, MinHashIndex.load(s, idx),
      probeRows).inputFiles.map(path).toSet
    assert(read === want,
      "the serve must scan exactly the version's manifested files: " +
        s"${(read -- want).take(3)} extra, ${(want -- read).take(3)} missing")
  }

  test("MinHash LSH index lifecycle: serve equals q31 restricted to probe×resident, scan reads the version's band files") {
    // the persisted-index serve must answer exactly what the fresh
    // all-pairs computation (q31, itself oracle-gated) says about the
    // mixed pairs: restrict q31's full-corpus pairs to (probe,
    // resident) and compare against serve's output, orientation
    // normalized
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("lsh_index").toString
    try {
      val docs = Tables.documents(s, sf)
      val resident = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val probe = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val h = graft.plans.MinHashIndex.save(s, resident,
        s"$sf/documents.parquet", dir)
      val served = graft.plans.MinHashIndex.serve(s,
          graft.plans.MinHashIndex.load(s, dir), probe)
        .select(col("probe_doc"), col("corpus_doc"), col("est_jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val full = SparkEntry.queries("q31_minhash_pairs")(s, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val expected = full.flatMap { case (a, b, e) =>
        if (a % 10 == 0 && b % 10 != 0) Some((a, b, e))
        else if (b % 10 == 0 && a % 10 != 0) Some((b, a, e))
        else None
      }.toSet
      assert(served == expected,
        s"served dup-check diverges from q31's mixed pairs: " +
          s"${(served -- expected).take(3)} extra, " +
          s"${(expected -- served).take(3)} missing")
      // the probe scan reads exactly the version's band files
      assertServeReadsVersionFiles(dir,
        graft.plans.MinHashIndex.localize(s, probe))
      val plan = graft.plans.MinHashIndex.serve(s,
          graft.plans.MinHashIndex.load(s, dir), probe)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("SortMergeJoin"),
        s"serve should be a broadcast probe over the index scan:\n${plan.take(1200)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Z-order layout: box and single-dimension queries prune files; served rows equal the unclustered scan") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    try {
      val rows = Tables.events(s, sf).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      val h = graft.plans.ZOrderLayout.save(s, rows, dir)
      // correctness: the clustered layout answers exactly what the
      // unclustered scan does
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      val served = key(graft.plans.ZOrderLayout.serve(s, h, 3L, 7L, 50.0, 150.0))
      val direct = key(rows.where(col("user_id").between(3, 7) &&
        col("value").between(50.0, 150.0)))
      assert(served == direct && served.nonEmpty,
        s"clustered serve diverges from the unclustered scan " +
          s"(${served.size} vs ${direct.size} rows)")
      // pruning: the executed scan must open strictly fewer files than
      // the full layout — for the 2-D box AND for each dimension alone
      // (the property a single-column sort cannot give both of)
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        unwrap(df.queryExecution.executedPlan).collectLeaves()
          .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
          .sum
      }
      val all = filesRead(s.read.parquet(h.dataPath))
      val box = filesRead(graft.plans.ZOrderLayout.serve(s, h, 3L, 7L, 50.0, 150.0))
      val uOnly = filesRead(graft.plans.ZOrderLayout.serve(
        s, h, 3L, 7L, h.vMin, h.vMax))
      val vOnly = filesRead(graft.plans.ZOrderLayout.serve(
        s, h, h.uMin, h.uMax, 50.0, 150.0))
      assert(box > 0 && box < all, s"box query read $box of $all files — no pruning")
      assert(uOnly < all, s"user_id-only range read $uOnly of $all files — no pruning")
      assert(vOnly < all, s"value-only range read $vOnly of $all files — no pruning")
      info(s"box opens $box, user-only $uOnly, value-only $vOnly of $all files")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Z-order quantizer: snowflake-scale and full-Long u spans stay exact; empty save fails loudly") {
    val s = spark
    import s.implicits._
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id").as[Long].collect().sorted.toSeq
    def roundTrip(rows: org.apache.spark.sql.DataFrame,
        uLo: Long, uHi: Long): Unit = {
      val dir = Files.createTempDirectory("zwide").toString
      try {
        val h = graft.plans.ZOrderLayout.save(s, rows, dir)
        val served = key(graft.plans.ZOrderLayout.serve(
          s, h, uLo, uHi, 10.0, 80.0))
        val direct = key(rows.where(col("user_id").between(uLo, uHi) &&
          col("value").between(10.0, 80.0)))
        assert(served == direct && served.nonEmpty,
          s"wide-span serve diverges (${served.size} vs ${direct.size} rows)")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
    // ~2^58 span with 2^48-spaced ids (snowflake shape): the previous
    // (c - uMin) * 256 product wraps a Long here and misbuckets
    val sStep = 1L << 48
    val snow = (0 until 500).map(i =>
        (i.toLong, (1L << 58) + i.toLong * sStep, s"t${i % 3}", (i % 100).toDouble))
      .toDF("event_id", "user_id", "event_type", "value")
    roundTrip(snow, (1L << 58) + 100L * sStep, (1L << 58) + 300L * sStep)
    // full-Long span (uMax - uMin overflows Long): the decimal path
    val stride = Long.MaxValue / 200
    val full2 = (0 until 400).map(i =>
        (i.toLong, Long.MinValue + i.toLong * stride, s"t${i % 3}",
          (i % 100).toDouble))
      .toDF("event_id", "user_id", "event_type", "value")
    roundTrip(full2, Long.MinValue + 50L * stride, Long.MinValue + 250L * stride)
    // empty input: a real message, not an NPE
    val dir = Files.createTempDirectory("zempty").toString
    try {
      val ex = intercept[IllegalArgumentException] {
        graft.plans.ZOrderLayout.save(s, snow.limit(0), dir)
      }
      assert(ex.getMessage.contains("no rows"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Z-order layout append: clustered half + appended half serves the full table's rows") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("zorder_app").toString
    try {
      val rows = Tables.events(s, sf).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      graft.plans.ZOrderLayout.save(s, rows.where(col("event_id") % 2 === 0), dir)
      val v = graft.plans.ZOrderLayout.appendCommit(s, dir,
        rows.where(col("event_id") % 2 === 1))
      assert(v === 2)
      val h = graft.plans.ZOrderLayout.load(s, dir)
      assert(graft.plans.Snapshots.readIncremental(s, h.dataPath, 1, v).count() ===
        rows.where(col("event_id") % 2 === 1).count())
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      // note: append rows may carry values outside the saved half's
      // min/max — the clamped-edge-cell contract under test
      val served = key(graft.plans.ZOrderLayout.serve(s, h, 0L, Long.MaxValue,
        Double.MinValue, Double.MaxValue))
      assert(served == key(rows), "appended layout lost or duplicated rows")
      val box = key(graft.plans.ZOrderLayout.serve(s, h, 3L, 7L, 50.0, 150.0))
      assert(box == key(rows.where(col("user_id").between(3, 7) &&
        col("value").between(50.0, 150.0))),
        "box over the appended layout diverges from the unclustered scan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Z-order snapshot commits: the manifested as-of scan still prunes " +
      "zbuckets; pre-append files byte-identical through append + delete " +
      "+ purge; v1 blind to every later commit") {
    val s = spark
    import graft.plans.{Snapshots, ZOrderLayout}
    val staging = Files.createTempDirectory("zorder_snap").toString
    try {
      val dir = s"$staging/layout"
      val rows = Tables.events(s, sf).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      ZOrderLayout.save(s, rows.where(col("event_id") % 2 === 0), dir)
      val v1 = Snapshots.current(s, s"$dir/data").get
      val conf = s.sparkContext.hadoopConfiguration
      val (hfs, _) = graft.Fs.resolve(dir, conf)
      def v1Meta() = Snapshots.files(s, s"$dir/data", v1).map { p =>
        val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
        p -> (st.getLen, st.getModificationTime)
      }.toMap
      val pre = v1Meta()
      val v2 = ZOrderLayout.appendCommit(s, dir,
        rows.where(col("event_id") % 2 === 1))
      ZOrderLayout.deleteCommit(s, dir,
        rows.where(col("event_id") % 7 === 0).select(col("event_id")))
      val v4 = ZOrderLayout.purgeCommit(s, dir)
      // copy-on-write all the way down: nothing the lifecycle did
      // moved or rewrote a single v1 byte
      assert(v1Meta() == pre, "a later commit mutated v1's files")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      // v1 leg is blind to the append even though appended files sit
      // in the SAME zbucket directories — the manifest defines the scan
      assert(key(ZOrderLayout.serveAsOf(s, dir, v1, 3L, 7L, 50.0, 150.0)) ==
        key(rows.where(col("event_id") % 2 === 0 &&
          col("user_id").between(3, 7) && col("value").between(50.0, 150.0))),
        "v1 as-of serve does not match the v1 population")
      // pruning THROUGH the manifested listing (the whole point of
      // committing the layout): the as-of box scan must open strictly
      // fewer files than the version references
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        val p = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        p.collectLeaves()
          .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
          .sum
      }
      val vAll = Snapshots.files(s, s"$dir/data", v4)
        .count(!_.contains("/deletes/")).toLong
      val box = filesRead(ZOrderLayout.serveAsOf(s, dir, v4, 3L, 7L, 50.0, 150.0))
      assert(box > 0 && box < vAll,
        s"as-of box query read $box of $vAll manifested files — the " +
          "zbucket predicate is not pruning through the explicit listing")
      // and the purged current version equals the survivor population
      assert(key(ZOrderLayout.serveAsOf(s, dir, v4, 3L, 7L, 50.0, 150.0)) ==
        key(rows.where(col("event_id") % 7 =!= 0 &&
          col("user_id").between(3, 7) && col("value").between(50.0, 150.0))),
        "post-purge as-of serve does not match the survivor population")
      assert(v2 == v1 + 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("q106 typed Aggregator plans with map-side partial aggregation") {
    // the property that makes the custom reservoir safe at scale: the
    // bounded buffer reduces BEFORE the exchange (ObjectHashAggregate
    // partial), so the shuffle carries <= k entries per group per
    // task, never the corpus
    val plan = SparkEntry.queries("q106_grouped_reservoir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"typed Aggregator did not plan as ObjectHashAggregate:\n${plan.take(800)}")
    assert(plan.contains("partial_"),
      s"no map-side partial aggregation in the reservoir plan:\n${plan.take(800)}")
  }

  test("dynamic partition pruning: a dim-side filter prunes the partitioned fact scan at runtime") {
    // the warehouse-layout twin of the static partition filters the
    // index serves use: when the fact table is partitioned on the join
    // key and the dim side carries the selective filter, Catalyst's
    // DPP injects a runtime subquery filter into the fact scan — at
    // 100 TB the non-matching partitions' files are never opened even
    // though the pruning values are only known at run time
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dpp").toString
    try {
      Tables.events(s, sf).select(col("event_id"), col("user_id"),
          col("value"), col("event_type"))
        .write.partitionBy("event_type").parquet(s"$dir/events_p")
      // the dim must be a SCANNED relation with a real residual filter
      // — a filtered LocalRelation constant-folds to values and DPP's
      // "selective predicate on the other side" requirement never sees
      // a predicate
      // and the predicate must be one DPP considers likely-selective
      // (a comparison, not a bare boolean attribute)
      Seq(("click", 0.9), ("view", 0.1), ("purchase", 0.2),
          ("signup", 0.1), ("error", 0.0))
        .toDF("event_type", "weight")
        .write.parquet(s"$dir/dim")
      val dim = s.read.parquet(s"$dir/dim").where($"weight" > 0.5)
      val fact = s.read.parquet(s"$dir/events_p")
      val joined = fact.join(dim.select($"event_type"), Seq("event_type"))
        .select($"event_id", $"event_type")
      joined.collect()
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      // AQE hides scans inside QueryStageExec leaves — recurse through
      def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        case q: QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(joined.queryExecution.executedPlan)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.toLowerCase.contains("dynamicpruning"),
        s"no DPP filter in the fact scan:\n${planStr.take(1200)}")
      val all = graft.Fs.listDataFiles(s"$dir/events_p",
        s.sparkContext.hadoopConfiguration).size
      val factScans = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains("events_p")))
      assert(factScans.nonEmpty, "fact scan not found in the executed plan")
      val opened = factScans.map(_.metrics("numFiles").value).max
      assert(opened > 0 && opened < all,
        s"DPP opened $opened of $all files — no runtime pruning")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("runtime bloom-filter join: the dim side's filter reaches the fact scan " +
      "as a might_contain runtime filter") {
    // the shuffle-join sibling of the DPP proof: when the fact side is
    // too big to broadcast and not partitioned on the join key,
    // Catalyst's InjectRuntimeFilter ships a bloom filter built from
    // the SELECTIVE dim side into the fact side's scan stage — rows
    // that cannot match are dropped BEFORE the corpus-scale exchange.
    // At 100 TB this is the difference between shuffling the whole
    // fact table and shuffling the ~matching slice; defaults keep the
    // thresholds conservative, so the test pins the conf knobs a
    // deployment turns and the plan shape they buy.
    val s = spark
    import s.implicits._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    val dir = Files.createTempDirectory("bloomjoin").toString
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      Tables.events(s, sf)
        .select(col("event_id"), col("user_id"), col("value"))
        .write.parquet(s"$dir/fact")
      Tables.events(s, sf).select(col("user_id")).distinct()
        .withColumn("score", (col("user_id") % 100).cast("double"))
        .write.parquet(s"$dir/dim")
      val dim = s.read.parquet(s"$dir/dim").where($"score" > 95.0)
      val fact = s.read.parquet(s"$dir/fact")
      val joined = fact.join(dim.select($"user_id"), Seq("user_id"))
        .select($"event_id", $"user_id")
      joined.collect()
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n${planStr.take(1500)}")
      assert(planStr.contains("bloom_filter_agg"),
        s"no bloom_filter_agg on the dim side:\n${planStr.take(1500)}")
    } finally {
      saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Z-order compaction: fewer files, identical serve, box pruning preserved") {
    val s = spark
    import graft.plans.{Snapshots, ZOrderLayout}
    val staging = java.nio.file.Files.createTempDirectory("zorder_compact").toString
    try {
      val rows = Tables.events(s, sf).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      val src = s"$staging/layout"
      val h = ZOrderLayout.save(s, rows.where(col("event_id") % 3 === 0), src)
      ZOrderLayout.appendCommit(s, src, rows.where(col("event_id") % 3 === 1))
      val v3 = ZOrderLayout.appendCommit(s, src,
        rows.where(col("event_id") % 3 === 2))
      val nIn = Snapshots.files(s, h.dataPath, v3).size
      def served() = ZOrderLayout.serve(s, h, 3L, 7L, 50.0, 150.0)
        .select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      val before = served()
      val v4 = ZOrderLayout.purgeCommit(s, src, maxFiles = 1)
      val nOut = Snapshots.files(s, h.dataPath, v4).size
      assert(v4 == v3 + 1 && nOut < nIn,
        s"compaction did not shrink the data file count ($nIn -> $nOut)")
      assert(before.nonEmpty && served() == before,
        "compacted layout diverges from the pre-compaction serve")
      // box pruning still opens strictly fewer files than the layout holds
      val box = ZOrderLayout.serve(s, h, 3L, 7L, 50.0, 150.0)
      box.collect()
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val opened = (box.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }).collectLeaves()
        .collect { case f: FileSourceScanExec => f.metrics("numFiles").value }
        .sum
      assert(opened > 0 && opened < nOut,
        s"box query read $opened of $nOut compacted files — no pruning")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("q99b admission verdict is consistent with q99's pair relation") {
    val s = spark
    val verdict = SparkEntry.queries("q99b_lsh_admission")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // admitted <=> zero hits on both legs
    assert(verdict.forall { case (_, ch, bh, adm) => adm == (ch + bh == 0) },
      "admitted flag disagrees with the hit counts")
    // the corpus-leg hit counts must sum to exactly q99's pair count
    val pairRows = SparkEntry.queries("q99_lsh_index_dedup")(s, sf).count()
    val chSum = verdict.map(_._2).sum
    assert(chSum == pairRows,
      s"corpus-hit total $chSum != q99 pair count $pairRows")
    // non-degenerate in both directions at sf0.01
    assert(verdict.exists(_._4) && verdict.exists(!_._4),
      "fixture degenerate: all-admitted or all-rejected batch")
  }

  test("MinHash LSH index append: half-resident index + append equals the full-resident index") {
    val s = spark
    val dirA = java.nio.file.Files.createTempDirectory("lsh_half").toString
    val dirB = java.nio.file.Files.createTempDirectory("lsh_full").toString
    try {
      val docs = Tables.documents(s, sf)
      val resident = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val probe = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      graft.plans.MinHashIndex.save(s,
        resident.where(col("doc_id") % 2 === 0), s"$sf/documents.parquet", dirA)
      val (v2, _) = graft.plans.MinHashIndex.appendCommitRetrying(s, dirA,
        resident.where(col("doc_id") % 2 === 1))
      val n = graft.plans.Snapshots.readIncremental(s, s"$dirA/bands",
        v2 - 1, v2).select(col("doc_id")).distinct().count()
      assert(n === resident.where(col("doc_id") % 2 === 1).count())
      graft.plans.MinHashIndex.save(s, resident, s"$sf/documents.parquet", dirB)
      def servedFrom(dir: String) = graft.plans.MinHashIndex.serve(s,
          graft.plans.MinHashIndex.load(s, dir), probe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(servedFrom(dirA) == servedFrom(dirB),
        "appended index diverges from the fresh full-resident index")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirB))
    }
  }

  test("MinHash index delete: only touched partitions rewritten, serve equals fresh index on survivors") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("lsh_del").toString
    try {
      val docs = Tables.documents(s, sf)
      val resident = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val probe = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val src = s"$staging/idx"
      graft.plans.MinHashIndex.save(s, resident, s"$sf/documents.parquet", src)
      val bands = s"$src/bands"
      val v1 = graft.plans.Snapshots.current(s, bands).get
      graft.plans.MinHashIndex.deleteCommit(s, src,
        resident.where(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id")))
      val v3 = graft.plans.MinHashIndex.purgeCommit(s, src)
      val n = graft.plans.Snapshots.read(s, bands, v1).count() -
        graft.plans.Snapshots.read(s, bands, v3).count()
      assert(n > 0, "delete removed no index rows — fixture rot?")
      val before = graft.plans.Snapshots.files(s, bands, v1).toSet
      val after = graft.plans.Snapshots.files(s, bands, v3)
      // a deleted doc has a row in every band, so the purge rewrites
      // each band_id directory's files into exactly one new file
      val perBand = after.groupBy(f => f.take(f.lastIndexOf('/')))
      assert(perBand.size == operators.Dedup.Bands &&
        perBand.values.forall(_.size == 1) && !after.exists(before),
        s"the purge did not rewrite each band into one new file " +
          s"(${before.size} -> ${after.size}: ${after.take(3)})")
      // the surviving index must serve exactly what a fresh index over
      // the surviving residents serves
      val freshDir = s"$staging/fresh"
      graft.plans.MinHashIndex.save(s,
        resident.where(pmod(col("doc_id"), lit(7)) =!= 0),
        s"$sf/documents.parquet", freshDir)
      def servedFrom(dir: String) = graft.plans.MinHashIndex.serve(s,
          graft.plans.MinHashIndex.load(s, dir), probe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val got = servedFrom(src)
      assert(got.nonEmpty && got == servedFrom(freshDir),
        "post-delete serve diverges from the fresh survivors-only index")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 tombstone delete: serve equals fresh survivors index; compact purges the list") {
    val s = spark
    import graft.plans.{Bm25Index, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("bm25_del").toString
    try {
      val docs = Tables.documents(s, sf)
      docs.write.parquet(s"$staging/corpus/documents.parquet")
      val src = s"$staging/idx"
      Bm25Index.save(s, s"$staging/corpus", src)
      val deleted = docs.where(pmod(col("doc_id"), lit(7)) === 0)
      assert(deleted.count() > 0, "no docs to delete — fixture rot?")
      val v2 = Bm25Index.deleteCommit(s, src, deleted)
      val base = graft.plans.IvfTopK.qualify(s, src)
      assert(Snapshots.files(s, base, v2).exists(_.contains("/deletes/")),
        "the delete committed no tombstone list")
      // a fresh index over the survivors is the ground truth: df,
      // avgdl and the tombstone filter must all line up
      docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .write.parquet(s"$staging/surv/documents.parquet")
      val freshDir = s"$staging/fresh"
      Bm25Index.save(s, s"$staging/surv", freshDir)
      def servedFrom(dir: String) = Bm25Index.serve(s,
          Bm25Index.load(s, dir),
          operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      val got = servedFrom(src)
      assert(got.nonEmpty && got == servedFrom(freshDir),
        "tombstoned serve diverges from the fresh survivors-only index")
      // the purge compaction drops the tombstone list and serves
      // identically
      val v3 = Bm25Index.purgeCommit(s, src)
      assert(v3 == v2 + 1 &&
        Snapshots.files(s, base, v3).forall(!_.contains("/deletes/")),
        "compaction left the tombstone list behind")
      assert(servedFrom(src) == got,
        "post-purge serve diverges from the tombstoned serve")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 commit crash window: uncommitted files stay dark, expire reclaims them") {
    // a mutation whose files land but whose commit never does: the
    // writer below read v1, lands its postings and df-delta segment,
    // loses the publish race to v2 and gives up (maxRetries = 0). The
    // current version must serve unchanged, and expire() must reclaim
    // exactly the files that writer left behind.
    val s = spark
    import graft.plans.{Bm25Index, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("bm25_crash").toString
    try {
      val docs = Tables.documents(s, sf)
      docs.where(pmod(col("doc_id"), lit(10)).between(1, 8))
        .write.parquet(s"$staging/corpus/documents.parquet")
      val idx = s"$staging/idx"
      Bm25Index.save(s, s"$staging/corpus", idx)
      val base = graft.plans.IvfTopK.qualify(s, idx)
      val v1 = Snapshots.current(s, base).get
      val v2 = Bm25Index.deleteCommit(s, idx,
        docs.where(pmod(col("doc_id"), lit(10)) === 1 &&
          pmod(col("doc_id"), lit(7)) === 0))
      def served() = Bm25Index.serve(s, Bm25Index.load(s, idx),
          operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      val before = served()
      assert(before.nonEmpty, "fixture served nothing — rot?")
      val conf = s.sparkContext.hadoopConfiguration
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      def onDisk(): Set[String] = graft.Fs.listDataFiles(base, conf)
        .map(st => norm(st.getPath.toString)).toSet
      def referenced(): Set[String] = Snapshots.versions(s, base)
        .flatMap(Snapshots.files(s, base, _)).map(norm).toSet
      assert(onDisk() == referenced(), "fixture rot: orphans before the crash")
      intercept[Snapshots.SnapshotConflictException](
        Bm25Index.appendCommitRetrying(s, idx,
          docs.where(pmod(col("doc_id"), lit(10)) === 9),
          expected = Some(v1), maxRetries = 0))
      val landed = onDisk() -- referenced()
      assert(landed.exists(_.contains("/postings/")) &&
        landed.exists(_.contains("/terms/")),
        s"the uncommitted writer left no postings/terms files: $landed")
      assert(landed.forall(f => f.contains("/postings/") || f.contains("/terms/")),
        s"the uncommitted writer left a stats sibling behind: $landed")
      assert(Snapshots.current(s, base).contains(v2),
        "the uncommitted writer published a version")
      assert(served() == before, "the current version's serve changed")
      // retention that keeps every version reclaims only the orphans
      val n = Snapshots.expire(s, base, v1)
      assert(n == landed.size && onDisk() == referenced(),
        s"expire reclaimed $n files, the writer left ${landed.size}")
      assert(served() == before, "serve changed after expire")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 snapshot lifecycle: older versions stay byte-identical through " +
      "append/delete/purge-compact; as-of serves pin their population") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("bm25_snap").toString
    try {
      val docs = Tables.documents(s, sf)
      docs.where(pmod(col("doc_id"), lit(10)).between(1, 8))
        .write.parquet(s"$staging/corpus/documents.parquet")
      val idx = s"$staging/idx"
      graft.plans.Bm25Index.save(s, s"$staging/corpus", idx)
      val v1 = graft.plans.Snapshots.current(s, idx).get
      assert(v1 == 1, s"save committed v$v1, not v1")
      def served(v: Int) = graft.plans.Bm25Index.serveAsOf(s, idx, v,
          operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      val v1Rows = served(v1)
      assert(v1Rows.nonEmpty, "v1 served nothing — fixture rot?")
      val conf = s.sparkContext.hadoopConfiguration
      def fileMeta(v: Int): Map[String, (Long, Long)] = {
        val (fs, _) = graft.Fs.resolve(idx, conf)
        graft.plans.Snapshots.files(s, graft.plans.IvfTopK.qualify(s, idx), v)
          .map { p =>
            val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
            p -> (st.getLen, st.getModificationTime)
          }.toMap
      }
      val v1Meta = fileMeta(v1)
      val (v2, _) = graft.plans.Bm25Index.appendCommitRetrying(s, idx,
        docs.where(pmod(col("doc_id"), lit(10)) === 9))
      val v3 = graft.plans.Bm25Index.deleteCommit(s, idx,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0 &&
          pmod(col("doc_id"), lit(7)) === 0))
      val v2Rows = served(v2)
      val v3Rows = served(v3)
      val v3Meta = fileMeta(v3)
      val v4 = graft.plans.Bm25Index.purgeCommit(s, idx)
      // purge compaction is purely physical: v4 rows == v3 rows
      assert(served(v4) == v3Rows,
        "purge compaction changed served rows")
      // partition locality: every carried file is byte-identical, and
      // the stats/meta artifacts always carry — only tombstone-holding
      // or fragmented tbuckets rewrite
      val v4Meta = fileMeta(v4)
      val carried = v4Meta.keySet.intersect(v3Meta.keySet)
      assert(carried.forall(p => v4Meta(p) == v3Meta(p)),
        "a carried file changed size/mtime across the purge compaction")
      assert(v3Meta.keySet.filterNot(_.contains("/postings/"))
          .filterNot(_.contains("/deletes/"))
          .filterNot(_.contains("/terms/")).subsetOf(carried),
        "a stats/meta artifact was rewritten by the purge compaction")
      // the vocabulary's df-delta segments (save + append + delete =
      // 3 of them here) FOLD at compaction into fresh netted files —
      // v4's terms selection must be entirely new, and v3's segments
      // stay on disk for time travel until expire
      val v4Terms = v4Meta.keySet.filter(_.contains("/terms/"))
      assert(v4Terms.nonEmpty &&
        v4Terms.intersect(v3Meta.keySet).isEmpty,
        "terms segments did not fold at the purge compaction")
      // and v4's postings carry no tombstone files in the manifest
      assert(graft.plans.Snapshots.files(s,
          graft.plans.IvfTopK.qualify(s, idx), v4)
        .forall(f => !f.contains("/deletes/")),
        "v4 manifest still references the tombstone list")
      // time travel: v1/v2 unchanged by everything after them
      assert(served(v1) == v1Rows, "v1 serve drifted after append/delete/compact")
      assert(served(v2) == v2Rows, "v2 serve drifted after delete/compact")
      // byte identity: every v1-manifested file untouched on disk
      assert(fileMeta(v1) == v1Meta,
        "v1's manifested files were rewritten — snapshot isolation broken")
      // delete visibility: v3 lost exactly the tombstoned docs vs v2
      assert(v3Rows.size < v2Rows.size,
        "tombstone delete removed nothing from the served set")
      // the LIVE Handle serve routes through the CURRENT manifest — a
      // directory read would double-count the terms/stats replacement
      // siblings landed by the append and delete commits
      assert(graft.plans.Bm25Index.serve(s,
          graft.plans.Bm25Index.load(s, idx),
          operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq == v3Rows,
        "live serve diverges from the current manifest (double count?)")
      // retention: expiring below v4 reclaims superseded files but v4
      // still serves identically
      val reclaimed = graft.plans.Snapshots.expire(s,
        graft.plans.IvfTopK.qualify(s, idx), v4)
      assert(reclaimed > 0, "expire reclaimed nothing — old files leak")
      assert(served(v4) == v3Rows, "v4 serve changed after expire")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("IVF snapshot lifecycle: the v1 leg is blind to an appended slice and " +
      "the live serve routes through the current manifest") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("ivf_snap").toString
    try {
      Tables.embeddings(s, sf)
        .where(pmod(col("vec_id"), lit(10)) =!= 9)
        .write.parquet(s"$staging/emb/embeddings.parquet")
      val idx = s"$staging/idx"
      graft.plans.IvfTopK.ensureSaved(s, s"$staging/emb", idx)
      val v1 = graft.plans.Snapshots.current(s, s"$idx/assignment").get
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).toSeq
      val v1Live = rows(graft.plans.IvfTopK.serveTopK(s, idx))
      assert(v1Live.nonEmpty, "v1 served nothing — fixture rot?")
      val v2 = graft.plans.IvfTopK.appendCommit(s, idx,
        Tables.embeddings(s, sf).where(pmod(col("vec_id"), lit(10)) === 9))
      assert(graft.plans.Snapshots.readIncremental(s, s"$idx/assignment",
        v1, v2).count() > 0, "append added nothing — fixture rot?")
      // as-of v1 is blind to the appended files sharing its cid dirs
      assert(rows(graft.plans.IvfTopK.serveTopKAsOf(s, idx, v1)) == v1Live,
        "v1 as-of serve sees appended vectors")
      // the LIVE serve of a committed index reads the CURRENT manifest
      assert(rows(graft.plans.IvfTopK.serveTopK(s, idx)) ==
        rows(graft.plans.IvfTopK.serveTopKAsOf(s, idx, v2)),
        "live serve diverges from the current manifest's as-of serve")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("MinHash committed index: the live Handle serve reads the current " +
      "manifest, so a COW compaction cannot double-count") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("mh_guard").toString
    try {
      val docs = Tables.documents(s, sf)
      val idx = s"$staging/idx"
      graft.plans.MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)).between(1, 8))
          .select(col("doc_id"), col("text")),
        s"$sf/documents.parquet", idx)
      val (v2, _) = graft.plans.MinHashIndex.appendCommitRetrying(s, idx,
        docs.where(pmod(col("doc_id"), lit(10)) === 9)
          .select(col("doc_id"), col("text")))
      val v3 = graft.plans.MinHashIndex.purgeCommit(s, idx)
      assert(v3 == v2 + 1, "compaction rewrote nothing — fixture rot?")
      val probe = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("text"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(col("probe_doc"), col("corpus_doc"))
          .collect().map(_.toString).toSeq
      val asOf = rows(graft.plans.MinHashIndex.serveAsOf(s, idx, v3, probe))
      // pre-r14 this read the bands DIRECTORY — old + merged siblings —
      // and double-counted every row of the compacted partitions
      val live = rows(graft.plans.MinHashIndex.serve(s,
        graft.plans.MinHashIndex.load(s, idx), probe))
      assert(live == asOf,
        "live Handle serve diverges from the current manifest (double count?)")
      assert(asOf == rows(
        graft.plans.MinHashIndex.serveAsOf(s, idx, v2, probe)),
        "compaction changed served rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("MinHash committed serve reads exactly the version's manifested " +
      "band files; rows equal serveAsOf and a fresh uncommitted index") {
    val s = spark
    import graft.plans.{MinHashIndex, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("mh_touched").toString
    try {
      val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
      val idx = s"$staging/idx"
      MinHashIndex.save(s, docs.where(pmod(col("doc_id"), lit(10)).between(1, 8)),
        s"$sf/documents.parquet", idx)
      val bands = s"$idx/bands"
      Snapshots.commit(s, bands)
      val (v2, _) = MinHashIndex.appendCommitRetrying(s, idx,
        docs.where(pmod(col("doc_id"), lit(10)) === 9))
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0))
      val path = (f: String) => new java.net.URI(f).getPath
      assertServeReadsVersionFiles(idx, probe)
      val served = MinHashIndex.serveRows(s, MinHashIndex.load(s, idx), probe)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val got = rows(served)
      assert(got.nonEmpty, "fixture rot: the probe matched nothing")
      assert(got == rows(MinHashIndex.serveRowsAsOf(s, idx, v2, probe)),
        "live committed serve diverges from serveAsOf at the same version")
      val fresh = s"$staging/fresh"
      MinHashIndex.save(s, docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        s"$sf/documents.parquet", fresh)
      assert(got == rows(MinHashIndex.serveRows(s,
          MinHashIndex.load(s, fresh), probe)),
        "committed serve diverges from an uncommitted index of the same docs")
      // the bands dir now also holds files the version must not read:
      // a landing no commit references, the pre-purge files of older
      // versions, and (after the delete) a tombstone list the serve
      // reads only as its anti-join side
      val orphan = MinHashIndex.landBands(s, bands,
        MinHashIndex.localize(s, docs.where(pmod(col("doc_id"), lit(10)) === 0)))
      val v3 = MinHashIndex.purgeCommit(s, idx)
      val v4 = MinHashIndex.deleteCommit(s, idx,
        docs.where(col("doc_id") === 1L).select(col("doc_id")))
      val v4Files = Snapshots.files(s, bands, v4).map(path)
      val older = Snapshots.files(s, bands, v2).map(path).toSet -- v4Files
      assert(v3 == v2 + 1 && orphan.nonEmpty && older.nonEmpty &&
        v4Files.exists(_.contains("/deletes/")),
        s"fixture rot: v3=$v3 v2=$v2, ${orphan.size} orphans, " +
          s"${older.size} older files, v4 = ${v4Files.take(3)}")
      assertServeReadsVersionFiles(idx, probe)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("as-of serves keep partition pruning through the manifest read " +
      "(basePath contract: IVF cid, BM25 tbucket)") {
    // the scale claim of every as-of read: pinning a version is a
    // file-LIST choice, and the explicit listing must not cost the
    // partition pruning a directory read gets for free — basePath
    // keeps the partition columns, so the static IN predicates still
    // reach the scan as PartitionFilters
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("asof_prune").toString
    try {
      Tables.embeddings(s, sf)
        .where(pmod(col("vec_id"), lit(10)) =!= 9)
        .write.parquet(s"$staging/emb/embeddings.parquet")
      val ivf = s"$staging/ivf"
      graft.plans.IvfTopK.ensureSaved(s, s"$staging/emb", ivf)
      val v1 = graft.plans.Snapshots.current(s, s"$ivf/assignment").get
      val ivfPlan = graft.plans.IvfTopK.serveTopKAsOf(s, ivf, v1)
        .queryExecution.executedPlan.toString
      assert(ivfPlan.contains("PartitionFilters: [") &&
        ivfPlan.contains("cid"),
        s"cid pruning lost through the manifest read:\n${ivfPlan.take(1200)}")
      val docs = Tables.documents(s, sf)
      docs.where(pmod(col("doc_id"), lit(10)).between(1, 8))
        .write.parquet(s"$staging/corpus/documents.parquet")
      val bm = s"$staging/bm25"
      graft.plans.Bm25Index.save(s, s"$staging/corpus", bm)
      val b1 = graft.plans.Snapshots.current(s, bm).get
      val bmPlan = graft.plans.Bm25Index.serveAsOf(s, bm, b1,
          operators.TextAnalysis.Bm25QueryTerms)
        .queryExecution.executedPlan.toString
      assert(bmPlan.contains("PartitionFilters: [") &&
        bmPlan.contains("tbucket"),
        s"tbucket pruning lost through the manifest read:\n${bmPlan.take(1200)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("snapshot rollback and incremental read: rollback republishes v1's " +
      "file set; the manifest diff is exactly the appended rows") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("snap_roll").toString
    try {
      val docs = Tables.documents(s, sf)
      val idx = s"$staging/idx"
      graft.plans.MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)).between(1, 8))
          .select(col("doc_id"), col("text")),
        s"$sf/documents.parquet", idx)
      val bands = s"$idx/bands"
      val v1 = graft.plans.Snapshots.commit(s, bands)
      val appended = docs.where(pmod(col("doc_id"), lit(10)) === 9)
        .select(col("doc_id"), col("text"))
      val nApp = appended.count()
      val (v2, _) = graft.plans.MinHashIndex.appendCommitRetrying(s, idx,
        appended)
      // incremental read (v1 -> v2] = exactly the appended docs' rows
      val inc = graft.plans.Snapshots.readIncremental(s, bands, v1, v2)
      assert(inc.select(col("doc_id")).distinct().count() == nApp,
        "manifest diff does not cover exactly the appended docs")
      assert(inc.join(docs.where(pmod(col("doc_id"), lit(10)) =!= 9)
          .select(col("doc_id")), Seq("doc_id"), "left_semi").count() == 0,
        "manifest diff resurfaced resident rows")
      // rollback: v3 republishes v1's exact file set; the live serve
      // (current-manifest routed) snaps back to the pre-append answer
      val probe = docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("text"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy(col("probe_doc"), col("corpus_doc"))
          .collect().map(_.toString).toSeq
      val v1Rows = rows(graft.plans.MinHashIndex.serveAsOf(s, idx, v1, probe))
      val v2Rows = rows(graft.plans.MinHashIndex.serveAsOf(s, idx, v2, probe))
      assert(v1Rows != v2Rows, "append changed nothing — fixture rot?")
      val v3 = graft.plans.Snapshots.rollback(s, bands, v1)
      assert(v3 == v2 + 1, "rollback did not publish a NEW version")
      assert(rows(graft.plans.MinHashIndex.serveAsOf(s, idx, v3, probe))
        == v1Rows, "rolled-back version diverges from v1")
      assert(rows(graft.plans.MinHashIndex.serve(s,
          graft.plans.MinHashIndex.load(s, idx), probe)) == v1Rows,
        "live serve after rollback still sees the appended rows")
      // v2 history is intact until expired
      assert(rows(graft.plans.MinHashIndex.serveAsOf(s, idx, v2, probe))
        == v2Rows, "rollback destroyed v2's history")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("snapshot-preserving refresh: v1 files stay byte-identical and " +
      "unlosing cells' files carry verbatim into v2") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("ivf_refresh").toString
    try {
      Tables.embeddings(s, sf)
        .where(pmod(col("vec_id"), lit(10)) =!= 9)
        .write.parquet(s"$staging/emb/embeddings.parquet")
      val idx = s"$staging/idx"
      graft.plans.IvfTopK.ensureSaved(s, s"$staging/emb", idx)
      val assign = s"$idx/assignment"
      val v1 = graft.plans.Snapshots.current(s, assign).get
      val conf = s.sparkContext.hadoopConfiguration
      def meta(v: Int): Map[String, (Long, Long)] = {
        val (fs, _) = graft.Fs.resolve(assign, conf)
        graft.plans.Snapshots.files(s,
            graft.plans.IvfTopK.qualify(s, assign), v)
          .map { p =>
            val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
            p -> (st.getLen, st.getModificationTime)
          }.toMap
      }
      val v1Meta = meta(v1)
      val (v2, delta) = graft.operators.Similarity.refreshAssignmentCommit(
        s, assign, s"$staging/ncents")
      val moved = delta.where(col("moved")).count()
      assert(moved > 0, "refresh moved nothing — fixture rot?")
      // snapshot isolation: every v1-manifested file untouched
      assert(meta(v1) == v1Meta,
        "v1's manifested files were rewritten — COW refresh broken")
      // locality contract: EXACTLY the non-losing cells' v1 files carry
      // verbatim into v2's manifest (at this tiny SF one Lloyd round can
      // move vectors out of every cell, making the carried set empty —
      // the equality still pins the contract; at production cell counts
      // most cells don't lose and their files carry)
      val losers = delta.where(col("moved"))
        .select(col("old_cid")).distinct().collect().map(_.getInt(0)).toSet
      val carried = meta(v2).keySet.intersect(v1Meta.keySet)
      val expectCarried = v1Meta.keySet
        .filterNot(p => losers.exists(c => p.contains(s"/cid=$c/")))
      assert(carried == expectCarried,
        s"carried-file set diverges from the non-losing cells' v1 files " +
          s"(carried=${carried.size}, expected=${expectCarried.size})")
      assert(carried.forall(p => meta(v2)(p) == v1Meta(p)),
        "a carried file changed size/mtime")
      // the committed layouts agree with the delta on both sides
      val v1Rows = graft.plans.Snapshots.read(s, assign, v1)
        .select(col("vec_id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val v2Rows = graft.plans.Snapshots.read(s, assign, v2)
        .select(col("vec_id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val d = delta.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      assert(d.forall { case (id, o, n) =>
        v1Rows(id) == o && v2Rows(id) == n },
        "delta disagrees with the committed layouts")
      graft.Materialize.release(delta)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 re-ingest rule: tombstoned id un-appendable until compact purges it") {
    val s = spark
    import graft.plans.{Bm25Index, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("bm25_reingest").toString
    try {
      val docs = Tables.documents(s, sf)
      docs.write.parquet(s"$staging/corpus/documents.parquet")
      val src = s"$staging/idx"
      Bm25Index.save(s, s"$staging/corpus", src)
      val deleted = docs.where(pmod(col("doc_id"), lit(7)) === 0)
      Bm25Index.deleteCommit(s, src, deleted)
      // a tombstoned id's physical postings are still resident
      // (merge-on-read) — re-appending it would either resurrect the
      // old postings or inflate df/avgdl while staying anti-joined
      // out of serve, so the append must REFUSE the id loudly
      val clash = intercept[IllegalArgumentException] {
        Bm25Index.appendCommitRetrying(s, src, deleted.limit(1))
      }
      assert(clash.getMessage.contains("tombstoned"))
      // and a REPEATED delete refuses too (it would decrement df/stats
      // a second time)
      val dd = intercept[IllegalArgumentException] {
        Bm25Index.deleteCommit(s, src, deleted.limit(1))
      }
      assert(dd.getMessage.contains("already tombstoned"))
      // the purge removes the physical postings and clears the list;
      // the id becomes appendable again
      Bm25Index.purgeCommit(s, src)
      val one = deleted.limit(1)
      val (v, _) = Bm25Index.appendCommitRetrying(s, src, one)
      val backId = one.head().getLong(0)
      val served = Bm25Index.serve(s, Bm25Index.load(s, src),
          operators.TextAnalysis.Bm25QueryTerms)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      // the re-ingested doc is servable again iff it matches the
      // query terms; at minimum serve must not throw and the committed
      // version must hold its postings
      val base = graft.plans.IvfTopK.qualify(s, src)
      val hasPostings = s.read.parquet(Snapshots.files(s, base, v)
          .filter(_.contains("/postings/")): _*)
        .where(col("doc_id") === backId).count() > 0
      assert(hasPostings, s"re-ingested doc $backId has no postings")
      assert(served.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 segmented vocabulary: appendCommit writes O(new terms), " +
      "amplification flat across commits, fold + serves exact") {
    val s = spark
    import s.implicits._
    import graft.plans.{Bm25Index, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("bm25_seg").toString
    try {
      // controlled corpus (the table fixture's vocabulary is smaller
      // than one batch's term set, which would make the amplification
      // assertions vacuous): every doc carries the shared term plus
      // its own unique word, so |vocab| tracks the corpus and a
      // batch's term set stays batch-sized
      def w(i: Int) = "w" + ('a' + i / 26 % 26).toChar + ('a' + i % 26).toChar
      def mk(ids: Range) = ids.map(i =>
        (i.toLong, s"common ${w(i)} ${w(i)}")).toDF("doc_id", "text")
      mk(1 to 100).write.parquet(s"$staging/corpus/documents.parquet")
      val idx = s"$staging/idx"
      Bm25Index.save(s, s"$staging/corpus", idx)
      val base = graft.plans.IvfTopK.qualify(s, idx)
      val v1 = Snapshots.current(s, base).get
      def termFiles(v: Int) = Snapshots.files(s, base, v)
        .filter(_.startsWith(s"$base/terms/"))
      val vocabRows = s.read.parquet(termFiles(v1): _*).count()
      assert(vocabRows == 101, s"fixture vocab: $vocabRows")
      def distinctTerms(batch: org.apache.spark.sql.DataFrame) =
        operators.TextAnalysis.postingsOf(batch)
          .select(col("term")).distinct().count()
      // two appends: each commit's NEW terms files must hold exactly
      // the batch's own distinct terms (a merged rewrite would hold
      // the whole vocabulary) — write amplification flat, not growing
      // with the resident vocab. Rows, not bytes: at test scale the
      // parquet footer floor (~1 KB) swamps the data bytes, so the
      // byte form of this assertion is vacuous here; row count is the
      // scale-invariant measure.
      for (r <- Seq(101 to 105, 106 to 110)) {
        val batch = mk(r)
        val vPrev = Snapshots.current(s, base).get
        val (v, _) = Bm25Index.appendCommitRetrying(s, idx, batch)
        val fresh = termFiles(v).filterNot(termFiles(vPrev).toSet)
        val rows = s.read.parquet(fresh: _*).count()
        assert(rows == distinctTerms(batch) && rows == 6,
          s"commit v$v's terms segment holds $rows rows, expected the " +
            s"batch's ${distinctTerms(batch)} distinct terms only")
        assert(rows < vocabRows,
          s"terms segment ($rows rows) is not smaller than the resident " +
            s"vocabulary ($vocabRows rows) — rewrite leaked back in")
      }
      val v3 = Snapshots.current(s, base).get
      // tombstone delete: negative delta segment, then serve(v4) must
      // equal a FRESH survivors-only index's serve
      val delIds = (1 to 110).filter(_ % 7 == 0)
      val v4 = Bm25Index.deleteCommit(s, idx,
        mk(1 to 110).where(col("doc_id").isin(delIds.map(_.toLong): _*)))
      // double-delete guard: re-deleting a tombstoned id must refuse
      val dup = intercept[IllegalArgumentException] {
        Bm25Index.deleteCommit(s, idx,
          mk(7 to 7))
      }
      assert(dup.getMessage.contains("tombstoned"), dup.getMessage)
      mk(1 to 110).where(!col("doc_id").isin(delIds.map(_.toLong): _*))
        .write.parquet(s"$staging/fresh/documents.parquet")
      Bm25Index.save(s, s"$staging/fresh", s"$staging/fidx")
      // query the shared term + one survivor-unique + one deleted-only
      // word (the last must serve no rows and its df must have netted
      // to zero)
      val terms = Seq("common", w(3), w(7))
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      val freshServe = scores(Bm25Index.serve(s,
        Bm25Index.load(s, s"$staging/fidx"), terms))
      val asOf4 = scores(Bm25Index.serveAsOf(s, base, v4, terms))
      assert(asOf4.keySet == freshServe.keySet && !asOf4.contains(7L),
        "v4 serve population diverges from the fresh survivors-only index")
      assert(asOf4.forall { case (id, (b, n)) =>
        val (fb, fn) = freshServe(id)
        n == fn && math.abs(b - fb) < 1e-9 },
        "v4 served scores diverge from the fresh survivors-only index")
      val asOf3 = scores(Bm25Index.serveAsOf(s, base, v3, terms))
      // compaction folds the 4 accumulated segments (save + 2 appends
      // + 1 negative) into fresh netted files; serves are unchanged
      // and older versions keep their own segment sets
      assert(termFiles(v4).size >= 4, s"expected >=4 segments, got " +
        s"${termFiles(v4).size}")
      val v5 = Bm25Index.purgeCommit(s, idx)
      assert(termFiles(v5).intersect(termFiles(v4)).isEmpty,
        "fold kept old segment files in the new manifest")
      // the netted fold dropped the fully-deleted terms (df summed to 0)
      val folded = s.read.parquet(termFiles(v5): _*)
      assert(folded.where(col("term") === w(7)).count() == 0,
        s"fully-deleted term ${w(7)} survived the fold")
      assert(folded.where(col("df") <= 0).count() == 0,
        "non-positive df rows survived the fold")
      assert(scores(Bm25Index.serveAsOf(s, base, v5, terms)) == asOf4,
        "fold changed served scores")
      assert(scores(Bm25Index.serveAsOf(s, base, v3, terms)) == asOf3,
        "time travel to v3 broken after the fold")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("snapshot isolation: v1 serve and files untouched by v2 append; expire vacuums orphans") {
    val s = spark
    import graft.plans.{MinHashIndex, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("lsh_snap").toString
    try {
      val docs = Tables.documents(s, sf)
      val idxDir = s"$staging/idx"
      MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0 &&
            pmod(col("doc_id"), lit(10)) =!= 9)
          .select(col("doc_id"), col("text")),
        s"$sf/documents.parquet", idxDir)
      val bands = s"$idxDir/bands"
      val v1 = Snapshots.commit(s, bands)
      val conf = s.sparkContext.hadoopConfiguration
      // normalize away the scheme (the listing returns file:/..., the
      // manifest stores bare paths)
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      def fileMap() = graft.Fs.listDataFiles(bands, conf)
        .map(f => norm(f.getPath.toString) ->
          (f.getLen, f.getModificationTime))
        .toMap
      val before = fileMap()
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text")))
      def served(v: Int) = MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val r1 = served(v1)
      // v2: append a fresh slice, commit
      val (v2, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
        docs.where(pmod(col("doc_id"), lit(10)) === 9)
          .select(col("doc_id"), col("text")))
      // every v1 file survives the append byte-identical (append only
      // ADDS files), and the pinned v1 read is oblivious to v2
      val after = fileMap()
      assert(Snapshots.files(s, bands, v1).map(norm).forall(p =>
        before.contains(p) && after.get(p) == before.get(p)),
        "a v1-manifested file was rewritten by the append")
      assert(served(v1) == r1, "v1 serve changed after the v2 append")
      // the v2 read sees strictly more corpus (the appended slice has
      // near-dups of the probe set in the fixture by construction of
      // the % 10 slicing — guard against silent vacuity)
      val r2 = served(v2)
      assert(r1.subsetOf(r2) && r2.size > r1.size,
        s"v2 serve (${r2.size}) must extend v1 (${r1.size})")
      // expire: drop v1, vacuum unreferenced files — an orphan from a
      // "crashed writer" goes away, every v2-referenced file stays
      val orphan = new org.apache.hadoop.fs.Path(
        s"$bands/band_id=0/orphan-crashed-writer.parquet")
      val (hfs, _) = graft.Fs.resolve(bands, conf)
      val out = hfs.create(orphan, true)
      out.write(Array[Byte](1, 2, 3)); out.close()
      // a crashed Spark write's leftover under _temporary/ is an
      // orphan too — the sidecar exemption is by explicit name
      // (_manifests/_filestats), not the blanket hidden convention
      val tempLeft = new org.apache.hadoop.fs.Path(
        s"$bands/_temporary/0/task_x/part-00000.parquet")
      hfs.mkdirs(tempLeft.getParent)
      val out2 = hfs.create(tempLeft, true)
      out2.write(Array[Byte](9)); out2.close()
      val removed = Snapshots.expire(s, bands, keepFrom = v2)
      assert(removed >= 2, "expire reclaimed nothing — orphan survived")
      assert(!hfs.exists(orphan), "crashed-writer orphan survived expire")
      assert(!hfs.exists(tempLeft),
        "_temporary crashed-write leftover survived expire")
      assert(Snapshots.versions(s, bands) == Seq(v2))
      assert(served(v2) == r2, "v2 serve changed after expire")
      val v1Gone = intercept[IllegalArgumentException](
        Snapshots.files(s, bands, v1))
      assert(v1Gone.getMessage.contains("not found"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("MinHash OCC append: a lost race re-validates the re-ingest " +
      "guard against the NEW current, refused landings stay orphans") {
    val s = spark
    import s.implicits._
    import graft.plans.{MinHashIndex, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("lsh_occ").toString
    try {
      val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
      val idxDir = s"$staging/idx"
      MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)).between(1, 8)),
        s"$sf/documents.parquet", idxDir)
      val bands = s"$idxDir/bands"
      val v1 = Snapshots.commit(s, bands)
      // a concurrent deleter tombstones resident doc X at v2 — AFTER
      // writer B read its base (v1), BEFORE B's publish
      val xid = docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .agg(min(col("doc_id"))).head().getLong(0)
      val v2 = MinHashIndex.deleteCommit(s, idxDir, Seq(xid).toDF("doc_id"))
      // writer B's batch re-ingests X against the stale base: the
      // commit conflict must trigger a re-validation against v2 and
      // REFUSE — a blind retry would land physical band rows for X
      // that resurrect the moment purgeCommit drops the tombstones
      val e = intercept[IllegalArgumentException](
        MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(col("doc_id") === xid ||
            pmod(col("doc_id"), lit(10)) === 9),
          expected = Some(v1)))
      assert(e.getMessage.contains("tombstoned"),
        s"wrong refusal: ${e.getMessage.take(200)}")
      assert(Snapshots.current(s, bands).contains(v2),
        "the refused retry must not have committed anything")
      // the refused landing is unreferenced — the standard orphan
      // sweep reclaims it
      val reclaimed = Snapshots.expire(s, bands, keepFrom = v2)
      assert(reclaimed > 0, "refused landing left nothing to reclaim?")
      // ...and a conflict-free OCC append against the new current
      // still lands (the guard refuses the CLASHING batch, not the
      // protocol)
      val (v3, conflicts) = MinHashIndex.appendCommitRetrying(s, idxDir,
        docs.where(pmod(col("doc_id"), lit(10)) === 9))
      assert(conflicts == 0 && v3 == v2 + 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("OCC file claims are writer-exact: a batch landing INSIDE " +
      "another writer's land-to-commit window is never claimed, and a " +
      "re-selecting claim refuses loudly") {
    val s = spark
    import graft.plans.{MinHashIndex, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("lsh_claim")
      .toString
    try {
      val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
      val idxDir = s"$staging/idx"
      MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)).between(1, 7)),
        s"$sf/documents.parquet", idxDir)
      val bands = s"$idxDir/bands"
      val v1 = Snapshots.commit(s, bands)
      val batchA = docs.where(pmod(col("doc_id"), lit(10)) === 8)
      val batchB = docs.where(pmod(col("doc_id"), lit(10)) === 9)
      // writer A LANDS first — its claim is fixed at land time,
      // writer-exactly, by the staging move...
      val mineA = MinHashIndex.landBands(s, bands,
        operators.Dedup.indexBandRows(batchA))
      assert(mineA.nonEmpty)
      // ...then writer B lands AND commits entirely inside A's
      // land-to-commit window. Under the old listing-diff claim this
      // interleaving is exactly the corruption case: whichever writer
      // listed around the other's landing claimed the other's files.
      val (v2, c2) = MinHashIndex.appendCommitRetrying(s, idxDir, batchB)
      assert(c2 == 0 && v2 == v1 + 1)
      def relOf(abs: String): String = {
        val b = new org.apache.hadoop.fs.Path(bands).toUri.getPath
        new org.apache.hadoop.fs.Path(abs).toUri.getPath.drop(b.length + 1)
      }
      val v2Rel = Snapshots.files(s, bands, v2).map(relOf).toSet
      assert(mineA.forall(r => !v2Rel.contains(r)),
        "writer B's commit absorbed writer A's uncommitted landing")
      // A's commit loses the race on its stale base and retries
      // against the new current with its EXACT files
      val stale = intercept[Snapshots.SnapshotConflictException](
        Snapshots.commitSelectingExpecting(s, bands, v1, _ => false, mineA))
      assert(stale.getMessage.contains("no longer current"))
      val v3 = Snapshots.commitSelectingExpecting(s, bands, v2,
        _ => false, mineA)
      // no duplicated band rows anywhere: each doc contributes exactly
      // one row per band_id, so any cross-claimed (re-selected) file
      // would surface as a (doc_id, band_id) group with count > 1
      val rows = s.read.option("basePath", bands)
        .parquet(Snapshots.files(s, bands, v3): _*)
      val dup = rows.groupBy(col("doc_id"), col("band_id"))
        .count().where(col("count") > 1).count()
      assert(dup == 0,
        "duplicated band rows — a writer claimed another writer's files")
      val expectDocs = docs
        .where(pmod(col("doc_id"), lit(10)).between(1, 9))
        .select(col("doc_id")).distinct().count()
      assert(rows.select(col("doc_id")).distinct().count() == expectDocs,
        "a batch went missing from the final selection")
      // and the commit-side backstop: a claim that re-selects a file
      // already in the base selection refuses loudly instead of
      // silently duplicating its rows
      val resel = intercept[Snapshots.SnapshotConflictException](
        Snapshots.commitSelectingExpecting(s, bands, v3, _ => false,
          mineA.take(1)))
      assert(resel.getMessage.contains("re-selects"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("MinHash deleteCommit/purgeCommit: pre-delete versions stay " +
      "byte-identical, the purge is partition-local, re-ingest gated") {
    val s = spark
    import s.implicits._
    import graft.plans.{MinHashIndex, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("lsh_del").toString
    try {
      val docs = Tables.documents(s, sf)
      val idxDir = s"$staging/idx"
      MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)).between(1, 8))
          .select(col("doc_id"), col("text")),
        s"$sf/documents.parquet", idxDir)
      val bands = s"$idxDir/bands"
      val v1 = Snapshots.commit(s, bands)
      val conf = s.sparkContext.hadoopConfiguration
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      def fileMap() = graft.Fs.listDataFiles(bands, conf)
        .map(f => norm(f.getPath.toString) ->
          (f.getLen, f.getModificationTime)).toMap
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text")))
      def served(v: Int) = MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val r1 = served(v1)
      val delIds = docs.where(pmod(col("doc_id"), lit(10)).between(1, 8) &&
        pmod(col("doc_id"), lit(7)) === 0).select(col("doc_id"))
      val delSet = delIds.collect().map(_.getLong(0)).toSet
      assert(r1.exists(p => delSet(p._2)),
        "fixture rot: no probe hit lands on a to-be-deleted doc")
      val before = fileMap()
      val v2 = MinHashIndex.deleteCommit(s, idxDir, delIds)
      // the tombstone commit REWRITES NOTHING: every pre-delete file
      // byte-identical, v1's serve (time travel THROUGH the delete)
      // still sees the deleted docs
      val afterDel = fileMap()
      assert(before.forall { case (p, m) => afterDel.get(p).contains(m) },
        "deleteCommit rewrote an existing file")
      assert(served(v1) == r1, "v1 serve changed by the tombstone commit")
      val r2 = served(v2)
      assert(r2 == r1.filterNot(p => delSet(p._2)) && r2.size < r1.size,
        "v2 serve is not exactly the survivor hits")
      // double delete and tombstoned re-ingest both refuse loudly
      assert(intercept[IllegalArgumentException](
        MinHashIndex.deleteCommit(s, idxDir, delIds.limit(1)))
        .getMessage.contains("tombstoned"))
      assert(intercept[IllegalArgumentException](
        MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.join(delIds.limit(1), Seq("doc_id"))
            .select(col("doc_id"), col("text"))))
        .getMessage.contains("tombstoned"))
      // the purge rewrites ONLY bands holding tombstoned rows: every
      // other v2 band file carries into v3 byte-identical
      val tombed = s.read.option("basePath", bands).parquet(
          Snapshots.files(s, bands, v2)
            .filter(!_.startsWith(s"$bands/deletes/")): _*)
        .join(delIds, Seq("doc_id"), "left_semi")
        .select(col("band_id")).distinct()
        .collect().map(r => s"band_id=${r.getInt(0)}/")
      val v3 = MinHashIndex.purgeCommit(s, idxDir)
      val v3Files = Snapshots.files(s, bands, v3).map(norm)
      assert(!v3Files.exists(_.contains("/deletes/")),
        "purge kept the tombstone list in the manifest")
      val v2Bands = Snapshots.files(s, bands, v2).map(norm)
        .filterNot(_.contains("/deletes/"))
      val untouched = v2Bands.filterNot(p => tombed.exists(p.contains))
      assert(untouched.forall(v3Files.contains),
        "an untombstoned band's file did not carry into v3")
      // a deleted doc has a row in every band: each band is tombstoned
      // and rewritten into exactly one fresh file
      assert(tombed.length == operators.Dedup.Bands &&
        tombed.forall(b => v3Files.count(_.contains(b)) == 1) &&
        !v3Files.exists(v2Bands.contains),
        s"v3 is not one fresh file per tombstoned band: ${v3Files.take(4)}")
      val afterPurge = fileMap()
      assert(untouched.forall(p => afterPurge.get(p) == before.get(p)),
        "a carried file changed bytes through the purge")
      assert(v3Files.forall(p =>
        untouched.contains(p) || tombed.exists(p.contains)),
        "v3 references a fresh file outside the tombstoned bands")
      assert(served(v3) == r2, "purge changed the served rows")
      assert(s.read.option("basePath", bands).parquet(
          Snapshots.files(s, bands, v3): _*)
        .join(delIds, Seq("doc_id"), "left_semi").count() == 0,
        "a tombstoned doc's rows survived the purge")
      // purged ⇒ the id is appendable again
      val (v4, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
        docs.join(delIds.limit(1), Seq("doc_id"))
          .select(col("doc_id"), col("text")))
      // retention: older versions drop, v3 serve unaffected
      Snapshots.expireKeeping(s, bands, keepLast = 2)
      assert(Snapshots.versions(s, bands) == Seq(v3, v4))
      assert(served(v3) == r2, "v3 serve changed after expire")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("commitExpecting: a stale writer's commit fails loudly, retry succeeds") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("snap_cas").toString
    try {
      val dir = s"$staging/data"
      Seq((1L, 10L)).toDF("id", "v").write.mode("append").parquet(dir)
      // two uncoordinated writers read the same base version
      val baseA = Snapshots.current(s, dir)
      val baseB = Snapshots.current(s, dir)
      assert(baseA.isEmpty && baseB.isEmpty)
      // B publishes first
      assert(Snapshots.commitExpecting(s, dir, baseB) == 1)
      // A's stale commit must FAIL (lost-update guard), never silently
      // replace or renumber B's version
      intercept[Snapshots.SnapshotConflictException](
        Snapshots.commitExpecting(s, dir, baseA))
      assert(Snapshots.versions(s, dir) == Seq(1))
      // the optimistic protocol: A re-reads, re-adds, retries
      Seq((2L, 20L)).toDF("id", "v").write.mode("append").parquet(dir)
      val v2 = Snapshots.commitExpecting(s, dir, Snapshots.current(s, dir))
      assert(v2 == 2)
      assert(s.read.parquet(Snapshots.files(s, dir, v2): _*).count() == 2)
      // B's committed view is untouched by the retry
      assert(s.read.parquet(Snapshots.files(s, dir, 1): _*).count() == 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("commitRetrying: the lost race re-reads and retries; the committed " +
      "result is both writers' union") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("snap_retry").toString
    try {
      val dir = s"$staging/data"
      Seq((1L, 10L)).toDF("id", "v").write.mode("append").parquet(dir)
      val v1 = Snapshots.commit(s, dir)
      // writers A and B read the same base, then A wins the race
      val baseA = Snapshots.current(s, dir)
      val baseB = Snapshots.current(s, dir)
      Seq((2L, 20L)).toDF("id", "v").write.mode("append").parquet(dir)
      val (vA, cA) = Snapshots.commitRetrying(s, dir, baseA)
      assert(vA == v1 + 1 && cA == 0)
      // B lands its files, publishes against the stale base: exactly
      // one conflict, then the retry's re-listing commits the UNION
      Seq((3L, 30L)).toDF("id", "v").write.mode("append").parquet(dir)
      val (vB, cB) = Snapshots.commitRetrying(s, dir, baseB)
      assert(vB == vA + 1 && cB == 1,
        s"expected one observed conflict then success, got (v$vB, $cB)")
      val got = s.read.parquet(Snapshots.files(s, dir, vB): _*)
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L)),
        s"retried commit lost a writer's rows: $got")
      // A's own committed view never contained B's rows
      assert(s.read.parquet(Snapshots.files(s, dir, vA): _*).count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("manifest bookkeeping: warm history folds cost stats, not reads; " +
      "a reused path with fresh content is never served stale") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("snap_cache").toString
    try {
      val dir = s"$staging/data"
      // accumulate a 30-version history (append + commit per version)
      for (i <- 1 to 30) {
        Seq((i.toLong, i.toLong)).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(dir)
        Snapshots.commit(s, dir)
      }
      val cur = Snapshots.current(s, dir).get
      // warm the per-version cache once (resolving cur's delta chain
      // reads the history)
      Snapshots.commitSelectingExpecting(s, dir, cur, _ => false, Nil)
      val before = Snapshots.manifestReads.get()
      // a commit on the 31-version dir must READ O(new) manifests —
      // the 30-version history is served from the validated cache
      val cur2 = Snapshots.current(s, dir).get
      val mine = Snapshots.landStaged(s, dir)(stage =>
        Seq((99L, 99L)).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(stage))
      Snapshots.commitSelectingExpecting(s, dir, cur2, _ => false, mine)
      val delta = Snapshots.manifestReads.get() - before
      assert(delta <= 2,
        s"commit on a 31-version dir re-read $delta manifests — the " +
          "history fold should hit the cache (expected <= 2)")
      // PATH REUSE: deleting the dataset and minting a fresh v1 at the
      // SAME path must not serve the old v1's cached listing
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "v")
        .repartition(3).write.mode("append").parquet(dir)
      val fresh = Snapshots.commit(s, dir)
      assert(fresh == 1)
      assert(s.read.parquet(Snapshots.files(s, dir, 1): _*).count() == 3,
        "files(v1) served the DELETED dataset's cached manifest")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("readIncremental: a no-op commit is a LEGAL empty increment " +
      "(schema derived from the manifest's live files, partition cols kept)") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("snap_empty").toString
    try {
      val dir = s"$staging/data"
      Seq((1L, 0), (2L, 1)).toDF("id", "b")
        .repartition(col("b")).write.partitionBy("b").parquet(dir)
      val v1 = Snapshots.commit(s, dir)
      // producer commits a NO-OP batch: zero new files, new version
      val v2 = Snapshots.commit(s, dir)
      val inc = Snapshots.readIncremental(s, dir, v1, v2)
      assert(inc.isEmpty, "no-op commit yielded a non-empty increment")
      // the derived schema must keep the PARTITION column — a tailing
      // consumer selects it on every trigger (the q134s shape)
      assert(inc.columns.toSet == Set("id", "b"),
        s"empty increment lost columns: ${inc.columns.mkString(",")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("snapshot tags: a tagged version survives retention byte-identical, " +
      "tags are immutable, dropTag releases it to the next expire") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("snap_tag").toString
    try {
      val dir = s"$staging/data"
      Seq((1L, 10L)).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
      val v1 = Snapshots.commit(s, dir)
      Snapshots.tag(s, dir, "train-baseline", v1)
      // immutability + validation
      assert(intercept[IllegalArgumentException](
        Snapshots.tag(s, dir, "train-baseline", v1))
        .getMessage.contains("immutable"))
      assert(intercept[IllegalArgumentException](
        Snapshots.tag(s, dir, "ghost", 99))
        .getMessage.contains("not a live version"))
      assert(intercept[IllegalArgumentException](
        Snapshots.tag(s, dir, "bad/name", v1))
        .getMessage.contains("filesystem name"))
      val conf = s.sparkContext.hadoopConfiguration
      def meta() = {
        val (hfs, _) = graft.Fs.resolve(dir, conf)
        Snapshots.files(s, dir, v1).map { p =>
          val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
          p -> (st.getLen, st.getModificationTime)
        }.toMap
      }
      val v1Meta = meta()
      for (i <- 2 to 4) {
        Seq((i.toLong, i * 10L)).toDF("id", "v").coalesce(1)
          .write.mode("append").parquet(dir)
        Snapshots.commit(s, dir)
      }
      val cur = Snapshots.current(s, dir).get
      // retention advances past v1 — the tag keeps its manifest AND
      // files, byte-identical; untagged v2/v3 drop
      Snapshots.expire(s, dir, keepFrom = cur)
      assert(Snapshots.versions(s, dir) == Seq(v1, cur),
        s"expected only the tagged v$v1 + current to survive, got " +
          Snapshots.versions(s, dir))
      assert(meta() == v1Meta, "the tagged version's files changed")
      assert(Snapshots.versionOf(s, dir, "train-baseline") == v1)
      assert(s.read.parquet(Snapshots.files(s, dir, v1): _*).count() == 1)
      // the pinned version is a legal rollback target months later
      val vr = Snapshots.rollback(s, dir,
        Snapshots.versionOf(s, dir, "train-baseline"))
      assert(s.read.parquet(Snapshots.files(s, dir, vr): _*).count() == 1)
      // dropTag releases the pin: the next expire reclaims v1
      Snapshots.dropTag(s, dir, "train-baseline")
      assert(intercept[IllegalArgumentException](
        Snapshots.versionOf(s, dir, "train-baseline"))
        .getMessage.contains("does not exist"))
      Snapshots.expire(s, dir, keepFrom = vr)
      assert(!Snapshots.versions(s, dir).contains(v1),
        "dropped-tag version survived expire")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("rollback refuses an expired target with an error naming the cause") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("snap_rbexp").toString
    try {
      val dir = s"$staging/data"
      Seq((1L, 10L)).toDF("id", "v").write.mode("append").parquet(dir)
      val v1 = Snapshots.commit(s, dir)
      Seq((2L, 20L)).toDF("id", "v").write.mode("append").parquet(dir)
      val v2 = Snapshots.commit(s, dir)
      // retention bound: keep only the newest version (drops v1)
      Snapshots.expireKeeping(s, dir, keepLast = 1)
      assert(Snapshots.versions(s, dir) == Seq(v2))
      val e = intercept[IllegalArgumentException](
        Snapshots.rollback(s, dir, v1))
      assert(e.getMessage.contains("expire"),
        s"rollback error does not name expire: ${e.getMessage}")
      // the live target still works
      assert(Snapshots.rollback(s, dir, v2) == v2 + 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("compactCommit: copy-on-write — older snapshots keep their files " +
      "byte-identical, compacted version row-identical, expire reclaims") {
    val s = spark
    import graft.plans.{MinHashIndex, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("lsh_cow").toString
    try {
      val docs = Tables.documents(s, sf)
      val idxDir = s"$staging/idx"
      MinHashIndex.save(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0 &&
            pmod(col("doc_id"), lit(10)) =!= 9)
          .select(col("doc_id"), col("text")),
        s"$sf/documents.parquet", idxDir)
      val bands = s"$idxDir/bands"
      val v1 = Snapshots.current(s, bands).get
      val (v2, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
        docs.where(pmod(col("doc_id"), lit(10)) === 9)
          .select(col("doc_id"), col("text")))
      val conf = s.sparkContext.hadoopConfiguration
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      def fileMap() = graft.Fs.listDataFiles(bands, conf)
        .map(f => norm(f.getPath.toString) ->
          (f.getLen, f.getModificationTime))
        .toMap
      val before = fileMap()
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text")))
      def served(v: Int) = MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val r1 = served(v1)
      val r2 = served(v2)
      // the append fragmented its touched partitions to 2 files — the
      // COW compaction must find work (guard against vacuity)
      val v3 = MinHashIndex.purgeCommit(s, idxDir)
      val nRewritten = (Snapshots.files(s, bands, v3).toSet --
        Snapshots.files(s, bands, v2)).size
      assert(v3 == v2 + 1 && nRewritten >= 1,
        s"expected a fresh version with rewritten partitions, got " +
          s"(v$v3, $nRewritten)")
      // every v1- and v2-manifested file survives BYTE-IDENTICAL: the
      // merged files are new siblings, nothing was moved or rewritten
      val after = fileMap()
      val preserved = (Snapshots.files(s, bands, v1) ++
        Snapshots.files(s, bands, v2)).map(norm).distinct
      assert(preserved.forall(p => after.get(p) == before.get(p)),
        "a pre-compact manifested file was rewritten by compactCommit")
      // old versions still serve their own populations; the compacted
      // version is row-identical to v2 (compaction is purely physical)
      assert(served(v1) == r1, "v1 serve changed after compactCommit")
      assert(served(v2) == r2, "v2 serve changed after compactCommit")
      assert(served(v3) == r2, "v3 serve differs from v2 — rows changed")
      // v3's manifest holds ONE file per partition (maxFiles = 1)
      val v3ByDir = Snapshots.files(s, bands, v3).map(norm)
        .groupBy(p => p.take(p.lastIndexOf('/')))
      assert(v3ByDir.values.forall(_.size == 1),
        s"v3 partitions still fragmented: " +
          s"${v3ByDir.filter(_._2.size > 1).keys.take(3)}")
      // idempotent: nothing fragmented in v3 — no new commit
      assert(MinHashIndex.purgeCommit(s, idxDir) == v3)
      // expire up to v3: the superseded pre-compact files are
      // reclaimed, everything v3 references survives, serve unchanged
      val removed = Snapshots.expire(s, bands, keepFrom = v3)
      assert(removed >= nRewritten,
        s"expire reclaimed $removed files, expected >= $nRewritten")
      assert(Snapshots.versions(s, bands) == Seq(v3))
      assert(served(v3) == r2, "v3 serve changed after expire")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("mergeCommit: partition-local merge — untouched buckets carry verbatim") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("merge_part").toString
    try {
      val dir = s"$staging/data"
      // 4 buckets, b = id / 10: b0={1,2}, b1={11}, b2={21,22}, b3={31}
      val v1 = SnapshotTable.saveCommit(s,
        Seq((1L, 100L, 0), (2L, 200L, 0), (11L, 110L, 1),
            (21L, 210L, 2), (22L, 220L, 2), (31L, 310L, 3))
          .toDF("id", "v", "b").repartition(col("b")),
        dir, Seq("b"))
      def filesIn(v: Int, b: Int) = Snapshots.files(s, dir, v)
        .filter(_.contains(s"/b=$b/")).toSet
      def rows(v: Int) = SnapshotTable.readAsOf(s, dir, v, "id")
        .as[(Long, Long, Int)].collect().toSet
      // update id=1 (touches b0), delete id=11 (b1 empties), insert
      // id=41 into b3; b2 is untouched
      val v2 = SnapshotTable.mergeCommit(s, dir, Seq("b"), "id",
        Seq((1L, 101L, 0), (41L, 410L, 3)).toDF("id", "v", "b"),
        Some(Seq((11L, 1)).toDF("id", "b")))
      assert(v2 == v1 + 1, s"the merge did not commit one version: v$v2")
      // locality: b2's manifested files carry over by name — a
      // table-wide rewrite would replace every file
      assert(filesIn(v1, 2).nonEmpty && filesIn(v2, 2) == filesIn(v1, 2),
        "the untouched bucket was rewritten — no merge locality")
      assert(filesIn(v2, 0) != filesIn(v1, 0) &&
        filesIn(v2, 3) != filesIn(v1, 3), "a touched bucket was not rewritten")
      // the emptied bucket drops out of the new manifest
      assert(filesIn(v2, 1).isEmpty, "emptied partition b=1 still has files")
      assert(rows(v2) === Set((1L, 101L, 0), (2L, 200L, 0),
        (21L, 210L, 2), (22L, 220L, 2), (31L, 310L, 3), (41L, 410L, 3)),
        s"merged rows wrong: ${rows(v2)}")
      // a second merge: update id=2 (b0), insert id=51 (b5, a new
      // bucket); b2 and b3 again carry over unchanged
      val v3 = SnapshotTable.mergeCommit(s, dir, Seq("b"), "id",
        Seq((2L, 201L, 0), (51L, 510L, 5)).toDF("id", "v", "b"))
      assert(filesIn(v3, 2) == filesIn(v2, 2) &&
        filesIn(v3, 3) == filesIn(v2, 3), "the merge rewrote an untouched bucket")
      assert(rows(v3) === Set((1L, 101L, 0), (2L, 201L, 0),
        (21L, 210L, 2), (22L, 220L, 2), (31L, 310L, 3), (41L, 410L, 3),
        (51L, 510L, 5)), s"second merge wrong: ${rows(v3)}")
      // older versions still read their own rows
      assert(rows(v1).size == 6 && rows(v1).contains((11L, 110L, 1)))
      // no change rows: nothing commits
      assert(SnapshotTable.mergeCommit(s, dir, Seq("b"), "id",
        Seq.empty[(Long, Long, Int)].toDF("id", "v", "b")) == v3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("compactIfFragmented: only over-threshold partitions rewritten, " +
      "rows identical, file growth capped") {
    val s = spark
    import s.implicits._
    val staging = java.nio.file.Files.createTempDirectory("autocompact").toString
    try {
      val dir = s"$staging/data"
      def append(rows: Seq[(Long, Long, Int)]): Unit =
        rows.toDF("id", "v", "b").repartition(col("b"))
          .write.mode("append").partitionBy("b").parquet(dir)
      // b=0 accumulates 3 files (fragmented); b=1 stays at 2 (under)
      append(Seq((1L, 10L, 0), (101L, 11L, 1)))
      append(Seq((2L, 20L, 0), (102L, 21L, 1)))
      append(Seq((3L, 30L, 0)))
      val conf = s.sparkContext.hadoopConfiguration
      def files() = graft.Fs.listDataFiles(dir, conf)
        .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime))
        .toMap
      val before = files()
      assert(before.keys.count(_.contains("b=0")) == 3 &&
        before.keys.count(_.contains("b=1")) == 2, s"fixture rot: $before")
      import graft.plans.{SnapshotTable, Snapshots}
      val v1 = Snapshots.commit(s, dir)
      val v2 = SnapshotTable.compactCommit(s, dir, maxFiles = 2,
        partitionCols = Seq("b"))
      def partOf(p: String) = p.split('/').filter(_.startsWith("b=")).toSeq
      val n = (Snapshots.files(s, dir, v2).toSet --
        Snapshots.files(s, dir, v1)).map(partOf).size
      assert(v2 == v1 + 1 && n == 1, s"expected 1 partition rewritten, got $n")
      val after = files()
      val live = Snapshots.files(s, dir, v2)
        .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
      // the fragmented partition collapsed to one file...
      assert(live.count(_.contains("b=0")) == 1,
        s"b=0 not compacted: ${live.filter(_.contains("b=0"))}")
      // ...the under-threshold partition carries over byte-identical
      val b1 = after.keys.filter(_.contains("b=1"))
      assert(b1.size == 2 && b1.forall(p => before.get(p) == after.get(p)) &&
        live.count(_.contains("b=1")) == 2 &&
        b1.forall(p => live.contains(
          new org.apache.hadoop.fs.Path(p).toUri.getPath)),
        "under-threshold partition was rewritten")
      val got = Snapshots.read(s, dir, v2).as[(Long, Long, Int)]
        .collect().toSet
      assert(got === Set((1L, 10L, 0), (2L, 20L, 0), (3L, 30L, 0),
        (101L, 11L, 1), (102L, 21L, 1)), s"rows changed: $got")
      // idempotent: nothing left over threshold
      assert(SnapshotTable.compactCommit(s, dir, maxFiles = 2,
        partitionCols = Seq("b")) == v2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("mergeCommit refuses non-integral partition columns (Hive path escaping)") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("merge_guard").toString
    try {
      val dir = s"$staging/data"
      SnapshotTable.saveCommit(s,
        Seq((1L, "a x"), (2L, "b%2"), (3L, "a x")).toDF("id", "part"),
        dir, Seq("part"))
      val err = intercept[IllegalArgumentException] {
        SnapshotTable.mergeCommit(s, dir, Seq("part"), "id",
          Seq((4L, "a x")).toDF("id", "part"),
          Some(Seq((1L, "a x")).toDF("id", "part")))
      }
      // string partition values are Hive path-escaped on disk; the
      // merge matches touched dirs as raw "$c=$v" segments, so the
      // guard must refuse before anything lands or commits
      assert(err.getMessage.contains("integral"))
      assert(Snapshots.versions(s, dir) == Seq(1),
        "guard must refuse BEFORE committing a version")
      assert(SnapshotTable.readAsOf(s, dir, 1, "id").count() == 3,
        "guard must refuse BEFORE mutating the layout")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("IVF index delete: only touched cid partitions rewritten, serve equals fresh survivors") {
    val s = spark
    import graft.plans.Snapshots
    val staging = java.nio.file.Files.createTempDirectory("ivf_del").toString
    try {
      s.read.parquet(s"$sf/embeddings.parquet")
        .write.parquet(s"$staging/embeddings.parquet")
      val src = s"$staging/idx"
      val idx = graft.plans.IvfTopK.registerIndex(s, staging, Some(src))
      val conf = s.sparkContext.hadoopConfiguration
      val (hfs, _) = graft.Fs.resolve(idx.assignPath, conf)
      def files(v: Int) = Snapshots.files(s, idx.assignPath, v)
        .filterNot(_.contains("/deletes/")).map { p =>
          val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
          p -> (st.getLen, st.getModificationTime)
        }.toMap
      val assign = Snapshots.read(s, idx.assignPath, 1)
      assume(assign.select(col("cid")).distinct().count() >= 2,
        "locality needs >= 2 cells")
      // delete a handful of vectors from ONE cell (not query vec 0),
      // so locality is provable: other cells' files must survive
      val someCid = assign.where(col("vec_id") =!= 0)
        .select(col("cid")).head().getInt(0)
      val delIds = assign
        .where(col("cid") === someCid && col("vec_id") =!= 0)
        .select(col("vec_id")).limit(3)
        .collect().map(_.getLong(0))
      import s.implicits._
      val v2 = graft.plans.IvfTopK.deleteCommit(s, src,
        delIds.toSeq.toDF("vec_id"))
      val before = files(v2)
      val v3 = graft.plans.IvfTopK.purgeCommit(s, src)
      assert(delIds.nonEmpty && v3 == v2 + 1)
      val after = files(v3)
      assert(after.count { case (p, m) => before.get(p).contains(m) } > 0,
        "every cid partition was rewritten — no delete locality")
      assert(Snapshots.read(s, idx.assignPath, v3)
        .where(col("vec_id").isin(delIds.map(Long.box): _*)).count() == 0,
        "the purge kept a deleted vector's row")
      val served = graft.plans.IvfTopK.serveTopK(s, src)
        .collect().map(r => r.getLong(0)).toSet
      assert(served.nonEmpty && (served & delIds.toSet).isEmpty,
        s"deleted vectors still served: ${served & delIds.toSet}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("Z-order delete: only touched zbuckets rewritten, serve equals direct scan on survivors") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("zorder_del").toString
    try {
      val rows = Tables.events(s, sf).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      val src = s"$staging/layout"
      val h = graft.plans.ZOrderLayout.save(s, rows, src)
      val conf = s.sparkContext.hadoopConfiguration
      val (hfs, _) = graft.Fs.resolve(h.dataPath, conf)
      def files(v: Int) = graft.plans.Snapshots.files(s, h.dataPath, v)
        .filterNot(_.contains("/deletes/")).map { p =>
          val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
          p -> (st.getLen, st.getModificationTime)
        }.toMap
      val delIds = rows.where(col("user_id") === 3).select(col("event_id"))
      assert(delIds.count() > 0, "fixture rot: nothing to delete")
      val v2 = graft.plans.ZOrderLayout.deleteCommit(s, src, delIds)
      val before = files(v2)
      val v3 = graft.plans.ZOrderLayout.purgeCommit(s, src)
      assert(v3 == v2 + 1)
      val after = files(v3)
      assert(after.count { case (p, m) => before.get(p).contains(m) } > 0,
        "every zbucket was rewritten — no delete locality")
      val served = graft.plans.ZOrderLayout.serve(s, h, 0L, Long.MaxValue,
          Double.MinValue, Double.MaxValue)
        .select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      val direct = rows.where(col("user_id") =!= 3)
        .select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      assert(served == direct && served.nonEmpty,
        "post-delete layout diverges from the survivors scan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("MinHash index compaction: fewer files, identical serve, one file per band") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("lsh_compact").toString
    try {
      val docs = Tables.documents(s, sf)
      val resident = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      val probe = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val src = s"$staging/idx"
      // base + two appends: each append adds one small file per band —
      // the accumulation compaction exists to undo
      import graft.plans.{MinHashIndex, Snapshots}
      MinHashIndex.save(s,
        resident.where(col("doc_id") % 3 === 1), s"$sf/documents.parquet", src)
      MinHashIndex.appendCommitRetrying(s, src,
        resident.where(col("doc_id") % 3 === 2))
      val (v3, _) = MinHashIndex.appendCommitRetrying(s, src,
        resident.where(col("doc_id") % 3 === 0))
      val bands = s"$src/bands"
      val nIn = Snapshots.files(s, bands, v3).size
      def served() = MinHashIndex.serve(s, MinHashIndex.load(s, src), probe)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val before = served()
      val v4 = MinHashIndex.purgeCommit(s, src)
      val nOut = Snapshots.files(s, bands, v4).size
      assert(nOut < nIn,
        s"compaction did not shrink the file count ($nIn -> $nOut)")
      assert(before.nonEmpty && served() == before,
        "compacted index diverges from the pre-compaction serve")
      // the rewrite leaves one file per band_id directory, and the
      // serve reads exactly those
      assert(nOut == operators.Dedup.Bands,
        s"compaction left $nOut files, want one per band")
      assertServeReadsVersionFiles(src, MinHashIndex.localize(s, probe))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 index compaction: fewer files, identical serve, pruning preserved") {
    val s = spark
    import graft.plans.{Bm25Index, Snapshots}
    val staging = java.nio.file.Files.createTempDirectory("bm25_compact").toString
    try {
      val docs = Tables.documents(s, sf)
      // private corpus copy: save indexes a sfDir's documents table
      docs.where(col("doc_id") % 3 === 0)
        .write.parquet(s"$staging/corpus/documents.parquet")
      val src = s"$staging/idx"
      Bm25Index.save(s, s"$staging/corpus", src)
      Bm25Index.appendCommitRetrying(s, src, docs.where(col("doc_id") % 3 === 1))
      val (vIn, _) = Bm25Index.appendCommitRetrying(s, src,
        docs.where(col("doc_id") % 3 === 2))
      val base = graft.plans.IvfTopK.qualify(s, src)
      def postings(v: Int) = Snapshots.files(s, base, v)
        .filter(_.contains("/postings/"))
      val vOut = Bm25Index.purgeCommit(s, src)
      val (nIn, nOut) = (postings(vIn).size, postings(vOut).size)
      assert(nOut < nIn,
        s"compaction did not shrink the postings file count ($nIn -> $nOut)")
      def servedAsOf(v: Int) = Bm25Index.serveAsOf(s, src, v,
          operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      val before = servedAsOf(vIn)
      assert(before.nonEmpty && servedAsOf(vOut) == before,
        "compacted BM25 index diverges from the pre-compaction serve")
      val plan = Bm25Index.serve(s, Bm25Index.load(s, src),
          operators.TextAnalysis.Bm25QueryTerms)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("tbucket"),
        s"pruning lost after compaction:\n${plan.take(1200)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("IVF index compaction: fewer files, identical serve, pruning preserved") {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    try {
      // private embeddings copy: append mutates the registry's
      // assignment for its embeddings path, which must not be the
      // shared sf index other tests serve from
      s.read.parquet(s"$sf/embeddings.parquet")
        .write.parquet(s"$staging/embeddings.parquet")
      val src = s"$staging/idx"
      val idx = graft.plans.IvfTopK.registerIndex(s, staging, Some(src))
      def twin(off: Long) = s.read.parquet(s"$staging/embeddings.parquet")
        .where(col("vec_id").between(1, 8))
        .withColumn("vec_id", col("vec_id") + off)
      graft.plans.IvfTopK.appendCommit(s, src, twin(1000000L))
      val v3 = graft.plans.IvfTopK.appendCommit(s, src, twin(2000000L))
      val nIn = graft.plans.Snapshots.files(s, idx.assignPath, v3).size
      def served() = graft.plans.IvfTopK.serveTopK(s, src)
        .collect().map(_.toString).toSeq
      val before = served()
      val v4 = graft.plans.IvfTopK.purgeCommit(s, src, maxFiles = 1)
      val nOut = graft.plans.Snapshots.files(s, idx.assignPath, v4).size
      assert(v4 == v3 + 1 && nOut < nIn,
        s"compaction did not shrink the assignment file count ($nIn -> $nOut)")
      assert(before.nonEmpty && served() == before,
        "compacted IVF index diverges from the pre-compaction serve")
      val plan = graft.plans.IvfTopK.serveTopK(s, src)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("cid"),
        s"pruning lost after compaction:\n${plan.take(1200)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
    }
  }

  test("BM25 index append: half-corpus index + append equals the full-corpus index") {
    // the incremental-maintenance contract: index(first half) then
    // append(second half) must serve the SAME scores as the fresh
    // full-corpus computation — df merges, stats sums, postings append
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("bm25_half").toString
    val dir = java.nio.file.Files.createTempDirectory("bm25_appidx").toString
    try {
      val docs = Tables.documents(s, sf)
      docs.where(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      graft.plans.Bm25Index.save(s, tmp, dir)
      val committed = graft.plans.Bm25Index.appendCommitRetrying(s, dir,
        docs.where(col("doc_id") % 2 === 1))
      assert(committed === (2, 0))
      val served = graft.plans.Bm25Index.serve(s,
        graft.plans.Bm25Index.load(s, dir),
        operators.TextAnalysis.Bm25QueryTerms)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      val fresh = operators.TextAnalysis.bm25Agg(s, sf)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      assert(served == fresh,
        "appended index diverges from the fresh full-corpus scores")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("PQ index append: twin vectors encode to the resident vectors' exact codes") {
    // append encodes under the SAVED codebooks with pqTrain's exact
    // assignment arithmetic — a twin of a resident vector (same
    // embedding, fresh id) must land on the identical packed code
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("pq_appidx").toString
    try {
      graft.plans.PqIndex.save(s, sf, dir)
      val twins = Tables.embeddings(s, sf)
        .where(col("vec_id").between(1, 5))
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val h = graft.plans.PqIndex.load(s, dir)
      val v = graft.plans.PqIndex.appendCommit(s, dir, twins)
      assert(v === 2)
      assert(graft.plans.Snapshots.readIncremental(s, h.codesPath, 1, v)
        .count() === 5L)
      val codes = graft.plans.Snapshots.read(s, h.codesPath, v)
      val orig = codes.where(col("vec_id").between(1, 5))
        .select(col("vec_id"), col("pq_code_lo"), col("pq_code_hi"))
      val appended = codes.where(col("vec_id") > 100000L)
        .select((col("vec_id") - 100000L).as("vec_id"),
          col("pq_code_lo").as("lo2"), col("pq_code_hi").as("hi2"))
      val diverged = orig.join(appended, Seq("vec_id"), "full_outer")
        .where(col("pq_code_lo").isNull || col("lo2").isNull ||
          col("pq_code_lo") =!= col("lo2") ||
          col("pq_code_hi") =!= col("hi2")).count()
      assert(diverged === 0L,
        "appended twin codes diverge from the resident encoding")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q76 chunk contract: exactly the same-or-adjacent-rank-chunk pairs, once each") {
    val s = spark
    import s.implicits._
    // sweep (n, cap) shapes: under-cap (exact quadratic), just-over,
    // tiny chunks, many chunks — against a driver-side reference model
    for ((n, cap) <- Seq((40, 64), (100, 16), (60, 7), (200, 64))) {
      val assigned = s.range(n.toLong).select(
        (col("id") % 3).cast("int").as("cid"),
        col("id").as("vec_id"),
        array(lit(1.0f)).as("embedding"),
        pmod(col("id") * 37 + 11, lit(97)).cast("double").as("dist"))
      val pairs = operators.Similarity.cellBoundedCandidates(assigned, cap)
        .select($"vec_a", $"vec_b").as[(Long, Long)].collect()
      assert(pairs.length === pairs.toSet.size,
        s"duplicate candidate pairs at n=$n cap=$cap")
      val rows = assigned.select($"cid", $"vec_id", $"dist")
        .as[(Int, Long, Double)].collect()
      val expected = rows.groupBy(_._1).values.flatMap { cell =>
        val ranked = cell.toSeq.sortBy(r => (r._3, r._2)).zipWithIndex
          .map { case ((_, id, _), i) => (id, i / cap) }
        for {
          (a, ca) <- ranked; (b, cb) <- ranked
          if a < b && math.abs(ca - cb) <= 1
        } yield (a, b)
      }.toSet
      assert(pairs.toSet === expected, s"candidate set mismatch at n=$n cap=$cap")
    }
  }

  test("IVF append: duplicate vec_ids append as-is and the count equals rows written") {
    val s = spark
    // private copy of the embeddings table — the shared index built on
    // the real sf dir must stay untouched by this append
    val tmp = Files.createTempDirectory("ivf-append").toString
    s.read.parquet(s"$sf/embeddings.parquet")
      .write.parquet(s"$tmp/embeddings.parquet")
    val idx = graft.plans.IvfTopK.registerIndex(s, tmp)
    val twin = s.read.parquet(s"$tmp/embeddings.parquet")
      .where(col("vec_id") === 1)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    // a batch with the same vec_id twice: both rows are appended (id
    // uniqueness is the caller's contract) and the returned count is
    // the rows actually written — not a silently-collapsed estimate
    val v = graft.plans.IvfTopK.appendCommit(s,
      new org.apache.hadoop.fs.Path(idx.assignPath).getParent.toString,
      twin.unionByName(twin))
    val landed = graft.plans.Snapshots.readIncremental(s, idx.assignPath, 1, v)
    assert(landed.count() === 2, s"append landed ${landed.count()} rows, want 2")
    val appended = graft.plans.Snapshots.read(s, idx.assignPath, v)
      .where(col("vec_id") === 1000001L)
    assert(appended.count() === 2, "duplicate-id rows were collapsed")
    assert(appended.select(col("cid")).distinct().count() === 1,
      "identical vectors landed in different cells")
  }

  test("IVF top-k pushdown: flag-gated rewrite swaps the scan for probed cells") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    val idx = graft.plans.IvfTopK.registerIndex(s, sf)
    val q0 = s.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0)
    val litSql = q0.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")")
    val analyzed = s.sql(
      s"""SELECT vec_id, graft_cosine(embedding, $litSql) AS cos
         |FROM parquet.`$sf/embeddings.parquet`
         |WHERE vec_id <> 0
         |ORDER BY cos DESC LIMIT 10""".stripMargin)
      .queryExecution.analyzed
    // opt-in contract: without the flag the rule is an exact no-op
    // (it changes results, so it may never fire silently)
    assert(graft.plans.IvfTopKRewrite(analyzed).toString === analyzed.toString,
      "rewrite fired without spark.graft.ivfTopK=true")
    s.conf.set("spark.graft.ivfTopK", "true")
    try {
      val rewritten = graft.plans.IvfTopKRewrite(analyzed).toString
      // the swapped-in assignment scan is recognizable by its cid
      // partition column; the IN-list is the probe set
      val in = "cid#\\d+ IN \\(([0-9,]+)\\)".r.findFirstMatchIn(rewritten)
      assert(in.isDefined, s"no probed-cell filter in:\n${rewritten.take(1200)}")
      val cells = in.get.group(1).split(",").length
      assert(cells <= operators.Similarity.NProbe,
        s"rewrite probes $cells cells > NProbe")
      // Sort + Limit survive (Spark still plans TakeOrderedAndProject)
      assert(rewritten.contains("GlobalLimit") && rewritten.contains("Sort"))
    } finally s.conf.set("spark.graft.ivfTopK", "false")
  }

  test("IVF index save/load round-trip re-registers without retraining") {
    val s = spark
    val dir = Files.createTempDirectory("ivf_idx").toString
    graft.plans.IvfTopK.clear()
    val built = graft.plans.IvfTopK.registerIndex(s, sf, Some(dir))
    graft.plans.IvfTopK.clear()
    val loaded = graft.plans.IvfTopK.load(s, dir)
    assert(loaded.embPath === built.embPath)
    assert(loaded.centroids.map(_._1).toSeq === built.centroids.map(_._1).toSeq)
    assert(loaded.centroids.zip(built.centroids).forall {
      case ((_, a), (_, b)) => a.sameElements(b)
    }, "centroid vectors differ after reload")
    // probe parity: the loaded index picks the same cells
    val q = built.centroids.head._2
    assert(loaded.probe(q) === built.probe(q))
    // the persisted assignment covers the whole corpus
    val n = s.read.parquet(s"$sf/embeddings.parquet").count()
    assert(s.read.parquet(loaded.assignPath).count() === n)
  }

  test("q31 skew guard: a mega-bucket band key salts to bounded tasks, set-identical") {
    val s = spark
    import s.implicits._
    // adversarial boilerplate case: 400 docs share ONE band key (plus
    // a 20-doc cold bucket that must keep the plain path and never
    // cross-pair with the hot one). Unsalted, the hot bucket is an
    // 79 800-pair quadratic in a single task.
    val n = 400
    val coldN = 20
    val groups = 8
    val threshold = 50
    val keyed = s.range(n.toLong)
      .select(col("id").as("doc_id"), lit(1L).as("bk0"))
      .union(s.range(1000L, 1000L + coldN)
        .select(col("id").as("doc_id"), lit(2L).as("bk0")))
    val left = keyed.toDF("doc_a", "a0")
    val right = keyed.toDF("doc_b", "b0")
    val got = operators.Dedup
      .saltedBandPairs(left, right, 0, lit(true), threshold, groups)
      .as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "duplicate pairs from the salting")
    val hotIds = (0L until n).toSeq
    val coldIds = (1000L until 1000L + coldN).toSeq
    val expected = (for {
      bucket <- Seq(hotIds, coldIds)
      a <- bucket; b <- bucket if a < b
    } yield (a, b)).toSet
    assert(got.toSet === expected, "salted pair set differs from the plain join's")
    // the task bound: a pair lands in the equi-task keyed by
    // (band_key, glo, ghi) of its members' crc32-derived groups —
    // recompute the assignment driver-side and assert no task exceeds
    // the ~(bucket/groups)² design bound, far under the quadratic
    def grp(id: Long): Int = {
      val c = new java.util.zip.CRC32
      c.update(id.toString.getBytes("UTF-8"))
      (c.getValue % groups).toInt
    }
    val taskPairs = (for { a <- hotIds; b <- hotIds if a < b } yield {
      val (ga, gb) = (grp(a), grp(b))
      (math.min(ga, gb), math.max(ga, gb))
    }).groupBy(identity).map(_._2.size)
    val perGroup = math.ceil(n.toDouble / groups)
    val bound = (2 * perGroup * perGroup).toLong
    assert(taskPairs.max <= bound,
      s"worst task holds ${taskPairs.max} pairs, bound $bound")
    assert(taskPairs.max < n.toLong * (n - 1) / 2 / 4,
      "salting gave no meaningful reduction vs the single-task quadratic")
  }

  test("q98 chunk skew guard: salted chunk-band pairs equal the plain join, payload intact") {
    // the generic saltedKeyedPairs carries ALL side columns (q98's
    // chunk ids + signatures) — assert exact pair-set identity
    // against the plain join INCLUDING the payload, on a hot-band
    // fixture salted by the (doc, chunk) row identity
    val s = spark
    import s.implicits._
    val rows = (0L until 60L).map(i => (i / 4, i % 4, s"sig$i", 7L)) ++
      (1000L until 1010L).map(i => (i, 0L, s"sig$i", 9L))
    val ch = rows.toDF("doc_id", "chunk_idx", "sig", "bk0")
    def side(p: String) = ch.select(
      col("doc_id").as(s"doc_$p"), col("chunk_idx").as(s"chunk_$p"),
      col("sig").as(s"sig_$p"), col("bk0").as(s"${p}k0"))
    val a = side("a")
    val b = side("b")
    val crossDoc = col("doc_a") < col("doc_b")
    def salt(p: String) = pmod(crc32(concat_ws(":",
      col(s"doc_$p"), col(s"chunk_$p"))), lit(4))
    val plain = a.join(b, col("ak0") === col("bk0") && crossDoc)
      .select($"doc_a", $"chunk_a", $"sig_a", $"doc_b", $"chunk_b", $"sig_b")
      .as[(Long, Long, String, Long, Long, String)].collect().toSet
    val salted = operators.Dedup
      .saltedKeyedPairs(a, b, "ak0", "bk0", salt("a"), salt("b"),
        crossDoc, threshold = 10, groups = 4)
      .select($"doc_a", $"chunk_a", $"sig_a", $"doc_b", $"chunk_b", $"sig_b")
      .as[(Long, Long, String, Long, Long, String)].collect()
    assert(salted.length === salted.toSet.size,
      "duplicate chunk pairs from the salting")
    assert(salted.toSet === plain,
      "salted chunk pair set differs from the plain join's")
  }

  test("q31 skew guard shape sweep: salted pairs equal the plain join on every bucket profile") {
    val s = spark
    import s.implicits._
    // (ids per bucket-profile, threshold, groups): all-hot (threshold
    // 0), groups larger than any bucket, many small hot buckets, and
    // a mixed profile — the salting must be pure partitioning (exact
    // pair-set identity) in every shape, not just the mega-bucket
    for ((profile, threshold, groups) <- Seq(
        (Seq(30, 25), 0, 4), // every bucket hot
        (Seq(12, 9), 5, 64), // groups >> bucket size
        (Seq(20, 20, 20, 20), 10, 3), // many hot buckets, few groups
        (Seq(80, 3, 1), 40, 8))) { // hot + cold + singleton
      val rows = profile.zipWithIndex.flatMap { case (m, b) =>
        (0 until m).map(i => (b * 1000L + i, b.toLong + 1))
      }
      val keyed = rows.toDF("doc_id", "bk0")
      val left = keyed.toDF("doc_a", "a0")
      val right = keyed.toDF("doc_b", "b0")
      val got = operators.Dedup
        .saltedBandPairs(left, right, 0, lit(true), threshold, groups)
        .as[(Long, Long)].collect()
      val expected = rows.groupBy(_._2).values.flatMap { bucket =>
        val ids = bucket.map(_._1)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
      assert(got.length === got.toSet.size,
        s"duplicates at profile=$profile t=$threshold g=$groups")
      assert(got.toSet === expected,
        s"pair-set mismatch at profile=$profile t=$threshold g=$groups")
    }
  }

  test("corpus-table delete: tombstone commit rewrites nothing, purge " +
      "touches only files holding tombstoned rows, guards refuse " +
      "double-delete / non-resident / re-ingest / partitioned tables") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("tbl_delete").toString
    try {
      val dir = s"$staging/corpus"
      // 8 doc_id-clustered files so the delete (all ids ≡ 0 mod 7 in
      // one hash bucket? no — hash spray) touches SOME but not all
      val docs = Tables.documents(s, sf)
        .select(col("doc_id"), col("text"), col("n_chars"))
      // range-partition by doc_id so tombstones have file locality
      // and the purge's "touched files only" claim is non-vacuous
      val v1 = SnapshotTable.saveCommit(s,
        docs.repartitionByRange(8, col("doc_id")), dir)
      val conf = s.sparkContext.hadoopConfiguration
      val (hfs, _) = graft.Fs.resolve(dir, conf)
      def meta(v: Int) = Snapshots.files(s, dir, v).map { p =>
        val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
        p -> (st.getLen, st.getModificationTime)
      }.toMap
      val v1Meta = meta(v1)
      // delete a doc_id-range slice: resident in few files
      val lo = docs.agg(min(col("doc_id"))).head().getLong(0)
      val dels = docs.where(col("doc_id").between(lo, lo + 20))
        .select(col("doc_id"))
      val v2 = SnapshotTable.deleteCommit(s, dir, dels, "doc_id")
      // merge-on-read: nothing rewritten — every v1 file byte-identical
      assert(meta(v1) == v1Meta, "delete commit mutated v1 files")
      // double delete refuses
      assert(intercept[IllegalArgumentException](
        SnapshotTable.deleteCommit(s, dir, dels.limit(1), "doc_id"))
        .getMessage.contains("already tombstoned"))
      // non-resident refuses
      assert(intercept[IllegalArgumentException](
        SnapshotTable.deleteCommit(s, dir,
          Seq(-99999L).toDF("doc_id"), "doc_id"))
        .getMessage.contains("not residents"))
      // re-ingest of a tombstoned id refuses until purged
      assert(intercept[IllegalArgumentException](
        SnapshotTable.appendCommit(s, dir,
          docs.where(col("doc_id") === lo), "doc_id"))
        .getMessage.contains("tombstoned"))
      val v2Data = Snapshots.files(s, dir, v2)
        .filterNot(_.contains("/deletes/")).toSet
      val v3 = SnapshotTable.purgeCommit(s, dir, "doc_id")
      // locality: untouched files carry VERBATIM into v3 (same paths)
      val v3Files = Snapshots.files(s, dir, v3).toSet
      val carried = v2Data.intersect(v3Files)
      val rewritten = v2Data -- v3Files
      assert(rewritten.nonEmpty && rewritten.size < v2Data.size,
        s"purge rewrote ${rewritten.size} of ${v2Data.size} files — " +
          "expected only the tombstone-holding subset")
      assert(carried.nonEmpty, "no file carried verbatim through purge")
      assert(!v3Files.exists(_.contains("/deletes/")),
        "v3 still references the tombstone list")
      // physical: v3 rows ≡ v2 merge-on-read rows
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").as[Long].collect().sorted.toSeq
      assert(ids(SnapshotTable.readAsOf(s, dir, v3, "doc_id")) ==
        ids(SnapshotTable.readAsOf(s, dir, v2, "doc_id")))
      // v1 time travel still sees the deleted rows
      assert(ids(SnapshotTable.readAsOf(s, dir, v1, "doc_id")) ==
        ids(docs))
      // post-purge the id is re-ingestable — and the append must
      // commit v3's SELECTION plus the new batch only: a disk-listing
      // commit would re-sweep the purged pre-v3 files (duplicating
      // every survivor row of each rewritten file) and the dropped
      // tombstone list (anti-joining away the freshly re-ingested id)
      val v4 = SnapshotTable.appendCommit(s, dir,
        docs.where(col("doc_id") === lo), "doc_id")
      val v4Ids = ids(SnapshotTable.readAsOf(s, dir, v4, "doc_id"))
      assert(v4Ids ==
        (ids(SnapshotTable.readAsOf(s, dir, v3, "doc_id")) :+ lo).sorted,
        "v4 must be exactly v3's survivors plus the re-ingested id — " +
          "no duplicates, no re-tombstoned ids")
      assert(!Snapshots.files(s, dir, v4).exists(_.contains("/deletes/")),
        "the post-purge append re-pinned the dropped tombstone list")
      // partitioned tables refuse the generic flat lifecycle
      val pdir = s"$staging/part"
      Seq((1L, 0), (2L, 1)).toDF("doc_id", "b")
        .write.partitionBy("b").parquet(pdir)
      Snapshots.commit(s, pdir)
      assert(intercept[IllegalArgumentException](
        SnapshotTable.deleteCommit(s, pdir, Seq(1L).toDF("doc_id"),
          "doc_id"))
        .getMessage.contains("hive-partitioned"))
      // ...but a key=value segment in the table's own ANCESTRY is the
      // caller's directory naming, not a partition layout — the
      // refusal inspects dataDir-relative segments only
      val adir = s"$staging/run=3/corpus"
      SnapshotTable.saveCommit(s,
        Seq((1L, "a"), (2L, "b")).toDF("doc_id", "t"), adir)
      SnapshotTable.deleteCommit(s, adir, Seq(1L).toDF("doc_id"), "doc_id")
      assert(ids(SnapshotTable.readAsOf(s, adir,
        Snapshots.current(s, adir).get, "doc_id")) == Seq(2L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("file stats: recordFor scans only uncovered files, pruning drops " +
      "non-intersecting files, unknown files stay, answers stay exact") {
    val s = spark
    import s.implicits._
    import graft.plans.{FileStats, Snapshots}
    val staging = Files.createTempDirectory("filestats").toString
    try {
      val dir = s"$staging/data"
      val rows = Tables.events(s, sf).select(col("event_id"), col("ts"),
        col("event_type"), col("value"))
      rows.where(col("event_id") % 2 === 0)
        .repartitionByRange(12, col("ts")).sortWithinPartitions(col("ts"))
        .write.mode("append").parquet(dir)
      val v1 = Snapshots.commit(s, dir)
      val n1 = FileStats.recordFor(s, dir, v1, Seq("ts", "value"))
      assert(n1 == Snapshots.files(s, dir, v1).size,
        "first record must cover every file")
      // an ingest batch lands; the second record call must scan ONLY
      // the new files — O(new), never the resident table
      rows.where(col("event_id") % 2 === 1)
        .repartitionByRange(3, col("ts")).sortWithinPartitions(col("ts"))
        .write.mode("append").parquet(dir)
      val v2 = Snapshots.commit(s, dir)
      val n2 = FileStats.recordFor(s, dir, v2, Seq("ts", "value"))
      assert(n2 == Snapshots.files(s, dir, v2).size - n1,
        s"incremental record covered $n2 files, expected only the new ones")
      assert(FileStats.recordFor(s, dir, v2, Seq("ts", "value")) == 0,
        "a no-op record call must scan nothing")
      // pruning on the timestamp lane: a 3-day band of a 30-day table
      // clustered into 15 range files must drop most of them
      val b = s.sql(
        "SELECT unix_micros(TIMESTAMP'2024-01-10 00:00:00'), " +
          "unix_micros(TIMESTAMP'2024-01-13 00:00:00')").head()
      val all = Snapshots.files(s, dir, v2).size
      val kept = FileStats.prunedFiles(s, dir, v2, "ts",
        b.getLong(0), b.getLong(1))
      assert(kept.nonEmpty && kept.size < all,
        s"ts-band pruning kept ${kept.size} of $all files")
      // exactness: pruned read + exact predicate ≡ full scan + predicate
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id")
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      val pred = (df: org.apache.spark.sql.DataFrame) => df.where(
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-13 00:00:00").cast("timestamp"))
      assert(key(pred(FileStats.readPruned(s, dir, v2, "ts",
          b.getLong(0), b.getLong(1)))) ==
        key(pred(Snapshots.read(s, dir, v2))),
        "stats-pruned read diverges from the full version scan")
      // the double lane prunes too (value is uniform per file here, so
      // only assert safety: full-range keeps everything)
      assert(FileStats.prunedFilesDouble(s, dir, v2, "value",
        Double.MinValue, Double.MaxValue).size == all)
      // conservatism: a file landed WITHOUT a stats row must be kept
      Seq((999999999L, java.sql.Timestamp.valueOf("2024-01-20 00:00:00"),
          "click", 1.0))
        .toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(dir)
      val v3 = Snapshots.commit(s, dir)
      val keptV3 = FileStats.prunedFiles(s, dir, v3, "ts",
        b.getLong(0), b.getLong(1))
      assert(keptV3.size == kept.size + 1,
        "an unknown (stats-less) file must survive pruning")
      // unsupported types refuse loudly instead of rounding bounds
      // (strings gained a truncated-bound lane; decimals stay refused)
      val ddir = s"$staging/dec"
      Seq(1L).toDF("id").select(col("id"),
          col("id").cast("decimal(12,2)").as("amount"))
        .coalesce(1).write.mode("append").parquet(ddir)
      val dv = Snapshots.commit(s, ddir)
      val e = intercept[IllegalArgumentException](
        FileStats.recordFor(s, ddir, dv, Seq("amount")))
      assert(e.getMessage.contains("unsupported type"))
      // stats FOLD at retention: roll back to v1, expire everything
      // else — the odd-slice and manual files die, and the RETENTION
      // PASS ITSELF must fold their rows away (expire calls
      // compactStats; a direct call afterwards is a no-op)
      val v4 = Snapshots.rollback(s, dir, 1)
      Snapshots.expireKeeping(s, dir, keepLast = 1)
      assert(FileStats.compactStats(s, dir) == 0L,
        "expire left dead stats rows — the retention fold didn't run")
      val liveRel = Snapshots.files(s, dir, v4)
        .map(_.drop(dir.length + 1)).toSet
      val statFiles = s.read.parquet(s"$dir/_filestats")
        .select("file").distinct()
        .as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet
      assert(statFiles.nonEmpty && statFiles.subsetOf(liveRel),
        "stats rows survive for vacuumed files after the retention fold")
      val keptV4 = FileStats.prunedFiles(s, dir, v4, "ts",
        b.getLong(0), b.getLong(1))
      assert(keptV4.nonEmpty &&
        keptV4.size < Snapshots.files(s, dir, v4).size,
        "pruning regressed after the stats fold")
      assert(key(pred(FileStats.readPruned(s, dir, v4, "ts",
          b.getLong(0), b.getLong(1)))) ==
        key(pred(Snapshots.read(s, dir, v4))),
        "stats-pruned read diverges after the fold")
      assert(FileStats.compactStats(s, dir) == 0L,
        "a second fold with nothing dead must be a no-op")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("table schema evolution + compaction: widening gated, retyping " +
      "and narrowing refused, merge-on-read survives purge and " +
      "compaction on an evolved table, tombstones stay pinned") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("tbl_evolve").toString
    try {
      val dir = s"$staging/corpus"
      val docs = Tables.documents(s, sf).select(col("doc_id"), col("n_chars"))
      SnapshotTable.saveCommit(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 9)
          .repartition(4, col("doc_id")), dir)
      // narrowing refused: a batch missing a current column is a
      // pipeline bug, not evolution
      assert(intercept[IllegalArgumentException](
        SnapshotTable.appendCommit(s, dir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9)
            .select(col("doc_id")), "doc_id"))
        .getMessage.contains("missing current column"))
      // retyping refused
      assert(intercept[IllegalArgumentException](
        SnapshotTable.appendCommit(s, dir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9)
            .withColumn("n_chars", col("n_chars").cast("int")), "doc_id"))
        .getMessage.contains("retyping"))
      // widening gated on the flag, accepted with it
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 9)
        .withColumn("quality", (col("doc_id") % 7).cast("double"))
      assert(intercept[IllegalArgumentException](
        SnapshotTable.appendCommit(s, dir, batch, "doc_id"))
        .getMessage.contains("allowEvolution"))
      val v2 = SnapshotTable.appendCommit(s, dir, batch, "doc_id",
        allowEvolution = true)
      def served(v: Int) = SnapshotTable.readAsOf(s, dir, v, "doc_id")
      assert(served(v2).columns.contains("quality"))
      assert(served(v2).where(col("quality").isNotNull).count() ==
        batch.count(), "quality must exist exactly on the evolved batch")
      // delete + purge on the EVOLVED table: a rewritten pre-evolution
      // file widens to the merged schema; row complement exact
      val dels = docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .select(col("doc_id")).limit(20)
      val v3 = SnapshotTable.deleteCommit(s, dir, dels, "doc_id")
      val v4 = SnapshotTable.purgeCommit(s, dir, "doc_id")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id")
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      assert(ids(served(v4)) == ids(served(v3)),
        "purge must be row-identical to merge-on-read on an evolved table")
      // compaction on a TOMBSTONED evolved table: physical only —
      // delete again, compact, the tombstones stay pinned and
      // merge-on-read is unchanged
      val dels2 = docs.where(pmod(col("doc_id"), lit(10)) === 2)
        .select(col("doc_id")).limit(10)
      val v5 = SnapshotTable.deleteCommit(s, dir, dels2, "doc_id")
      val v6 = SnapshotTable.compactCommit(s, dir, maxFiles = 2)
      assert(Snapshots.files(s, dir, v6)
        .exists(_.contains("/deletes/")),
        "compaction dropped the pinned tombstone list")
      assert(Snapshots.files(s, dir, v6)
        .count(f => !f.contains("/deletes/")) == 2,
        "compaction did not merge to maxFiles data files")
      assert(ids(served(v6)) == ids(served(v5)),
        "compaction changed merge-on-read rows")
      assert(served(v6).where(col("quality").isNotNull).count() ==
        batch.count(), "compaction lost the evolved column's values")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("partitioned-table DML: purge touches only partitions holding " +
      "tombstoned rows, spraying reconstructed, layout mismatches refuse") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("part_dml").toString
    try {
      val dir = s"$staging/events"
      val ev = Tables.events(s, sf)
        .select(col("event_id"), col("ts"), col("event_type"))
        .withColumn("day", to_date(col("ts")))
      val v1 = SnapshotTable.saveCommit(s, ev.repartition(col("day")),
        dir, partitionCols = Seq("day"))
      // delete a 2-day slice: ids resident in exactly 2 of ~30 day dirs
      val dels = ev.where(
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-12 00:00:00").cast("timestamp") &&
          col("event_id") % 2 === 0)
        .select(col("event_id"))
      val v2 = SnapshotTable.deleteCommit(s, dir, dels, "event_id",
        partitionCols = Seq("day"))
      val v2Data = Snapshots.files(s, dir, v2)
        .filterNot(_.contains("/deletes/")).toSet
      val v3 = SnapshotTable.purgeCommit(s, dir, "event_id",
        partitionCols = Seq("day"))
      val v3Files = Snapshots.files(s, dir, v3).toSet
      def dayOf(f: String) = f.split('/').find(_.startsWith("day="))
        .getOrElse(fail(s"no day= segment in $f"))
      // partition-local erasure: every REWRITTEN file (dropped or new)
      // sits in a tombstoned day dir; untouched days carry verbatim
      val tombDays = Set("day=2024-01-10", "day=2024-01-11")
      val dropped = v2Data -- v3Files
      val added = v3Files -- v2Data
      assert(dropped.nonEmpty && added.nonEmpty,
        "purge rewrote nothing — the locality claim is vacuous")
      assert(dropped.forall(f => tombDays(dayOf(f))),
        s"purge dropped files outside the tombstoned days: " +
          (dropped.filterNot(f => tombDays(dayOf(f)))).take(3))
      assert(added.forall(f => tombDays(dayOf(f))),
        "purge re-sprayed survivors outside the tombstoned days — " +
          "the partitionBy reconstruction is broken")
      assert((v2Data -- dropped).subsetOf(v3Files),
        "an untouched partition's file failed to carry verbatim")
      // rows: v3 ≡ v2 merge-on-read; v1 sees everything; partition
      // pruning survives the manifested listing (basePath)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("event_id")
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      assert(ids(SnapshotTable.readAsOf(s, dir, v3, "event_id")) ==
        ids(SnapshotTable.readAsOf(s, dir, v2, "event_id")))
      assert(ids(SnapshotTable.readAsOf(s, dir, v1, "event_id")) ==
        ids(ev))
      val prunedScan = SnapshotTable.readAsOf(s, dir, v3, "event_id")
        .where(col("day") === lit("2024-01-20").cast("date"))
      val scanPlan = prunedScan.queryExecution.executedPlan.toString
      assert(scanPlan.contains("PartitionFilters: [") &&
        scanPlan.contains("day"),
        s"day predicate did not reach the manifested scan as a " +
          s"partition filter:\n${scanPlan.take(1200)}")
      // layout mismatches refuse loudly in both directions
      assert(intercept[IllegalArgumentException](
        SnapshotTable.purgeCommit(s, dir, "event_id"))
        .getMessage.contains("hive-partitioned"))
      assert(intercept[IllegalArgumentException](
        SnapshotTable.deleteCommit(s, dir, dels.limit(1), "event_id",
          partitionCols = Seq("hour")))
        .getMessage.contains("do not match the declared"))
      // a partition column cannot be the delete key
      assert(intercept[IllegalArgumentException](
        SnapshotTable.deleteCommit(s, dir,
          Seq(java.sql.Date.valueOf("2024-01-20")).toDF("day"), "day",
          partitionCols = Seq("day")))
        .getMessage.contains("partition column"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("partitioned-table compaction: fragmented partitions merge to " +
      "one file, untouched partitions carry verbatim, append validates " +
      "the declared layout BEFORE landing anything") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("part_opt").toString
    try {
      val dir = s"$staging/events"
      val ev = Tables.events(s, sf)
        .select(col("event_id"), col("ts"), col("event_type"))
        .withColumn("day", to_date(col("ts")))
      val hot = ev.where(col("day") === lit("2024-01-10").cast("date"))
      val v1 = SnapshotTable.saveCommit(s,
        ev.where(col("day") =!= lit("2024-01-10").cast("date"))
          .repartition(col("day")), dir, partitionCols = Seq("day"))
      // the r17-advice hazard, closed: an append that FORGETS the
      // declaration on a partitioned table must refuse before a single
      // flat file lands in the tree or a version commits
      val e1 = intercept[IllegalArgumentException](
        SnapshotTable.appendCommit(s, dir, hot, "event_id"))
      assert(e1.getMessage.contains("hive-partitioned"))
      assert(Snapshots.current(s, dir).contains(v1),
        "the refused append committed a version")
      assert(!graft.Fs.listDataFiles(dir,
          s.sparkContext.hadoopConfiguration)
        .exists(_.getPath.getParent.getName == new org.apache.hadoop.fs
          .Path(dir).getName),
        "the refused append landed flat files at the table root")
      // ...and a MIS-declared append names both sides
      assert(intercept[IllegalArgumentException](
        SnapshotTable.appendCommit(s, dir, hot, "event_id",
          partitionCols = Seq("hour")))
        .getMessage.contains("do not match the declared"))
      // the ingest cadence this pass exists for: one file per batch
      // per partition — 3 appends into one day = 3 small files there
      val parts = Seq(0, 1, 2).map(i =>
        hot.where(pmod(col("event_id"), lit(3)) === i))
      var v = v1
      for (p <- parts)
        v = SnapshotTable.appendCommit(s, dir, p, "event_id",
          partitionCols = Seq("day"))
      def byDay(w: Int): Map[String, Seq[String]] =
        Snapshots.files(s, dir, w).filterNot(_.contains("/deletes/"))
          .groupBy(f => f.split('/').find(_.startsWith("day="))
            .getOrElse(fail(s"no day= segment in $f")))
      assert(byDay(v)("day=2024-01-10").size == 3,
        "fixture rot: the hot day is not fragmented")
      // tombstones must stay PINNED through the physical pass
      val dels = ev.where(col("event_id") % 97 === 0)
        .select(col("event_id"))
      val vDel = SnapshotTable.deleteCommit(s, dir, dels, "event_id",
        partitionCols = Seq("day"))
      // flat-declared compaction on a partitioned table refuses
      assert(intercept[IllegalArgumentException](
        SnapshotTable.compactCommit(s, dir, maxFiles = 1))
        .getMessage.contains("hive-partitioned"))
      val before = byDay(vDel)
      val vOpt = SnapshotTable.compactCommit(s, dir, maxFiles = 1,
        partitionCols = Seq("day"))
      val after = byDay(vOpt)
      assert(after("day=2024-01-10").size == 1,
        "fragmented partition did not merge to one file")
      for ((d, fs) <- before if d != "day=2024-01-10")
        assert(after(d) == fs,
          s"untouched partition $d did not carry verbatim")
      assert(Snapshots.files(s, dir, vOpt).exists(_.contains("/deletes/")),
        "partitioned compaction dropped the pinned tombstone list")
      // rows identical through the pass (merge-on-read both sides),
      // and older versions keep their own files
      def ids(w: Int) = SnapshotTable.readAsOf(s, dir, w, "event_id")
        .select("event_id")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      assert(ids(vOpt) == ids(vDel),
        "partitioned compaction changed merge-on-read rows")
      assert(byDay(vDel)("day=2024-01-10").size == 3,
        "the pre-compaction version lost its own files")
      // a second pass is a no-op: nothing is fragmented anymore
      assert(SnapshotTable.compactCommit(s, dir, maxFiles = 1,
        partitionCols = Seq("day")) == vOpt)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("partition-level retention: dropPartitionsCommit is a pure " +
      "selection swap — no file touched, older versions keep the " +
      "dropped days, tombstones of dropped rows become purge no-ops") {
    val s = spark
    import s.implicits._
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("part_drop").toString
    try {
      val dir = s"$staging/events"
      val ev = Tables.events(s, sf)
        .select(col("event_id"), col("ts"), col("event_type"))
        .withColumn("day", to_date(col("ts")))
      val v1 = SnapshotTable.saveCommit(s, ev.repartition(col("day")),
        dir, partitionCols = Seq("day"))
      // tombstone a few ids living INSIDE a to-be-dropped day: the
      // drop must leave the pinned list harmless, not corrupt it
      val dels = ev.where(col("day") < lit("2024-01-03").cast("date") &&
        col("event_id") % 5 === 0).select(col("event_id"))
      val v2 = SnapshotTable.deleteCommit(s, dir, dels, "event_id",
        partitionCols = Seq("day"))
      val conf = s.sparkContext.hadoopConfiguration
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      def fileMap() = graft.Fs.listDataFiles(dir, conf)
        .map(f => norm(f.getPath.toString) ->
          (f.getLen, f.getModificationTime)).toMap
      val before = fileMap()
      val v3 = SnapshotTable.dropPartitionsCommit(s, dir, Seq("day"),
        kv => kv("day") < "2024-01-03")
      // selection swap: NOTHING on disk changed — every pre-drop file
      // byte-identical in place (the dropped days' files included;
      // older versions keep serving them until expire)
      assert(fileMap() == before,
        "dropPartitionsCommit touched a file — it must be manifest-only")
      val v3Files = Snapshots.files(s, dir, v3)
      assert(!v3Files.exists(_.contains("day=2024-01-01")) &&
        !v3Files.exists(_.contains("day=2024-01-02")),
        "dropped days still referenced by the new manifest")
      assert(v3Files.exists(_.contains("/deletes/")),
        "the pinned tombstone list fell out of the selection")
      def ids(w: Int) = SnapshotTable.readAsOf(s, dir, w, "event_id")
        .select("event_id")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      val delSet = dels.collect().map(_.getLong(0)).toSet
      // v3 = surviving days (the tombstoned ids were all inside the
      // dropped days, so the anti-join is a no-op on v3's rows)...
      val droppedIds = ev
        .where(col("day") < lit("2024-01-03").cast("date"))
        .select("event_id")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSet
      assert(ids(v3) == ids(v1).filterNot(droppedIds),
        "v3 rows are not exactly the surviving days")
      // ...while v2 time travel still serves the dropped days minus
      // its own tombstones, and v1 everything
      assert(ids(v2) == ids(v1).filterNot(delSet), "v2 serve changed")
      // a purge after the drop finds NO file holding a tombstoned row
      // (they all left the selection) and just retires the list
      val v4 = SnapshotTable.purgeCommit(s, dir, "event_id",
        partitionCols = Seq("day"))
      assert(!Snapshots.files(s, dir, v4).exists(_.contains("/deletes/")),
        "post-drop purge did not retire the tombstone list")
      assert(ids(v4) == ids(v3), "post-drop purge changed rows")
      // refusals: flat tables have no partitions; a predicate dropping
      // EVERYTHING is a caller bug; nothing-matches is a no-op
      assert(intercept[IllegalArgumentException](
        SnapshotTable.dropPartitionsCommit(s, dir, Nil, _ => true))
        .getMessage.contains("flat table"))
      assert(intercept[IllegalArgumentException](
        SnapshotTable.dropPartitionsCommit(s, dir, Seq("day"), _ => true))
        .getMessage.contains("every data file"))
      assert(SnapshotTable.dropPartitionsCommit(s, dir, Seq("day"),
        _ => false) == v4)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("schema-evolution marker clears after a full rewrite: the " +
      "homogeneous current serves plain, mixed-era time travel still " +
      "schema-merges, a later widening re-arms the merge") {
    val s = spark
    import graft.plans.{SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("tbl_uniform").toString
    try {
      val dir = s"$staging/corpus"
      val (hfs, _) = graft.Fs.resolve(dir,
        s.sparkContext.hadoopConfiguration)
      def uniformMarkers(): Seq[String] = {
        val d = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
        if (!hfs.exists(d)) Seq.empty
        else hfs.listStatus(d).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("schema-uniform-"))
      }
      val docs = Tables.documents(s, sf).select(col("doc_id"), col("n_chars"))
      val v1 = SnapshotTable.saveCommit(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 9)
          .repartition(4, col("doc_id")), dir)
      val widened = docs.where(pmod(col("doc_id"), lit(10)) === 9)
        .withColumn("quality", (col("doc_id") % 7).cast("double"))
      val v2 = SnapshotTable.appendCommit(s, dir, widened, "doc_id",
        allowEvolution = true)
      assert(uniformMarkers().isEmpty)
      // the FULL rewrite: flat compaction merges every file through
      // the merged-schema reader — uniformity restored and recorded
      val v3 = SnapshotTable.compactCommit(s, dir, maxFiles = 2)
      assert(uniformMarkers() == Seq(s"schema-uniform-v$v3.marker"),
        s"full rewrite did not mark uniformity: ${uniformMarkers()}")
      def served(w: Int) = SnapshotTable.readAsOf(s, dir, w, "doc_id")
      // the uniform current serves the full schema plainly...
      assert(served(v3).columns.toSet == Set("doc_id", "n_chars", "quality"))
      assert(served(v3).where(col("quality").isNotNull).count() ==
        widened.count())
      // ...while time travel into the MIXED era (v2: old files + the
      // widened batch) still schema-merges — old files null-fill —
      // and the pre-evolution version keeps its own narrow schema
      assert(served(v2).columns.toSet == Set("doc_id", "n_chars", "quality"))
      assert(served(v2).where(col("quality").isNull).count() ==
        docs.where(pmod(col("doc_id"), lit(10)) =!= 9).count())
      assert(served(v1).columns.toSet == Set("doc_id", "n_chars"))
      // a LATER widening re-mixes the tree: the uniformity marker
      // falls, merge-on-read returns, and the next full rewrite
      // re-establishes it at the new version
      val widened2 = docs.withColumn("quality", lit(0.5d))
        .withColumn("lang", lit("en"))
        .where(pmod(col("doc_id"), lit(100)) === 3)
      val v4 = SnapshotTable.appendCommit(s, dir, widened2, "doc_id",
        allowEvolution = true)
      assert(uniformMarkers().isEmpty,
        "a re-widening append left a stale uniformity marker")
      assert(served(v4).columns.toSet ==
        Set("doc_id", "n_chars", "quality", "lang"))
      val v5 = SnapshotTable.compactCommit(s, dir, maxFiles = 1)
      assert(uniformMarkers() == Seq(s"schema-uniform-v$v5.marker"))
      assert(served(v5).columns.toSet ==
        Set("doc_id", "n_chars", "quality", "lang"))
      assert(served(v5).count() == served(v4).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("string-lane file stats: truncated bounds prune the source-" +
      "clustered corpus through the generic serve, non-ASCII 16th " +
      "char degrades to unknown-upper (kept), answers stay exact") {
    val s = spark
    import s.implicits._
    import graft.plans.{FileStats, SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("strstats").toString
    try {
      // ---- the q147 shape: generic pruned serve over a committed
      // corpus with tombstones ----
      val dir = s"$staging/corpus"
      val docs = Tables.documents(s, sf)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val v1 = SnapshotTable.saveCommit(s,
        docs.repartitionByRange(10, col("source"), col("doc_id")), dir)
      FileStats.recordFor(s, dir, v1, Seq("doc_id", "source"))
      val v2 = SnapshotTable.deleteCommit(s, dir,
        docs.where(pmod(col("doc_id"), lit(11)) === 3)
          .select(col("doc_id")), "doc_id")
      // files-opened < files-referenced through the generic path
      val dataF = Snapshots.files(s, dir, v2)
        .filterNot(_.contains("/deletes/"))
      val kept = FileStats.pruneListString(s, dir, dataF, "source",
        "src12", "src14")
      assert(kept.nonEmpty && kept.size < dataF.size,
        s"string pruning kept ${kept.size} of ${dataF.size} files")
      val served = SnapshotTable.readAsOfPrunedString(s, dir, v2,
        "doc_id", "source", "src12", "src14")
        .where(col("source") >= "src12" && col("source") <= "src14")
      assert(served.inputFiles.count(!_.contains("/deletes/")) ==
        kept.size, "the pruned serve still plans over dropped files")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id")
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      assert(key(served) == key(docs.where(
          col("source").between("src12", "src14") &&
            pmod(col("doc_id"), lit(11)) =!= 3)),
        "pruned merge-on-read serve diverges from the exact scan")
      // ---- truncation semantics at the 16-char boundary ----
      val dir2 = s"$staging/trunc"
      val longA = "a" * 15 + "b" + "suffix" // inc-able 16th char
      val longB = "z" * 15 + "étail"   // non-ASCII 16th char
      def landOne(id: Long, t: String): String = {
        val before = graft.Fs.listDataFiles(dir2,
          s.sparkContext.hadoopConfiguration)
          .map(_.getPath.getName).toSet
        Seq((id, t)).toDF("id", "t").coalesce(1)
          .write.mode("append").parquet(dir2)
        (graft.Fs.listDataFiles(dir2, s.sparkContext.hadoopConfiguration)
          .map(_.getPath.getName).toSet -- before).head
      }
      val fA = landOne(1L, longA)
      val fB = landOne(2L, longB)
      val fN = landOne(3L, null: String)
      val tv = Snapshots.commit(s, dir2)
      FileStats.recordFor(s, dir2, tv, Seq("t"))
      val allT = Snapshots.files(s, dir2, tv)
      def names(fl: Seq[String]) = fl.map(_.split('/').last).toSet
      // point-probe the long-A value: its file must survive (prefix
      // lower bound <= value <= incremented upper bound), the z-file
      // must drop (its truncated lower bound sorts above), the
      // all-null file must drop
      assert(names(FileStats.pruneListString(s, dir2, allT, "t",
        longA, longA)) == Set(fA))
      // point-probe the non-ASCII value: its upper bound is UNKNOWN
      // (chr() cannot increment past ASCII), so the file is KEPT —
      // conservative, never wrong — while the a-file's exact upper
      // bound drops it
      assert(names(FileStats.pruneListString(s, dir2, allT, "t",
        longB, longB)) == Set(fB))
      // the poisoned upper bound really is recorded NULL
      val bRow = s.read.parquet(s"$dir2/_filestats")
        .where(col("col") === "t" && col("file") === fN)
      assert(bRow.count() == 1 && bRow.head().isNullAt(
        bRow.columns.indexOf("min_s")),
        "all-null file must record null bounds")
      val pRow = s.read.parquet(s"$dir2/_filestats")
        .where(col("col") === "t" && col("file") === fB).head()
      assert(!pRow.isNullAt(pRow.fieldIndex("min_s")) &&
        pRow.isNullAt(pRow.fieldIndex("max_s")),
        "non-ASCII 16th char must poison ONLY the upper bound")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("multi-column stats pruning intersects per-column survivors; " +
      "string bounds compare in code-point order; recordStats exempts " +
      "the tombstone list") {
    val s = spark
    import s.implicits._
    import graft.plans.{FileStats, SnapshotTable, Snapshots}
    val staging = Files.createTempDirectory("multiprune").toString
    try {
      val dir = s"$staging/corpus"
      // 10 sources × ~3 files each: every source band splits by
      // doc_id, so BOTH columns' bounds are discriminating
      val docs = Tables.documents(s, sf)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .where(col("source") >= "src10" && col("source") <= "src19")
        .withColumn("quality", col("doc_id") / lit(7.0))
      SnapshotTable.saveCommit(s,
        docs.repartitionByRange(30, col("source"), col("doc_id")), dir)
      // tombstone FIRST, record AFTER: the recorder must skip the
      // deletes/ list or the bounds scan fails on its missing columns
      val v2 = SnapshotTable.deleteCommit(s, dir,
        docs.where(pmod(col("doc_id"), lit(13)) === 5)
          .select(col("doc_id")), "doc_id")
      assert(SnapshotTable.recordStats(s, dir, v2,
        Seq("doc_id", "source", "quality")) > 0)
      val hiId = docs.agg(max(col("doc_id"))).head().getLong(0) / 3
      val dataF = Snapshots.files(s, dir, v2)
        .filterNot(_.contains("/deletes/"))
      val bySrc = FileStats.pruneListString(s, dir, dataF,
        "source", "src12", "src14")
      val byId = FileStats.pruneList(s, dir, dataF, "doc_id", 0L, hiId)
      val both = bySrc.toSet.intersect(byId.toSet)
      assert(bySrc.size < dataF.size && byId.size < dataF.size,
        s"fixture rot: a single-column prune dropped nothing " +
          s"(${bySrc.size}/${byId.size} of ${dataF.size})")
      assert(both.size < bySrc.size && both.size < byId.size,
        s"the conjunction (${both.size}) must open strictly fewer " +
          s"files than source-only (${bySrc.size}) or id-only " +
          s"(${byId.size})")
      // the fractional lane prunes too (quality tracks doc_id, so its
      // bounds are discriminating under the same clustering)
      val byQ = FileStats.pruneListDouble(s, dir, dataF,
        "quality", 0.0, hiId / 7.0)
      assert(byQ.size < dataF.size,
        s"fractional-lane prune dropped nothing (${byQ.size})")
      // the pruned serve answers exactly the unpruned merge-on-read —
      // all three lanes in one conjunction
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.where(col("source") >= "src12" && col("source") <= "src14" &&
            col("doc_id").between(0L, hiId) &&
            col("quality").between(0.0, hiId / 7.0))
          .select("doc_id")
          .as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq
      assert(rows(SnapshotTable.readAsOfPrunedMulti(s, dir, v2, "doc_id",
          longPreds = Seq(("doc_id", 0L, hiId)),
          stringPreds = Seq(("source", "src12", "src14")),
          doublePreds = Seq(("quality", 0.0, hiId / 7.0)))) ==
        rows(SnapshotTable.readAsOf(s, dir, v2, "doc_id")),
        "multi-column pruning changed the answer")
      // code-point order: a file whose min is U+E000… must NOT be
      // pruned by an upper bound in the supplementary plane (U+1F600
      // sorts ABOVE U+E000 in code points, but its UTF-16 surrogate
      // units sort below — the exact wrong-exclusion the code-point
      // comparison exists to prevent)
      val d2 = s"$staging/cp"
      Seq(("\uE000aaa", 1L), ("\uE000zzz", 2L)).toDF("k", "id")
        .coalesce(1).write.parquet(d2)
      val vv = Snapshots.commit(s, d2)
      FileStats.recordFor(s, d2, vv, Seq("k"))
      val kept = FileStats.pruneListString(s, d2,
        Snapshots.files(s, d2, vv), "k", "", "\uD83D\uDE00")
      assert(kept.nonEmpty,
        "code-unit bound comparison wrongly pruned a matching file")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("delta manifests: a commit on a 10^4-file dataset writes O(new " +
      "files) manifest bytes, resolved sets exact") {
    val s = spark
    import graft.plans.Snapshots
    val staging = Files.createTempDirectory("snap_delta").toString
    try {
      val dir = s"$staging/data"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      // the manifest layer lists file NAMES; content is never read
      // here, so empty placeholder part files make a 10^4-file table
      // cheaply (the write-amplification claim is about manifest
      // bytes, not parquet bytes)
      for (i <- 1 to 10000)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(f"$dir/f$i%05d.parquet"))
      val v1 = Snapshots.commit(s, dir)
      def manifestLen(v: Int): Long = java.nio.file.Files.size(
        java.nio.file.Paths.get(s"$dir/_manifests/v$v.manifest"))
      val fullLen = manifestLen(v1)
      assert(fullLen > 100000L,
        s"v1 full manifest unexpectedly small ($fullLen B) — the " +
          "write-amplification comparison below would be vacuous")
      // an ingest batch lands 3 files: the commit must write a DELTA
      // manifest of O(3) lines, not re-list all 10^4 files
      for (i <- 1 to 3)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(f"$dir/g$i%05d.parquet"))
      val v2 = Snapshots.commit(s, dir)
      assert(manifestLen(v2) < 512L,
        s"v2 manifest is ${manifestLen(v2)} B for a 3-file commit — " +
          "O(files) rewrite is back")
      assert(Snapshots.files(s, dir, v2).size == 10003)
      assert(Snapshots.files(s, dir, v1).size == 10000)
      // a selection-shrinking commit (rollback) is a drops-only delta
      val v3 = Snapshots.rollback(s, dir, v1)
      assert(manifestLen(v3) < 512L,
        s"rollback manifest is ${manifestLen(v3)} B — expected a " +
          "3-drop delta")
      assert(Snapshots.files(s, dir, v3).map(_.split('/').last).sorted ==
        Snapshots.files(s, dir, v1).map(_.split('/').last).sorted)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("delta manifests fold at expire: resolved sets are unchanged " +
      "when a chain's base is dropped (tagged survivors included)") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = Files.createTempDirectory("snap_fold").toString
    try {
      val dir = s"$staging/data"
      // v1..v5: one appended row each — v2..v5 are deltas on a chain
      val vs = (1 to 5).map { i =>
        Seq((i.toLong, i * 10L)).toDF("id", "v").coalesce(1)
          .write.mode("append").parquet(dir)
        Snapshots.commit(s, dir)
      }
      Snapshots.tag(s, dir, "pin", vs(1)) // v2, below the cut
      val beforeSets = Seq(vs(1), vs(3), vs(4))
        .map(v => v -> Snapshots.files(s, dir, v).sorted).toMap
      // drop v1/v3: v2 survives by tag, v4/v5 by retention — every
      // survivor whose #base chain crosses the boundary must FOLD and
      // keep resolving to the same set
      Snapshots.expire(s, dir, keepFrom = vs(3))
      assert(Snapshots.versions(s, dir) == Seq(vs(1), vs(3), vs(4)))
      for ((v, expect) <- beforeSets) {
        assert(Snapshots.files(s, dir, v).sorted == expect,
          s"v$v resolves differently after the fold")
        assert(s.read.parquet(Snapshots.files(s, dir, v): _*).count() == v,
          s"v$v row count drifted through the fold")
        // no surviving manifest may still reference a dropped base
        val body = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$dir/_manifests/v$v.manifest"))
        for (b <- "#base (\\d+)".r.findFirstMatchIn(body).map(_.group(1).toInt))
          assert(Snapshots.versions(s, dir).contains(b),
            s"v$v still bases dropped v$b after expire")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("tag vs retention at depth: 20 commits with expireKeeping " +
      "cadence + interleaved COW compactions never vacuum the pin") {
    val s = spark
    import s.implicits._
    import graft.plans.Snapshots
    val staging = Files.createTempDirectory("snap_depth").toString
    try {
      val dir = s"$staging/data"
      val conf = s.sparkContext.hadoopConfiguration
      def append(i: Int): Int = {
        Seq((i.toLong, i % 4L, i * 10L)).toDF("id", "b", "v")
          .coalesce(1).write.mode("append").partitionBy("b").parquet(dir)
        Snapshots.commit(s, dir)
      }
      for (i <- 1 to 3) append(i)
      val vTag = Snapshots.current(s, dir).get
      Snapshots.tag(s, dir, "train-r16", vTag)
      def tagMeta() = {
        val (hfs, _) = graft.Fs.resolve(dir, conf)
        Snapshots.files(s, dir, vTag).map { p =>
          val st = hfs.getFileStatus(new org.apache.hadoop.fs.Path(p))
          p -> (st.getLen, st.getModificationTime)
        }.toMap
      }
      val pinnedMeta = tagMeta()
      // 17 more commits; every 5th a COW compaction + retention pass —
      // the compounding cadence the one-expire test (q139) doesn't reach
      for (i <- 4 to 20) {
        append(i)
        if (i % 5 == 0) {
          graft.plans.SnapshotTable.compactCommit(s, dir, maxFiles = 2,
            partitionCols = Seq("b"))
          Snapshots.expireKeeping(s, dir, keepLast = 3)
          // the pin holds at every cadence point: manifest resolvable,
          // files byte-identical, rollback legal
          assert(Snapshots.versionOf(s, dir, "train-r16") == vTag)
          assert(tagMeta() == pinnedMeta,
            s"tagged files changed under the i=$i maintenance cycle")
        }
      }
      assert(s.read.parquet(Snapshots.files(s, dir, vTag): _*)
        .count() == 3)
      // months of cadence later the pin is still a legal rollback
      // target and restores the exact tagged population
      val vr = Snapshots.rollback(s, dir,
        Snapshots.versionOf(s, dir, "train-r16"))
      val ids = Snapshots.read(s, dir, vr).select("id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L),
        s"rollback to the tag restored $ids")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("HLL cardinality estimate tracks exact distinct within 5%") {
    val s = spark
    import s.implicits._
    val (approx, exact) = Tables.documents(s, sf)
      .agg(approx_count_distinct(md5($"text")).as("a"),
        countDistinct(md5($"text")).as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }
}
