package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.{MinHashIndex, Snapshots}

/** The committed MinHash ingest batch — `localize → admitRows →
  * appendCommitRetrying` — against its reference semantics and its job
  * budget: the one-shuffle admission verdict equals the distinct-spine
  * + two-left-join formulation it replaced, and a batch launches only
  * the jobs its rows need. */
class MinHashIngestSpec extends SparkSpec {
  import JobWatch.jobsOf

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("text", StringType, nullable = true)))

  private def frame(s: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(
      docs.map { case (id, t) => Row(id, t) }: _*), DocSchema)

  /** Seeded text: `n` tokens over a 4000-word vocabulary, so two
    * generated documents share few tokens and a one-word edit keeps
    * Jaccard ≈ 0.98. */
  private def text(seed: Long, n: Int = 120): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(s"w${r.nextInt(4000)}").mkString(" ")
  }

  private def oneWordEdit(t: String): String =
    (t.split(' ').toSeq match { case h +: rest => "edited" +: rest })
      .mkString(" ")

  /** The admission verdict as `admitRows` computed it before the
    * one-shuffle form: a distinct doc_id spine with the aggregated
    * corpus hits and in-batch hits left-joined onto it. */
  private def admitReference(s: SparkSession, h: MinHashIndex.Handle,
      probe: DataFrame): DataFrame = {
    def est(a: String, b: String) =
      graft.functions.VectorFunctions.sigMatches(col(a), col(b))
        .cast("double") / lit(operators.Dedup.K.toDouble)
    val corpusHits = MinHashIndex.serveRows(s, h, probe)
      .groupBy(col("probe_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_corpus_hits"))
    def side(p: String) = probe.select(
      col("doc_id").as(s"doc_$p"), col("sig").as(s"sig_$p"),
      col("bk0").as(s"bk0_$p"), col("band_id"), col("band_key"))
    val batchHits = side("a").join(side("b"), Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .where(col("band_id") === 0 || col("bk0_a") =!= col("bk0_b"))
      .where(est("sig_a", "sig_b") >= operators.Dedup.EstThreshold)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(count(lit(1)).as("n_batch_hits"))
    probe.select(col("doc_id")).distinct()
      .join(corpusHits, Seq("doc_id"), "left")
      .join(batchHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_hits"), lit(0L)).as("n_corpus_hits"),
        coalesce(col("n_batch_hits"), lit(0L)).as("n_batch_hits"),
        (col("n_corpus_hits").isNull && col("n_batch_hits").isNull)
          .as("admitted"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withIndex[T](name: String, resident: Seq[(Long, String)])
      (body: (String, MinHashIndex.Handle) => T): T = {
    val s = spark
    val staging = java.nio.file.Files.createTempDirectory(name).toString
    try {
      val idx = s"$staging/idx"
      val h = MinHashIndex.save(s, frame(s, resident), "resident", idx)
      body(idx, h)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("admission verdict: the one-shuffle admitRows equals the " +
      "distinct-spine + two-left-join reference on uncommitted, committed " +
      "and tombstoned indexes") {
    val s = spark
    import s.implicits._
    val resident = (1L to 40L).map(i => i -> text(i)) :+ (41L -> "")
    val cluster = text(777)
    val batch: Seq[(Long, String)] = Seq(
      // exact copies of residents
      1001L -> text(1), 1002L -> text(2), 1003L -> text(3),
      // one-word near-duplicates of residents
      1004L -> oneWordEdit(text(4)), 1005L -> oneWordEdit(text(5)),
      1006L -> oneWordEdit(text(6)),
      // a three-member in-batch cluster of a new document
      1010L -> cluster, 1011L -> cluster, 1012L -> oneWordEdit(cluster),
      // empty texts: an empty token set, so the signature is all NULL
      1020L -> "", 1021L -> null) ++
      (2000L until 2010L).map(i => i -> text(i))
    withIndex("mh_verdict", resident) { (idx, _) =>
      def check(what: String): Unit = {
        val h = MinHashIndex.load(s, idx)
        // plus a NULL-id copy of a resident: its corpus hits must not
        // reach a verdict row (the reference's equi-join drops them)
        val nullId = s.createDataFrame(java.util.Arrays.asList(
          Row(null, text(7))), DocSchema)
        val probe = MinHashIndex.localize(s, frame(s, batch).unionAll(nullId))
        assert(MinHashIndex.serveRows(s, h, probe)
          .where(col("probe_doc").isNull).count() > 0,
          s"$what: fixture rot — the NULL-id copy hits nothing")
        val got = MinHashIndex.admitRows(s, h, probe)
        val ref = admitReference(s, h, probe)
        assert(got.schema === ref.schema,
          s"$what: schema differs\n  new: ${got.schema.treeString}\n  " +
            s"reference: ${ref.schema.treeString}")
        val (g, r) = (sortedRows(got), sortedRows(ref))
        assert(g === r, s"$what: verdict rows differ")
        assert(r.size == batch.size + 1, s"$what: not one row per doc")
        // the fixture reaches both hit legs and both outcomes
        val rs = ref.collect()
        assert(rs.exists(_.getLong(1) > 0) && rs.exists(_.getLong(2) > 0) &&
          rs.exists(_.getBoolean(3)) && rs.exists(!_.getBoolean(3)),
          s"$what: fixture rot — ${r.mkString("; ")}")
      }
      // An index is born committed, so there is no uncommitted case any
      // more (the name is kept as the test's id): the first case is
      // save's own v1, the second a v2 whose append added new files.
      check("save's v1")
      MinHashIndex.appendCommitRetrying(s, idx,
        frame(s, (42L to 45L).map(i => i -> text(i))))
      check("appended v2")
      MinHashIndex.deleteCommit(s, idx, Seq(1L, 4L).toDF("doc_id"))
      check("tombstoned")
      val h = MinHashIndex.load(s, idx)
      val afterDelete = MinHashIndex.admitRows(s, h,
          MinHashIndex.localize(s, frame(s, batch)))
        .where(col("doc_id").isin(1001L, 1004L))
        .select(col("n_corpus_hits")).as[Long].collect()
      assert(afterDelete.forall(_ == 0L),
        "tombstoned residents still counted as corpus hits")
    }
  }

  test("ingest batch job budget: a driver-local batch is not " +
      "checkpointed, the landing writes one file per band with no " +
      "shuffle, the admission runs at most 3 jobs") {
    val s = spark
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    assert(n > 1, "the n-wide sketch assertion needs n > 1")
    val resident = (1L to 300L).map(i => i -> text(i))
    withIndex("mh_budget", resident) { (idx, _) =>
      val bands = s"$idx/bands"
      val v1 = Snapshots.commit(s, bands)
      val h = MinHashIndex.load(s, idx)
      val batch = (10001L to 10100L).map { i =>
        if (i % 10 == 0) i -> text(i - 10000L) else i -> text(i)
      }
      val local = MinHashIndex.localize(s, frame(s, batch))
      val (verdict, admitJobs) = jobsOf(s)(
        MinHashIndex.admitRows(s, h, local)
          .select(col("doc_id"), col("admitted")).collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
      assert(verdict.size == 100 && verdict.count(!_._2) >= 10,
        s"fixture rot: ${verdict.count(!_._2)} rejected")
      assert(admitJobs.size <= 3,
        s"admission ran ${admitJobs.size} jobs: $admitJobs")
      val admitted = batch.filter(d => verdict(d._1))
      val ((v2, _), commitJobs) = jobsOf(s)(
        MinHashIndex.appendCommitRetrying(s, idx, frame(s, admitted)))
      val ckpt = commitJobs.filter(_.stages.exists(_.startsWith("localCheckpoint")))
      assert(ckpt.isEmpty, s"driver-local batch was checkpointed: $ckpt")
      // the sketch runs n-wide and is collected to the driver; the
      // landing is one write task with no shuffle stage
      val sketch = commitJobs.filter(_.desc == "lsh: sketch batch")
      assert(sketch.nonEmpty && sketch.forall(_.resultTasks == n),
        s"sketch jobs ran ${sketch.map(_.resultTasks)} tasks, want $n each")
      val landing = commitJobs.filter(_.desc == "lsh: land band rows")
      assert(landing.size == 1 && landing.head.resultTasks == 1 &&
        landing.head.stages.size == 1,
        s"landing ran ${landing.map(j => (j.stages, j.resultTasks))}, " +
          "want one single-task stage")
      val added = Snapshots.files(s, bands, v2).toSet --
        Snapshots.files(s, bands, v1)
      val perDir = added.toSeq.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      assert(perDir.size == operators.Dedup.Bands &&
        perDir.keys.forall(_.contains("/band_id=")) &&
        perDir.values.forall(_.size == 1),
        s"an append must add exactly one file under each band_id= " +
          s"directory: $perDir")
      // a parquet-read batch is still materialized before landing, so
      // a retry re-validates against the rows that landed
      val more = s"$idx-batch2"
      frame(s, (20001L to 20020L).map(i => i -> text(i)))
        .write.parquet(more)
      val (_, parquetJobs) = jobsOf(s)(
        MinHashIndex.appendCommitRetrying(s, idx, s.read.parquet(more)))
      assert(parquetJobs.exists(_.stages.exists(_.startsWith("localCheckpoint"))),
        s"parquet-read batch was not materialized: $parquetJobs")
    }
  }

  test("the file count per append does not grow with the index: each " +
      "append adds one file per band, admission reads them all, a purge " +
      "folds them back to one per band") {
    val s = spark
    val nBands = operators.Dedup.Bands
    val resident = (1L to 200L).map(i => i -> text(i))
    withIndex("mh_growth", resident) { (idx, _) =>
      val bands = s"$idx/bands"
      def files(v: Int) = Snapshots.files(s, bands, v).toSet
      val k = 3
      val v1 = Snapshots.current(s, bands).get
      assert(files(v1).size == nBands, s"save wrote ${files(v1)}")
      val last = (1 to k).foldLeft(v1) { (prev, j) =>
        val (v, _) = MinHashIndex.appendCommitRetrying(s, idx,
          frame(s, (1L to 30L).map(i => (j * 10000L + i) -> text(j * 10000L + i))))
        val added = files(v) -- files(prev)
        assert(files(prev).subsetOf(files(v)) && added.size == nBands,
          s"append $j added ${added.size} files, want $nBands: $added")
        v
      }
      val probe = MinHashIndex.localize(s, frame(s,
        Seq(50001L -> text(5), 50002L -> oneWordEdit(text(20001)),
          50003L -> text(50003))))
      val h = MinHashIndex.load(s, idx)
      val read = MinHashIndex.admitRows(s, h, probe).inputFiles
      assert(read.length == nBands * (k + 1),
        s"admission scanned ${read.length} files, want ${nBands * (k + 1)}")
      def served() = sortedRows(MinHashIndex.serveRows(s, h, probe))
      val before = served()
      assert(before.nonEmpty, "fixture rot: the probe matched nothing")
      val purged = MinHashIndex.purgeCommit(s, idx, 1)
      assert(purged == last + 1 && files(purged).size == nBands,
        s"purgeCommit(1) left v$purged with ${files(purged).size} files")
      assert(served() == before, "the purge changed the served rows")
      assert(MinHashIndex.purgeCommit(s, idx, 1) == purged,
        "a second purgeCommit(1) committed again")
    }
  }
}
