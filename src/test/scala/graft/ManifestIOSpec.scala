package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** ManifestIO.read must be SEMANTICALLY IDENTICAL to
  * `spark.read.option("basePath", dir).parquet(files: _*)` — same
  * schema (names, types, nullability, partition-column placement and
  * inferred types), same rows, same partition pruning — while
  * launching NO listing job (the whole point: the manifested serve
  * plans from supplied statuses, not a re-listing pass). */
/** A local filesystem under its own scheme that records every
  * `listStatus` target — the expired-siblings test's probe for "which
  * directories did ManifestIO.read actually visit". */
class CountingRawFs extends graft.fs.FastRawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path):
      Array[org.apache.hadoop.fs.FileStatus] = {
    CountingRawFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}
object CountingRawFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class ManifestIOSpec extends SparkSpec {

  private def dataFiles(dir: String): Seq[String] =
    Fs.listDataFiles(dir, spark.sparkContext.hadoopConfiguration)
      .map(_.getPath.toString)

  private def assertSame(base: String, files: Seq[String],
      mergeSchema: Boolean = false): Unit = {
    val r0 = if (mergeSchema)
      spark.read.option("basePath", base).option("mergeSchema", "true")
        .parquet(files: _*)
    else spark.read.option("basePath", base).parquet(files: _*)
    val r1 = graft.plans.ManifestIO.read(spark, base, files, mergeSchema)
    assert(r1.schema === r0.schema,
      s"schema mismatch:\n  listing: ${r0.schema.treeString}\n  " +
        s"manifest: ${r1.schema.treeString}")
    val cols = r0.columns.sorted.map(col)
    val a = r0.select(cols: _*).collect().map(_.toString).sorted
    val b = r1.select(cols: _*).collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("flat table: schema + rows identical, no listing job") {
    val dir = Fs.createStagingDir(spark, "graft-manifestio-flat")
    // 4 files sit under the default parallelPartitionDiscovery
    // threshold (32), where even a plain read lists without a Spark
    // job; lowered to 2, a read that re-lists fires one, so the
    // no-listing assertion below can fail
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2")
      spark.range(100).select(col("id"),
          (col("id") * 2).as("v"), concat(lit("s"), col("id")).as("s"))
        .repartition(4).write.parquet(s"$dir/t")
      val files = dataFiles(s"$dir/t")
      assert(files.size >= 4)
      // count listing jobs fired while ManifestIO plans + executes
      val listJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          if (d.contains("Listing leaf files")) listJobs.incrementAndGet()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val df = graft.plans.ManifestIO.read(spark, s"$dir/t", files)
        assert(df.count() === 100)
        Thread.sleep(500) // listener events are async
        assert(listJobs.get() === 0, "manifest-fed read must not list")
      } finally spark.sparkContext.removeSparkListener(l)
      assertSame(s"$dir/t", files)
      // subset read (an as-of selection)
      assertSame(s"$dir/t", files.take(2))
    } finally {
      spark.conf.set(key, prev)
      Fs.deleteRecursively(dir, spark.sparkContext.hadoopConfiguration)
    }
  }

  test("no-listing assertion is non-vacuous: above the discovery " +
      "threshold the plain read DOES list, the manifest-fed read does not") {
    // r18 advice: with 4 files under the default
    // parallelPartitionDiscovery.threshold (32) the no-listing
    // assertion could never fail. Lower the threshold so a cache miss
    // actually produces a distributed "Listing leaf files" job, prove
    // the plain explicit-path read fires one (positive control), then
    // prove the manifest-fed read still fires none.
    val dir = Fs.createStagingDir(spark, "graft-manifestio-thresh")
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2")
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
        .repartition(6).write.parquet(s"$dir/t")
      val files = dataFiles(s"$dir/t")
      assert(files.size >= 6)
      val listJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          if (d.contains("Listing leaf files")) listJobs.incrementAndGet()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        // positive control: the listing-based read above the lowered
        // threshold launches a listing job — the assertion CAN fail
        spark.read.option("basePath", s"$dir/t").parquet(files: _*)
          .count()
        Thread.sleep(500)
        assert(listJobs.get() >= 1,
          "positive control broke: plain explicit-path read fired no " +
            "listing job — the no-listing assertion would be vacuous")
        listJobs.set(0)
        val df = graft.plans.ManifestIO.read(spark, s"$dir/t", files)
        assert(df.count() === 100)
        Thread.sleep(500)
        assert(listJobs.get() === 0, "manifest-fed read must not list")
      } finally spark.sparkContext.removeSparkListener(l)
    } finally {
      spark.conf.set(key, prev)
      Fs.deleteRecursively(dir, spark.sparkContext.hadoopConfiguration)
    }
  }

  test("read stats only the manifested files' parent dirs — expired " +
      "sibling versions are never visited") {
    // r18 verdict #5: ManifestIO.read used to walk the ENTIRE table
    // tree to build its status lookup, so enumeration cost tracked
    // dead (expired-but-unreclaimed) files on disk rather than the
    // manifest being read. Prove the fix with a counting filesystem:
    // register a cntfs:// scheme that records every listStatus target,
    // lay out a table whose live partition dirs sit next to a fat
    // expired-version dir, and assert the read (a) returns exactly the
    // manifested rows and (b) listed only the manifested files'
    // parents.
    val dir = Fs.createStagingDir(spark, "graft-manifestio-dead")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.cntfs.impl", classOf[CountingRawFs].getName)
    try {
      spark.range(60).select(col("id"),
          pmod(col("id"), lit(2)).cast("int").as("band_id"))
        .write.partitionBy("band_id").parquet(s"$dir/t")
      // a dead sibling: an expired version's partition dir plus loose
      // dead files inside a live parent
      spark.range(1000, 1300).select(col("id"), lit(9).as("x"))
        .repartition(8).write.parquet(s"$dir/t/band_id=7")
      val live = dataFiles(s"$dir/t")
        .filterNot(_.contains("band_id=7"))
      assert(live.size >= 2)
      CountingRawFs.listed.clear()
      val cnt = (p: String) => "cntfs://" + new java.net.URI(p).getPath
      val df = graft.plans.ManifestIO.read(spark, cnt(s"$dir/t"),
        live.map(cnt))
      assert(df.count() === 60)
      assert(df.columns.toSet === Set("id", "band_id"))
      import scala.jdk.CollectionConverters._
      val listedDirs = CountingRawFs.listed.asScala.toSet
      val liveParents = live.map(p =>
        new java.net.URI(p).getPath.split('/').dropRight(1).mkString("/"))
        .toSet
      assert(listedDirs.nonEmpty,
        "counting fs saw no listStatus at all — scheme wiring broke")
      val strays = listedDirs.filterNot(liveParents)
      assert(strays.isEmpty,
        s"read listed dirs outside the manifested files' parents: $strays")
      assert(!listedDirs.exists(_.contains("band_id=7")),
        "read visited the expired sibling dir")
      // the handful-of-files form (a schema probe) lists NOTHING
      CountingRawFs.listed.clear()
      val one = graft.plans.ManifestIO.read(spark, cnt(s"$dir/t"),
        live.take(1).map(cnt))
      assert(one.count() > 0)
      assert(CountingRawFs.listed.isEmpty,
        s"small-list read should stat per file, listed: " +
          s"${CountingRawFs.listed.asScala.toSet}")
    } finally {
      hc.unset("fs.cntfs.impl")
      Fs.deleteRecursively(dir, hc)
    }
  }

  test("hive-partitioned table: partition columns, types and pruning") {
    val dir = Fs.createStagingDir(spark, "graft-manifestio-part")
    try {
      spark.range(90).select(col("id"),
          pmod(col("id"), lit(3)).cast("int").as("band_id"),
          pmod(col("id"), lit(5)).cast("int").as("kbucket"))
        .write.partitionBy("band_id", "kbucket").parquet(s"$dir/t")
      val files = dataFiles(s"$dir/t")
      assertSame(s"$dir/t", files)
      // a manifested SUBSET keeps partition columns via basePath
      val sub = files.filter(_.contains("band_id=1"))
      assertSame(s"$dir/t", sub)
      // partition pruning still reaches the scan
      val df = graft.plans.ManifestIO.read(spark, s"$dir/t", files)
        .where(col("band_id") === 2 && col("kbucket") === 4)
      val scanned = df.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(scanned.nonEmpty &&
        scanned.forall(f => f.contains("band_id=2") && f.contains("kbucket=4")),
        s"pruning failed: $scanned")
      assert(df.count() ===
        spark.read.parquet(s"$dir/t")
          .where(col("band_id") === 2 && col("kbucket") === 4).count())
    } finally Fs.deleteRecursively(dir,
      spark.sparkContext.hadoopConfiguration)
  }

  test("schema from one footer on the driver: a manifest-fed read " +
      "launches no Spark job and matches spark.read.parquet on flat, hive " +
      "and widened trees; mergeSchema keeps Spark's job") {
    val dir = Fs.createStagingDir(spark, "graft-manifestio-footer")
    try {
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
        .repartition(6).write.parquet(s"$dir/flat")
      spark.range(90).select(col("id"),
          pmod(col("id"), lit(3)).cast("int").as("band_id"),
          pmod(col("id"), lit(5)).cast("int").as("kbucket"))
        .write.partitionBy("band_id", "kbucket").parquet(s"$dir/hive")
      spark.range(10).select(col("id")).repartition(3)
        .write.parquet(s"$dir/wide")
      spark.range(10, 20).select(col("id"), lit("w").as("wide"))
        .repartition(3).write.mode("append").parquet(s"$dir/wide")
      for (t <- Seq("flat", "hive", "wide")) {
        val base = s"$dir/$t"
        val files = dataFiles(base)
        assert(files.size > 4, s"$t: the listing branch needs > 4 files")
        val (df, jobs) = JobWatch.jobsOf(spark)(
          graft.plans.ManifestIO.read(spark, base, files))
        assert(jobs.isEmpty, s"$t: manifest-fed read launched jobs: $jobs")
        assert(df.schema === spark.read.parquet(base).schema, s"$t: schema")
        assert(df.schema ===
          spark.read.option("basePath", base).parquet(files: _*).schema,
          s"$t: schema vs the explicit-path read")
      }
      val wide = dataFiles(s"$dir/wide")
      val (merged, mergeJobs) = JobWatch.jobsOf(spark)(
        graft.plans.ManifestIO.read(spark, s"$dir/wide", wide,
          mergeSchema = true))
      assert(mergeJobs.nonEmpty, "mergeSchema should keep Spark's merge job")
      assert(merged.schema === spark.read.option("mergeSchema", "true")
        .parquet(s"$dir/wide").schema)
      assert(merged.columns.contains("wide"))
    } finally Fs.deleteRecursively(dir,
      spark.sparkContext.hadoopConfiguration)
  }

  test("mergeSchema serve over a widened tree") {
    val dir = Fs.createStagingDir(spark, "graft-manifestio-merge")
    try {
      spark.range(10).select(col("id")).write.parquet(s"$dir/t")
      spark.range(10, 20).select(col("id"), lit("w").as("wide"))
        .write.mode("append").parquet(s"$dir/t")
      val files = dataFiles(s"$dir/t")
      assertSame(s"$dir/t", files, mergeSchema = true)
    } finally Fs.deleteRecursively(dir,
      spark.sparkContext.hadoopConfiguration)
  }
}
