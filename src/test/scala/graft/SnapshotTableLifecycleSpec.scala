package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.util.Try
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{SnapshotTable, Snapshots}

/** Every change of a committed [[SnapshotTable]] selects exactly the
  * files it landed: a file another writer left on disk — a crashed or
  * refused writer's, or one still waiting to commit — is never swept
  * into a version, and a writer that lost the race fails loudly
  * instead of publishing over the winner. */
class SnapshotTableLifecycleSpec extends SparkSpec {
  import SnapshotTableLifecycleSpec._

  private def withStaging[T](name: String)(body: String => T): T = {
    val staging = Files.createTempDirectory(name).toString
    try body(staging)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  private def local(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  private def rowsOf(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(id => (id, id * 10)).toDF("doc_id", "n")
  }

  /** Commit ids 1..60 as v1 of a table under `dir`: four flat files,
    * or sprayed over `b` = id % 3 with three files per partition. */
  private def saveTable(dir: String, partitioned: Boolean): Int = {
    val rows = rowsOf(1L to 60L)
    if (partitioned)
      SnapshotTable.saveCommit(spark,
        rows.withColumn("b", (col("doc_id") % 3).cast("int")).repartition(3),
        dir, Seq("b"))
    else SnapshotTable.saveCommit(spark, rows.repartition(4), dir)
  }

  /** Write `ids` as one parquet file and move it to `dir/sub` under an
    * `orphan-` name, where no manifest references it. */
  private def plant(staging: String, dir: String, sub: String,
      ids: Seq[Long]): String = {
    val tmp = s"$staging/plant-${java.util.UUID.randomUUID()}"
    rowsOf(ids).coalesce(1).write.parquet(tmp)
    val src = Fs.listDataFiles(tmp, spark.sparkContext.hadoopConfiguration)
      .head.getPath
    val dest = Paths.get(local(s"$dir/$sub"), s"orphan-${src.getName}")
    Files.createDirectories(dest.getParent)
    Files.move(Paths.get(local(src.toString)), dest)
    dest.toString
  }

  private def ids(dir: String, v: Int): Set[Long] =
    SnapshotTable.readAsOf(spark, dir, v, "doc_id").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet

  /** No version references any of `files` or serves a row of `gone`,
    * and expiring up to the current version reclaims every file. */
  private def neverLive(dir: String, files: Seq[String],
      gone: Set[Long]): Unit = {
    for (v <- Snapshots.versions(spark, dir)) {
      val live = Snapshots.files(spark, dir, v).map(local).toSet
      assert((live & files.toSet).isEmpty, s"v$v references a foreign file")
      assert((ids(dir, v) & gone).isEmpty, s"v$v serves a foreign row")
    }
    Snapshots.expire(spark, dir, keepFrom = Snapshots.current(spark, dir).get)
    assert(files.forall(f => !Files.exists(Paths.get(f))),
      "expire left a foreign file on disk")
  }

  private val flat = Seq[String]()
  private val byB = Seq("b")

  /** (name, partitioned, run before the orphan lands, the change). */
  private val changes: Seq[(String, Boolean, String => Unit, String => Int)] = Seq(
    ("append", false, _ => (),
      dir => SnapshotTable.appendCommit(spark, dir, rowsOf(61L to 70L), "doc_id")),
    ("delete", false, _ => (),
      dir => SnapshotTable.deleteCommit(spark, dir, rowsOf(1L to 5L), "doc_id")),
    ("purge", false,
      dir => SnapshotTable.deleteCommit(spark, dir, rowsOf(1L to 5L), "doc_id"),
      dir => SnapshotTable.purgeCommit(spark, dir, "doc_id")),
    ("compact", false, _ => (),
      dir => SnapshotTable.compactCommit(spark, dir, maxFiles = 1,
        partitionCols = flat)),
    ("compact (partitioned)", true, _ => (),
      dir => SnapshotTable.compactCommit(spark, dir, maxFiles = 1,
        partitionCols = byB)),
    ("dropPartitions", true, _ => (),
      dir => SnapshotTable.dropPartitionsCommit(spark, dir, byB,
        kv => kv("b") == "0")))

  for ((name, partitioned, before, change) <- changes)
    test(s"$name never publishes an orphan file in the table dir") {
      withStaging(s"tbl_orphan_${name.takeWhile(_ != ' ')}") { staging =>
        val dir = s"$staging/t"
        saveTable(dir, partitioned)
        before(dir)
        val v = Snapshots.current(spark, dir).get
        val orphan = plant(staging, dir, if (partitioned) "b=1" else "",
          Seq(-1L, -2L, -3L))
        assert(change(dir) == v + 1, s"$name did not commit")
        neverLive(dir, Seq(orphan), Set(-1L, -2L, -3L))
      }
    }

  test("two writers: a batch landed on v1 stays out of the v2 another " +
      "writer commits, and its own commit conflicts") {
    val s = spark
    withStaging("tbl_race_landed") { staging =>
      val dir = s"$staging/t"
      saveTable(dir, partitioned = false)
      // writer A reads v1 and lands its batch through the staging move
      // every SnapshotTable change uses
      val a = 71L to 75L
      val mineA = Snapshots.landStaged(s, dir)(
        rowsOf(a).coalesce(1).write.parquet(_))
      assert(mineA.nonEmpty, "fixture rot: writer A landed nothing")
      // writer B commits v2 first
      val v2 = SnapshotTable.appendCommit(s, dir, rowsOf(61L to 65L), "doc_id")
      assert(v2 == 2)
      intercept[Snapshots.SnapshotConflictException](
        Snapshots.commitSelectingExpecting(s, dir, 1, _ => false, mineA))
      assert(ids(dir, v2) == (1L to 65L).toSet, "v2 is not v1 plus B's batch")
      neverLive(dir, mineA.map(r => local(s"$dir/$r")), a.toSet)
    }
  }

  test("two writers through appendCommit: the one that lost the race " +
      "fails with SnapshotConflictException and publishes nothing") {
    val s = spark
    withStaging("tbl_race_api") { staging =>
      val dir = s"$staging/t"
      saveTable(dir, partitioned = false)
      val a = 71L to 75L
      // writer A's landing job waits inside its one task until writer B
      // has committed v2 on top of the v1 both read
      val gate = new Gate
      Gate.current = gate
      val writerA = Future(Try(SnapshotTable.appendCommit(s, dir,
        rowsOf(a).coalesce(1).withColumn("n", Gate.udf(col("n"))), "doc_id")))(
        scala.concurrent.ExecutionContext.global)
      try {
        assert(gate.entered.await(120, TimeUnit.SECONDS),
          "writer A never started landing")
        assert(SnapshotTable.appendCommit(s, dir, rowsOf(61L to 65L),
          "doc_id") == 2)
      } finally gate.open.countDown()
      val lost = Await.result(writerA, 5.minutes)
      assert(lost.failed.toOption
        .exists(_.isInstanceOf[Snapshots.SnapshotConflictException]),
        s"writer A did not conflict: $lost")
      assert(Snapshots.versions(s, dir) == Seq(1, 2),
        s"versions after the race: ${Snapshots.versions(s, dir)}")
      val landedA = Fs.listDataFiles(dir, s.sparkContext.hadoopConfiguration)
        .map(st => local(st.getPath.toString))
        .filterNot(Snapshots.files(s, dir, 2).map(local).toSet)
        .filterNot(_.contains("/_"))
      assert(landedA.nonEmpty, "fixture rot: writer A landed nothing")
      neverLive(dir, landedA, a.toSet)
    }
  }

  test("no sweeping commit is left in src/main, and MinHash and " +
      "SnapshotTable keep no tombstone code of their own") {
    val main = Paths.get("src", "main")
    val sweeping = Files.walk(main).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) &&
        Files.readString(p).contains("commitReplacing"))
    assert(sweeping.isEmpty, s"commitReplacing is named in $sweeping")
    def source(f: String) =
      Files.readString(Paths.get("src", "main", "scala", "graft", "plans", f))
    val minHash = source("MinHashIndex.scala")
    for (d <- Seq("manifestPieces", "versionRelation", "refuseTombstoned"))
      assert(!minHash.contains(s"def $d"), s"MinHashIndex defines $d")
    val table = source("SnapshotTable.scala")
    for (banned <- Seq("s.read.parquet(tombF", "def pieces"))
      assert(!table.contains(banned), s"SnapshotTable contains $banned")
  }
}

object SnapshotTableLifecycleSpec {

  /** A one-shot barrier a running task waits at: `entered` opens when
    * the first row reaches it, the task then waits for `open`. */
  final class Gate {
    val entered = new CountDownLatch(1)
    val open = new CountDownLatch(1)
  }

  object Gate {
    @volatile var current: Gate = new Gate

    /** Identity on a long column that holds each task at the gate (the
      * session is `local`, so tasks share this JVM's `current`). */
    val udf = org.apache.spark.sql.functions.udf { (n: Long) =>
      val g = current
      g.entered.countDown()
      g.open.await(120, TimeUnit.SECONDS)
      n
    }
  }
}
