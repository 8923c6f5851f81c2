package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import graft.plans.{SnapshotTable, Snapshots}

/** The cluster-label and vocabulary state tables have one lifecycle,
  * the snapshot-committed one: staging saves them as v1, every read
  * goes through a manifest, and every change is one copy-on-write
  * `mergeCommit` that selects exactly the files it landed. */
class LabelTableLifecycleSpec extends SparkSpec {

  private def withStaging[T](name: String)(body: String => T): T = {
    val staging = Files.createTempDirectory(name).toString
    try body(staging)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  private def local(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** A private copy of the staged resident-label table (v1 included)
    * and the bucket modulus it was written with. */
  private def labelCopy(staging: String): (String, Int) = {
    val dir = s"$staging/labels"
    Fs.copyDir(spark, Dedup.stageResidentState(spark, sf), dir)
    val buckets = Files.readString(Paths.get(local(s"$dir/_graft_buckets")))
      .trim.toInt
    (dir, buckets)
  }

  private def rows(dir: String, v: Int): Set[(Long, Long, Int)] = {
    val s = spark
    import s.implicits._
    SnapshotTable.readAsOf(s, dir, v, "doc_id")
      .select(col("doc_id"), col("label"), col("dbucket"))
      .as[(Long, Long, Int)].collect().toSet
  }

  /** Version `v`'s files under `dbucket=b/`. */
  private def filesIn(dir: String, v: Int, b: Int): Set[String] =
    Snapshots.files(spark, dir, v).map(local)
      .filter(_.contains(s"/dbucket=$b/")).toSet

  private def bytesOf(files: Seq[String]): Map[String, Seq[Byte]] =
    files.map(f => f -> Files.readAllBytes(Paths.get(local(f))).toSeq).toMap

  test("both staged state tables are born committed as v1") {
    val s = spark
    for (dir <- Seq(Dedup.stageResidentState(s, sf),
        TextAnalysis.stageVocabStats(s, sf)))
      assert(Snapshots.versions(s, dir) == Seq(1),
        s"$dir staged versions ${Snapshots.versions(s, dir)}")
    withStaging("label_clone") { staging =>
      val (dir, _) = labelCopy(staging)
      assert(Snapshots.versions(s, dir) == Seq(1),
        "the per-query copy does not carry v1")
      assert(rows(dir, 1).nonEmpty, "the copied v1 reads no rows")
    }
  }

  test("mergeCommit: one version, untouched buckets verbatim, v1 unchanged") {
    val s = spark
    import s.implicits._
    withStaging("label_merge") { staging =>
      val (dir, buckets) = labelCopy(staging)
      val v1Rows = rows(dir, 1)
      val v1Bytes = bytesOf(Snapshots.files(s, dir, 1))
      // bucket 0 empties; in bucket 1 two docs retire and three are
      // relabeled; bucket 2 gains two new docs; every other bucket is
      // untouched
      val b1 = v1Rows.filter(_._3 == 1).toSeq.sortBy(_._1)
      assert(b1.size >= 5 && v1Rows.exists(_._3 == 0), "fixture rot")
      val retired = v1Rows.filter(_._3 == 0).toSeq ++ b1.take(2)
      val relabeled = b1.slice(2, 5).map { case (id, l, b) => (id, l + 1000000L, b) }
      val top = v1Rows.map(_._1).max
      val inserted = Iterator.from(1).map(top + _)
        .filter(id => Math.floorMod(id, buckets.toLong) == 2L).take(2)
        .map(id => (id, id, 2)).toSeq
      val v2 = SnapshotTable.mergeCommit(s, dir, Seq("dbucket"), "doc_id",
        (relabeled ++ inserted).toDF("doc_id", "label", "dbucket"),
        Some(retired.map(r => (r._1, r._3)).toDF("doc_id", "dbucket")))
      assert(v2 == 2 && Snapshots.versions(s, dir) == Seq(1, 2),
        s"the delete plus upsert committed ${Snapshots.versions(s, dir)}")
      val expected = v1Rows -- retired -- b1.slice(2, 5) ++ relabeled ++ inserted
      assert(rows(dir, v2) == expected, "v2 rows differ from the merge")
      for (b <- 3 until buckets)
        assert(filesIn(dir, v2, b) == filesIn(dir, 1, b) &&
          filesIn(dir, 1, b).nonEmpty,
          s"untouched bucket $b did not carry its v1 files")
      for (b <- 1 to 2)
        assert((filesIn(dir, v2, b) & filesIn(dir, 1, b)).isEmpty,
          s"touched bucket $b kept a v1 file")
      assert(filesIn(dir, v2, 0).isEmpty, "the emptied bucket is still manifested")
      // a reader pinned to v1 sees the pre-merge table, byte for byte
      assert(rows(dir, 1) == v1Rows, "the v1 rows changed")
      assert(bytesOf(Snapshots.files(s, dir, 1)) == v1Bytes,
        "a v1 file changed on disk")
    }
  }

  test("mergeCommit never publishes an orphan in a touched bucket") {
    val s = spark
    import s.implicits._
    withStaging("label_orphan") { staging =>
      val (dir, _) = labelCopy(staging)
      val b1 = rows(dir, 1).filter(_._3 == 1).toSeq.sortBy(_._1)
      // a data file no manifest references, inside the bucket the
      // merge touches: twins of bucket 1's rows under negative ids
      val tmp = s"$staging/orphan"
      b1.map { case (id, l, _) => (-id - 1, l) }.toDF("doc_id", "label")
        .coalesce(1).write.parquet(tmp)
      val orphans = Fs.listDataFiles(tmp, s.sparkContext.hadoopConfiguration)
        .map { st =>
          val dest = Paths.get(local(s"$dir/dbucket=1/orphan-${st.getPath.getName}"))
          Files.move(Paths.get(local(st.getPath.toString)), dest)
          dest.toString
        }
      assert(orphans.nonEmpty, "fixture rot: no orphan placed")
      val v2 = SnapshotTable.mergeCommit(s, dir, Seq("dbucket"), "doc_id",
        b1.take(1).map { case (id, l, b) => (id, l + 1L, b) }
          .toDF("doc_id", "label", "dbucket"))
      assert(v2 == 2)
      assert((Snapshots.files(s, dir, v2).map(local).toSet & orphans.toSet).isEmpty,
        "v2 references the orphan file")
      assert(rows(dir, v2).forall(_._1 >= 0), "v2 serves an orphan row")
      assert(rows(dir, v2).size == rows(dir, 1).size, "the merge changed the row count")
      Snapshots.expire(s, dir, keepFrom = v2)
      assert(orphans.forall(p => !Files.exists(Paths.get(p))),
        "expire left the orphan on disk")
    }
  }

  test("mergeCommit refuses a version that pins a deletes/ list") {
    val s = spark
    import s.implicits._
    withStaging("label_tombed") { staging =>
      val dir = s"$staging/t"
      SnapshotTable.saveCommit(s,
        Seq((1L, 10L, 1), (2L, 20L, 2)).toDF("doc_id", "label", "dbucket"),
        dir, Seq("dbucket"))
      val v2 = SnapshotTable.deleteCommit(s, dir, Seq(1L).toDF("doc_id"),
        "doc_id", Seq("dbucket"))
      val e = intercept[IllegalArgumentException](
        SnapshotTable.mergeCommit(s, dir, Seq("dbucket"), "doc_id",
          Seq((2L, 21L, 2)).toDF("doc_id", "label", "dbucket")))
      assert(e.getMessage.contains("deletes/"), e.getMessage)
      assert(Snapshots.current(s, dir).contains(v2),
        "the refused merge committed a version")
    }
  }

  test("label and vocab callers use only the committed lifecycle") {
    for (f <- Seq("Dedup.scala", "TextAnalysis.scala")) {
      val src = Files.readString(
        Paths.get("src", "main", "scala", "graft", "operators", f))
      for (banned <- Seq("IndexMaintenance", "readDir", "commitReplacing"))
        assert(!src.contains(banned), s"$f mentions $banned")
    }
    intercept[ClassNotFoundException](
      Class.forName("graft.plans.IndexMaintenance"))
  }
}
