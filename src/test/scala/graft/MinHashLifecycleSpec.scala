package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.plans.{MinHashIndex, Snapshots}

/** The MinHash index has one lifecycle, the snapshot-committed one:
  * `save` publishes v1, serving needs a snapshot, and every
  * maintenance commit selects exactly the files it landed — never a
  * file another writer left unreferenced on disk. */
class MinHashLifecycleSpec extends SparkSpec {

  private def withStaging[T](name: String)(body: String => T): T = {
    val staging = Files.createTempDirectory(name).toString
    try body(staging)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  test("an index is born committed and has no in-place surface") {
    val s = spark
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    withStaging("mh_born") { staging =>
      val idx = s"$staging/idx"
      val bands = s"$idx/bands"
      MinHashIndex.save(s, docs.where(pmod(col("doc_id"), lit(10)).between(1, 8)),
        s"$sf/documents.parquet", idx)
      assert(Snapshots.current(s, bands) == Some(1),
        s"save left versions ${Snapshots.versions(s, bands)}")
      // the rows form lands a localized sketch as it is
      val batch = docs.where(pmod(col("doc_id"), lit(10)) === 9)
      val (v2, _) = MinHashIndex.appendRowsCommitRetrying(s, idx,
        MinHashIndex.localize(s, batch))
      val landed = Snapshots.readIncremental(s, bands, 1, v2)
        .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      assert(landed.nonEmpty &&
        landed == batch.collect().map(_.getLong(0)).toSet,
        "the rows form did not commit exactly the batch")
      // a bands dir with no snapshot is refused, by name
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$bands/_manifests"))
      val e = intercept[IllegalStateException](
        MinHashIndex.serve(s, MinHashIndex.load(s, idx),
          docs.where(pmod(col("doc_id"), lit(10)) === 0)))
      assert(e.getMessage.contains(bands),
        s"the refusal does not name the bands dir: ${e.getMessage}")
    }
    val removed = Seq("append", "appendRows", "delete", "compact",
      "compactInPlaceIfFragmented", "compactCommitSnapshot")
    val left = MinHashIndex.getClass.getMethods.map(_.getName).toSet
      .intersect(removed.toSet)
    assert(left.isEmpty, s"in-place maintenance API is back: $left")
    val src = Files.readString(
      Paths.get("src", "main", "scala", "graft", "plans", "MinHashIndex.scala"))
    assert(!src.contains("IndexMaintenance."),
      "MinHashIndex reaches the in-place maintenance passes")
    assert(!src.contains("readDir"),
      "MinHashIndex reads a bands directory outside its manifests")
  }

  test("deleteCommit and purgeCommit claim only their own files: a " +
      "refused append's landed rows never go live") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, sf).select(col("doc_id"), col("text"))
    withStaging("mh_claims") { staging =>
      val idx = s"$staging/idx"
      val bands = s"$idx/bands"
      MinHashIndex.save(s, docs.where(pmod(col("doc_id"), lit(10)).between(1, 8)),
        s"$sf/documents.parquet", idx)
      val v1 = Snapshots.current(s, bands).get
      def firstId(m: Int) = docs.where(pmod(col("doc_id"), lit(10)) === m)
        .agg(min(col("doc_id"))).head().getLong(0)
      val x = firstId(1)
      val y = firstId(2)
      /** The doc ids whose band rows version `v` references. */
      def bandIds(v: Int): Set[Long] =
        s.read.option("basePath", bands)
          .parquet(Snapshots.files(s, bands, v)
            .filterNot(_.startsWith(s"$bands/deletes/")): _*)
          .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      def tombstones(v: Int): Seq[String] =
        Snapshots.files(s, bands, v).filter(_.startsWith(s"$bands/deletes/"))
      val resident = bandIds(v1)
      val v2 = MinHashIndex.deleteCommit(s, idx, Seq(x).toDF("doc_id"))
      // an append that read v1 re-ingests X: it lands, loses the race,
      // re-validates against v2 and is refused — its files stay on disk
      val slice = docs.where(pmod(col("doc_id"), lit(10)) === 9)
      val refused = slice.collect().map(_.getLong(0)).toSet
      val e = intercept[IllegalArgumentException](
        MinHashIndex.appendCommitRetrying(s, idx,
          docs.where(col("doc_id") === x).unionByName(slice),
          expected = Some(v1)))
      assert(e.getMessage.contains("tombstoned"),
        s"wrong refusal: ${e.getMessage.take(200)}")
      assert(Snapshots.current(s, bands).contains(v2))
      val onDisk = graft.Fs.listDataFiles(bands,
        s.sparkContext.hadoopConfiguration).size
      assert(refused.nonEmpty && onDisk > Snapshots.files(s, bands, v2).size,
        "fixture rot: the refused append left no files on disk")
      // a later delete publishes its tombstone and nothing else
      val v3 = MinHashIndex.deleteCommit(s, idx, Seq(y).toDF("doc_id"))
      val afterDelete = bandIds(v3)
      assert((afterDelete & refused).isEmpty,
        s"deleteCommit published ${(afterDelete & refused).size} refused docs")
      assert(afterDelete == resident && tombstones(v3).size == 2,
        "deleteCommit changed the band rows or lost a tombstone")
      // the purge publishes its rewrite and nothing else
      val v4 = MinHashIndex.purgeCommit(s, idx)
      val afterPurge = bandIds(v4)
      assert((afterPurge & refused).isEmpty,
        s"purgeCommit published ${(afterPurge & refused).size} refused docs")
      assert(afterPurge == resident - x - y,
        s"purged rows are not the residents minus the deleted ids " +
          s"(X live: ${afterPurge(x)}, Y live: ${afterPurge(y)})")
      assert(tombstones(v4).isEmpty, "the purge kept the tombstone list")
    }
  }
}
