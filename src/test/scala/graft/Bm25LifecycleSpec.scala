package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.plans.{Bm25Index, IvfTopK, Snapshots}

/** The BM25 index has one lifecycle, the snapshot-committed one:
  * `save` publishes v1, serving needs a snapshot, an append keeps its
  * batch through every lost race, and every maintenance commit selects
  * exactly the files it landed — never a file another writer left
  * unreferenced on disk. */
class Bm25LifecycleSpec extends SparkSpec {

  private def withStaging[T](name: String)(body: String => T): T = {
    val staging = Files.createTempDirectory(name).toString
    try body(staging)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  private val terms = operators.TextAnalysis.Bm25QueryTerms

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy(col("doc_id")).collect().map(_.toString).toSeq

  /** Index the residents (doc_id % 10 ∈ 1..8) under `staging/idx`;
    * returns the qualified base dir. */
  private def saveResidents(staging: String): String = {
    val s = spark
    Tables.documents(s, sf).where(pmod(col("doc_id"), lit(10)).between(1, 8))
      .write.parquet(s"$staging/corpus/documents.parquet")
    Bm25Index.save(s, s"$staging/corpus", s"$staging/idx")
    IvfTopK.qualify(s, s"$staging/idx")
  }

  /** The smallest doc_id with doc_id % 10 == m. */
  private def firstId(m: Int): Long =
    Tables.documents(spark, sf).where(pmod(col("doc_id"), lit(10)) === m)
      .agg(min(col("doc_id"))).head().getLong(0)

  test("an index is born committed and has no in-place surface") {
    val s = spark
    withStaging("bm25_born") { staging =>
      val base = saveResidents(staging)
      assert(Snapshots.current(s, base) == Some(1),
        s"save left versions ${Snapshots.versions(s, base)}")
      val h = Bm25Index.load(s, s"$staging/idx")
      val live = rows(Bm25Index.serve(s, h, terms))
      assert(live.nonEmpty && live == rows(Bm25Index.serveAsOf(s, base, 1, terms)),
        "a fresh save does not serve as v1")
      // a base dir with no snapshot is refused, by name
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$staging/idx/_manifests"))
      val e = intercept[IllegalStateException](Bm25Index.serve(s, h, terms))
      assert(e.getMessage.contains(base),
        s"the refusal does not name the index dir: ${e.getMessage}")
    }
    val removed = Seq("append", "delete", "compact", "commitSnapshot",
      "appendCommit", "compactCommitSnapshot")
    val left = Bm25Index.getClass.getMethods.map(_.getName).toSet
      .intersect(removed.toSet)
    assert(left.isEmpty, s"in-place or duplicate maintenance API is back: $left")
    val src = Files.readString(
      Paths.get("src", "main", "scala", "graft", "plans", "Bm25Index.scala"))
    for (banned <- Seq("IndexMaintenance.", "readDir", "commitReplacing", ".old"))
      assert(!src.contains(banned), s"Bm25Index.scala mentions $banned")
  }

  test("appendCommitRetrying keeps its batch through a lost race: a " +
      "tombstoned re-ingest is refused, not failed on a released batch") {
    val s = spark
    val docs = Tables.documents(s, sf)
    withStaging("bm25_retry") { staging =>
      val base = saveResidents(staging)
      val idx = s"$staging/idx"
      val v1 = Snapshots.current(s, base).get
      val x = firstId(1)
      Bm25Index.deleteCommit(s, idx, docs.where(col("doc_id") === x))
      // read v1, land, lose the race to the delete, re-validate
      // against v2 — where X is tombstoned
      val e = intercept[Exception](Bm25Index.appendCommitRetrying(s, idx,
        docs.where(col("doc_id") === x || pmod(col("doc_id"), lit(10)) === 9),
        expected = Some(v1)))
      assert(e.isInstanceOf[IllegalArgumentException] &&
        e.getMessage.contains("tombstoned"),
        s"wrong refusal: ${e.getClass.getName}: ${e.getMessage.take(300)}")
      assert(Snapshots.current(s, base).contains(v1 + 1),
        "the refused append committed")
    }
  }

  test("deleteCommit and purgeCommit claim only their own files: a " +
      "refused append's landed postings never go live") {
    val s = spark
    val docs = Tables.documents(s, sf)
    withStaging("bm25_claims") { staging =>
      val base = saveResidents(staging)
      val idx = s"$staging/idx"
      val v1 = Snapshots.current(s, base).get
      val (x, y) = (firstId(1), firstId(2))
      val conf = s.sparkContext.hadoopConfiguration
      def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      def manifested(): Set[String] = Snapshots.versions(s, base)
        .flatMap(Snapshots.files(s, base, _)).map(norm).toSet
      def onDisk(): Set[String] = graft.Fs.listDataFiles(base, conf)
        .map(st => norm(st.getPath.toString)).toSet
      Bm25Index.deleteCommit(s, idx, docs.where(col("doc_id") === x))
      // an append that read v1 re-ingests X: it lands, loses the race,
      // re-validates against v2 and is refused — its files stay on disk
      val e = intercept[IllegalArgumentException](
        Bm25Index.appendCommitRetrying(s, idx,
          docs.where(col("doc_id") === x || pmod(col("doc_id"), lit(10)) === 9),
          expected = Some(v1)))
      assert(e.getMessage.contains("tombstoned"),
        s"wrong refusal: ${e.getMessage.take(200)}")
      val refused = onDisk() -- manifested()
      assert(refused.exists(_.contains("/postings/")) &&
        refused.exists(_.contains("/terms/")),
        s"fixture rot: the refused append left no postings/df files: $refused")
      // a later delete publishes its own files and nothing else
      Bm25Index.deleteCommit(s, idx, docs.where(col("doc_id") === y))
      assert((manifested() & refused).isEmpty,
        s"deleteCommit published ${(manifested() & refused).size} refused files")
      // the purge publishes its rewrite and fold and nothing else
      val v4 = Bm25Index.purgeCommit(s, idx)
      assert((manifested() & refused).isEmpty,
        s"purgeCommit published ${(manifested() & refused).size} refused files")
      assert(Snapshots.files(s, base, v4).forall(!_.contains("/deletes/")),
        "the purge kept the tombstone list")
      // served scores equal a fresh index of the survivors
      docs.where(pmod(col("doc_id"), lit(10)).between(1, 8) &&
          !col("doc_id").isin(x, y))
        .write.parquet(s"$staging/surv/documents.parquet")
      Bm25Index.save(s, s"$staging/surv", s"$staging/fresh")
      val got = rows(Bm25Index.serveAsOf(s, base, v4, terms))
      assert(got.nonEmpty && got == rows(Bm25Index.serve(s,
          Bm25Index.load(s, s"$staging/fresh"), terms)),
        "served scores diverge from a fresh index of the survivors")
    }
  }
}
