package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{IvfTopK, PqIndex, Snapshots, ZOrderLayout}

/** The IVF, PQ and Z-order families have one lifecycle, the
  * snapshot-committed one: `save` publishes v1, every serve reads a
  * manifest, and every maintenance commit selects exactly the files it
  * landed — never a file another writer left unreferenced on disk.
  * One table row per family drives the same checks. */
class IndexFamilyLifecycleSpec extends SparkSpec {
  import IndexFamilyLifecycleSpec.Family

  private def withStaging[T](name: String)(body: String => T): T = {
    val staging = Files.createTempDirectory(name).toString
    try body(staging)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(staging))
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  private lazy val families: Seq[Family] = {
    val s = spark
    val emb = Tables.embeddings(s, sf)
    val events = Tables.events(s, sf).select(col("event_id"),
      col("user_id"), col("event_type"), col("value"))
    /** The resident embeddings slice, staged as its own table. */
    def residentEmb(dir: String): String = {
      val sfDir = s"$dir-emb"
      emb.where(pmod(col("vec_id"), lit(10)) =!= 9)
        .write.parquet(s"$sfDir/embeddings.parquet")
      sfDir
    }
    val resident = pmod(col("vec_id"), lit(10)) =!= 9
    val deleted = resident && pmod(col("vec_id"), lit(7)) === 0 &&
      col("vec_id") =!= 0
    Seq(
      Family("IVF", "IvfTopK.scala", IvfTopK,
        Seq("append", "appendTo", "delete", "compact"), "vec_id", Some("cid"),
        save = dir => {
          IvfTopK.ensureSaved(s, residentEmb(dir), dir)
          s"${IvfTopK.qualify(s, dir)}/assignment"
        },
        residents = () => emb.where(resident),
        batch = () => emb.where(!resident),
        deleteIds = () => emb.where(deleted).select(col("vec_id")),
        appendCommit = IvfTopK.appendCommit(s, _, _),
        deleteCommit = IvfTopK.deleteCommit(s, _, _),
        purgeCommit = IvfTopK.purgeCommit(s, _),
        serve = dir => ids(IvfTopK.serveTopK(s, dir)),
        serveAsOf = (dir, v) => ids(IvfTopK.serveTopKAsOf(s, dir, v))),
      Family("PQ", "PqIndex.scala", PqIndex, Seq("append"), "vec_id", None,
        save = dir => PqIndex.save(s, residentEmb(dir), dir).codesPath,
        residents = () => emb.where(resident).select(col("vec_id"), col("embedding")),
        batch = () => emb.where(!resident).select(col("vec_id"), col("embedding")),
        deleteIds = () => emb.where(deleted).select(col("vec_id")),
        appendCommit = PqIndex.appendCommit(s, _, _),
        deleteCommit = PqIndex.deleteCommit(s, _, _),
        purgeCommit = PqIndex.purgeCommit(s, _),
        serve = dir => ids(PqIndex.serve(s, PqIndex.load(s, dir))),
        serveAsOf = (dir, v) => ids(PqIndex.serveAsOf(s, dir, v))),
      Family("Z-order", "ZOrderLayout.scala", ZOrderLayout,
        Seq("append", "delete", "compact", "saveCommit"), "event_id",
        Some("zbucket"),
        save = dir =>
          ZOrderLayout.save(s, events.where(col("event_id") % 2 === 0), dir)
            .dataPath,
        residents = () => events.where(col("event_id") % 2 === 0),
        batch = () => events.where(col("event_id") % 2 === 1),
        deleteIds = () => events.where(col("event_id") % 7 === 0)
          .select(col("event_id")),
        appendCommit = ZOrderLayout.appendCommit(s, _, _),
        deleteCommit = ZOrderLayout.deleteCommit(s, _, _),
        purgeCommit = ZOrderLayout.purgeCommit(s, _),
        serve = dir => ids(ZOrderLayout.serve(s, ZOrderLayout.load(s, dir),
          0L, Long.MaxValue, Double.MinValue, Double.MaxValue)),
        serveAsOf = (dir, v) => ids(ZOrderLayout.serveAsOf(s, dir, v,
          0L, Long.MaxValue, Double.MinValue, Double.MaxValue))))
  }

  for (f <- Seq("IVF", "PQ", "Z-order"))
    test(s"$f: born committed, served only through a manifest, no " +
        "in-place surface") {
      val fam = families.find(_.name == f).get
      val s = spark
      withStaging(s"born_$f") { staging =>
        val dir = s"$staging/idx"
        val data = fam.save(dir)
        assert(Snapshots.versions(s, data) == Seq(1),
          s"save left versions ${Snapshots.versions(s, data)}")
        assert(fam.serve(dir).nonEmpty, "the v1 serve returned nothing")
        // a data dir with no snapshot is refused, by name
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(new java.net.URI(s"$data/_manifests")))
        val e = intercept[IllegalStateException](fam.serve(dir))
        assert(e.getMessage.contains(data),
          s"the refusal does not name the data dir: ${e.getMessage}")
      }
      val left = fam.api.getClass.getMethods.map(_.getName).toSet
        .intersect(fam.removed.toSet)
      assert(left.isEmpty, s"in-place maintenance API is back: $left")
      val src = Files.readString(
        Paths.get("src", "main", "scala", "graft", "plans", fam.source))
      for (banned <- Seq("IndexMaintenance.", "readDir", "commitReplacing"))
        assert(!src.contains(banned), s"${fam.source} mentions $banned")
    }

  test("Z-order: save refuses to overwrite a committed layout") {
    val s = spark
    val rows = Tables.events(s, sf).select(col("event_id"),
      col("user_id"), col("event_type"), col("value"))
    withStaging("zorder_resave") { staging =>
      val dir = s"$staging/layout"
      val h = ZOrderLayout.save(s, rows, dir)
      val e = intercept[IllegalArgumentException](ZOrderLayout.save(s, rows, dir))
      assert(e.getMessage.contains("already manifest-committed"), e.getMessage)
      assert(Snapshots.versions(s, h.dataPath) == Seq(1),
        "the refused save touched the committed layout")
    }
  }

  test("the centroid refresh commits only its own files; the in-place " +
      "passes it and the compactions used are gone") {
    val src = Files.readString(Paths.get("src", "main", "scala", "graft",
      "operators", "Similarity.scala"))
    val from = src.indexOf("def refreshAssignmentCommit(")
    assert(from >= 0, "refreshAssignmentCommit is gone")
    val body = src.substring(from, src.indexOf("\n  }\n", from))
    for (banned <- Seq("IndexMaintenance.", "readDir", "commitReplacing"))
      assert(!body.contains(banned), s"refreshAssignmentCommit mentions $banned")
    val simMethods = graft.operators.Similarity.getClass.getMethods.map(_.getName)
    assert(!simMethods.contains("refreshAssignment"),
      "the in-place refreshAssignment is back")
    intercept[ClassNotFoundException](
      Class.forName("graft.plans.IndexMaintenance"))
  }

  /** Land `rows` as data files no manifest references, under their
    * partition dirs when the family is partitioned; returns the
    * dataDir-absolute paths placed. */
  private def placeOrphans(data: String, rows: DataFrame,
      partCol: Option[String], staging: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = s"$staging/orphans"
    val w = rows.coalesce(1).write
    partCol.fold(w)(c => w.partitionBy(c)).parquet(tmp)
    val (fs, _) = graft.Fs.resolve(data, conf)
    graft.Fs.listDataFiles(tmp, conf).map { st =>
      val p = st.getPath
      val rel = p.toUri.getPath.drop(tmp.length + 1)
      val dest = new org.apache.hadoop.fs.Path(
        s"$data/${rel.replace(p.getName, "orphan-" + p.getName)}")
      fs.mkdirs(dest.getParent)
      assert(fs.rename(p, dest), s"could not place $dest")
      dest.toString
    }
  }

  for (f <- Seq("IVF", "PQ", "Z-order"))
    test(s"$f: appendCommit, deleteCommit and purgeCommit never publish " +
        "an unreferenced file; expire reclaims it") {
      val fam = families.find(_.name == f).get
      val s = spark
      withStaging(s"orphan_$f") { staging =>
        val dir = s"$staging/idx"
        val data = fam.save(dir)
        // twins of the rows the v1 serve returns, under negative ids:
        // they tie on every score and sort first, so a serve over any
        // version that swept them in would return them
        val served = fam.serve(dir)
        val twins = Snapshots.read(s, data, 1)
          .where(col(fam.key).isin(served.map(Long.box): _*))
          .withColumn(fam.key, -col(fam.key) - 1)
        val orphans = placeOrphans(data, twins, fam.partCol, staging)
        assert(orphans.nonEmpty, "fixture rot: no orphan file placed")
        val v2 = fam.appendCommit(dir, fam.batch())
        val v3 = fam.deleteCommit(dir, fam.deleteIds())
        val v4 = fam.purgeCommit(dir)
        assert(Seq(v2, v3, v4) == Seq(2, 3, 4),
          s"lifecycle committed ${Seq(v2, v3, v4)}")
        val key = (p: String) => new java.net.URI(p).getPath
        val orphanKeys = orphans.map(key).toSet
        for (v <- 1 to 4) {
          val live = Snapshots.files(s, data, v).map(key).toSet
          assert((live & orphanKeys).isEmpty, s"v$v references an orphan file")
          val ids = fam.serveAsOf(dir, v)
          assert(ids.nonEmpty && ids.forall(_ >= 0),
            s"v$v serves an orphan row: ${ids.filter(_ < 0)}")
        }
        val current = fam.serve(dir)
        Snapshots.expire(s, data, keepFrom = v4)
        val conf = s.sparkContext.hadoopConfiguration
        val (hfs, _) = graft.Fs.resolve(data, conf)
        assert(orphans.forall(p => !hfs.exists(new org.apache.hadoop.fs.Path(p))),
          "expire left an orphan file on disk")
        assert(fam.serve(dir) == current, "expire changed the current serve")
      }
    }

  for (f <- Seq("IVF", "PQ", "Z-order"))
    test(s"$f: appendCommit refuses an id the base version tombstones, " +
        "naming it, until a purge lands") {
      val fam = families.find(_.name == f).get
      val s = spark
      withStaging(s"reingest_$f") { staging =>
        val dir = s"$staging/idx"
        val data = fam.save(dir)
        val x = fam.residents().where(col(fam.key) =!= 0)
          .agg(min(col(fam.key))).head().getLong(0)
        val row = fam.residents().where(col(fam.key) === x)
        val v2 = fam.deleteCommit(dir, row.select(col(fam.key)))
        val e = intercept[IllegalArgumentException](fam.appendCommit(dir, row))
        assert(e.getMessage.contains("tombstoned") &&
          e.getMessage.contains(x.toString),
          s"the refusal does not name id $x: ${e.getMessage.take(300)}")
        assert(Snapshots.current(s, data).contains(v2),
          "the refused append committed a version")
        // after the purge the id is re-ingestable and served again
        fam.purgeCommit(dir)
        val v4 = fam.appendCommit(dir, row)
        val rows = graft.plans.Tombstoned.relation(s, data, v4, fam.key)
          .where(col(fam.key) === x).count()
        assert(rows == 1L, s"id $x has $rows live rows after re-ingest")
      }
    }

  test("IVF pushdown after deleteCommit and purgeCommit: the rewrite " +
      "returns no duplicated and no tombstoned vec_id") {
    val s = spark
    graft.functions.VectorFunctions.register(s)
    withStaging("ivf_pushdown") { staging =>
      // a private embeddings copy: the registry is keyed by its path
      s.read.parquet(s"$sf/embeddings.parquet")
        .write.parquet(s"$staging/embeddings.parquet")
      val dir = s"$staging/idx"
      IvfTopK.registerIndex(s, staging, Some(dir))
      val q0 = s.read.parquet(s"$staging/embeddings.parquet")
        .where(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val litSql = q0.map(f => s"CAST($f AS FLOAT)").mkString("array(", ", ", ")")
      val sql =
        s"""SELECT vec_id, graft_cosine(embedding, $litSql) AS cos
           |FROM parquet.`$staging/embeddings.parquet`
           |WHERE vec_id <> 0
           |ORDER BY cos DESC LIMIT 10""".stripMargin
      val before = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = Seq(graft.plans.IvfTopKRewrite)
      s.conf.set("spark.graft.ivfTopK", "true")
      try {
        def probed(): Seq[Long] = {
          val df = s.sql(sql)
          assert(df.queryExecution.optimizedPlan.toString.contains("cid#"),
            "the rewrite did not fire")
          ids(df)
        }
        val top = probed()
        assert(top.size == 10 && top.distinct.size == 10, s"v1 top-10: $top")
        val gone = top.take(3)
        IvfTopK.deleteCommit(s, dir, s.createDataFrame(
          gone.map(Tuple1(_))).toDF("vec_id"))
        val afterDelete = probed()
        assert((afterDelete.toSet & gone.toSet).isEmpty,
          s"the rewrite serves tombstoned ids after deleteCommit: $afterDelete")
        IvfTopK.purgeCommit(s, dir)
        val afterPurge = probed()
        assert(afterPurge.distinct.size == afterPurge.size,
          s"the rewrite serves duplicated ids after purgeCommit: $afterPurge")
        assert((afterPurge.toSet & gone.toSet).isEmpty,
          s"the rewrite serves purged ids: $afterPurge")
      } finally {
        s.conf.set("spark.graft.ivfTopK", "false")
        s.experimental.extraOptimizations = before
      }
    }
  }
}

object IndexFamilyLifecycleSpec {
  /** One family under test, addressed by its artifact dir `dir`. */
  final case class Family(
      name: String,
      source: String,
      api: AnyRef,
      removed: Seq[String],
      key: String,
      partCol: Option[String],
      /** Save the resident rows under `dir`; returns the data dir. */
      save: String => String,
      /** The resident rows, in the shape an append takes. */
      residents: () => DataFrame,
      /** The rows an append lands (ids disjoint from the residents). */
      batch: () => DataFrame,
      /** Resident ids a delete tombstones. */
      deleteIds: () => DataFrame,
      appendCommit: (String, DataFrame) => Int,
      deleteCommit: (String, DataFrame) => Int,
      purgeCommit: String => Int,
      /** The ids a serve as of the current version returns. */
      serve: String => Seq[Long],
      /** The ids a serve as of version `v` returns. */
      serveAsOf: (String, Int) => Seq[Long])
}
