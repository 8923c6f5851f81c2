package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, input_file_name}

/** The one maintenance lifecycle of the [[IvfTopK]], [[PqIndex]] and
  * [[ZOrderLayout]] families, written once. Each family keeps its
  * rows in one data dir (IVF's `assignment/`, PQ's `codes/`, the
  * layout's `data/`) whose manifests also pin a `deletes/` tombstone
  * list keyed by one id column, so one version number fixes the rows
  * and the deletes that apply to them.
  *
  * The family's `save` writes the dir and commits it as v1. Every
  * later change lands its files through [[Snapshots.landStaged]] and
  * publishes exactly those on top of the version it read
  * ([[Snapshots.commitSelectingExpecting]]): a file another writer
  * left on disk is never swept in, and a lost race fails loudly with
  * [[Snapshots.SnapshotConflictException]]. No file a manifest
  * references is ever rewritten; [[Snapshots.expire]] reclaims what
  * no surviving version needs. Every read goes through a manifest,
  * and a dir with no snapshot is refused by name.
  */
private[graft] object Tombstoned {

  /** The current version of `dir`, or a refusal that names it. */
  def current(s: SparkSession, dir: String, op: String): Int =
    Snapshots.current(s, dir).getOrElse(throw new IllegalStateException(
      s"$op: no committed snapshot under $dir — an index is committed " +
        "by save()"))

  /** Version `v`'s manifested files split into (data files, tombstone
    * files). */
  def pieces(s: SparkSession, dir: String,
      v: Int): (Seq[String], Seq[String]) =
    Snapshots.files(s, dir, v).partition(f => !f.startsWith(s"$dir/deletes/"))

  /** Version `v`'s rows: exactly its manifested data files (basePath
    * keeps partition columns and their pruning), minus that version's
    * tombstones (broadcast anti-join — delete-sized). */
  def relation(s: SparkSession, dir: String, v: Int,
      key: String): DataFrame = {
    val (dataF, tombF) = pieces(s, dir, v)
    require(dataF.nonEmpty, s"snapshot v$v under $dir references no data files")
    val rel = ManifestIO.read(s, dir, dataF)
    if (tombF.isEmpty) rel
    else rel.join(broadcast(s.read.parquet(tombF: _*)), Seq(key), "left_anti")
  }

  /** The current version's rows; a dir with no snapshot is refused. */
  def live(s: SparkSession, dir: String, key: String): DataFrame =
    relation(s, dir, current(s, dir, "serve"), key)

  /** Refuse `ids` that version `v` tombstones, naming up to ten of
    * them: one broadcast semi-join, and no job when `v` has no list. */
  private def refuseTombstoned(s: SparkSession, dir: String, v: Int,
      ids: DataFrame, key: String, op: String, why: String): Unit = {
    val tombF = pieces(s, dir, v)._2
    if (tombF.nonEmpty) {
      val clash = ids.join(broadcast(s.read.parquet(tombF: _*)), Seq(key),
        "left_semi").orderBy(col(key)).limit(10).collect().map(_.get(0))
      require(clash.isEmpty,
        s"$op: $key(s) ${clash.mkString(", ")} are tombstoned as of v$v " +
          s"under $dir — $why")
    }
  }

  /** Land `batch` through the family's writer and commit it on top of
    * the version read at entry. Ids that version tombstones are
    * refused: their old rows are still on disk, so re-ingesting them
    * would lose the new row to the anti-join and to the next purge.
    * The batch is materialized only when the check and the landing
    * both read it. Returns the committed version. */
  def appendCommit(s: SparkSession, dir: String, batch: DataFrame,
      key: String)(write: (DataFrame, String) => Unit): Int =
    withBatch(s, dir, "appendCommit", batch, key,
      "a purgeCommit must land first")(write)

  /** Land `ids` as one tombstone file under `deletes/` and commit it;
    * ids already tombstoned are refused (a repeated delete is a caller
    * bug). Returns the committed version. */
  def deleteCommit(s: SparkSession, dir: String, ids: DataFrame,
      key: String): Int =
    withBatch(s, dir, "deleteCommit", ids.select(col(key)).distinct(), key,
      "a repeated delete is a caller bug") { (staged, stage) =>
      staged.coalesce(1).write.mode("append").parquet(s"$stage/deletes")
    }

  private def withBatch(s: SparkSession, dir: String, op: String,
      batch: DataFrame, key: String, why: String)
      (write: (DataFrame, String) => Unit): Int = {
    val v = current(s, dir, op)
    val tombed = pieces(s, dir, v)._2.nonEmpty
    val staged = if (tombed) graft.Materialize.cut(batch) else batch
    try {
      refuseTombstoned(s, dir, v, staged.select(col(key)).distinct(), key,
        op, why)
      val mine = Snapshots.landStaged(s, dir)(write(staged, _))
      Snapshots.commitSelectingExpecting(s, dir, v, _ => false, mine)
    } finally if (tombed) graft.Materialize.release(staged)
  }

  /** The `name=value` segment of a dir-relative file path: the rewrite
    * unit of a partitioned family. */
  def segment(name: String)(rel: String): String =
    rel.split('/').find(_.startsWith(s"$name="))
      .getOrElse(throw new IllegalStateException(s"no $name= segment in $rel"))

  /** COPY-ON-WRITE purge. `unitOf` maps a dir-relative data file to
    * the unit a rewrite replaces whole (a partition dir, or the file
    * itself for a flat table). Units holding a tombstoned row or more
    * than `maxFiles` files rewrite their surviving rows through
    * `write` into a private staging dir; every other unit's files
    * carry verbatim into the next manifest, which drops the tombstone
    * list. Older versions keep reading their own files until
    * [[Snapshots.expire]]. Returns the committed version (unchanged
    * when there is nothing to purge or merge). */
  def purgeCommit(s: SparkSession, dir: String, key: String, maxFiles: Int,
      unitOf: String => String)(write: (DataFrame, String) => Unit): Int = {
    val v = current(s, dir, "purgeCommit")
    val (dataF, tombF) = pieces(s, dir, v)
    val dirPath = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    def rel(f: String) =
      new org.apache.hadoop.fs.Path(f).toUri.getPath.drop(dirPath.length + 1)
    val fragged = dataF.map(rel).groupBy(unitOf)
      .filter { case (_, fl) => fl.size > maxFiles }.keySet
    // the units holding a tombstoned row: one skinny scan naming the
    // files, bounded by the tombstone count
    val tombed: Set[String] =
      if (tombF.isEmpty) Set.empty
      else ManifestIO.read(s, dir, dataF)
        .select(col(key), input_file_name().as("f"))
        .join(broadcast(s.read.parquet(tombF: _*)), Seq(key), "left_semi")
        .select(col("f")).distinct()
        .collect().map(r => unitOf(rel(r.getString(0)))).toSet
    val touched = fragged ++ tombed
    if (touched.isEmpty && tombF.isEmpty) return v
    val mine =
      if (touched.isEmpty) Nil
      else {
        val cur = ManifestIO.read(s, dir, dataF.filter(f => touched(unitOf(rel(f)))))
        val purged =
          if (tombF.isEmpty) cur
          else cur.join(broadcast(s.read.parquet(tombF: _*)), Seq(key), "left_anti")
        Snapshots.landStaged(s, dir)(write(purged, _))
      }
    Snapshots.commitSelectingExpecting(s, dir, v,
      f => f.startsWith("deletes/") || touched(unitOf(f)), mine)
  }
}
