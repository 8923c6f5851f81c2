package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared IN-PLACE maintenance passes for the label tables that still
  * have an uncommitted lifecycle (the cluster-label tables of
  * [[graft.operators.Dedup]] and [[graft.operators.TextAnalysis]]).
  * Every index family — [[MinHashIndex]], [[Bm25Index]], [[IvfTopK]],
  * [[PqIndex]] and [[ZOrderLayout]] — is snapshot-committed only and
  * never reaches these passes. The partition-local rewrite core here
  * ([[swapTouchedPartitions]]) renames directories in place, so a
  * committed dataset is refused.
  */
object IndexMaintenance {

  /** Partition-local PHYSICAL delete from a partitioned parquet
    * dataset: rows whose `matchCol` is in `ids` are removed by
    * rewriting ONLY the partitions that hold them. The touched set
    * comes from a semi-join (bounded by the partition space, never the
    * delete size), the pruned scan anti-joins the ids, and the
    * surviving rows are written ONCE into a temp sibling tree whose
    * touched partition dirs swap into place
    * ([[swapTouchedPartitions]] — partitions emptied entirely simply
    * have no replacement and are deleted). Returns the number of rows
    * removed. */
  def deletePartitioned(s: SparkSession, dataDir: String,
      partitionCols: Seq[String], matchCol: String,
      ids: DataFrame, sortCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.broadcast
    require(partitionCols.nonEmpty)
    requireUncommitted(s, dataDir, "deletePartitioned")
    val data = ManifestIO.readDir(s, dataDir)
    requireIntegralPartitions(data, partitionCols, "deletePartitioned")
    val keys = ids.select(col(matchCol)).distinct()
    // ONE grouped semi-join pass yields BOTH the touched partition set
    // and the removed-row count (previously two scans: a distinct
    // collect for the partitions, then a second semi-join count over
    // the pruned scan) — guide §1.2, fewer passes
    val perPart = graft.Jobs.labeled(s, "delete: touched partitions")(
      data.join(broadcast(keys), Seq(matchCol), "left_semi")
        .groupBy(partitionCols.map(col): _*)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__n"))
        .collect().toSeq)
    if (perPart.isEmpty) return 0L
    val touched: Seq[Seq[Any]] =
      perPart.map(r => partitionCols.indices.map(r.get))
    val nRemoved = perPart.map(_.getLong(partitionCols.size)).sum
    val pruned = data.where(partitionPredicate(touched, partitionCols))
    val remaining = pruned.join(broadcast(keys), Seq(matchCol), "left_anti")
    graft.Jobs.labeled(s, "delete: swap write")(
      swapTouchedPartitions(s, remaining, dataDir, partitionCols, sortCols,
        touched))
    nRemoved
  }

  /** Partition-local UPSERT into a partitioned parquet dataset — the
    * MERGE-INTO shape every incrementally-maintained state table needs
    * (q110s's cluster-label table is the first consumer): rows in
    * `updates` REPLACE resident rows with the same `keyCol` value and
    * new keys are inserted, by rewriting ONLY the partitions that hold
    * a replaced key or receive a row. The touched set comes from a
    * broadcast semi-join (bounded by the partition space, never the
    * table size), so at 100 TB a batch that remaps a handful of
    * clusters rewrites a handful of partition directories, never the
    * table. `updates` must carry the dataset's full schema including
    * the partition columns (an update may MOVE a row between
    * partitions; a source partition emptied that way is removed by
    * the swap, as in [[deletePartitioned]]). The merged rows are
    * written ONCE into a temp sibling tree whose touched partition
    * dirs swap into place ([[swapTouchedPartitions]]). Returns the
    * number of rows written.
    *
    * `partitionFromKey = true` declares the partition columns a PURE
    * FUNCTION of `keyCol` (a resident row with an updated key lives in
    * exactly the partition its replacement row carries), so the
    * touched set derives from the update rows alone and the
    * resident-side semi-join scan is skipped entirely — the common
    * hash-bucketed-state-table case (q110s's label table). Leave it
    * false when an update may MOVE a row between partitions.
    */
  def upsertPartitioned(s: SparkSession, dataDir: String,
      partitionCols: Seq[String], keyCol: String,
      updates: DataFrame, sortCols: Seq[String] = Nil,
      partitionFromKey: Boolean = false): Long = {
    import org.apache.spark.sql.functions.broadcast
    require(partitionCols.nonEmpty)
    requireUncommitted(s, dataDir, "upsertPartitioned")
    val data = ManifestIO.readDir(s, dataDir)
    requireIntegralPartitions(data, partitionCols, "upsertPartitioned")
    // the update relation feeds three consumers (key set, touched
    // partitions, merged rows) — compute its pipeline once; in the
    // partitionFromKey case the touched-partition set RIDES the
    // materialize job as an observe metric instead of a separate
    // distinct-collect job (guide §1.2, fewer passes)
    val (ups, obsTouched) = graft.Jobs.labeled(s,
        "upsert: materialize updates")(
      materializeWithPartitions(updates.select(data.columns.toSeq.map(col): _*),
        if (partitionFromKey) Some(partitionCols) else None))
    try {
      val keys = ups.select(col(keyCol)).distinct()
      val touched = (obsTouched match {
        case Some(t) => t
        case None => graft.Jobs.labeled(s, "upsert: touched partitions")(
          partitionValues(
            data.join(broadcast(keys), Seq(keyCol), "left_semi"),
            partitionCols) ++ partitionValues(ups, partitionCols))
      }).distinct
      if (touched.isEmpty) return 0L
      val pruned = data.where(partitionPredicate(touched, partitionCols))
      // upsert semantics: resident rows with an updated key drop out,
      // `updates` supplies their replacements (and the inserts)
      val merged = pruned.join(broadcast(keys), Seq(keyCol), "left_anti")
        .unionByName(ups)
      graft.Jobs.labeled(s, "upsert: swap write")(
        swapTouchedPartitions(s, merged, dataDir, partitionCols, sortCols,
          touched))
    } finally graft.Materialize.release(ups)
  }

  /** Materialize `df`, optionally harvesting its distinct partition
    * tuples from the SAME job via an observe metric — verified to fire
    * under all three [[graft.Materialize]] strategies (localCheckpoint,
    * reliable checkpoint, persist+count). */
  private def materializeWithPartitions(df: DataFrame,
      harvest: Option[Seq[String]]): (DataFrame, Option[Seq[Seq[Any]]]) =
    harvest match {
      case None => (graft.Materialize(df), None)
      case Some(cols) =>
        import org.apache.spark.sql.functions.{collect_set, struct}
        val obs = new org.apache.spark.sql.Observation()
        val mat = graft.Materialize(df.observe(obs,
          collect_set(struct(cols.map(col): _*)).as("parts")))
        val parts = obs.get("parts") match {
          case rows: scala.collection.Seq[_] => rows.toSeq.map {
            case r: org.apache.spark.sql.Row => cols.indices.map(r.get)
            case other => sys.error(s"unexpected partition tuple: $other")
          }
          case other => sys.error(s"unexpected observe metric: $other")
        }
        (mat, Some(parts))
    }

  /** [[upsertPartitioned]] under SNAPSHOT ISOLATION — the MERGE-INTO
    * for a manifest-committed STATE TABLE (q135's cluster-lineage
    * question: which cluster was a doc in AS OF version N — the
    * reproducibility record a training run needs about its own dedup
    * decisions). Same touched-partition derivation and merge as the
    * in-place form, but the merged partitions land as NEW SIBLING
    * files and the next manifest selects [untouched partitions'
    * version-v files + the merged files]
    * ([[Snapshots.commitReplacing]] with the touched partition dirs as
    * drop prefixes) — a reader pinned to version v keeps the pre-merge
    * state byte-identical, and partitions a merge empties simply drop
    * from the new manifest (their files stay for older versions; no
    * directory cleanup, [[Snapshots.expire]] reclaims). Requires a
    * committed dataset; `partitionFromKey` contract as in the in-place
    * form. Returns the committed version. */
  def upsertPartitionedCommit(s: SparkSession, dataDir: String,
      partitionCols: Seq[String], keyCol: String,
      updates: DataFrame, sortCols: Seq[String] = Nil,
      partitionFromKey: Boolean = false): Int = {
    import org.apache.spark.sql.functions.broadcast
    require(partitionCols.nonEmpty)
    val v = Snapshots.current(s, dataDir).getOrElse(
      throw new IllegalStateException(
        s"upsertPartitionedCommit: no committed version under $dataDir"))
    val data = Snapshots.read(s, dataDir, v)
    requireIntegralPartitions(data, partitionCols, "upsertPartitionedCommit")
    val (ups, obsTouched) = graft.Jobs.labeled(s,
        "upsert: materialize updates")(
      materializeWithPartitions(updates.select(data.columns.toSeq.map(col): _*),
        if (partitionFromKey) Some(partitionCols) else None))
    try {
      val keys = ups.select(col(keyCol)).distinct()
      val touched = (obsTouched match {
        case Some(t) => t
        case None =>
          partitionValues(
            data.join(broadcast(keys), Seq(keyCol), "left_semi"),
            partitionCols) ++ partitionValues(ups, partitionCols)
      }).distinct
      if (touched.isEmpty) return v
      val pruned = data.where(partitionPredicate(touched, partitionCols))
      val merged = graft.Materialize.cut(
        pruned.join(broadcast(keys), Seq(keyCol), "left_anti")
          .unionByName(ups))
      merged
        .repartition(partitionCols.map(col): _*)
        .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
        .write.mode("append").partitionBy(partitionCols: _*)
        .parquet(dataDir)
      graft.Materialize.release(merged)
      Snapshots.commitReplacing(s, dataDir, v,
        touched.map(vs => partitionCols.zip(vs)
          .map { case (c, value) => s"$c=$value" }.mkString("/")))
    } finally graft.Materialize.release(ups)
  }

  /** An IN-PLACE rewrite on a manifest-committed dataset deletes files
    * every committed version still references — the reader holding
    * version N would fail (or silently mis-read) through no fault of
    * its own. Refuse loudly: committed datasets mutate through the
    * snapshot-preserving variants ([[Snapshots.compactCommit]],
    * [[upsertPartitionedCommit]], the index families' *Commit forms).
    * One manifest-dir existence check. */
  private def requireUncommitted(s: SparkSession, dataDir: String,
      op: String): Unit =
    require(Snapshots.current(s, dataDir).isEmpty,
      s"$op: $dataDir is manifest-committed — an in-place rewrite would " +
        "dangle every committed version; use the snapshot-preserving " +
        "variant (compactCommit / upsertPartitionedCommit / the index's " +
        "*Commit form) instead")

  /** The emptied-partition cleanup reconstructs directory names as
    * "$c=$v" verbatim — correct for the integral partition keys every
    * current index layout uses (cid/zbucket/dbucket),
    * WRONG for string/date/null values, which Hive path-escapes
    * (%-encoding, __HIVE_DEFAULT_PARTITION__). Refuse non-integral
    * layouts loudly instead of silently leaving emptied dirs behind to
    * resurrect on a later append. */
  private def requireIntegralPartitions(data: DataFrame,
      partitionCols: Seq[String], op: String): Unit =
    for (c <- partitionCols) {
      import org.apache.spark.sql.types._
      val ok = data.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok,
        s"$op: partition column $c is " +
          s"${data.schema(c).dataType} — the emptied-dir cleanup only " +
          "builds unescaped integral partition paths (string/date/null " +
          "values need Hive path escaping)")
    }

  /** Distinct partition-column tuples present in `df` — a driver-side
    * collect bounded by the partition space, never the row count. */
  private def partitionValues(df: DataFrame,
      partitionCols: Seq[String]): Seq[Seq[Any]] =
    df.select(partitionCols.map(col): _*).distinct().collect()
      .toSeq.map(r => partitionCols.indices.map(r.get))

  private def partitionPredicate(touched: Seq[Seq[Any]],
      partitionCols: Seq[String]) =
    touched.map { vs =>
      partitionCols.zip(vs).map { case (c, v) => col(c) === v }
        .reduce(_ && _)
    }.reduce(_ || _)

  /** The shared rewrite core of the in-place maintenance passes: write
    * `rows` partitioned by `partitionCols` into a FRESH SIBLING temp
    * dir, then swap each `touched` partition directory into place with
    * driver-side renames. The merged rows are computed and written
    * exactly ONCE — the previous shape checkpointed them to executor
    * storage, counted them, re-wrote them through dynamic partition
    * overwrite and collected their partition values: two full writes
    * and three reads of the same data per maintenance call. Emptied
    * partitions fall out naturally (a touched dir with no replacement
    * in the temp tree is simply deleted — dynamic overwrite needed an
    * explicit cleanup pass for those). The row count rides the write
    * job as an `observe` metric, so no second scan prices the return
    * value. Same non-atomicity contract as the dynamic overwrite it
    * replaces: in-place maintenance on an UNCOMMITTED dataset (the
    * committed lifecycles go through the snapshot-preserving forms). */
  private def swapTouchedPartitions(s: SparkSession, rows: DataFrame,
      dataDir: String, partitionCols: Seq[String], sortCols: Seq[String],
      touched: Seq[Seq[Any]]): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = dataDir.stripSuffix("/") + "-swap-" + token
    val obs = new org.apache.spark.sql.Observation()
    // once the swap loop starts mutating live partition dirs, the tmp
    // tree (and any set-aside dir) may hold the ONLY copy of a
    // partition — a failure mid-swap must LEAVE them on disk for
    // recovery instead of deleting the survivor in a finally
    var preserveTmp = false
    try {
      rows
        .observe(obs, org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .repartition(partitionCols.map(col): _*)
        // sorted layouts (Z-order) keep their within-partition order
        // through the rewrite
        .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(tmp)
      // every partition dir the write produced must be in `touched` —
      // a caller breaking that invariant would otherwise have its rows
      // silently deleted with the tmp tree (rows are written, never
      // swapped in). One driver-side listing of the tmp tree.
      val touchedSubs = touched.map(vs => partitionCols.zip(vs)
        .map { case (c, v) => s"$c=$v" }.mkString("/")).toSet
      val tmpBase = new org.apache.hadoop.fs.Path(tmp).toUri.getPath
      val strays = graft.Fs.listDataFiles(tmp, conf).map { f =>
        f.getPath.toUri.getPath.stripPrefix(tmpBase).stripPrefix("/")
          .split('/').dropRight(1).mkString("/")
      }.distinct.filterNot(touchedSubs)
      require(strays.isEmpty,
        s"swapTouchedPartitions: the rewrite produced partition dirs " +
          s"outside the touched set (${strays.take(5).mkString(", ")}) — " +
          "these rows would be lost; the caller must fold every updated " +
          "row's partition into `touched`")
      val (fs, _) = graft.Fs.resolve(dataDir, conf)
      for (vs <- touched) {
        val sub = partitionCols.zip(vs)
          .map { case (c, v) => s"$c=$v" }.mkString("/")
        val dest = new org.apache.hadoop.fs.Path(s"$dataDir/$sub")
        val src = new org.apache.hadoop.fs.Path(s"$tmp/$sub")
        // set the live dir ASIDE (rename, not delete): if the swap-in
        // fails the previous content still exists on disk — a
        // delete-then-rename would destroy both copies on a mid-swap
        // crash
        val aside = new org.apache.hadoop.fs.Path(
          dataDir.stripSuffix("/") + s"-aside-$token/$sub")
        preserveTmp = true
        val hadDest = fs.exists(dest)
        if (hadDest) {
          fs.mkdirs(aside.getParent)
          require(fs.rename(dest, aside),
            s"swapTouchedPartitions: could not set aside $dest " +
              s"(replacement preserved under $tmp)")
        }
        if (fs.exists(src)) {
          fs.mkdirs(dest.getParent)
          require(fs.rename(src, dest),
            s"swapTouchedPartitions: rename $src -> $dest failed " +
              s"(previous content preserved at $aside, replacement " +
              s"under $tmp)")
        }
        if (hadDest) require(fs.delete(aside, true),
          s"swapTouchedPartitions: could not reclaim $aside")
      }
      graft.Fs.deleteRecursively(
        dataDir.stripSuffix("/") + s"-aside-$token", conf)
      preserveTmp = false
      obs.get("n") match {
        case n: java.lang.Long => n.longValue()
        case other => sys.error(s"unexpected observe metric: $other")
      }
    } finally if (!preserveTmp) graft.Fs.deleteRecursively(tmp, conf)
  }
}
