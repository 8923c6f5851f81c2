package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ROW-LEVEL DML for a plain committed TABLE — the corpus itself, not
  * an index over it. Every derived family already has an erasure path
  * (MinHash bands, BM25 postings, IVF cells, PQ codes, the Z-order
  * layout), but the most common governance operation in a
  * training-data pipeline is "delete these doc_ids from the COMMITTED
  * CORPUS" — and without a first-class form it gets improvised as an
  * in-place rewrite that dangles every older snapshot. This is the
  * q138 tombstone shape applied to an arbitrary flat table:
  *
  *  - [[deleteCommit]] appends the ids as a tombstone file under
  *    `deletes/` INSIDE the manifested tree (one version pins rows
  *    and applicable deletes together; nothing is rewritten, so every
  *    pre-delete file stays byte-identical), with BOTH halves of the
  *    delete contract enforced loudly: the ids must be current
  *    RESIDENTS (a never-ingested id is a caller bug that would
  *    silently skew downstream row counts) and must not already be
  *    tombstoned (double deletes corrupt the merge-on-read
  *    complement).
  *  - [[readAsOf]] is merge-on-read: the version's data files minus
  *    its own pinned tombstones (broadcast anti-join — delete-sized,
  *    never corpus-sized).
  *  - [[purgeCommit]] is the copy-on-write physical erasure: only the
  *    FILES holding tombstoned rows rewrite their survivors as new
  *    siblings, every other file carries verbatim into the next
  *    manifest, which also drops the tombstone list. A flat table has
  *    no partition locality, so file granularity is the locality unit
  *    (the same trade as the PQ codes purge, stated rather than
  *    hidden; key-clustered tables bound the touched set by keeping
  *    deletes key-local). Older versions keep serving their own files
  *    until [[Snapshots.expire]].
  *  - [[appendCommit]] guards RE-INGEST of a tombstoned id — the
  *    physical rows would resurrect the moment a purge drops the
  *    list — mirroring the index families' guard.
  *  - [[mergeCommit]] is the copy-on-write MERGE-INTO of a
  *    hash-bucketed state table (the cluster-label and vocabulary
  *    tables): only the partitions its change rows hash into rewrite,
  *    as new siblings that the commit selects by name.
  *
  * The append, delete and purge are [[Tombstoned]]'s, the lifecycle
  * every tombstoned table shares; what is this table's own is schema
  * evolution and its markers, the declared layout
  * ([[requireLayout]]), the delete's resident check and the
  * [[FileStats]]-pruned serves. After [[saveCommit]] every commit
  * lands its files through [[Snapshots.landStaged]] and selects
  * exactly those on top of the version it read
  * ([[Snapshots.commitSelectingExpecting]]): a file another writer
  * left on disk is never swept in, and a lost race fails with
  * [[Snapshots.SnapshotConflictException]] instead of publishing over
  * the other writer.
  *
  * Layouts: FLAT tables by default; hive-partitioned tables are
  * supported by DECLARING `partitionCols` on every lifecycle call —
  * the layout is validated against the declaration ([[requireLayout]])
  * and the purge reconstructs the spraying via a partitionBy rewrite
  * (survivors land as new siblings inside their own partition dirs,
  * so a key-local delete purges key-locally). An undeclared hive
  * layout still refuses loudly.
  */
object SnapshotTable {

  private def deletesPrefix = "deletes"

  /** SCHEMA EVOLUTION marker — a tiny flag file under `_manifests/`
    * (excluded from data listings and never matched by the version or
    * tag regexes). Its EXISTENCE is the one-stat fast-path switch:
    * an un-evolved table's serves never pay schema merging, an
    * evolved table's serves read with `mergeSchema` so pre-evolution
    * files null-fill the added columns — Spark's distributed footer
    * merge, one metadata pass, not per-row work. Written by the first
    * [[appendCommit]] that widens the schema. */
  private def evolvedMarker(dataDir: String) =
    new Path(s"$dataDir/_manifests/schema-evolved.marker")

  private def isEvolved(s: SparkSession, dataDir: String): Boolean =
    graft.Fs.resolve(dataDir,
      s.sparkContext.hadoopConfiguration)._1.exists(evolvedMarker(dataDir))

  /** UNIFORMITY marker — the evolution marker's release valve: once a
    * FULL rewrite ([[compactCommit]] merging every file, or a
    * [[purgeCommit]] that happened to touch every file) has re-written
    * the whole current selection through the merged-schema reader,
    * every file of that version — and of every later one, since
    * appends must carry the full current schema — holds the merged
    * schema, and the mergeSchema footer pass is pure overhead. The
    * marker records THAT version: serves of v ≥ N read plain, serves
    * of v < N (time travel into the mixed-schema era) still
    * schema-merge. A later WIDENING append re-mixes the tree and
    * deletes the marker (the next full rewrite may re-establish it). */
  private val UniformName = """schema-uniform-v(\d+)\.marker""".r

  private def uniformAsOf(s: SparkSession, dataDir: String): Option[Int] = {
    val (f, _) = graft.Fs.resolve(dataDir,
      s.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$dataDir/_manifests")
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case UniformName(n) => Some(n.toInt)
      case _ => None
    }).maxOption
  }

  private def dropUniformMarkers(s: SparkSession, dataDir: String): Unit = {
    val (f, _) = graft.Fs.resolve(dataDir,
      s.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$dataDir/_manifests")
    if (f.exists(dir))
      for (st <- f.listStatus(dir)
           if UniformName.matches(st.getPath.getName))
        f.delete(st.getPath, false)
  }

  /** Mark version `n` schema-uniform — called after a commit whose
    * rewrite touched EVERY data file of the base version, so `n`'s
    * selection (and every later version's, absent a new widening)
    * carries the full merged schema in every file. */
  private def markUniform(s: SparkSession, dataDir: String, n: Int): Unit =
    if (isEvolved(s, dataDir)) {
      dropUniformMarkers(s, dataDir)
      val (f, _) = graft.Fs.resolve(dataDir,
        s.sparkContext.hadoopConfiguration)
      f.create(new Path(s"$dataDir/_manifests/schema-uniform-v$n.marker"),
        true).close()
    }

  /** Reader for version `v`'s data files: basePath always (partition
    * columns survive explicit listings), mergeSchema only when the
    * table has evolved AND `v` predates the last uniformity-restoring
    * full rewrite — a homogeneous current serve pays no footer merge. */
  private def readFiles(s: SparkSession, dataDir: String, v: Int,
      files: Seq[String]) =
    ManifestIO.read(s, dataDir, files, mergeSchema =
      isEvolved(s, dataDir) && !uniformAsOf(s, dataDir).exists(_ <= v))

  /** `file` relative to `dataDir` (scheme-tolerant, like
    * [[Snapshots]]'s own rel). */
  private def relOf(dataDir: String, file: String): String = {
    val dn = new Path(dataDir).toUri.getPath
    new Path(file).toUri.getPath.drop(dn.length + 1)
  }

  /** Layout validation, inspecting only dataDir-RELATIVE segments (a
    * `key=value` segment in the table's own ancestry — `.../run=3/
    * corpus` — is the caller's directory naming, not a partition
    * layout). With no declared partition columns the table must be
    * FLAT: a hive layout this lifecycle was not told about would make
    * the purge rewrite lose the spraying. With declared columns every
    * data file must sit under exactly the declared `c=v` segments in
    * order (the `c=v` path grammar [[mergeCommit]] matches),
    * so the partitionBy rewrite reconstructs the spraying faithfully.
    * Tombstone files under `deletes/` are bookkeeping, not sprayed
    * data, and are exempt from the partitioned-shape check. */
  private def requireLayout(s: SparkSession, dataDir: String, v: Int,
      partitionCols: Seq[String]): Unit =
    requireLayoutOf(dataDir, Snapshots.files(s, dataDir, v), partitionCols)

  private def requireLayoutOf(dataDir: String, files: Seq[String],
      partitionCols: Seq[String]): Unit =
    for (f <- files if !f.startsWith(s"$dataDir/$deletesPrefix/")) {
      val kv = relOf(dataDir, f).split('/').dropRight(1)
        .filter(_.contains("=")).map(_.takeWhile(_ != '=')).toSeq
      if (partitionCols.isEmpty && kv.nonEmpty)
        throw new IllegalArgumentException(
          s"SnapshotTable: $dataDir looks hive-partitioned ($f) — " +
            "declare partitionCols, or use the owning family's " +
            "lifecycle instead")
      if (partitionCols.nonEmpty && kv != partitionCols)
        throw new IllegalArgumentException(
          s"SnapshotTable: $f's partition segments [${kv.mkString(",")}]" +
            s" do not match the declared [${partitionCols.mkString(",")}]")
    }

  private def writeRows(rows: DataFrame, dataDir: String,
      partitionCols: Seq[String]): Unit = {
    val w = rows.write.mode("append")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dataDir)
  }

  /** Save `rows` as version 1 of a fresh committed table —
    * hive-sprayed by `partitionCols` when declared (every later
    * lifecycle call must declare the same columns). The layout v1
    * would commit is validated against the declaration BEFORE the
    * commit: [[Snapshots.commit]] sweeps the full directory listing,
    * so a stray pre-existing file that doesn't match the declared
    * spray (or an undeclared hive layout) refuses here instead of
    * committing a tree later lifecycle calls reject. */
  def saveCommit(s: SparkSession, rows: DataFrame, dataDir: String,
      partitionCols: Seq[String] = Nil): Int = {
    require(Snapshots.current(s, dataDir).isEmpty,
      s"saveCommit: $dataDir already has committed versions — append " +
        "via appendCommit")
    writeRows(rows, dataDir, partitionCols)
    // what commit() will sweep: the on-disk data listing, hidden
    // bookkeeping trees excluded (Snapshots' own isHidden convention)
    val listing = graft.Fs.listDataFiles(dataDir,
        s.sparkContext.hadoopConfiguration)
      .map(_.getPath.toString)
      .filterNot(f => relOf(dataDir, f).split('/').exists(seg =>
        seg.startsWith("_") || seg.startsWith(".")))
    requireLayoutOf(dataDir, listing, partitionCols)
    Snapshots.commit(s, dataDir)
  }

  /** Append a batch and commit ([[Tombstoned.appendCommit]]) —
    * refusing ids that are tombstoned as of the current version (their
    * physical rows would resurrect when a purge drops the list; purge
    * first, then re-ingest).
    *
    * SCHEMA EVOLUTION (`allowEvolution = true`): the batch may WIDEN
    * the table — it must still carry every current column at its
    * current type (a narrower or retyped batch is refused loudly;
    * silent null-filling of a forgotten column is a pipeline bug, not
    * evolution), and any extra columns become part of the table from
    * this version on. Serves of EVERY version then read with
    * mergeSchema: pre-evolution files null-fill the added columns,
    * pre-evolution VERSIONS still serve exactly their own files — the
    * schema travels with time travel. Without the flag a widening
    * batch is refused (the default pipeline contract: schema drift is
    * an error unless someone said otherwise). */
  def appendCommit(s: SparkSession, dataDir: String, rows: DataFrame,
      idCol: String, partitionCols: Seq[String] = Nil,
      allowEvolution: Boolean = false): Int = {
    val v = Tombstoned.current(s, dataDir, "appendCommit")
    // validate the DECLARED layout against v's committed tree before
    // anything lands: an append that omits (or mistypes) partitionCols
    // on a partitioned table would write flat/mis-sprayed files into
    // the tree and commit them — corruption the next delete's own
    // layout check would only discover one committed version too late
    requireLayout(s, dataDir, v, partitionCols)
    val dataF0 = Tombstoned.pieces(s, dataDir, v)._1
    require(dataF0.nonEmpty,
      s"appendCommit: v$v under $dataDir has no data files")
    val current = readFiles(s, dataDir, v, dataF0).schema
    val batch = rows.schema
    for (f <- current.fields) {
      val b = batch.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"appendCommit: batch is missing current column '${f.name}' " +
            "— silently null-filling a forgotten column is a pipeline " +
            "bug, not schema evolution"))
      require(b.dataType == f.dataType,
        s"appendCommit: column '${f.name}' is ${f.dataType} in the " +
          s"table but ${b.dataType} in the batch — retyping is not " +
          "supported (rewrite through a new table)")
    }
    val added = batch.fieldNames.toSet -- current.fieldNames.toSet
    if (added.nonEmpty) {
      require(allowEvolution,
        s"appendCommit: batch adds column(s) ${added.toSeq.sorted
          .mkString(", ")} — pass allowEvolution=true if widening the " +
          "table is intended")
      // from here serves schema-merge — until a full rewrite restores
      // uniformity; a widening on an already-uniform table re-mixes
      // the tree, so any uniformity marker must fall with it
      val fs = graft.Fs.resolve(dataDir,
        s.sparkContext.hadoopConfiguration)._1
      val m = evolvedMarker(dataDir)
      if (!fs.exists(m)) fs.create(m, true).close()
      dropUniformMarkers(s, dataDir)
    }
    Tombstoned.appendCommit(s, dataDir, rows, idCol)(
      writeRows(_, _, partitionCols))
  }

  /** Row-level DELETE under snapshot isolation: land the ids as ONE
    * tombstone file inside the manifested tree and commit
    * ([[Tombstoned.deleteCommit]]). Both delete-contract halves are
    * enforced: every id must be a current RESIDENT (not merely
    * un-tombstoned — deleting a never-ingested id would silently skew
    * every later count) and not already tombstoned. Returns the
    * committed version. */
  def deleteCommit(s: SparkSession, dataDir: String,
      deleteIds: DataFrame, idCol: String,
      partitionCols: Seq[String] = Nil): Int = {
    val v = Tombstoned.current(s, dataDir, "deleteCommit")
    require(!partitionCols.contains(idCol),
      s"deleteCommit: $idCol is a partition column — row-level deletes " +
        "key on a data column; partition-level erasure is a manifest " +
        "selection swap, not a tombstone (dropPartitionsCommit)")
    requireLayout(s, dataDir, v, partitionCols)
    val staged = graft.Materialize.cut(
      deleteIds.select(col(idCol)).distinct())
    try {
      val n = staged.count()
      val resident = staged.join(ManifestIO.read(s, dataDir,
          Tombstoned.pieces(s, dataDir, v)._1).select(col(idCol)),
        Seq(idCol), "left_semi").count()
      require(resident == n,
        s"deleteCommit: ${n - resident} $idCol(s) are not residents " +
          s"of v$v — deleting a never-ingested id would silently " +
          "skew every later version's row accounting")
      Tombstoned.deleteCommit(s, dataDir, staged, idCol)
    } finally graft.Materialize.release(staged)
  }

  /** MERGE-ON-READ serve of version `v`: its manifested data files
    * minus its own pinned tombstones. */
  def readAsOf(s: SparkSession, dataDir: String, v: Int,
      idCol: String): DataFrame =
    servePruned(s, dataDir, v, idCol, identity)

  /** [[readAsOf]] with the DATA-file list pre-pruned by the recorded
    * [[FileStats]] long-lane bounds on `column` — the generic serve
    * path consulting the stats sidecar: at 10⁶ files a range predicate
    * on a clustered column drops the non-intersecting files from the
    * plan BEFORE any footer opens. Tombstones still apply (the pinned
    * list is never part of the pruned set), and pruning only shrinks
    * the scan — the caller still applies the exact predicate, so an
    * uncovered file degrades to a normal read, never a wrong answer. */
  def readAsOfPruned(s: SparkSession, dataDir: String, v: Int,
      idCol: String, column: String, lo: Long, hi: Long): DataFrame =
    servePruned(s, dataDir, v, idCol,
      FileStats.pruneList(s, dataDir, _, column, lo, hi))

  /** String-lane twin of [[readAsOfPruned]] (truncated bounds — see
    * [[FileStats.pruneListString]]). */
  def readAsOfPrunedString(s: SparkSession, dataDir: String, v: Int,
      idCol: String, column: String, lo: String, hi: String): DataFrame =
    servePruned(s, dataDir, v, idCol,
      FileStats.pruneListString(s, dataDir, _, column, lo, hi))

  /** CONJUNCTIVE multi-column form of the pruned serve: the survivor
    * file set is the INTERSECTION of each predicate's survivors — a
    * predicate over two recorded columns prunes on both instead of
    * pruning on one and merely filtering the other, so on a layout
    * clustered by (colA, colB) the two-column prune opens strictly
    * fewer files than either single-column prune. `longPreds` are
    * (column, lo, hi) in the canonical long lane (raw integral / epoch
    * days / epoch micros), `stringPreds` in the truncated string lane;
    * unknown files stay per-column (conservative), and the caller
    * still applies the exact predicate on what remains. */
  def readAsOfPrunedMulti(s: SparkSession, dataDir: String, v: Int,
      idCol: String, longPreds: Seq[(String, Long, Long)],
      stringPreds: Seq[(String, String, String)] = Nil,
      doublePreds: Seq[(String, Double, Double)] = Nil): DataFrame =
    servePruned(s, dataDir, v, idCol, files => {
      val afterLong = longPreds.foldLeft(files) {
        case (fl, (c, lo, hi)) => FileStats.pruneList(s, dataDir, fl, c, lo, hi)
      }
      val afterStr = stringPreds.foldLeft(afterLong) {
        case (fl, (c, lo, hi)) =>
          FileStats.pruneListString(s, dataDir, fl, c, lo, hi)
      }
      doublePreds.foldLeft(afterStr) {
        case (fl, (c, lo, hi)) =>
          FileStats.pruneListDouble(s, dataDir, fl, c, lo, hi)
      }
    })

  /** Record [[FileStats]] bounds for version `v` of a committed TABLE
    * — exempting the pinned tombstone list under `deletes/` from the
    * bounds scan (reading it alongside the data files would fail on
    * the missing columns; skipped files stay uncovered, which pruning
    * treats conservatively). Table-facing callers use this instead of
    * [[FileStats.recordFor]] directly so the exemption can never be
    * forgotten once a version carries tombstones. */
  def recordStats(s: SparkSession, dataDir: String, v: Int,
      cols: Seq[String]): Int =
    FileStats.recordFor(s, dataDir, v, cols,
      skip = _.startsWith(s"$deletesPrefix/"))

  private def servePruned(s: SparkSession, dataDir: String, v: Int,
      idCol: String, prune: Seq[String] => Seq[String]): DataFrame = {
    val (dataF, tombF) = Tombstoned.pieces(s, dataDir, v)
    require(dataF.nonEmpty,
      s"SnapshotTable: v$v under $dataDir has no data files")
    val kept = prune(dataF)
    // an all-files-pruned serve yields an empty frame with the live
    // schema (same convention as FileStats.readPruned; under schema
    // evolution the zero-row frame still lists every file so the
    // merged schema is right)
    val data =
      if (kept.isEmpty) readFiles(s, dataDir, v, dataF).limit(0)
      else readFiles(s, dataDir, v, kept)
    if (tombF.isEmpty) data
    else data.join(broadcast(Tombstoned.tombstones(s, dataDir, tombF)),
      Seq(idCol), "left_anti")
  }

  /** COPY-ON-WRITE small-file compaction — the OPTIMIZE leg of the
    * table lifecycle: an ingest cadence of [[appendCommit]]s leaves
    * one small file per batch, and every serve's per-file open cost
    * grows with ingest history. When the current version holds more
    * than `maxFiles` data files, rewrite them as `maxFiles` new
    * sibling files (ONE shuffle, landed through
    * [[Snapshots.landStaged]]) and commit a selection that drops
    * exactly the files it rewrote. Compaction is purely
    * PHYSICAL: tombstones (if any) stay pinned through the commit and
    * keep anti-joining merge-on-read — physical erasure remains
    * [[purgeCommit]]'s separate concern — and older versions keep
    * serving their own files until [[Snapshots.expire]].
    *
    * PARTITIONED tables declare `partitionCols` (same contract as
    * every other lifecycle call here): compaction is then
    * partition-LOCAL — each partition holding more than `maxFiles`
    * files rewrites to ONE merged file inside its own partition dir
    * (one shuffle hash-keyed by the partition columns, parallel across
    * fragmented partitions — a per-appendCommit ingest cadence leaves
    * one file per batch per partition, exactly the fragmentation this
    * pass exists for), while every partition at or under the threshold
    * carries its files into the next manifest byte-identical. Returns
    * the committed version (unchanged when not fragmented). */
  def compactCommit(s: SparkSession, dataDir: String,
      maxFiles: Int = 1, partitionCols: Seq[String] = Nil): Int = {
    require(maxFiles >= 1, "compactCommit: maxFiles must be >= 1")
    val v = Tombstoned.current(s, dataDir, "compactCommit")
    requireLayout(s, dataDir, v, partitionCols)
    val dataF = Tombstoned.pieces(s, dataDir, v)._1
    val rewrite =
      if (partitionCols.isEmpty) {
        if (dataF.size <= maxFiles) return v
        dataF
      } else {
        val byPart = dataF.groupBy(f =>
          relOf(dataDir, f).split('/').dropRight(1).mkString("/"))
        val fragmented = byPart.filter(_._2.size > maxFiles)
        if (fragmented.isEmpty) return v
        fragmented.values.flatten.toSeq
      }
    val shape =
      if (partitionCols.isEmpty)
        (df: DataFrame) => df.repartition(maxFiles)
      else
        // hash-keyed by the partition columns: every key lands in ONE
        // task, so each fragmented partition dir gets exactly one
        // merged file; task count = fragmented-partition count keeps
        // the rewrite parallel across partitions, never wider
        (df: DataFrame) => df.repartition(
          rewrite.map(f => relOf(dataDir, f).split('/').dropRight(1)
            .mkString("/")).distinct.size,
          partitionCols.map(col): _*)
    val mine = Snapshots.landStaged(s, dataDir)(
      writeRows(shape(readFiles(s, dataDir, v, rewrite)), _, partitionCols))
    val dropRel = rewrite.map(relOf(dataDir, _)).toSet
    val n = Snapshots.commitSelectingExpecting(s, dataDir, v,
      dropRel.contains, mine)
    // a compaction that merged EVERY file re-wrote the whole selection
    // through the merged-schema reader — uniformity restored; a
    // partition-local pass that skipped a partition did not
    if (rewrite.size == dataF.size) markUniform(s, dataDir, n)
    n
  }

  /** PARTITION-LEVEL erasure — the retention pass a partitioned corpus
    * actually runs ("drop days older than X"): every data file whose
    * partition assignment satisfies `drop` leaves the NEXT manifest.
    * This is a pure SELECTION SWAP — no file is read, written, or
    * deleted (the commit costs one manifest delta however many
    * terabytes the dropped partitions hold), older versions keep
    * serving the dropped files until [[Snapshots.expire]] reclaims
    * them, and no tombstones are involved: the partition IS the
    * erasure unit, which is exactly why [[deleteCommit]] refuses a
    * partition column as its key and points here. Pinned row-level
    * tombstones (if any) stay pinned and keep anti-joining — a
    * tombstoned id inside a dropped partition simply stops being a
    * resident from the new version on (the anti-join of an absent id
    * is a no-op; a later [[purgeCommit]] finds no file holding it and
    * drops the list as usual). `drop` sees each file's (column →
    * value) assignment with values as their raw path segments (hive
    * spelling — dates are ISO strings, so range predicates compare
    * lexicographically). Dropping EVERY data file refuses: emptying a
    * table through retention is a caller bug. Returns the committed
    * version (unchanged when nothing matches). */
  def dropPartitionsCommit(s: SparkSession, dataDir: String,
      partitionCols: Seq[String],
      drop: Map[String, String] => Boolean): Int = {
    require(partitionCols.nonEmpty,
      "dropPartitionsCommit: a flat table has no partitions to drop — " +
        "row-level erasure is deleteCommit + purgeCommit")
    val v = Tombstoned.current(s, dataDir, "dropPartitionsCommit")
    requireLayout(s, dataDir, v, partitionCols)
    val dataF = Tombstoned.pieces(s, dataDir, v)._1
    def kvOf(f: String): Map[String, String] =
      relOf(dataDir, f).split('/').dropRight(1).filter(_.contains("="))
        .map { seg =>
          val i = seg.indexOf('='); seg.take(i) -> seg.drop(i + 1)
        }.toMap
    val dropped = dataF.filter(f => drop(kvOf(f)))
    if (dropped.isEmpty) return v
    require(dropped.size < dataF.size,
      s"dropPartitionsCommit: the predicate drops every data file of " +
        s"v$v under $dataDir — emptying a table through retention is a " +
        "caller bug; delete the dataset instead")
    val dropRel = dropped.map(relOf(dataDir, _)).toSet
    Snapshots.commitSelectingExpecting(s, dataDir, v, dropRel.contains, Nil)
  }

  /** COPY-ON-WRITE MERGE-INTO for a partitioned state table whose
    * partition columns are a PURE FUNCTION of `key` (the hash-bucketed
    * label and vocabulary tables): every `upserts` row replaces the
    * resident row with its key or is inserted, every `deletes` key
    * leaves, and both frames carry `key` and `partitionCols`. The
    * touched partitions are the change rows' own partition tuples,
    * harvested by an `observe` on the job that materializes them, so
    * the table is never scanned for them. Only the current version's
    * files in those partitions are read, anti-joined on the change
    * keys and unioned with the upserts; the merged rows land through
    * [[Snapshots.landStaged]] and the commit selects exactly them over
    * every untouched partition's files, verbatim. A partition the
    * merge empties drops out of the manifest; older versions keep
    * reading their own files until [[Snapshots.expire]]. Refuses a
    * version that pins a `deletes/` list (merge-on-read tombstones and
    * a key-replacing merge do not compose; purge first) and
    * non-integral partition columns (touched dirs are matched as raw
    * `c=v` segments, which Hive path-escaping would break). Returns
    * the committed version (unchanged when there is no change row). */
  def mergeCommit(s: SparkSession, dataDir: String,
      partitionCols: Seq[String], key: String, upserts: DataFrame,
      deletes: Option[DataFrame] = None): Int = {
    require(partitionCols.nonEmpty,
      "mergeCommit: a merge rewrites whole partitions — declare them")
    val v = Tombstoned.current(s, dataDir, "mergeCommit")
    requireLayout(s, dataDir, v, partitionCols)
    val (dataF, tombF) = Tombstoned.pieces(s, dataDir, v)
    require(tombF.isEmpty,
      s"mergeCommit: v$v under $dataDir pins a $deletesPrefix/ list — " +
        "run purgeCommit before merging")
    val changes = upserts +: deletes.toSeq
      .map(_.select((key +: partitionCols).map(col): _*))
    for (df <- changes; c <- partitionCols) {
      import org.apache.spark.sql.types._
      val t = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"mergeCommit: partition column $c is $t — touched partitions " +
          "are matched as unescaped integral c=v dirs (string/date/null " +
          "values need Hive path escaping)")
    }
    val staged = changes.map(materializeWithPartitions(_, partitionCols))
    try {
      val touched = staged.flatMap(_._2).map(vs => partitionCols.zip(vs)
        .map { case (c, value) => s"$c=$value" }.mkString("/")).toSet
      if (touched.isEmpty) return v
      def unitOf(rel: String) = rel.split('/').dropRight(1).mkString("/")
      val ups = staged.head._1
      val inTouched = dataF.filter(f => touched(unitOf(relOf(dataDir, f))))
      val merged =
        if (inTouched.isEmpty) ups
        else {
          val keys = staged.map(_._1.select(col(key))).reduce(_ union _)
            .distinct()
          readFiles(s, dataDir, v, inTouched)
            .join(broadcast(keys), Seq(key), "left_anti").unionByName(ups)
        }
      val mine = Snapshots.landStaged(s, dataDir) { stage =>
        merged.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions(partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*).parquet(stage)
      }
      Snapshots.commitSelectingExpecting(s, dataDir, v,
        f => touched(unitOf(f)), mine)
    } finally staged.foreach(p => graft.Materialize.release(p._1))
  }

  /** Materialize `df` and harvest its distinct partition tuples from
    * the SAME job via an observe metric (it fires under all three
    * [[graft.Materialize]] strategies). */
  private def materializeWithPartitions(df: DataFrame,
      cols: Seq[String]): (DataFrame, Seq[Seq[Any]]) = {
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
    (mat, parts)
  }

  /** COPY-ON-WRITE physical erasure ([[Tombstoned.purgeCommit]] with
    * the file as the rewrite unit): rewrite ONLY the data files
    * holding tombstoned rows (survivors land as new siblings, re-sprayed
    * into their own partition dirs by the partitionBy write), carry
    * every untouched file verbatim, drop the tombstone list from the
    * next manifest. The rewrite reads through the merged-schema reader
    * once the table has evolved, so a rewritten pre-evolution file
    * widens to the current schema with nulls. Older versions keep
    * reading their own files until expired. Returns the committed
    * version (unchanged when there is nothing to purge). */
  def purgeCommit(s: SparkSession, dataDir: String, idCol: String,
      partitionCols: Seq[String] = Nil): Int = {
    val v = Tombstoned.current(s, dataDir, "purgeCommit")
    requireLayout(s, dataDir, v, partitionCols)
    val dataF = Tombstoned.pieces(s, dataDir, v)._1
    val n = Tombstoned.purgeCommit(s, dataDir, idCol, Int.MaxValue, identity,
      readFiles(s, dataDir, v, _))(writeRows(_, _, partitionCols))
    // a purge that happened to rewrite EVERY file re-wrote the whole
    // selection through the merged-schema reader — uniformity restored
    if (n != v && (Tombstoned.pieces(s, dataDir, n)._1.toSet & dataF.toSet).isEmpty)
      markUniform(s, dataDir, n)
    n
  }
}
