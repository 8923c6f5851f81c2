package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Persisted MinHash-LSH dedup index — the DEDUP lifecycle twin of
  * [[PqIndex]]/[[IvfTopK]]/[[Bm25Index]]: sketch the resident corpus
  * ONCE per version, persist the banded index, and dup-check every
  * INCOMING batch against it without re-sketching (or even re-reading)
  * a single resident document. This is the shape a 100 TB ingestion
  * pipeline actually runs: all-pairs dedup (q31) happens once per
  * corpus version; every arriving crawl shard afterwards is a small
  * probe against the standing index.
  *
  * Artifact layout under `indexDir`:
  *   - `bands/` — the melted index rows (doc_id, sig, bk0, band_key),
  *     one row per (doc, band), PARTITIONED by (band_id, kbucket =
  *     band_key mod [[KBuckets]]): a probe batch's collected
  *     (band_id, kbucket) set — bounded by Bands × KBuckets values,
  *     never data-sized — prunes the scan at the FILE level, so a
  *     small batch opens a sliver of the index instead of all of it.
  *     Each row carries the full K-long signature (est-Jaccard
  *     verification happens inside the same join — no second
  *     corpus-sized lookup) and the band-0 key (the
  *     first-collision-band gate for the band-1 leg — a filter, not a
  *     distinct shuffle). ~2×(8+8+8+K×8) bytes per document: orders
  *     of magnitude under the text it indexes.
  *   - `meta/`  — one row naming the resident documents path.
  *   - `bands/deletes/` — MANIFEST-COMMITTED indexes only: the
  *     tombstone list [[deleteCommit]] appends (inside the manifested
  *     tree, so one version pins rows + applicable deletes together);
  *     version-aware readers anti-join it, [[purgeCommit]] folds it
  *     into a partition-local physical purge.
  *
  * `serve` probes a batch: the batch is sketched map-side with the
  * exact q31 kernel, BROADCAST (the incremental contract is
  * batch ≪ corpus), and hash-joined against the pruned scan — no
  * shuffle of index rows at all. The pruning set — the batch's
  * (band_id, kbucket) pairs — is read on the driver off the localized
  * sketch. A committed index then reads exactly the current (or
  * pinned) version's manifested files under those
  * `band_id=b/kbucket=k/` directories; an uncommitted one reads its
  * directory with the pairs as a partition predicate. Hot band keys
  * (boilerplate / empty documents sharing one signature) cost
  * candidate VOLUME here, not a single-reducer stall: the broadcast
  * join fans the hot bucket out across the scan's file partitions,
  * unlike the self-join case that needs [[Dedup]]'s salted-triangle
  * guard.
  */
object MinHashIndex {

  // the first-collision-band gate in serveFrom/admit ("band 0, or the
  // band-0 keys differ") deduplicates multi-band collisions correctly
  // only for a 2-band scheme: with 3+ bands a pair colliding on two
  // NON-zero bands would be counted twice. Fail loudly at first use
  // if Bands is ever raised without generalizing the gate to carry
  // all band keys ("count at the minimum colliding band").
  require(Dedup.Bands == 2,
    s"MinHashIndex's first-collision-band gate assumes Dedup.Bands == 2 " +
      s"(got ${Dedup.Bands}) — generalize the gate before raising Bands")

  /** Band-key hash-partition count for the persisted index. */
  val KBuckets = 64

  final case class Handle(docsPath: String, bandsPath: String)

  private def kbucket(c: Column) = pmod(c, lit(KBuckets)).cast("int")

  private def withBucket(rows: DataFrame): DataFrame =
    rows.withColumn("kbucket", kbucket(col("band_key")))

  /** The one band writer: write-sized-for-read, one shuffle by the
    * partition key so each (band_id, kbucket) directory gets ONE file
    * (each key hashes to exactly one task) — without it every sketch
    * task writes a sliver into every directory (32 tasks × 128 dirs ≈
    * 4k files) and the serve path's pruned scan pays the per-file open
    * cost the partitioning was meant to save. The partition count is
    * explicit (`spark.sql.shuffle.partitions`): a count-less
    * repartition lets AQE coalesce a batch-sized shuffle into ONE
    * write task that creates every touched directory's file one after
    * another; an explicit count is never coalesced, so the files land
    * n-wide. */
  private def writeBands(rows: DataFrame, path: String, mode: String): Unit = {
    val n = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    rows.repartition(n, col("band_id"), col("kbucket"))
      .write.mode(mode).partitionBy("band_id", "kbucket").parquet(path)
  }

  /** The (band_id, kbucket) partition a bands-tree file sits in, read
    * off its `band_id=b/kbucket=k/` path segments. */
  private def partitionOf(f: String): (Int, Int) = {
    val segs = f.split('/')
    def seg(c: String) = segs.find(_.startsWith(c + "="))
      .map(_.drop(c.length + 1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"MinHashIndex: no $c= segment in $f"))
    (seg("band_id"), seg("kbucket"))
  }

  /** The OCC append's LANDING step, writer-exact: sketch `docs`' band
    * rows into a private staging subdir and move them into the live
    * (band_id, kbucket) layout ([[Snapshots.landStaged]]), returning
    * the bands-relative paths this writer — and only this writer —
    * landed. Test-visible so the interleaved-landing race (writer B
    * landing between writer A's landing and A's commit) can be staged
    * deterministically. */
  private[graft] def landBands(s: SparkSession, bands: String,
      docs: DataFrame): Seq[String] =
    Snapshots.landStaged(s, bands) { stage =>
      graft.Jobs.labeled(s, "lsh: land band rows")(
        writeBands(withBucket(Dedup.indexBandRows(docs)), stage, "append"))
    }

  /** Sketch `residentDocs` ((doc_id, text)) and persist the banded
    * index under `indexDir` — the one-off indexing job. `docsPath`
    * names the source for [[load]]'s meta. */
  def save(s: SparkSession, residentDocs: DataFrame, docsPath: String,
      indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    writeBands(withBucket(Dedup.indexBandRows(residentDocs)),
      s"$base/bands", "overwrite")
    import s.implicits._
    Seq(docsPath).toDF("docs_path")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/meta")
    Handle(docsPath, s"$base/bands")
  }

  private val savedDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Handle]()

  /** [[save]] exactly once per (session, indexDir) — the oracle-gated
    * serve query (q99) goes through this so bench sweeps and repeated
    * verify runs probe the artifacts instead of re-indexing per
    * invocation. */
  def ensureSaved(s: SparkSession, residentDocs: => DataFrame,
      docsPath: String, indexDir: String): Handle =
    savedDirs.computeIfAbsent((s, IvfTopK.qualify(s, indexDir)),
      _ => save(s, residentDocs, docsPath, indexDir))

  /** Incremental maintenance: a batch that passed the dup-check is
    * admitted to the corpus by appending its band rows — a
    * dynamic-partition append touching only the (band_id, kbucket)
    * partitions the batch's keys land in; the resident index is never
    * rewritten. Fresh doc_ids are the caller's contract. Returns the
    * appended document count. */
  def append(s: SparkSession, indexDir: String, newDocs: DataFrame): Long = {
    val base = IvfTopK.qualify(s, indexDir)
    val bands = s"$base/bands"
    // the batch feeds a second consumer (the tombstone clash check)
    // only when the committed index actually carries tombstones —
    // materialize it for that rare dual consumption, otherwise the
    // sketch+write is the batch's ONE execution and the doc count
    // rides it as an observe metric (previously: an unconditional
    // eager checkpoint plus a count job whose result every lifecycle
    // caller discards — three jobs per append instead of one)
    val tombF = Snapshots.current(s, bands)
      .map(v => manifestPieces(s, bands, v)._2).getOrElse(Seq.empty)
    val staged =
      if (tombF.isEmpty) newDocs
      else graft.Jobs.labeled(s, "lsh: materialize append batch")(
        graft.Materialize.cut(newDocs))
    if (tombF.nonEmpty) {
      val clash = staged.select(col("doc_id")).distinct()
        .join(broadcast(s.read.parquet(tombF: _*)), Seq("doc_id"),
          "left_semi").count()
      require(clash == 0L,
        s"append: $clash doc_id(s) are tombstoned under $bands " +
          "— re-ingest of a deleted id requires a purgeCommit first")
    }
    val obs = new org.apache.spark.sql.Observation()
    graft.Jobs.labeled(s, "lsh: append band rows")(writeBands(
      withBucket(Dedup.indexBandRows(
        staged.observe(obs, count(lit(1)).as("n")))), bands, "append"))
    val n = obs.get("n") match {
      case v: java.lang.Long => v.longValue()
      case other => sys.error(s"unexpected observe metric: $other")
    }
    if (tombF.nonEmpty) graft.Materialize.release(staged)
    n
  }

  /** RE-INGEST RULE for a committed, tombstoned index (the
    * [[Bm25Index.append]] contract's band-index twin): a tombstoned
    * id's PHYSICAL band rows are still on disk — appending it again
    * would leave duplicate rows that RESURRECT the moment
    * [[purgeCommit]] drops the tombstone list. Tombstone-×-batch-sized
    * broadcast check; no-op for uncommitted or tombstone-free indexes
    * (one manifest-dir stat). */
  private def requireNotTombstoned(s: SparkSession, bands: String,
      ids: DataFrame, op: String): Unit =
    for (v <- Snapshots.current(s, bands)) {
      val tombF = manifestPieces(s, bands, v)._2
      if (tombF.nonEmpty) {
        val clash = ids.join(broadcast(s.read.parquet(tombF: _*)),
          Seq("doc_id"), "left_semi").count()
        require(clash == 0L,
          s"$op: $clash doc_id(s) are tombstoned as of v$v under $bands " +
            "— re-ingest of a deleted id requires a purgeCommit first")
      }
    }

  /** DELETION — the retention/right-to-erasure pass that completes
    * the lifecycle (save → append → compact → DELETE): remove the
    * given doc_ids' band rows by rewriting ONLY the (band_id, kbucket)
    * partitions that hold them. The touched-partition set is derived
    * from a semi-join (bounded: ≤ Bands × [[KBuckets]] values
    * regardless of delete size), the pruned scan anti-joins the id
    * set, and the rewrite goes through DYNAMIC partition overwrite so
    * untouched partitions' files are never rewritten — at 100 TB a
    * deletion batch costs the partitions it lands in, not an index
    * rewrite. Partitions emptied entirely are removed explicitly
    * (dynamic overwrite only replaces partitions it writes). The
    * remaining rows are materialized before the in-place overwrite
    * (Spark cannot overwrite a path it is still reading); a warehouse
    * deployment writes to a fresh dir + pointer-flips instead, as with
    * compact(). Returns the number of index rows removed. */
  def delete(s: SparkSession, indexDir: String, deleteIds: DataFrame): Long =
    IndexMaintenance.deletePartitioned(s,
      s"${IvfTopK.qualify(s, indexDir)}/bands",
      Seq("band_id", "kbucket"), "doc_id", deleteIds)

  /** COMPACTION — the maintenance pass the append lifecycle needs at
    * scale: every [[append]] adds one small file per touched
    * (band_id, kbucket) partition, so after N ingest batches a
    * partition holds N+1 files and the serve scan's per-file
    * open/footer cost grows linearly with ingest history. Rewrite the
    * bands into `destDir` with ONE file per partition — a single
    * shuffle by the partition key (each key hashes to exactly one
    * task, so each partition directory gets exactly one writer) —
    * preserving the (band_id, kbucket) layout the serve path's
    * file-level pruning depends on ([[Compact.compactParquet]]'s flat
    * rewrite would destroy it). Rows are identical, so serve/admit
    * results are unchanged by construction — and q103b proves it
    * end-to-end under the oracle gate. Writes to a NEW directory; the
    * atomic swap is the caller's pointer flip, as with the flat
    * compactor. Returns the output file count. */
  def compact(s: SparkSession, srcDir: String, destDir: String): Int = {
    val src = IvfTopK.qualify(s, srcDir)
    val dest = IvfTopK.qualify(s, destDir)
    val n = IndexMaintenance.compactPartitioned(s,
      s"$src/bands", s"$dest/bands", Seq("band_id", "kbucket"))
    IndexMaintenance.copyDir(s, s"$src/meta", s"$dest/meta")
    n
  }

  /** Threshold-triggered partition-local compaction IN PLACE — the
    * auto-maintenance policy under continuous ingest (q112): only
    * (band_id, kbucket) directories whose data-file count exceeds
    * `maxFiles` are rewritten (one file each afterwards), everything
    * else stays byte-identical, so write amplification tracks where
    * arrivals actually landed instead of the index size. Rows are
    * unchanged, so serve/admit results are unaffected by
    * construction. Returns the number of partitions rewritten. */
  def compactInPlaceIfFragmented(s: SparkSession, indexDir: String,
      maxFiles: Int): Int =
    IndexMaintenance.compactIfFragmented(s,
      s"${IvfTopK.qualify(s, indexDir)}/bands",
      Seq("band_id", "kbucket"), maxFiles)

  /** Snapshot-PRESERVING compaction for a manifest-committed index
    * ([[Snapshots.compactCommit]] over the bands dir): fragmented
    * (band_id, kbucket) partitions of the CURRENT version merge into
    * new sibling files and the merged layout commits as the next
    * version, while every older version keeps serving its own file
    * set — time travel and compaction coexist (q113). Tombstoned
    * indexes compact through [[purgeCommit]] (which also merges
    * fragmented partitions) — the generic pass cannot carry the
    * tombstone list. Returns (newVersion, partitionsRewritten). */
  def compactCommitSnapshot(s: SparkSession, indexDir: String,
      maxFiles: Int = 1): (Int, Int) = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    for (v <- Snapshots.current(s, bands))
      require(manifestPieces(s, bands, v)._2.isEmpty,
        "compactCommitSnapshot: tombstones present — use purgeCommit " +
          "(it merges fragmented partitions AND purges tombstoned rows)")
    Snapshots.compactCommit(s, bands, Seq("band_id", "kbucket"), maxFiles)
  }

  /** Version `v`'s manifested files split into (band files, tombstone
    * files) — the tombstone list lives under `bands/deletes/` INSIDE
    * the manifested tree, so one version number pins the index rows
    * and the deletes that apply to them consistently. */
  private def manifestPieces(s: SparkSession, bands: String,
      v: Int): (Seq[String], Seq[String]) =
    Snapshots.files(s, bands, v)
      .partition(f => !f.startsWith(s"$bands/deletes/"))

  /** Version `v`'s effective bands RELATION over the `touched`
    * (band_id, kbucket) partitions: exactly the manifested band files
    * under those `band_id=b/kbucket=k/` directories (basePath keeps the
    * partition columns), with that version's tombstones anti-joined
    * out (broadcast — tombstones are delete-sized, never corpus-sized).
    * Pruning is a file-list choice made on the driver, so the read
    * stats and plans only the files the probe can reach instead of
    * planning every manifested file under a 2×[[KBuckets]]-term OR
    * predicate. No touched partition holding a file leaves an empty
    * relation of the same schema. */
  private def versionRelation(s: SparkSession, bands: String,
      v: Int, touched: Set[(Int, Int)]): DataFrame = {
    val (bandF, tombF) = manifestPieces(s, bands, v)
    if (bandF.isEmpty)
      throw new IllegalStateException(
        s"snapshot v$v under $bands references no band files")
    val rel = bandF.filter(f => touched(partitionOf(f))) match {
      case Seq() => ManifestIO.read(s, bands, bandF.take(1)).where(lit(false))
      case files => ManifestIO.read(s, bands, files)
    }
    if (tombF.isEmpty) rel
    else rel.join(broadcast(s.read.parquet(tombF: _*)),
      Seq("doc_id"), "left_anti")
  }

  /** Row-level DELETE under snapshot isolation — the tombstone +
    * purge-compaction shape ([[Bm25Index.deleteCommit]]'s lexical
    * form) generalized to the band index, closing the committed
    * index's erasure gap (the in-place [[delete]] is refused on a
    * committed dataset because its dynamic-partition overwrite would
    * dangle every older manifest): the doc_ids APPEND as a tombstone
    * file under the manifested tree and ONE commit pins them, so
    * readers of version v-and-later anti-join them out (broadcast)
    * while readers pinned to older versions never see them —
    * byte-identical time travel through the delete. [[purgeCommit]]
    * later rewrites exactly the partitions holding tombstoned rows and
    * drops the list. Ids already tombstoned as of the current version
    * are refused loudly (a double delete is a caller bug; silently
    * re-appending the tombstone would bloat every later anti-join).
    * Returns the committed version. */
  def deleteCommit(s: SparkSession, indexDir: String,
      deleteIds: DataFrame): Int = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    val v = Snapshots.current(s, bands).getOrElse(
      throw new IllegalStateException(
        s"deleteCommit: no committed snapshot under $bands — the " +
          "in-place lifecycle deletes via delete()"))
    val staged = graft.Materialize.cut(
      deleteIds.select(col("doc_id")).distinct())
    val tombF = manifestPieces(s, bands, v)._2
    if (tombF.nonEmpty) {
      val clash = staged
        .join(broadcast(s.read.parquet(tombF: _*)), Seq("doc_id"), "left_semi")
        .count()
      require(clash == 0L,
        s"deleteCommit: $clash doc_id(s) are already tombstoned as of " +
          s"v$v — a repeated delete is a caller bug")
    }
    staged.coalesce(1).write.mode("append").parquet(s"$bands/deletes")
    graft.Materialize.release(staged)
    Snapshots.commitReplacing(s, bands, v, Nil)
  }

  /** COPY-ON-WRITE tombstone-purge compaction for a committed index,
    * PARTITION-LOCAL: only (band_id, kbucket) partitions that hold a
    * tombstoned row (derived from a bounded probe of the (doc_id,
    * band_id, kbucket) columns against the broadcast tombstone list)
    * or exceed `maxFiles` data files rewrite their surviving rows as
    * NEW sibling files; every other partition's files carry VERBATIM
    * into the next manifest, which also drops the tombstone list.
    * Write amplification tracks where the deleted docs' band rows sit
    * (≤ Bands × [[KBuckets]] partitions by construction — a deleted
    * doc has exactly [[Dedup.Bands]] rows, so unlike BM25's
    * term-scattered postings the purge here is naturally narrow) plus
    * where appends fragmented. Older versions keep time-traveling over
    * their own files until [[Snapshots.expire]]. Returns the committed
    * version (unchanged when there is nothing to purge or merge). */
  def purgeCommit(s: SparkSession, indexDir: String,
      maxFiles: Int = 1): Int = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    val v = Snapshots.current(s, bands).getOrElse(
      throw new IllegalStateException(
        s"purgeCommit: no committed snapshot under $bands"))
    val (bandF, tombF) = manifestPieces(s, bands, v)
    val fragged: Set[(Int, Int)] = bandF.groupBy(partitionOf)
      .collect { case (p, fl) if fl.size > maxFiles => p }.toSet
    val tombed: Set[(Int, Int)] =
      if (tombF.isEmpty) Set.empty
      else ManifestIO.read(s, bands, bandF)
        .join(broadcast(s.read.parquet(tombF: _*)), Seq("doc_id"), "left_semi")
        .select(col("band_id"), col("kbucket")).distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val touched = fragged ++ tombed
    if (touched.isEmpty && tombF.isEmpty) return v
    if (touched.nonEmpty) {
      val files = bandF.filter(f => touched(partitionOf(f)))
      val cur = ManifestIO.read(s, bands, files)
      val purged =
        if (tombF.isEmpty) cur
        else cur.join(broadcast(s.read.parquet(tombF: _*)),
          Seq("doc_id"), "left_anti")
      val merged = graft.Materialize.cut(purged)
      writeBands(merged, bands, "append")
      graft.Materialize.release(merged)
    }
    Snapshots.commitReplacing(s, bands, v,
      touched.toSeq.sorted.map { case (b, k) => s"band_id=$b/kbucket=$k" }
        :+ "deletes")
  }

  /** OPTIMISTIC-CONCURRENCY append for a COMMITTED index — the q141
    * re-derive protocol ([[Bm25Index.appendCommitRetrying]]) applied
    * to the band family, where the df-free shape makes every landed
    * artifact ADDITIVE: a doc's band rows are self-contained (there is
    * no corpus-level stats sibling to re-derive), so the landing
    * happens exactly once and only the COMMIT retries. Each attempt
    * SELECTS this writer's tracked files on top of the version it
    * validated against ([[Snapshots.commitSelectingExpecting]] — a
    * concurrent writer's half-landed batch is never swept in), and a
    * lost race re-VALIDATES the one base-dependent rule — the
    * re-ingest guard — against the new current before retrying: a
    * concurrent [[deleteCommit]] may have tombstoned one of this
    * batch's ids mid-flight, and a blind retry would land physical
    * rows that resurrect on the next [[purgeCommit]]. A retry that
    * fails re-validation leaves the landed band files unreferenced —
    * [[Snapshots.expire]] reclaims them, the standard orphan sweep.
    * File tracking is WRITER-EXACT: the batch lands in a private
    * staging subdir and its files move into place
    * ([[Snapshots.landStaged]]), so a concurrent writer's part files
    * landing mid-write are never claimed — and
    * [[Snapshots.commitSelectingExpecting]] additionally refuses a
    * claim that re-selects an already-selected file, converting any
    * residual mis-claim into a loud conflict instead of duplicated
    * band rows. `expected` is the base version the caller read (None =
    * read current at entry). A driver-local batch (a `LocalRelation`:
    * its rows are inline in the plan, so a retry's re-validation
    * recomputes them exactly) is used as is; any other batch is
    * materialized once ([[graft.Materialize.cut]]) so the landing and
    * every re-validation see the same rows. Returns (committedVersion,
    * conflictsObserved). */
  def appendCommitRetrying(s: SparkSession, indexDir: String,
      newDocs: DataFrame, expected: Option[Int] = None,
      maxRetries: Int = 5): (Int, Int) = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    var v = expected.orElse(Snapshots.current(s, bands)).getOrElse(
      throw new IllegalStateException(
        s"appendCommitRetrying: no committed snapshot under $bands"))
    val local = newDocs.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val staged = if (local) newDocs else graft.Materialize.cut(newDocs)
    val ids = staged.select(col("doc_id")).distinct()
    def checkTombstones(w: Int): Unit = {
      val tombF = manifestPieces(s, bands, w)._2
      if (tombF.nonEmpty) {
        val clash = ids.join(broadcast(s.read.parquet(tombF: _*)),
          Seq("doc_id"), "left_semi").count()
        require(clash == 0L,
          s"appendCommitRetrying: $clash doc_id(s) are tombstoned as " +
            s"of v$w — a purgeCommit must land first (landed band rows " +
            "are unreferenced; expire() reclaims them)")
      }
    }
    // a materialized `staged` must stay so through the retry loop —
    // every re-validation's `ids` derives from it (releasing it after
    // the landing would make a retry recompute a truncated-lineage
    // checkpoint)
    try {
      checkTombstones(v)
      // the additive landing, exactly once — order-independent between
      // concurrent writers (parquet append never mutates existing
      // files), claimed writer-exactly via the private staging move
      val mine = landBands(s, bands, staged)
      var conflicts = 0
      while (true) {
        try return (Snapshots.commitSelectingExpecting(s, bands, v,
          _ => false, mine), conflicts)
        catch { case e: Snapshots.SnapshotConflictException =>
          conflicts += 1
          if (conflicts > maxRetries)
            throw new Snapshots.SnapshotConflictException(
              s"appendCommitRetrying: still conflicting after " +
                s"$maxRetries retries under $bands — last: ${e.getMessage}")
          v = Snapshots.current(s, bands).getOrElse(
            throw new IllegalStateException(
              s"appendCommitRetrying: snapshots vanished under $bands"))
          checkTombstones(v)
        }
      }
      throw new IllegalStateException("unreachable")
    } finally if (!local) graft.Materialize.release(staged)
  }

  /** File-level copy of a saved index (bands + meta). Mutation-testing
    * convenience: a re-runnable query that APPENDS (the ingest-loop
    * forms q103/q103b) clones the resident index per invocation so
    * the shared saved artifact is never mutated — a production
    * pipeline appends in place and doesn't need this. */
  def copyTo(s: SparkSession, srcDir: String, destDir: String): Unit =
    IndexMaintenance.copyDir(s, IvfTopK.qualify(s, srcDir),
      IvfTopK.qualify(s, destDir))

  /** Reconstruct a handle from saved artifacts — one meta row read on
    * the driver, the index stays on disk for the probe scan. */
  def load(s: SparkSession, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    val docsPath = s.read.parquet(s"$base/meta").head().getString(0)
    Handle(docsPath, s"$base/bands")
  }

  /** Near-dup pairs of `probeDocs` ((doc_id, text)) against the SAVED
    * index: (probe_doc, corpus_doc, est_jaccard) at est ≥ the q31
    * threshold, unordered. The probe is sketched with the exact
    * resident kernel, its (band_id, kbucket) set is collected (≤
    * Bands × [[KBuckets]] values) into a static partition predicate —
    * file-level pruning — and the batch rides a broadcast hash join
    * against the pruned scan. doc_id disjointness between batch and
    * corpus is the caller's contract (an admitted batch has fresh
    * ids); a probe doc already in the index would match itself at
    * est = 1. */
  def serve(s: SparkSession, h: Handle, probeDocs: DataFrame): DataFrame =
    serveFrom(s, h, localizeProbe(s, probeDocs))

  /** Sketch the probe batch ONCE (one distributed job) and land the
    * band rows as a driver-local relation. The batch is ≪ corpus by
    * contract and rides a `broadcast()` join either way — broadcast
    * collects to the driver regardless — so localizing adds no driver
    * cost, lets the touched-bucket set be computed without a second
    * job, and leaves NOTHING cached: the previous `Materialize.cut`
    * here leaked one localCheckpoint per serve/admit call in any
    * long-lived session (the bench's between-sweep blanket unpersist
    * was hiding it). */
  private def localizeProbe(s: SparkSession, probeDocs: DataFrame): DataFrame = {
    val bandRows = Dedup.indexBandRows(probeDocs)
    val rows = graft.Jobs.labeled(s, "lsh: sketch probe")(bandRows.collect())
    s.createDataFrame(java.util.Arrays.asList(rows: _*), bandRows.schema)
  }

  /** Public sketch-and-localize for callers that reuse ONE probe
    * sketch across several lifecycle steps (the q103 ingest loop
    * slices one localized sketch into its arrival batches instead of
    * re-scanning the corpus per batch). */
  def localize(s: SparkSession, probeDocs: DataFrame): DataFrame =
    localizeProbe(s, probeDocs)

  /** [[append]] from ALREADY-SKETCHED band rows (doc_id, sig, bk0,
    * band_id, band_key) — no re-sketch, no corpus scan; a local
    * probe-batch relation writes one file per touched partition.
    * Returns the appended document count. */
  def appendRows(s: SparkSession, indexDir: String,
      bandRows: DataFrame): Long = {
    val base = IvfTopK.qualify(s, indexDir)
    requireNotTombstoned(s, s"$base/bands",
      bandRows.select(col("doc_id")).distinct(), "appendRows")
    // the doc count RIDES the write as an observe metric (a separate
    // distinct().count() was a whole extra job whose result every
    // lifecycle caller discards): band rows are one row per
    // (doc, band) with band_id 0..Bands-1 dense per doc, so the
    // band-0 row count IS the distinct doc count
    val obs = new org.apache.spark.sql.Observation()
    graft.Jobs.labeled(s, "lsh: append band rows")(writeBands(
      withBucket(bandRows)
        .observe(obs, count(when(col("band_id") === 0, 1)).as("docs")),
      s"$base/bands", "append"))
    obs.get("docs") match {
      case n: java.lang.Long => n.longValue()
      case other => sys.error(s"unexpected observe metric: $other")
    }
  }

  /** est-Jaccard over two melted sig columns — the shared verification
    * expression of the serve and admission joins. The match count runs
    * through the [[graft.functions.SigMatches]] kernel: the 16-term
    * CASE-WHEN sum it replaces is textually DUPLICATED into the
    * broadcast join's condition by filter pushdown, and the two copies
    * blow the whole-stage-codegen method budget — the join stage falls
    * back to interpreted evaluation (measured 4.1 s vs 0.5 s for the
    * same 500k-candidate serve leg at sf0.1). Same value, same NULL
    * semantics (kernel is never NULL; the CASE sum never was). */
  private def estOf(sigA: Column, sigB: Column): Column =
    graft.functions.VectorFunctions.sigMatches(sigA, sigB)
      .cast("double") / lit(Dedup.K.toDouble)

  /** [[serve]] AS OF a committed snapshot version
    * ([[Snapshots.commit]] over the bands dir): the index relation is
    * exactly the manifested file set, read with `basePath` so the
    * (band_id, kbucket) partition pruning survives the explicit
    * listing — a reader pinned to version N sees byte-identical
    * results no matter how many appends commit after it. */
  def serveAsOf(s: SparkSession, indexDir: String, version: Int,
      probeDocs: DataFrame): DataFrame =
    serveRowsAsOf(s, indexDir, version, localizeProbe(s, probeDocs))

  /** [[serveAsOf]] over ALREADY-SKETCHED probe band rows (one probe
    * sketch shared across several as-of reads — the q109 form). The
    * relation is the version's manifested band files with ITS
    * tombstones anti-joined ([[versionRelation]]) — a version
    * committed before a [[deleteCommit]] still sees the deleted docs,
    * one committed after does not. */
  def serveRowsAsOf(s: SparkSession, indexDir: String, version: Int,
      probeRows: DataFrame): DataFrame =
    serveOn(s, s"${IvfTopK.qualify(s, indexDir)}/bands", Some(version),
      probeRows)

  /** [[serve]] over ALREADY-SKETCHED probe band rows (callers that
    * reuse one probe sketch across several legs — q110 feeds the same
    * sketch to the corpus serve and the within-batch pair join). */
  def serveRows(s: SparkSession, h: Handle, probeRows: DataFrame): DataFrame =
    serveFrom(s, h, probeRows)

  /** [[serve]] body over pre-materialized probe band rows, so the
    * admission verdict can reuse one probe sketch for both its legs.
    * The LIVE bands relation: for an uncommitted index a plain
    * directory read; for a MANIFEST-COMMITTED index ([[Snapshots]])
    * the CURRENT version's exact file set — a direct directory read
    * would silently DOUBLE-COUNT rows after a copy-on-write compaction
    * ([[compactCommitSnapshot]]), because the merged files land as
    * siblings of the files older versions still reference and both
    * stay on disk until [[Snapshots.expire]]. One manifest-dir
    * existence check on the happy path. */
  private def serveFrom(s: SparkSession, h: Handle,
      probeRows: DataFrame): DataFrame =
    serveOn(s, h.bandsPath, Snapshots.current(s, h.bandsPath), probeRows)

  /** Driver-side twin of the serve's touched-bucket collection for
    * probes whose optimized plan is a [[LocalRelation]] (every
    * localized sketch — Catalyst's ConvertToLocalRelation also folds
    * slices of one). Returns the distinct (band_id, kbucket) pairs in
    * first-appearance order; NULL band keys are skipped — a NULL key
    * equi-matches nothing, so its bucket can never contribute a row
    * (the collected form's pruning predicate was merely a superset).
    * None when the probe is not local (the caller runs the job). */
  private def localTouched(probeRows: DataFrame): Option[Seq[(Int, Int)]] =
    probeRows.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val bi = lr.output.indexWhere(_.name == "band_id")
        val bk = lr.output.indexWhere(_.name == "band_key")
        if (bi < 0 || bk < 0) None
        else {
          val seen = scala.collection.mutable.LinkedHashSet[(Int, Int)]()
          lr.data.foreach { r =>
            if (!r.isNullAt(bi) && !r.isNullAt(bk))
              seen += ((r.getInt(bi),
                (((r.getLong(bk) % KBuckets) + KBuckets) % KBuckets).toInt))
          }
          Some(seen.toSeq)
        }
      case _ => None
    }

  /** The serve join against the bands under `bands` — the live
    * directory (`version` None) or a committed version's file set —
    * with bucket-set pruning, broadcast probe and first-collision-band
    * gate. */
  private def serveOn(s: SparkSession, bands: String, version: Option[Int],
      probeRows: DataFrame): DataFrame = {
    val probe = probeRows.select(
      col("doc_id").as("probe_doc"), col("sig").as("sig_a"),
      col("bk0").as("probe_bk0"), col("band_id"), col("band_key"))
    // bounded driver read: the distinct (band_id, kbucket) pairs the
    // batch can touch — at most Bands × KBuckets rows by construction.
    // Every lifecycle caller passes a LOCALIZED probe (a driver-local
    // relation via localizeProbe), so the set is computed directly
    // from the local rows — the previous distinct().collect() paid a
    // full Spark job (shuffle + collect) per serve leg for rows the
    // driver already held. Non-local probes keep the job.
    val touched = localTouched(probeRows).getOrElse(probe
      .select(col("band_id"), kbucket(col("band_key")).as("kbucket"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq)
    // a committed version prunes by FILE LIST (versionRelation); the
    // uncommitted directory read prunes by partition predicate
    val idxRel = version match {
      case Some(v) => versionRelation(s, bands, v, touched.toSet)
      case None => ManifestIO.readDir(s, bands).where(touched
        .map { case (b, kb) => col("band_id") === b && col("kbucket") === kb }
        .reduceOption(_ || _).getOrElse(lit(false)))
    }
    val idx = idxRel
      .select(col("doc_id").as("corpus_doc"), col("sig").as("sig_b"),
        col("bk0").as("corpus_bk0"), col("band_id"), col("band_key"))
    idx.join(broadcast(probe), Seq("band_id", "band_key"))
      // first-collision-band gate: a pair colliding on both bands is
      // counted only at band 0 — the filter twin of the oracle's
      // DISTINCT, with no extra shuffle
      .where(col("band_id") === 0 || col("probe_bk0") =!= col("corpus_bk0"))
      .withColumn("est_jaccard", estOf(col("sig_a"), col("sig_b")))
      .where(col("est_jaccard") >= Dedup.EstThreshold)
      .select(col("probe_doc"), col("corpus_doc"), col("est_jaccard"))
  }

  /** The full ADMISSION VERDICT for an incoming batch — what an
    * ingestion pipeline actually decides per arriving document: near-
    * dup of the resident corpus (the [[serve]] leg) OR of a LOWER-id
    * batch-mate (the id-minimal representative of a new dup cluster is
    * admitted, its copies are not — q30/q76's canonical-id rule).
    * Returns (doc_id, n_corpus_hits, n_batch_hits, admitted). One
    * probe sketch feeds both legs; the within-batch leg is the q31
    * band self-join at batch size — batch ≪ corpus by contract, so it
    * needs no skew guard (a hot band key costs at most batch² pairs,
    * and only (ids, sig) rows ride the join). */
  def admit(s: SparkSession, h: Handle, probeDocs: DataFrame): DataFrame =
    admitRows(s, h, localizeProbe(s, probeDocs))

  /** [[admit]] over ALREADY-SKETCHED probe band rows. The verdict's
    * per-doc spine comes from the sketch itself (every doc carries
    * exactly Bands rows, so its doc_ids are the batch's id set) — no
    * second scan of the probe documents. Spine, corpus hits and
    * in-batch hits are unioned as (doc_id, c, b) rows and summed in ONE
    * grouping: one shuffle (3 Spark jobs per verdict), where a distinct
    * spine with two aggregated left joins onto it needs three (7
    * jobs). A doc with no hit keeps its zero spine rows, so every id
    * gets exactly one verdict row. */
  def admitRows(s: SparkSession, h: Handle, probe: DataFrame): DataFrame = {
    def side(p: String) = probe.select(
      col("doc_id").as(s"doc_$p"), col("sig").as(s"sig_$p"),
      col("bk0").as(s"bk0_$p"), col("band_id"), col("band_key"))
    val batchPairs = side("a").join(side("b"), Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .where(col("band_id") === 0 || col("bk0_a") =!= col("bk0_b"))
      .where(estOf(col("sig_a"), col("sig_b")) >= Dedup.EstThreshold)
    def hits(id: String, c: Long, b: Long)(df: DataFrame) =
      df.select(col(id).as("doc_id"), lit(c).as("c"), lit(b).as("b"))
    // a NULL doc_id is no document's id: its corpus hits count toward
    // no verdict
    hits("doc_id", 0L, 0L)(probe)
      .unionAll(hits("probe_doc", 1L, 0L)(
        serveFrom(s, h, probe).where(col("probe_doc").isNotNull)))
      .unionAll(hits("doc_b", 0L, 1L)(batchPairs))
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_corpus_hits"),
        coalesce(sum(col("b")), lit(0L)).as("n_batch_hits"))
      .withColumn("admitted",
        col("n_corpus_hits") === 0L && col("n_batch_hits") === 0L)
  }
}
