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
  *     one row per (doc, band), PARTITIONED by band_id — the column the
  *     probe joins on — and nothing finer: every write ([[save]], an
  *     append's landing, a [[purgeCommit]] rewrite) lands exactly ONE
  *     file per band, its rows sorted by band_key, so a version holds
  *     Bands files per write it kept and a probe opens exactly those.
  *     A finer hash fan-out by band_key would prune little (a 100-doc
  *     probe reaches ≈ 79% of 64 key buckets per band) while each
  *     append would land one file per bucket for every later read
  *     to open. Each row carries the full K-long signature (est-Jaccard
  *     verification happens inside the same join — no second
  *     corpus-sized lookup) and the band-0 key (the
  *     first-collision-band gate for the band-1 leg — a filter, not a
  *     distinct shuffle). ~2×(8+8+8+K×8) bytes per document: orders
  *     of magnitude under the text it indexes.
  *   - `meta/`  — one row naming the resident documents path.
  *   - `bands/deletes/` — the tombstone list [[deleteCommit]] appends
  *     (inside the manifested tree, so one version pins rows +
  *     applicable deletes together); version-aware readers anti-join
  *     it, [[purgeCommit]] folds it into a band-local physical purge.
  *
  * ONE lifecycle, the snapshot-committed one ([[Snapshots]] over
  * `bands/`): [[save]] publishes v1, and every later change —
  * [[appendCommitRetrying]] / [[appendRowsCommitRetrying]],
  * [[deleteCommit]], [[purgeCommit]] — lands its files through
  * [[Snapshots.landStaged]] and publishes exactly those files on top
  * of the version it read ([[Snapshots.commitSelectingExpecting]]).
  * No file an index references is ever rewritten, and no commit
  * claims a file another writer left on disk.
  *
  * `serve` probes a batch: the batch is sketched map-side with the
  * exact q31 kernel, BROADCAST (the incremental contract is
  * batch ≪ corpus), and hash-joined against the index scan — no
  * shuffle of index rows at all. The scan reads exactly the current
  * (or pinned) version's manifested band files. A bands dir with no
  * snapshot is refused. Hot band keys (boilerplate / empty documents
  * sharing one signature) cost candidate VOLUME here, not a
  * single-reducer stall: the broadcast join matches them where the
  * scan reads them, unlike the self-join case that needs [[Dedup]]'s
  * salted-triangle guard.
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

  final case class Handle(docsPath: String, bandsPath: String)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** `df`'s rows collected into a driver-local relation (one job, as
    * wide as `df` already is; none when `df` is local). */
  private def collectLocal(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The one band writer: exactly one file per `band_id=` directory,
    * its rows sorted by band_key, all written by ONE task. A
    * driver-local relation reaches it with no shuffle; anything else
    * is shuffled into it, so upstream work — the sketch — keeps its
    * own width. (A band_id hash exchange would not spread the write:
    * Murmur3 sends band ids 0 and 1 to the same of two partitions.) */
  private def writeBands(rows: DataFrame, path: String, mode: String): Unit = {
    val one = if (isLocal(rows)) rows.coalesce(1) else rows.repartition(1)
    one.sortWithinPartitions(col("band_id"), col("band_key"))
      .write.mode(mode).partitionBy("band_id").parquet(path)
  }

  /** The band a bands-tree file sits in, read off its `band_id=b/`
    * path segment. */
  private def bandOf(f: String): Int =
    f.split('/').find(_.startsWith("band_id=")).map(_.drop(8).toInt)
      .getOrElse(throw new IllegalStateException(
        s"MinHashIndex: no band_id= segment in $f"))

  /** The OCC append's LANDING step, writer-exact: write `bandRows` into
    * a private staging subdir and move them into the live
    * `band_id=` layout ([[Snapshots.landStaged]]), returning
    * the bands-relative paths this writer — and only this writer —
    * landed. Test-visible so the interleaved-landing race (writer B
    * landing between writer A's landing and A's commit) can be staged
    * deterministically. */
  private[graft] def landBands(s: SparkSession, bands: String,
      bandRows: DataFrame): Seq[String] =
    Snapshots.landStaged(s, bands) { stage =>
      graft.Jobs.labeled(s, "lsh: land band rows")(
        writeBands(bandRows, stage, "append"))
    }

  /** Sketch `residentDocs` ((doc_id, text)), persist the banded index
    * under `indexDir` — the one-off indexing job — and commit it as
    * snapshot v1: an index is born committed. `docsPath` names the
    * source for [[load]]'s meta. */
  def save(s: SparkSession, residentDocs: DataFrame, docsPath: String,
      indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    // the overwrite replaces the whole bands tree, manifests included
    writeBands(Dedup.indexBandRows(residentDocs), s"$base/bands", "overwrite")
    Snapshots.commit(s, s"$base/bands")
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

  /** Version `v`'s manifested files split into (band files, tombstone
    * files) — the tombstone list lives under `bands/deletes/` INSIDE
    * the manifested tree, so one version number pins the index rows
    * and the deletes that apply to them consistently. */
  private def manifestPieces(s: SparkSession, bands: String,
      v: Int): (Seq[String], Seq[String]) =
    Snapshots.files(s, bands, v)
      .partition(f => !f.startsWith(s"$bands/deletes/"))

  /** The tombstone rows of `tombF` (a version's `deletes/` files), read
    * off the manifest with the footer on the driver — no schema job. */
  private def tombstones(s: SparkSession, bands: String,
      tombF: Seq[String]): DataFrame =
    ManifestIO.read(s, s"$bands/deletes", tombF)

  /** Version `v`'s effective bands RELATION: exactly its manifested
    * band files (basePath keeps the band_id partition column), with
    * that version's tombstones anti-joined out (broadcast — tombstones
    * are delete-sized, never corpus-sized). */
  private def versionRelation(s: SparkSession, bands: String,
      v: Int): DataFrame = {
    val (bandF, tombF) = manifestPieces(s, bands, v)
    if (bandF.isEmpty)
      throw new IllegalStateException(
        s"snapshot v$v under $bands references no band files")
    val rel = ManifestIO.read(s, bands, bandF)
    if (tombF.isEmpty) rel
    else rel.join(broadcast(tombstones(s, bands, tombF)),
      Seq("doc_id"), "left_anti")
  }

  /** Refuse `ids` that version `w` already tombstones: a
    * tombstone-×-batch-sized broadcast semi-join, and no job at all
    * when `w` carries no tombstone list. */
  private def refuseTombstoned(s: SparkSession, bands: String, w: Int,
      ids: DataFrame, op: String, why: String): Unit = {
    val tombF = manifestPieces(s, bands, w)._2
    if (tombF.nonEmpty) {
      val clash = ids.join(broadcast(tombstones(s, bands, tombF)),
        Seq("doc_id"), "left_semi").count()
      require(clash == 0L,
        s"$op: $clash doc_id(s) are tombstoned as of v$w — $why")
    }
  }

  /** Row-level DELETE under snapshot isolation — the tombstone +
    * purge-compaction shape ([[Bm25Index.deleteCommit]]'s lexical
    * form) applied to the band index: the doc_ids land as ONE
    * tombstone file under the manifested tree and ONE commit pins
    * them, so readers of version v-and-later anti-join them out
    * (broadcast) while readers pinned to older versions never see
    * them — byte-identical time travel through the delete.
    * [[purgeCommit]] later rewrites exactly the bands holding
    * tombstoned rows and drops the list. The commit selects v's files
    * plus the tombstone file this call landed, nothing else: band rows
    * another writer left unreferenced (a refused append) stay out.
    * Ids already tombstoned as of the current version are refused
    * loudly (a double delete is a caller bug; silently re-appending
    * the tombstone would bloat every later anti-join). Returns the
    * committed version. */
  def deleteCommit(s: SparkSession, indexDir: String,
      deleteIds: DataFrame): Int = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    val v = Snapshots.current(s, bands).getOrElse(
      throw new IllegalStateException(
        s"deleteCommit: no committed snapshot under $bands — an index " +
          "is committed by save()"))
    val ids = deleteIds.select(col("doc_id")).distinct()
    // the ids feed a second consumer (the double-delete check) only
    // when v already carries tombstones: materialize them just then
    val tombed = manifestPieces(s, bands, v)._2.nonEmpty
    val staged = if (tombed) graft.Materialize.cut(ids) else ids
    try {
      refuseTombstoned(s, bands, v, staged, "deleteCommit",
        "a repeated delete is a caller bug")
      val mine = Snapshots.landStaged(s, bands)(stage =>
        staged.coalesce(1).write.mode("append").parquet(s"$stage/deletes"))
      Snapshots.commitSelectingExpecting(s, bands, v, _ => false, mine)
    } finally if (tombed) graft.Materialize.release(staged)
  }

  /** COPY-ON-WRITE tombstone-purge compaction, BAND-LOCAL: only bands
    * that hold a tombstoned row (derived from a probe of the
    * (doc_id, band_id) columns against the broadcast tombstone list)
    * or more than `maxFiles` data files rewrite their surviving rows
    * as ONE new sibling file each; every other band's files carry
    * VERBATIM into the next manifest, which also drops the tombstone
    * list. With no tombstones this is plain small-file compaction —
    * the maintenance pass an appending index needs, since every append
    * adds one file per band. A deleted doc has exactly [[Dedup.Bands]]
    * rows, one per band, so a purge of a delete rewrites every band
    * that still holds one of them. The rewrite lands through
    * [[Snapshots.landStaged]] and the commit selects exactly it, so
    * files another writer left unreferenced stay out. Older versions
    * keep time-traveling over their own files until
    * [[Snapshots.expire]]. Returns the committed version (unchanged
    * when there is nothing to purge or merge). */
  def purgeCommit(s: SparkSession, indexDir: String,
      maxFiles: Int = 1): Int = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    val v = Snapshots.current(s, bands).getOrElse(
      throw new IllegalStateException(
        s"purgeCommit: no committed snapshot under $bands"))
    val (bandF, tombF) = manifestPieces(s, bands, v)
    val fragged: Set[Int] = bandF.groupBy(bandOf)
      .filter { case (_, fl) => fl.size > maxFiles }.keySet
    val tombed: Set[Int] =
      if (tombF.isEmpty) Set.empty
      else ManifestIO.read(s, bands, bandF)
        .join(broadcast(tombstones(s, bands, tombF)), Seq("doc_id"), "left_semi")
        .select(col("band_id")).distinct()
        .collect().map(_.getInt(0)).toSet
    val touched = fragged ++ tombed
    if (touched.isEmpty && tombF.isEmpty) return v
    // the rewrite reads v's manifested files and writes into a private
    // staging dir, so nothing it reads is overwritten under it
    val mine =
      if (touched.isEmpty) Nil
      else {
        val cur = ManifestIO.read(s, bands,
          bandF.filter(f => touched(bandOf(f))))
        val purged =
          if (tombF.isEmpty) cur
          else cur.join(broadcast(tombstones(s, bands, tombF)),
            Seq("doc_id"), "left_anti")
        Snapshots.landStaged(s, bands)(stage =>
          graft.Jobs.labeled(s, "lsh: purge rewrite")(
            writeBands(purged, stage, "append")))
      }
    Snapshots.commitSelectingExpecting(s, bands, v,
      f => f.startsWith("deletes/") || touched(bandOf(f)), mine)
  }

  /** OPTIMISTIC-CONCURRENCY append — the q141 re-derive protocol
    * ([[Bm25Index.appendCommitRetrying]]) applied to the band family,
    * where the df-free shape makes every landed artifact ADDITIVE: a
    * doc's band rows are self-contained (there is no corpus-level
    * stats sibling to re-derive), so the landing happens exactly once
    * and only the COMMIT retries. Each attempt SELECTS this writer's
    * tracked files on top of the version it validated against
    * ([[Snapshots.commitSelectingExpecting]] — a concurrent writer's
    * half-landed batch is never swept in), and a lost race
    * re-VALIDATES the one base-dependent rule — the re-ingest guard —
    * against the new current before retrying: a concurrent
    * [[deleteCommit]] may have tombstoned one of this batch's ids
    * mid-flight, and a blind retry would land physical rows that
    * resurrect on the next [[purgeCommit]]. A retry that fails
    * re-validation leaves the landed band files unreferenced —
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
    * every re-validation see the same rows; a local batch's band rows
    * are collected to the driver after the sketch, so the landing
    * writes them with no shuffle. Returns (committedVersion,
    * conflictsObserved). */
  def appendCommitRetrying(s: SparkSession, indexDir: String,
      newDocs: DataFrame, expected: Option[Int] = None,
      maxRetries: Int = CommitRetries): (Int, Int) =
    appendCommitting(s, indexDir, newDocs, Dedup.indexBandRows,
      expected, maxRetries)

  /** How many lost commit races an append tolerates before failing. */
  private final val CommitRetries = 5

  /** [[appendCommitRetrying]] from ALREADY-SKETCHED band rows (doc_id,
    * sig, bk0, band_id, band_key) — a slice of one [[localize]]d
    * sketch, as the ingest loops pass: the landing writes the rows as
    * they are, with no re-sketch and no corpus scan. Same protocol,
    * same return. */
  def appendRowsCommitRetrying(s: SparkSession, indexDir: String,
      bandRows: DataFrame): (Int, Int) =
    appendCommitting(s, indexDir, bandRows, identity, None, CommitRetries)

  /** The body of both append forms; `bandRowsOf` turns the batch into
    * the band rows the landing writes. */
  private def appendCommitting(s: SparkSession, indexDir: String,
      batch: DataFrame, bandRowsOf: DataFrame => DataFrame,
      expected: Option[Int], maxRetries: Int): (Int, Int) = {
    val bands = s"${IvfTopK.qualify(s, indexDir)}/bands"
    var v = expected.orElse(Snapshots.current(s, bands)).getOrElse(
      throw new IllegalStateException(
        s"appendCommitRetrying: no committed snapshot under $bands"))
    val local = isLocal(batch)
    val staged = if (local) batch else graft.Materialize.cut(batch)
    val ids = staged.select(col("doc_id")).distinct()
    def checkTombstones(w: Int): Unit =
      refuseTombstoned(s, bands, w, ids, "appendCommitRetrying",
        "a purgeCommit must land first (landed band rows are " +
          "unreferenced; expire() reclaims them)")
    // a materialized `staged` must stay so through the retry loop —
    // every re-validation's `ids` derives from it (releasing it after
    // the landing would make a retry recompute a truncated-lineage
    // checkpoint)
    try {
      checkTombstones(v)
      // the additive landing, exactly once — order-independent between
      // concurrent writers (parquet append never mutates existing
      // files), claimed writer-exactly via the private staging move
      val rows = bandRowsOf(staged)
      val mine = landBands(s, bands,
        if (local) graft.Jobs.labeled(s, "lsh: sketch batch")(collectLocal(s, rows))
        else rows)
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

  /** File-level copy of a saved index (bands with their manifests +
    * meta). Harness convenience: a re-runnable query that commits into
    * an index (the ingest-loop and snapshot lifecycle queries) clones
    * the shared saved artifact per invocation, so that artifact is
    * identical on every run — a production pipeline commits into its
    * one index and doesn't need this. */
  def copyTo(s: SparkSession, srcDir: String, destDir: String): Unit =
    graft.Fs.copyDir(s, IvfTopK.qualify(s, srcDir), IvfTopK.qualify(s, destDir))

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
    * resident kernel and the batch rides a broadcast hash join against
    * the version's band files. doc_id disjointness between batch and
    * corpus is the caller's contract (an admitted batch has fresh
    * ids); a probe doc already in the index would match itself at
    * est = 1. */
  def serve(s: SparkSession, h: Handle, probeDocs: DataFrame): DataFrame =
    serveFrom(s, h, localizeProbe(s, probeDocs))

  /** Sketch the probe batch ONCE (one distributed job) and land the
    * band rows as a driver-local relation. The batch is ≪ corpus by
    * contract and rides a `broadcast()` join either way — broadcast
    * collects to the driver regardless — so localizing adds no driver
    * cost and leaves NOTHING cached: the previous `Materialize.cut`
    * here leaked one localCheckpoint per serve/admit call in any
    * long-lived session (the bench's between-sweep blanket unpersist
    * was hiding it). */
  private def localizeProbe(s: SparkSession, probeDocs: DataFrame): DataFrame =
    graft.Jobs.labeled(s, "lsh: sketch probe")(
      collectLocal(s, Dedup.indexBandRows(probeDocs)))

  /** Public sketch-and-localize for callers that reuse ONE probe
    * sketch across several lifecycle steps (the q103 ingest loop
    * slices one localized sketch into its arrival batches instead of
    * re-scanning the corpus per batch). */
  def localize(s: SparkSession, probeDocs: DataFrame): DataFrame =
    localizeProbe(s, probeDocs)

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
    * exactly the manifested file set — a reader pinned to version N
    * sees byte-identical results no matter how many appends commit
    * after it. */
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
    serveOn(s, s"${IvfTopK.qualify(s, indexDir)}/bands", version, probeRows)

  /** [[serve]] over ALREADY-SKETCHED probe band rows (callers that
    * reuse one probe sketch across several legs — q110 feeds the same
    * sketch to the corpus serve and the within-batch pair join). */
  def serveRows(s: SparkSession, h: Handle, probeRows: DataFrame): DataFrame =
    serveFrom(s, h, probeRows)

  /** [[serve]] body over pre-materialized probe band rows, so the
    * admission verdict can reuse one probe sketch for both its legs.
    * The LIVE bands relation is the CURRENT version's exact file set —
    * a directory read would DOUBLE-COUNT rows after a copy-on-write
    * [[purgeCommit]], because the merged files land as siblings of the
    * files older versions still reference and both stay on disk until
    * [[Snapshots.expire]]. A bands dir with no snapshot was not written
    * by [[save]] and is refused. One manifest-dir listing. */
  private def serveFrom(s: SparkSession, h: Handle,
      probeRows: DataFrame): DataFrame =
    serveOn(s, h.bandsPath, Snapshots.current(s, h.bandsPath).getOrElse(
      throw new IllegalStateException(
        s"MinHashIndex: no committed snapshot under ${h.bandsPath} — an " +
          "index is committed by save(); this bands dir was not")),
      probeRows)

  /** The serve join against version `version` of the bands under
    * `bands`: broadcast probe and first-collision-band gate. */
  private def serveOn(s: SparkSession, bands: String, version: Int,
      probeRows: DataFrame): DataFrame = {
    val probe = probeRows.select(
      col("doc_id").as("probe_doc"), col("sig").as("sig_a"),
      col("bk0").as("probe_bk0"), col("band_id"), col("band_key"))
    val idx = versionRelation(s, bands, version)
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
