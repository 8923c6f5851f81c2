package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Persisted BM25 lexical index — the text twin of [[PqIndex]]/
  * [[IvfTopK]]'s vector lifecycles: tokenize and aggregate the corpus
  * ONCE per version, persist the index relations, serve any query from
  * the artifacts without re-reading a single document, and APPEND new
  * documents without re-indexing the resident corpus.
  *
  * Artifact layout under `indexDir`:
  *   - `postings/` — (doc_id, term, tf, dl), the corpus-sized relation
  *     (one row per distinct doc×term), partitioned by `tbucket` =
  *     crc32(term) mod [[Buckets]] so a query's terms prune the scan
  *     to their buckets at the FILE level — at 100 TB a 3-term query
  *     opens ~3/[[Buckets]] of the index, not all of it (a raw
  *     `partitionBy(term)` would mint one directory per vocabulary
  *     entry — millions of tiny files — so terms hash into a bounded
  *     bucket space instead);
  *   - `terms/`    — (term, df), vocabulary-sized;
  *   - `stats/`    — one MERGEABLE row (n_docs, n_tok_docs, sum_dl):
  *     sums, not the derived avgdl, so an append updates them in O(1)
  *     instead of recomputing over the resident corpus; `serve`
  *     derives avgdl = sum_dl / n_tok_docs with the fresh path's exact
  *     long-sum-then-double-divide arithmetic;
  *   - `meta/`     — the source documents path.
  *
  * `serve` computes exactly [[TextAnalysis.bm25ScoreFrom]] over the
  * pruned reads, so served scores equal the fresh computation bit for
  * bit (the shared-scorer contract; q97b's oracle re-proves it against
  * DuckDB per round).
  */
object Bm25Index {

  /** Term-hash partition count for the postings table. */
  val Buckets = 64

  final case class Handle(docsPath: String, postingsPath: String,
      termsPath: String, statsPath: String)

  private def tbucket(c: org.apache.spark.sql.Column) =
    pmod(crc32(c.cast("string")), lit(Buckets)).cast("int")

  /** Build the full index relations for `sfDir`'s documents table and
    * persist them under `indexDir` — the one-off indexing job. */
  def save(s: SparkSession, sfDir: String, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    val docsPath = IvfTopK.qualify(s, s"$sfDir/documents.parquet")
    val docs = graft.Tables.documents(s, sfDir)
    // materialized once — the write, the df aggregation and the stats
    // all read it
    val postings = graft.Materialize.cut(
      TextAnalysis.postingsOf(docs)
        .withColumn("tbucket", tbucket(col("term"))))
    // write-sized-for-read: one shuffle by tbucket so each bucket dir
    // gets one file — without it every tokenize task writes a sliver
    // into every bucket and the pruned serve scan pays tasks × buckets
    // file opens
    postings.repartition(col("tbucket"))
      .write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$base/postings")
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$base/terms")
    writeStats(s, s"$base/stats", docs.count(), postings)
    import s.implicits._
    Seq(docsPath).toDF("docs_path")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/meta")
    Handle(docsPath, s"$base/postings", s"$base/terms", s"$base/stats")
  }

  /** Persist the mergeable stats row: `nDocs` total documents (token-
    * less included, matching the fresh scorer's n_docs), plus the
    * tokenized-doc count and total token length derived from the
    * postings batch, added to `addTo` (the resident stats on append). */
  private def writeStats(s: SparkSession, path: String, nDocs: Long,
      postings: DataFrame, addTo: (Long, Long, Long) = (0L, 0L, 0L)): Unit = {
    val inc = postings.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("t"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head()
    import s.implicits._
    swapIn(s, path)(fresh =>
      Seq((addTo._1 + nDocs, addTo._2 + inc.getLong(0),
          addTo._3 + inc.getLong(1)))
        .toDF("n_docs", "n_tok_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite").parquet(fresh))
  }

  /** Crash-safe in-place replacement for the small whole-rewrite
    * artifacts (vocabulary-sized terms, one-row stats): write the new
    * relation to a fresh sibling path, then swap via two renames
    * (rename is atomic per path on HDFS and the local FS). A crash
    * before the first rename leaves the live artifact untouched; a
    * crash BETWEEN the renames leaves nothing live at `path` — only
    * the `.old` sibling holds the good copy, so recovery (here at
    * entry, and in every artifact reader via [[recoverSwap]]) renames
    * it BACK before anything is deleted. delete()'s multi-artifact
    * update therefore degrades to at most ONE stale artifact — and
    * because its tombstones land FIRST, every crash window is
    * conservative: deleted docs are already invisible to serve while
    * df/stats at worst lag one decrement (vs the previous in-place
    * overwrite, where a crash mid-write left a torn artifact requiring
    * an index rebuild). */
  private def swapIn(s: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val (fs, p) = graft.Fs.resolve(path, s.sparkContext.hadoopConfiguration)
    val fresh = new org.apache.hadoop.fs.Path(path + ".swap")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    // CRASH RECOVERY FIRST: if `path` is missing but `.old` exists,
    // the previous swap died between its two renames and `.old` is the
    // ONLY good copy — deleting it upfront (the pre-r14 behavior)
    // would destroy the artifact instead of restoring it.
    recoverSwap(s, path)
    if (fs.exists(fresh)) fs.delete(fresh, true)
    // `.old` is reclaimable only when a live artifact exists at `path`
    if (fs.exists(p) && fs.exists(old)) fs.delete(old, true)
    write(fresh.toString)
    if (fs.exists(p))
      require(fs.rename(p, old), s"swap: rename $p -> $old failed")
    require(fs.rename(fresh, p), s"swap: rename $fresh -> $p failed")
    fs.delete(old, true)
  }

  /** The in-place lifecycle's swap/rewrite forms DESTROY files a
    * committed manifest still references (swapIn deletes the replaced
    * terms/stats; compact's source read would double-count siblings) —
    * a committed index mutates through the *Commit forms only. */
  private def requireUncommitted(s: SparkSession, base: String,
      op: String, instead: String): Unit =
    require(Snapshots.current(s, base).isEmpty,
      s"Bm25Index.$op: $base is manifest-committed — use $instead")

  /** Every id in `staged` must hold at least one posting in
    * `postingsRel` — the residency half of the delete contract (the
    * double-delete guard catches already-tombstoned ids; this catches
    * NEVER-INGESTED ones, whose df/stats decrements would silently
    * skew every surviving doc's scores). Cost: a doc_id-column
    * projection of the postings under a broadcast semi-join against
    * the delete-sized id set — a maintenance-pass scan, never a
    * shuffle of the index. */
  private def requireResidents(s: SparkSession, postingsRel: DataFrame,
      staged: DataFrame, op: String): Unit = {
    val ids = staged.select(col("doc_id")).distinct()
    val n = ids.count()
    val present = postingsRel.select(col("doc_id"))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct().count()
    require(present == n,
      s"$op: ${n - present} doc_id(s) are not residents of the index " +
        "(no postings) — deleting them would decrement df/stats for " +
        "postings that do not exist")
  }

  /** Restore a [[swapIn]] interrupted between its two publish renames:
    * `path` missing + `.old` present means the crash landed after
    * rename(path -> .old) and before rename(.swap -> path), so the
    * `.old` sibling is the only good copy — rename it back. Invoked at
    * swapIn entry AND by every reader of a swapped artifact
    * (append/delete/serve/compact read `path` before any swap runs, so
    * without the read-side hook they would fail on the missing path
    * before recovery could happen). Idempotent, two exists() calls on
    * the happy path. */
  private def recoverSwap(s: SparkSession, path: String): Unit = {
    val (fs, p) = graft.Fs.resolve(path, s.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"swap recovery: rename $old -> $p failed")
  }

  /** Read-side crash recovery for the two swap-replaced artifacts of
    * an index base dir (terms, stats). */
  private def recoverArtifacts(s: SparkSession, base: String): Unit = {
    recoverSwap(s, s"$base/terms")
    recoverSwap(s, s"$base/stats")
  }

  private val savedDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Handle]()

  /** [[save]] exactly once per (session, indexDir) — the oracle-gated
    * serve query (q97b) goes through this so bench sweeps re-serve
    * from the artifacts instead of re-indexing per invocation. */
  def ensureSaved(s: SparkSession, sfDir: String, indexDir: String): Handle =
    savedDirs.computeIfAbsent((s, IvfTopK.qualify(s, indexDir)),
      _ => save(s, sfDir, indexDir))

  /** Incremental index maintenance — the lexical twin of
    * [[IvfTopK.append]]: new documents' postings are computed with the
    * shared tokenizer and APPENDED (dynamic-partition append — only
    * the tbuckets the new terms land in gain files); the vocabulary-
    * sized terms table is merged (df sums) and the one-row stats
    * updated from the batch alone — the resident corpus is never
    * rescanned. `newDocs` must carry (doc_id, text) with fresh doc_ids
    * (id collisions are the caller's contract). Returns the number of
    * appended documents. */
  def append(s: SparkSession, indexDir: String, newDocs: DataFrame): Long = {
    val base = IvfTopK.qualify(s, indexDir)
    requireUncommitted(s, base, "append", "appendCommit")
    recoverArtifacts(s, base)
    // materialize the batch ONCE: the returned count, the postings
    // write and the stats update come from the same evaluation
    val staged = graft.Materialize.cut(newDocs)
    // RE-INGEST RULE: an id on the tombstone list may not be appended —
    // its PHYSICAL postings are still in place (delete is merge-on-
    // read), so purging the tombstone here would resurrect the old
    // postings alongside the new ones, and keeping it would anti-join
    // the fresh document out of serve while its postings inflate
    // df/avgdl. A deleted id becomes appendable only after [[compact]]
    // purges it physically. The check is tombstone-×-batch-sized
    // (broadcast semi-join), never corpus-sized.
    tombstones(s, base).foreach { dels =>
      val clash = staged.select(col("doc_id")).distinct()
        .join(broadcast(dels), Seq("doc_id"), "left_semi").count()
      require(clash == 0L,
        s"append: $clash doc_id(s) are tombstoned in $base/deletes — " +
          "re-ingest of a deleted id requires a compact() first")
    }
    val newPost = graft.Materialize.cut(
      TextAnalysis.postingsOf(staged)
        .withColumn("tbucket", tbucket(col("term"))))
    newPost.repartition(col("tbucket"))
      .write.mode("append").partitionBy("tbucket")
      .parquet(s"$base/postings")
    // vocabulary-sized read-merge-overwrite; the merged frame is CUT
    // (materialized off the input files) before the overwrite, so the
    // write never reads the path it is replacing
    val newTerms = newPost.groupBy(col("term")).agg(count(lit(1)).as("df_new"))
    val merged = graft.Materialize.cut(
      s.read.parquet(s"$base/terms")
        .join(newTerms, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) +
            coalesce(col("df_new"), lit(0L))).as("df")))
    swapIn(s, s"$base/terms")(fresh =>
      merged.write.mode("overwrite").parquet(fresh))
    val old = s.read.parquet(s"$base/stats").head()
    writeStats(s, s"$base/stats", staged.count(), newPost,
      addTo = (old.getLong(0), old.getLong(1), old.getLong(2)))
    staged.count()
  }

  /** Retention DELETE — MERGE-ON-READ tombstones, the inverted-index
    * deletion strategy (a deleted DOCUMENT's terms hash into nearly
    * every tbucket, so a partition-local physical rewrite degenerates
    * to a full postings rewrite; Lucene and the lakehouse formats
    * solve this the same way): the doc_ids land in a `deletes/`
    * tombstone list that [[serve]] anti-joins (broadcast — tombstones
    * are delete-sized, not corpus-sized), while the vocabulary-sized
    * terms table and one-row stats are decremented NOW from the
    * deleted docs' own re-tokenized postings, so served scores (df,
    * avgdl) are exact for the survivors immediately. [[compact]]
    * purges tombstoned rows physically and clears the list. The docs
    * must actually be residents (double-deletion corrupts df/stats —
    * the caller's contract, like append's fresh-ids), and a deleted id
    * stays un-appendable until a compact() purges its physical
    * postings ([[append]] enforces this). The three artifact updates
    * land tombstones-FIRST and then swap terms/stats via [[swapIn]],
    * so any crash point leaves serve conservative (deleted docs
    * invisible, df/stats at worst one decrement stale) rather than
    * torn. Returns the number of tombstoned documents. */
  def delete(s: SparkSession, indexDir: String,
      deletedDocs: DataFrame): Long = {
    val base = IvfTopK.qualify(s, indexDir)
    requireUncommitted(s, base, "delete", "deleteCommit")
    recoverArtifacts(s, base)
    val staged = graft.Materialize.cut(deletedDocs
      .select(col("doc_id"), col("text")))
    // DOUBLE-DELETE GUARD (the deleteCommit guard's in-place twin): an
    // id already on the tombstone list has had its df/stats
    // decremented once — decrementing again silently skews every
    // surviving doc's scores. Tombstone-×-batch-sized broadcast check.
    tombstones(s, base).foreach { dels =>
      val clash = staged.select(col("doc_id")).distinct()
        .join(broadcast(dels), Seq("doc_id"), "left_semi").count()
      require(clash == 0L,
        s"delete: $clash doc_id(s) are already tombstoned in " +
          s"$base/deletes — a repeated delete would double-decrement " +
          "df/stats")
    }
    // RESIDENCY: every staged id must hold postings in the live index
    // — deleting a never-ingested doc_id would land df decrements and
    // stats subtractions for postings that don't exist, silently
    // skewing every survivor's scores forever (the tombstone guard
    // above only catches the already-deleted half). One skinny
    // doc_id-column scan under the broadcast id set — the same bounded
    // probe shape as the purge pass.
    requireResidents(s, ManifestIO.readDir(s, s"$base/postings"), staged, "delete")
    val delPost = graft.Materialize.cut(TextAnalysis.postingsOf(staged))
    staged.select(col("doc_id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$base/deletes")
    // df decrement; terms whose df reaches 0 drop out (exactly what a
    // fresh survivors-only index would hold)
    val delDf = delPost.groupBy(col("term")).agg(count(lit(1)).as("df_del"))
    val merged = graft.Materialize.cut(
      s.read.parquet(s"$base/terms")
        .join(delDf, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("df_del"), lit(0L))).as("df"))
        .where(col("df") > 0))
    swapIn(s, s"$base/terms")(fresh =>
      merged.write.mode("overwrite").parquet(fresh))
    // stats subtract: mergeable sums go down as easily as up
    val dec = delPost.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("t"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head()
    val n = staged.select(col("doc_id")).distinct().count()
    val old = s.read.parquet(s"$base/stats").head()
    import s.implicits._
    swapIn(s, s"$base/stats")(fresh =>
      Seq((old.getLong(0) - n, old.getLong(1) - dec.getLong(0),
          old.getLong(2) - dec.getLong(1)))
        .toDF("n_docs", "n_tok_docs", "sum_dl")
        .coalesce(1).write.mode("overwrite").parquet(fresh))
    graft.Materialize.release(merged)
    graft.Materialize.release(delPost)
    graft.Materialize.release(staged)
    n
  }

  /** COMPACTION — collapse the postings back to one file per tbucket
    * partition after append accumulation, preserving the layout the
    * serve path's file-level pruning depends on; the vocabulary-sized
    * terms, one-row stats and meta are copied verbatim (append already
    * rewrites terms/stats whole, so they never fragment). Writes to a
    * NEW directory; the swap is the caller's pointer flip. Returns the
    * postings file count. */
  def compact(s: SparkSession, srcDir: String, destDir: String): Int = {
    val src = IvfTopK.qualify(s, srcDir)
    requireUncommitted(s, src, "compact", "compactCommitSnapshot")
    recoverArtifacts(s, src)
    val dest = IvfTopK.qualify(s, destDir)
    // compaction is where merge-on-read tombstones are PURGED: the
    // rewrite drops tombstoned rows and the compacted index carries no
    // deletes list (terms/stats were already decremented at delete
    // time, so nothing else changes)
    val n = tombstones(s, src) match {
      case Some(dels) =>
        ManifestIO.readDir(s, s"$src/postings")
          .join(broadcast(dels), Seq("doc_id"), "left_anti")
          .repartition(col("tbucket"))
          .write.mode("overwrite").partitionBy("tbucket")
          .parquet(s"$dest/postings")
        graft.Fs.listDataFiles(s"$dest/postings",
          s.sparkContext.hadoopConfiguration).size
      case None =>
        IndexMaintenance.compactPartitioned(s,
          s"$src/postings", s"$dest/postings", Seq("tbucket"))
    }
    for (piece <- Seq("terms", "stats", "meta"))
      graft.Fs.copyDir(s, s"$src/$piece", s"$dest/$piece")
    n
  }

  // --------------------------------------------------------------------
  // SNAPSHOT LIFECYCLE (manifest-committed form, q129): one manifest
  // spans the WHOLE base dir — postings, terms, stats, meta, deletes —
  // so a single version number pins every artifact consistently and
  // "as-of" serves need no copy at all. The in-place lifecycle above
  // swaps terms/stats destructively (older manifests would dangle);
  // here every mutation lands ONLY new sibling files and the manifest
  // swaps the SELECTION ([[Snapshots.commitReplacing]]), so time
  // travel, tombstone deletes and purge compaction coexist — the full
  // lakehouse shape the MinHash family got in q109/q113, extended to
  // the lexical index per the round-13 advice.
  //
  // CRASH PROTOCOL (single writer): a mutation that dies BEFORE its
  // commit leaves the current version fully intact — but its orphaned
  // files are on disk, and the next commitReplacing sweeps every
  // unreferenced file into the new version (duplicate postings rows /
  // stale tombstones would join silently). After any crashed mutation,
  // run Snapshots.expire(dataDir, current) FIRST: it reclaims exactly
  // the unreferenced orphans — the standard lakehouse orphan-sweep
  // rule, stated here because the failure is silent otherwise.
  // --------------------------------------------------------------------

  /** Commit the current artifact listing (a fresh [[save]], or the
    * state after an external mutation) as the next snapshot version. */
  def commitSnapshot(s: SparkSession, indexDir: String): Int =
    Snapshots.commit(s, IvfTopK.qualify(s, indexDir))

  /** Version `v`'s files under `base/name/` (absolute paths). */
  private def pieceOf(s: SparkSession, base: String, v: Int,
      name: String): Seq[String] =
    Snapshots.files(s, base, v).filter(_.startsWith(s"$base/$name/"))

  /** The current committed version, required. */
  private def currentVersion(s: SparkSession, base: String): Int =
    Snapshots.current(s, base).getOrElse(throw new IllegalStateException(
      s"no committed snapshot under $base — commitSnapshot after save first"))

  /** [[append]] under snapshot isolation. Postings append as usual
    * (new files in the touched tbuckets only); the one-row stats
    * update reads the VERSION-v row and lands as a NEW SIBLING file
    * the next manifest selects — no swap, no crash window (a crash
    * before the commit leaves the current version fully intact and
    * only expire()-reclaimable orphans behind).
    *
    * VOCABULARY SEGMENTS (r14 verdict #2): df is ADDITIVE, so the
    * commit lands only the BATCH's (term, df) rows as a new sibling
    * segment under `terms/` — never a merged rewrite of the resident
    * vocabulary. Readers sum segments per term ([[serveAsOf]]);
    * [[compactCommitSnapshot]] folds accumulated segments back to one.
    * Write amplification per append is O(new terms) — at a 10⁸-term
    * vocabulary the previous full_outer-merge + single-task rewrite
    * serialized every ingest commit on the whole vocab; this is the
    * same segment discipline the postings side always had. Returns the
    * committed version. */
  def appendCommit(s: SparkSession, indexDir: String,
      newDocs: DataFrame): Int = {
    val base = IvfTopK.qualify(s, indexDir)
    val v = currentVersion(s, base)
    val staged = graft.Materialize.cut(newDocs)
    // RE-INGEST RULE against the CURRENT version's tombstones (same
    // contract as the in-place append)
    val tomb = pieceOf(s, base, v, "deletes")
    if (tomb.nonEmpty) {
      val clash = staged.select(col("doc_id")).distinct()
        .join(broadcast(s.read.parquet(tomb: _*)), Seq("doc_id"), "left_semi")
        .count()
      require(clash == 0L,
        s"appendCommit: $clash doc_id(s) are tombstoned as of v$v — " +
          "a purge compaction must land first")
    }
    val newPost = graft.Materialize.cut(
      TextAnalysis.postingsOf(staged)
        .withColumn("tbucket", tbucket(col("term"))))
    newPost.repartition(col("tbucket"))
      .write.mode("append").partitionBy("tbucket")
      .parquet(s"$base/postings")
    // df DELTA segment: the batch's own term frequencies, one small
    // sibling file — the resident vocabulary is neither read nor
    // rewritten (sum-on-read reconstructs the merged df exactly;
    // integer sums, no FP drift)
    newPost.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .coalesce(1).write.mode("append").parquet(s"$base/terms")
    val old = s.read.parquet(pieceOf(s, base, v, "stats"): _*).head()
    val inc = newPost.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("t"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head()
    val nNew = staged.count()
    import s.implicits._
    Seq((old.getLong(0) + nNew, old.getLong(1) + inc.getLong(0),
        old.getLong(2) + inc.getLong(1)))
      .toDF("n_docs", "n_tok_docs", "sum_dl")
      .coalesce(1).write.mode("append").parquet(s"$base/stats")
    graft.Materialize.release(newPost)
    graft.Materialize.release(staged)
    Snapshots.commitReplacing(s, base, v, Seq("stats"))
  }

  /** [[appendCommit]] for UNCOORDINATED writers — the re-derive OCC
    * loop a derived-artifact commit needs where
    * [[Snapshots.commitRetrying]]'s blind retry would be WRONG: the
    * postings and df-delta segments are base-INDEPENDENT (the batch's
    * own rows — order-independent appends, landed once), but the
    * one-row stats sibling is DERIVED from the base version's totals,
    * so a writer that loses the publish race must not re-land the same
    * stats file (it encodes the stale totals and would erase the
    * winner's increment — a lost update hiding inside a "successful"
    * retry). On [[Snapshots.SnapshotConflictException]]: the stale
    * stats sibling is deleted, the current version re-read, the
    * re-ingest rule RE-VALIDATED against it (the winner may have
    * tombstoned one of this batch's ids — then the append must refuse,
    * not blindly land), the stats increment re-derived against the new
    * totals, and the publish retried — so two uncoordinated ingest
    * writers both land, each batch's postings exactly once and the
    * stats incremented exactly once per batch (q141's oracle gates
    * both via the served scores, where n_docs/avgdl enter every
    * term's weight). The commit is
    * [[Snapshots.commitSelectingExpecting]] with this writer's TRACKED
    * files — nothing is swept, so a concurrent writer's half-landed
    * batch is never absorbed (the single-writer [[appendCommit]] keeps
    * the simpler sweep form). `expected` is the base version the
    * caller read (None = read current at entry); file tracking is
    * WRITER-EXACT — each artifact lands in a private staging subdir
    * and its files move into place ([[Snapshots.landStaged]]), so
    * interleaved landings on the same artifact dir can never cross
    * claims (and [[Snapshots.commitSelectingExpecting]] refuses a
    * claim that re-selects an already-selected file, making any
    * residual mis-claim a loud conflict, not duplicated posting/df
    * rows). A retry that fails re-validation
    * leaves the landed postings/df files unreferenced — run
    * [[Snapshots.expire]], the standard orphan sweep. Returns
    * (committedVersion, conflictsObserved). */
  def appendCommitRetrying(s: SparkSession, indexDir: String,
      newDocs: DataFrame, expected: Option[Int] = None,
      maxRetries: Int = 5): (Int, Int) = {
    val base = IvfTopK.qualify(s, indexDir)
    val conf = s.sparkContext.hadoopConfiguration
    var v = expected.getOrElse(currentVersion(s, base))
    val staged = graft.Materialize.cut(newDocs)
    def checkTombstones(w: Int): Unit = {
      val tomb = pieceOf(s, base, w, "deletes")
      if (tomb.nonEmpty) {
        val clash = staged.select(col("doc_id")).distinct()
          .join(broadcast(s.read.parquet(tomb: _*)), Seq("doc_id"),
            "left_semi").count()
        require(clash == 0L,
          s"appendCommitRetrying: $clash doc_id(s) are tombstoned as " +
            s"of v$w — a purge compaction must land first (landed " +
            "postings are unreferenced; expire() reclaims them)")
      }
    }
    checkTombstones(v)
    val newPost = graft.Materialize.cut(
      TextAnalysis.postingsOf(staged)
        .withColumn("tbucket", tbucket(col("term"))))
    // base-independent landings, exactly once — each claimed
    // writer-exactly via the private staging move
    val myPost = Snapshots.landStaged(s, s"$base/postings") { stage =>
      newPost.repartition(col("tbucket"))
        .write.mode("append").partitionBy("tbucket").parquet(stage)
    }.map("postings/" + _)
    val myTerms = Snapshots.landStaged(s, s"$base/terms") { stage =>
      newPost.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .coalesce(1).write.mode("append").parquet(stage)
    }.map("terms/" + _)
    val inc = newPost.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("t"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head()
    val nNew = staged.count()
    graft.Materialize.release(newPost)
    graft.Materialize.release(staged)
    val fsys = graft.Fs.resolve(base, conf)._1
    var conflicts = 0
    while (true) {
      // the CONDITIONAL piece, re-derived per attempt: version v's
      // totals + this batch's increment, landed as one sibling file
      val old = s.read.parquet(pieceOf(s, base, v, "stats"): _*).head()
      import s.implicits._
      val myStats = Snapshots.landStaged(s, s"$base/stats") { stage =>
        Seq((old.getLong(0) + nNew, old.getLong(1) + inc.getLong(0),
            old.getLong(2) + inc.getLong(1)))
          .toDF("n_docs", "n_tok_docs", "sum_dl")
          .coalesce(1).write.mode("append").parquet(stage)
      }.map("stats/" + _)
      try {
        return (Snapshots.commitSelectingExpecting(s, base, v,
          f => f.startsWith("stats/"),
          myPost ++ myTerms ++ myStats), conflicts)
      } catch { case e: Snapshots.SnapshotConflictException =>
        conflicts += 1
        if (conflicts > maxRetries)
          throw new Snapshots.SnapshotConflictException(
            s"appendCommitRetrying: still conflicting after " +
              s"$maxRetries retries under $base — last: ${e.getMessage}")
        // the stale sibling encodes the LOSER's totals — remove it
        // before re-deriving (leaving it would let a later sweep-form
        // commit absorb two stats rows for one batch)
        for (p <- myStats)
          fsys.delete(new org.apache.hadoop.fs.Path(s"$base/$p"), false)
        v = currentVersion(s, base)
        checkTombstones(v)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[delete]] under snapshot isolation: tombstones APPEND (readers
    * of older versions never see them), the vocabulary decrement lands
    * as a NEGATIVE df delta segment (the append segment's mirror —
    * sum-on-read nets it out, terms reaching 0 drop at read time), the
    * stats subtraction lands as a sibling replacement, and ONE commit
    * pins all three — the multi-artifact crash windows of the swap
    * form disappear entirely, and no step rewrites the resident
    * vocabulary. The docs must be CURRENT residents: an id already
    * tombstoned as of version v (or re-deleted) would double-decrement
    * df/n_docs/sum_dl and silently skew every later version's scores,
    * so the staged set is checked against v's tombstones (broadcast,
    * tombstone-×-batch-sized) and refused loudly on a clash — the
    * symmetric guard to [[appendCommit]]'s re-ingest rule. Returns the
    * committed version. */
  def deleteCommit(s: SparkSession, indexDir: String,
      deletedDocs: DataFrame): Int = {
    val base = IvfTopK.qualify(s, indexDir)
    val v = currentVersion(s, base)
    val staged = graft.Materialize.cut(deletedDocs
      .select(col("doc_id"), col("text")))
    val tomb0 = pieceOf(s, base, v, "deletes")
    if (tomb0.nonEmpty) {
      val clash = staged.select(col("doc_id")).distinct()
        .join(broadcast(s.read.parquet(tomb0: _*)), Seq("doc_id"), "left_semi")
        .count()
      require(clash == 0L,
        s"deleteCommit: $clash doc_id(s) are already tombstoned as of " +
          s"v$v — a repeated delete would double-decrement df/stats")
    }
    // RESIDENCY against version v's manifested postings (the committed
    // twin of the in-place check): a non-resident id's negative df
    // segments would net every later version's scores wrong — refuse
    // loudly. Skinny doc_id projection under the broadcast id set.
    requireResidents(s,
      ManifestIO.read(s, s"$base/postings", pieceOf(s, base, v, "postings")),
      staged, "deleteCommit")
    val delPost = graft.Materialize.cut(TextAnalysis.postingsOf(staged))
    staged.select(col("doc_id")).distinct()
      .coalesce(1).write.mode("append").parquet(s"$base/deletes")
    // negative df delta segment — only the deleted docs' own terms
    delPost.groupBy(col("term")).agg((-count(lit(1))).as("df"))
      .coalesce(1).write.mode("append").parquet(s"$base/terms")
    val dec = delPost.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("t"), coalesce(sum(col("dl")), lit(0L)).as("sdl"))
      .head()
    val n = staged.select(col("doc_id")).distinct().count()
    val old = s.read.parquet(pieceOf(s, base, v, "stats"): _*).head()
    import s.implicits._
    Seq((old.getLong(0) - n, old.getLong(1) - dec.getLong(0),
        old.getLong(2) - dec.getLong(1)))
      .toDF("n_docs", "n_tok_docs", "sum_dl")
      .coalesce(1).write.mode("append").parquet(s"$base/stats")
    graft.Materialize.release(delPost)
    graft.Materialize.release(staged)
    Snapshots.commitReplacing(s, base, v, Seq("stats"))
  }

  /** Copy-on-write TOMBSTONE-PURGE compaction for a committed index,
    * PARTITION-LOCAL like every other maintenance pass here: only
    * tbuckets that (a) hold a tombstoned row — derived from a bounded
    * probe reading the (tbucket, doc_id) columns against the broadcast
    * tombstone list — or (b) exceed `maxFiles` data files (append
    * fragmentation) rewrite their purged membership as NEW sibling
    * files; every other partition's files carry VERBATIM into the next
    * manifest, which also drops the tombstone list. Write
    * amplification tracks where the deleted docs' postings actually
    * sit plus where appends landed, never the index size (a deleted
    * doc's terms can hash into every bucket — then the rewrite is
    * index-wide because the WORK is, not because the pass is blunt).
    * Older versions keep time-traveling over their own files until
    * [[Snapshots.expire]]; scores are unchanged by construction
    * (terms/stats were already decremented at delete time). The
    * vocabulary's accumulated df-delta segments also fold to one
    * netted relation here (see [[appendCommit]]) — compaction is the
    * amortization point for both small-file families. Returns the
    * committed version (unchanged if nothing needed rewriting, no
    * tombstones exist and the vocabulary is a single segment). */
  def compactCommitSnapshot(s: SparkSession, indexDir: String,
      maxFiles: Int = 1): Int = {
    val base = IvfTopK.qualify(s, indexDir)
    val v = currentVersion(s, base)
    val posts = pieceOf(s, base, v, "postings")
    val tomb = pieceOf(s, base, v, "deletes")
    def bucketOf(f: String): Int = f.split('/')
      .find(_.startsWith("tbucket="))
      .map(_.stripPrefix("tbucket=").toInt)
      .getOrElse(throw new IllegalStateException(
        s"compactCommitSnapshot: no tbucket= segment in $f"))
    val fragged: Set[Int] = posts.groupBy(bucketOf)
      .collect { case (b, fl) if fl.size > maxFiles => b }.toSet
    val tombed: Set[Int] =
      if (tomb.isEmpty) Set.empty
      else ManifestIO.read(s, s"$base/postings", posts)
        .select(col("tbucket"), col("doc_id"))
        .join(broadcast(s.read.parquet(tomb: _*)), Seq("doc_id"), "left_semi")
        .select(col("tbucket")).distinct()
        .collect().map(_.getInt(0)).toSet
    // vocabulary segment fold: the append/delete commits accumulate
    // one df-delta segment each (sum-on-read) — compaction is where
    // they fold back to a single netted relation, landed as fresh
    // sibling files the next manifest selects (the aggregation's own
    // output partitioning; no single-task vocab write — AQE coalesces
    // the files at small scale)
    val termSegs = pieceOf(s, base, v, "terms")
    // FOLD-NEEDED detection via the fold MARKER (one version-pinned
    // row under `terms_fold/` recording how many files the last fold
    // landed): "delta segments accumulated" means MORE terms files
    // than the last fold produced — NOT `size <= 1`, which breaks
    // permanently the first time a fold's aggregation lands multiple
    // files (every later compaction would rewrite the whole vocabulary
    // even with no new deltas). A never-folded index (no marker)
    // treats >1 file as fold-worthy — one initial fold writes the
    // marker and the count-based test governs from then on.
    val foldMark = pieceOf(s, base, v, "terms_fold")
    val lastFoldFiles: Int =
      if (foldMark.isEmpty) 1
      else s.read.parquet(foldMark: _*).head().getInt(0)
    val needFold = termSegs.size > lastFoldFiles
    val touched = fragged ++ tombed
    if (touched.isEmpty && tomb.isEmpty && !needFold) return v
    if (needFold) {
      val conf = s.sparkContext.hadoopConfiguration
      def termFiles = graft.Fs.listDataFiles(s"$base/terms", conf)
        .map(_.getPath.toString).toSet
      val before = termFiles
      ManifestIO.read(s, s"$base/terms", termSegs)
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .where(col("df") > 0)
        .write.mode("append").parquet(s"$base/terms")
      import s.implicits._
      Seq((termFiles -- before).size)
        .toDF("fold_segs")
        .coalesce(1).write.mode("append").parquet(s"$base/terms_fold")
    }
    if (touched.nonEmpty) {
      val files = posts.filter(f => touched(bucketOf(f)))
      val cur = ManifestIO.read(s, s"$base/postings", files)
      val purged =
        if (tomb.isEmpty) cur
        else cur.join(broadcast(s.read.parquet(tomb: _*)),
          Seq("doc_id"), "left_anti")
      val merged = graft.Materialize.cut(purged)
      merged.repartition(col("tbucket"))
        .write.mode("append").partitionBy("tbucket")
        .parquet(s"$base/postings")
      graft.Materialize.release(merged)
    }
    Snapshots.commitReplacing(s, base, v,
      touched.toSeq.sorted.map(b => s"postings/tbucket=$b")
        ++ (if (needFold) Seq("terms", "terms_fold") else Nil)
        :+ "deletes")
  }

  /** [[serve]] AS OF a committed snapshot version: every relation is
    * the manifested file subset — postings `basePath`-read so the
    * tbucket pruning survives the explicit listing, tombstones of THAT
    * version anti-joined, the version's own terms/stats selection fed
    * to the shared scorer. A reader pinned to version N is
    * byte-for-byte unaffected by any later append, delete or
    * compaction. */
  def serveAsOf(s: SparkSession, indexDir: String, version: Int,
      queryTerms: Seq[String]): DataFrame = {
    val base = IvfTopK.qualify(s, indexDir)
    val buckets = queryTerms.map { t =>
      val c = new java.util.zip.CRC32()
      c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Integer.valueOf((c.getValue % Buckets).toInt)
    }.distinct
    val tf0 = ManifestIO.read(s, s"$base/postings", pieceOf(s, base, version, "postings"))
      .where(col("tbucket").isin(buckets: _*))
      .where(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val tomb = pieceOf(s, base, version, "deletes")
    val tf =
      if (tomb.isEmpty) tf0
      else tf0.join(broadcast(s.read.parquet(tomb: _*)),
        Seq("doc_id"), "left_anti")
    // SEGMENTED VOCABULARY sum-on-read: each commit since the last
    // fold left one (term, df-delta) segment (negative for deletes);
    // the version's df is the per-term sum over ITS manifested
    // segments. The term predicate pushes below the aggregation, so a
    // query reads query-terms × segments rows, never the vocabulary;
    // integer sums make the reconstruction exact, and a term whose
    // deltas net to 0 (fully deleted) drops here — exactly what a
    // fresh survivors-only vocabulary would hold.
    val df = s.read.parquet(pieceOf(s, base, version, "terms"): _*)
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .where(col("df") > 0)
    val stats = s.read.parquet(pieceOf(s, base, version, "stats"): _*)
      .select(col("n_docs"),
        (col("sum_dl").cast("double") /
          col("n_tok_docs").cast("double")).as("avgdl"))
    TextAnalysis.bm25ScoreFrom(tf, df, stats)
  }

  /** The tombstone list under an index base dir, if any. */
  private def tombstones(s: SparkSession, base: String): Option[DataFrame] = {
    val delDir = s"$base/deletes"
    val (fs, p) = graft.Fs.resolve(delDir,
      s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(delDir)) else None
  }

  /** Reconstruct a handle from saved artifacts. */
  def load(s: SparkSession, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    recoverArtifacts(s, base)
    val docsPath = s.read.parquet(s"$base/meta").head().getString(0)
    Handle(docsPath, s"$base/postings", s"$base/terms", s"$base/stats")
  }

  /** BM25 scores of `queryTerms` against every matching document,
    * served from the SAVED artifacts alone: the postings scan carries
    * a static `tbucket IN (...)` partition filter plus the pushed
    * term predicate, the df/stats sides are vocabulary- and one-row-
    * sized, and the scorer is [[TextAnalysis.bm25ScoreFrom]] verbatim.
    * Returns (doc_id, bm25, n_matched), unordered — same contract as
    * the fresh [[TextAnalysis.bm25Agg]]. */
  def serve(s: SparkSession, h: Handle,
      queryTerms: Seq[String]): DataFrame = {
    // a COMMITTED index's live serve must read the CURRENT manifest's
    // selection — after appendCommit/deleteCommit the terms/stats dirs
    // hold the old files next to their manifest-selected replacements,
    // and a directory read would double-count them (the same routing
    // guard as the MinHash/IVF/PQ families)
    val base = h.postingsPath.stripSuffix("/postings")
    Snapshots.current(s, base) match {
      case Some(v) => return serveAsOf(s, base, v, queryTerms)
      case None => ()
    }
    recoverSwap(s, h.termsPath)
    recoverSwap(s, h.statsPath)
    // driver-side twin of the save-time tbucket column: CRC32 of the
    // UTF-8 term bytes (exactly Spark's crc32 over a string cast),
    // non-negative, so % equals pmod
    val buckets = queryTerms.map { t =>
      val c = new java.util.zip.CRC32()
      c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Integer.valueOf((c.getValue % Buckets).toInt)
    }.distinct
    val tf0 = s.read.parquet(h.postingsPath)
      .where(col("tbucket").isin(buckets: _*))
      .where(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    // merge-on-read: tombstoned docs filter out here (broadcast — the
    // list is delete-sized); compact() purges them physically
    val tf = tombstones(s, h.postingsPath.stripSuffix("/postings")) match {
      case Some(dels) =>
        tf0.join(broadcast(dels), Seq("doc_id"), "left_anti")
      case None => tf0
    }
    val df = s.read.parquet(h.termsPath)
      .where(col("term").isin(queryTerms: _*))
    // derive avgdl with the fresh path's exact arithmetic: long sums,
    // one double division
    val stats = s.read.parquet(h.statsPath)
      .select(col("n_docs"),
        (col("sum_dl").cast("double") /
          col("n_tok_docs").cast("double")).as("avgdl"))
    TextAnalysis.bm25ScoreFrom(tf, df, stats)
  }
}
