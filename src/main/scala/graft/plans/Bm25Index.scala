package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *   - `terms/`    — (term, df) SEGMENTS: the saved vocabulary plus one
  *     df-delta segment per append (positive) or delete (negative).
  *     df is additive, so a version's df is the per-term sum over its
  *     manifested segments, and each commit writes O(batch terms),
  *     never the resident vocabulary; [[purgeCommit]] folds the
  *     segments back into one netted relation and records how many
  *     files that fold landed under `terms_fold/`;
  *   - `stats/`    — one MERGEABLE row (n_docs, n_tok_docs, sum_dl):
  *     sums, not the derived avgdl, so a commit updates them in O(1)
  *     instead of recomputing over the resident corpus; serves derive
  *     avgdl = sum_dl / n_tok_docs with the fresh path's exact
  *     long-sum-then-double-divide arithmetic;
  *   - `deletes/`  — the tombstone list [[deleteCommit]] appends;
  *   - `meta/`     — the source documents path.
  *
  * ONE lifecycle, the snapshot-committed one ([[Snapshots]] over the
  * whole base dir, so a single version number pins every artifact):
  * [[save]] publishes v1, and every later change —
  * [[appendCommitRetrying]], [[deleteCommit]], [[purgeCommit]] — lands
  * its files through [[Snapshots.landStaged]] and publishes exactly
  * those files on top of the version it read
  * ([[Snapshots.commitSelectingExpecting]]), dropping only what they
  * replace. No file a version references is ever rewritten, and no
  * commit claims a file another writer left on disk: a mutation that
  * dies before its commit leaves the current version intact and only
  * unreferenced files behind, which [[Snapshots.expire]] reclaims.
  *
  * [[serve]] reads the current version and [[serveAsOf]] any retained
  * one; a base dir with no snapshot is refused. Both compute exactly
  * [[TextAnalysis.bm25ScoreFrom]] over the pruned manifested reads, so
  * served scores equal the fresh computation bit for bit (the
  * shared-scorer contract; q97b's oracle re-proves it against DuckDB
  * per round).
  */
object Bm25Index {

  /** Term-hash partition count for the postings table. */
  val Buckets = 64

  final case class Handle(docsPath: String, indexPath: String)

  private def tbucket(c: Column) =
    pmod(crc32(c.cast("string")), lit(Buckets)).cast("int")

  /** The tbucket a postings file sits in, read off its `tbucket=b`
    * path segment. */
  private def bucketOf(f: String): Int = f.split('/')
    .find(_.startsWith("tbucket="))
    .map(_.stripPrefix("tbucket=").toInt)
    .getOrElse(throw new IllegalStateException(
      s"Bm25Index: no tbucket= segment in $f"))

  /** The one postings writer, write-sized-for-read: one shuffle by
    * tbucket so each bucket dir gets one file — without it every
    * tokenize task writes a sliver into every bucket and the pruned
    * serve scan pays tasks × buckets file opens. */
  private def writePostings(postings: DataFrame, dir: String): Unit =
    postings.repartition(col("tbucket"))
      .write.partitionBy("tbucket").parquet(dir)

  /** (tokenized docs, total token length) of a postings relation —
    * the two postings-derived sums of the stats row. */
  private def lengthsOf(postings: DataFrame): (Long, Long) = {
    val r = postings.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Write the one stats row (n_docs, n_tok_docs, sum_dl) to `path`. */
  private def writeStats(s: SparkSession, path: String,
      row: (Long, Long, Long)): Unit = {
    import s.implicits._
    Seq(row).toDF("n_docs", "n_tok_docs", "sum_dl")
      .coalesce(1).write.parquet(path)
  }

  /** Build the full index relations for `sfDir`'s documents table,
    * persist them under `indexDir` — the one-off indexing job — and
    * commit the whole base dir as snapshot v1: an index is born
    * committed. */
  def save(s: SparkSession, sfDir: String, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    val docsPath = IvfTopK.qualify(s, s"$sfDir/documents.parquet")
    val docs = graft.Tables.documents(s, sfDir)
    // the rebuild replaces the whole base dir, manifests included
    graft.Fs.deleteRecursively(base, s.sparkContext.hadoopConfiguration)
    // materialized once — the write, the df aggregation and the stats
    // all read it
    val postings = graft.Materialize.cut(
      TextAnalysis.postingsOf(docs)
        .withColumn("tbucket", tbucket(col("term"))))
    try {
      writePostings(postings, s"$base/postings")
      postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .write.parquet(s"$base/terms")
      val (t, sdl) = lengthsOf(postings)
      writeStats(s, s"$base/stats", (docs.count(), t, sdl))
    } finally graft.Materialize.release(postings)
    import s.implicits._
    Seq(docsPath).toDF("docs_path")
      .coalesce(1).write.parquet(s"$base/meta")
    Snapshots.commit(s, base)
    Handle(docsPath, base)
  }

  private val savedDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Handle]()

  /** [[save]] exactly once per (session, indexDir) — the oracle-gated
    * serve query (q97b) goes through this so bench sweeps re-serve
    * from the artifacts instead of re-indexing per invocation. */
  def ensureSaved(s: SparkSession, sfDir: String, indexDir: String): Handle =
    savedDirs.computeIfAbsent((s, IvfTopK.qualify(s, indexDir)),
      _ => save(s, sfDir, indexDir))

  /** Reconstruct a handle from saved artifacts. */
  def load(s: SparkSession, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    Handle(s.read.parquet(s"$base/meta").head().getString(0), base)
  }

  /** The current committed version, required. */
  private def currentVersion(s: SparkSession, base: String,
      op: String): Int =
    Snapshots.current(s, base).getOrElse(throw new IllegalStateException(
      s"Bm25Index.$op: no committed snapshot under $base — an index is " +
        "committed by save()"))

  /** Version `v`'s files under `base/name/` (absolute paths). */
  private def pieceOf(s: SparkSession, base: String, v: Int,
      name: String): Seq[String] =
    Snapshots.files(s, base, v).filter(_.startsWith(s"$base/$name/"))

  /** Version `v`'s `name` relation, read off the manifest (basePath
    * keeps the postings' tbucket column and its pruning). */
  private def pieceRead(s: SparkSession, base: String, v: Int,
      name: String): DataFrame =
    ManifestIO.read(s, s"$base/$name", pieceOf(s, base, v, name))

  /** Version `v`'s stats row. */
  private def statsAsOf(s: SparkSession, base: String,
      v: Int): (Long, Long, Long) = {
    val r = pieceRead(s, base, v, "stats").head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Refuse `ids` that version `v` already tombstones: a
    * tombstone-×-batch-sized broadcast semi-join, and no job at all
    * when `v` carries no tombstone list. */
  private def refuseTombstoned(s: SparkSession, base: String, v: Int,
      ids: DataFrame, op: String, why: String): Unit =
    if (pieceOf(s, base, v, "deletes").nonEmpty) {
      val clash = ids.join(broadcast(pieceRead(s, base, v, "deletes")),
        Seq("doc_id"), "left_semi").count()
      require(clash == 0L,
        s"$op: $clash doc_id(s) are already tombstoned as of v$v — $why")
    }

  /** Every id in `ids` must hold at least one posting in
    * `postingsRel` — the residency half of the delete contract (the
    * double-delete guard catches already-tombstoned ids; this catches
    * NEVER-INGESTED ones, whose df/stats decrements would silently
    * skew every surviving doc's scores). Cost: a doc_id-column
    * projection of the postings under a broadcast semi-join against
    * the delete-sized id set — a maintenance-pass scan, never a
    * shuffle of the index. */
  private def requireResidents(postingsRel: DataFrame, ids: DataFrame,
      op: String): Unit = {
    val n = ids.count()
    val present = postingsRel.select(col("doc_id"))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct().count()
    require(present == n,
      s"$op: ${n - present} doc_id(s) are not residents of the index " +
        "(no postings) — deleting them would decrement df/stats for " +
        "postings that do not exist")
  }

  /** OPTIMISTIC-CONCURRENCY append — the re-derive loop a
    * derived-artifact commit needs where [[Snapshots.commitRetrying]]'s
    * blind retry would be WRONG. The postings and the df-delta segment
    * are base-INDEPENDENT (the batch's own rows — order-independent
    * appends), so they land exactly once; the one-row stats sibling is
    * DERIVED from the base version's totals, so a writer that loses the
    * publish race must not re-publish it (it encodes the stale totals
    * and would erase the winner's increment — a lost update hiding
    * inside a "successful" retry). On
    * [[Snapshots.SnapshotConflictException]]: the stale stats sibling
    * is deleted, the current version re-read, the RE-INGEST RULE
    * re-validated against it (the winner may have tombstoned one of
    * this batch's ids — a tombstoned id's physical postings are still
    * resident until [[purgeCommit]] purges them, so the append must
    * refuse, not land beside them), the stats increment re-derived
    * against the new totals, and the publish retried — so two
    * uncoordinated ingest writers both land, each batch's postings
    * exactly once and the stats incremented exactly once per batch
    * (q141's oracle gates both via the served scores, where
    * n_docs/avgdl enter every term's weight). Every landing goes
    * through [[Snapshots.landStaged]] and every attempt selects exactly
    * this writer's files ([[Snapshots.commitSelectingExpecting]]), so a
    * concurrent writer's half-landed batch is never absorbed. A retry
    * that fails re-validation leaves the landed postings/df files
    * unreferenced — [[Snapshots.expire]] reclaims them. `newDocs` must
    * carry (doc_id, text) with fresh doc_ids; `expected` is the base
    * version the caller read (None = read current at entry). Returns
    * (committedVersion, conflictsObserved). */
  def appendCommitRetrying(s: SparkSession, indexDir: String,
      newDocs: DataFrame, expected: Option[Int] = None,
      maxRetries: Int = 5): (Int, Int) = {
    val base = IvfTopK.qualify(s, indexDir)
    var v = expected.getOrElse(
      currentVersion(s, base, "appendCommitRetrying"))
    val staged = graft.Materialize.cut(newDocs)
    val ids = staged.select(col("doc_id")).distinct()
    def checkTombstones(w: Int): Unit =
      refuseTombstoned(s, base, w, ids, "appendCommitRetrying",
        "a purgeCommit must land first (landed postings are " +
          "unreferenced; expire() reclaims them)")
    // `staged` stays materialized until the loop ends: every
    // re-validation's `ids` derives from it
    try {
      checkTombstones(v)
      val newPost = graft.Materialize.cut(
        TextAnalysis.postingsOf(staged)
          .withColumn("tbucket", tbucket(col("term"))))
      // the base-independent landings, exactly once
      val (mine, (t, sdl)) =
        try (Snapshots.landStaged(s, base) { stage =>
            writePostings(newPost, s"$stage/postings")
            newPost.groupBy(col("term")).agg(count(lit(1)).as("df"))
              .coalesce(1).write.parquet(s"$stage/terms")
          }, lengthsOf(newPost))
        finally graft.Materialize.release(newPost)
      val nNew = staged.count()
      val fsys = graft.Fs.resolve(base, s.sparkContext.hadoopConfiguration)._1
      var conflicts = 0
      while (true) {
        // the CONDITIONAL piece, re-derived per attempt: version v's
        // totals + this batch's increment, landed as one sibling file
        val (n0, t0, sdl0) = statsAsOf(s, base, v)
        val myStats = Snapshots.landStaged(s, base)(stage =>
          writeStats(s, s"$stage/stats", (n0 + nNew, t0 + t, sdl0 + sdl)))
        try return (Snapshots.commitSelectingExpecting(s, base, v,
          _.startsWith("stats/"), mine ++ myStats), conflicts)
        catch { case e: Snapshots.SnapshotConflictException =>
          // the stale sibling encodes the LOSER's totals; no version
          // will ever reference it
          for (p <- myStats)
            fsys.delete(new org.apache.hadoop.fs.Path(s"$base/$p"), false)
          conflicts += 1
          if (conflicts > maxRetries)
            throw new Snapshots.SnapshotConflictException(
              s"appendCommitRetrying: still conflicting after " +
                s"$maxRetries retries under $base — last: ${e.getMessage}")
          v = currentVersion(s, base, "appendCommitRetrying")
          checkTombstones(v)
        }
      }
      throw new IllegalStateException("unreachable")
    } finally graft.Materialize.release(staged)
  }

  /** Retention DELETE under snapshot isolation — MERGE-ON-READ
    * tombstones, the inverted-index deletion strategy (a deleted
    * DOCUMENT's terms hash into nearly every tbucket, so a
    * partition-local physical rewrite degenerates to a full postings
    * rewrite; Lucene and the lakehouse formats solve this the same
    * way). The doc_ids land as one tombstone file that serves
    * anti-join (broadcast — tombstones are delete-sized), the
    * vocabulary decrement as a NEGATIVE df-delta segment (the append
    * segment's mirror — sum-on-read nets it out, terms reaching 0 drop
    * at read time), and the stats subtraction as a sibling replacement;
    * ONE commit pins all three and drops only the replaced `stats/`
    * file, so served scores (df, avgdl) are exact for the survivors at
    * once, readers of older versions never see the delete, and no step
    * rewrites the resident vocabulary. The docs must be CURRENT
    * residents: an id already tombstoned (a repeated delete) or never
    * ingested would decrement df/n_docs/sum_dl for postings that are
    * not there and silently skew every later version's scores, so both
    * are refused loudly. [[purgeCommit]] later purges the tombstoned
    * postings physically. Returns the committed version. */
  def deleteCommit(s: SparkSession, indexDir: String,
      deletedDocs: DataFrame): Int = {
    val base = IvfTopK.qualify(s, indexDir)
    val v = currentVersion(s, base, "deleteCommit")
    val staged = graft.Materialize.cut(deletedDocs
      .select(col("doc_id"), col("text")))
    try {
      val ids = staged.select(col("doc_id")).distinct()
      refuseTombstoned(s, base, v, ids, "deleteCommit",
        "a repeated delete would double-decrement df/stats")
      requireResidents(pieceRead(s, base, v, "postings"), ids,
        "deleteCommit")
      val delPost = graft.Materialize.cut(TextAnalysis.postingsOf(staged))
      val mine =
        try {
          val (t, sdl) = lengthsOf(delPost)
          val n = ids.count()
          val (n0, t0, sdl0) = statsAsOf(s, base, v)
          Snapshots.landStaged(s, base) { stage =>
            ids.coalesce(1).write.parquet(s"$stage/deletes")
            // negative df delta segment — only the deleted docs' own terms
            delPost.groupBy(col("term")).agg((-count(lit(1))).as("df"))
              .coalesce(1).write.parquet(s"$stage/terms")
            writeStats(s, s"$stage/stats", (n0 - n, t0 - t, sdl0 - sdl))
          }
        } finally graft.Materialize.release(delPost)
      Snapshots.commitSelectingExpecting(s, base, v,
        _.startsWith("stats/"), mine)
    } finally graft.Materialize.release(staged)
  }

  /** COPY-ON-WRITE purge and compaction, PARTITION-LOCAL: only tbuckets
    * that hold a tombstoned row (derived from a bounded probe of the
    * (tbucket, doc_id) columns against the broadcast tombstone list)
    * or exceed `maxFiles` data files (append fragmentation) rewrite
    * their surviving rows as NEW sibling files; every other bucket's
    * files carry VERBATIM into the next manifest, which also drops the
    * tombstone list. Write amplification tracks where the deleted
    * docs' postings sit plus where appends landed, never the index
    * size (a deleted doc's terms can hash into every bucket — then the
    * rewrite is index-wide because the WORK is). The vocabulary's
    * accumulated df-delta segments fold here too, into one netted
    * relation (terms whose df nets to 0 drop): a fold is due when the
    * version holds more `terms/` files than the last fold landed (the
    * `terms_fold/` marker; an index never folded counts as one). Every
    * file lands through [[Snapshots.landStaged]] and the commit
    * selects exactly those, dropping only the rewritten tbuckets, the
    * tombstone list and — on a fold — the replaced `terms/` and
    * `terms_fold/` files, so files another writer left unreferenced
    * stay out. Scores are unchanged by construction (df/stats were
    * decremented at delete time); older versions keep time-traveling
    * over their own files until [[Snapshots.expire]]. Returns the
    * committed version (unchanged when there is nothing to purge,
    * merge or fold). */
  def purgeCommit(s: SparkSession, indexDir: String,
      maxFiles: Int = 1): Int = {
    val base = IvfTopK.qualify(s, indexDir)
    val v = currentVersion(s, base, "purgeCommit")
    val posts = pieceOf(s, base, v, "postings")
    val hasTombstones = pieceOf(s, base, v, "deletes").nonEmpty
    def tombstones = broadcast(pieceRead(s, base, v, "deletes"))
    val fragged: Set[Int] = posts.groupBy(bucketOf)
      .filter { case (_, fl) => fl.size > maxFiles }.keySet
    val tombed: Set[Int] =
      if (!hasTombstones) Set.empty
      else pieceRead(s, base, v, "postings")
        .select(col("tbucket"), col("doc_id"))
        .join(tombstones, Seq("doc_id"), "left_semi")
        .select(col("tbucket")).distinct()
        .collect().map(_.getInt(0)).toSet
    val foldMark = pieceOf(s, base, v, "terms_fold")
    val lastFoldFiles =
      if (foldMark.isEmpty) 1
      else pieceRead(s, base, v, "terms_fold").head().getInt(0)
    val needFold = pieceOf(s, base, v, "terms").size > lastFoldFiles
    val touched = fragged ++ tombed
    if (touched.isEmpty && !hasTombstones && !needFold) return v
    // the fold lands the aggregation's own output files (no
    // single-task vocabulary write); the marker counts exactly them
    val folded =
      if (!needFold) Nil
      else Snapshots.landStaged(s, base)(stage =>
        pieceRead(s, base, v, "terms")
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
          .where(col("df") > 0)
          .write.parquet(s"$stage/terms"))
    val marker =
      if (!needFold) Nil
      else Snapshots.landStaged(s, base) { stage =>
        import s.implicits._
        Seq(folded.size).toDF("fold_segs")
          .coalesce(1).write.parquet(s"$stage/terms_fold")
      }
    // the rewrite reads v's manifested files and writes into a private
    // staging dir, so nothing it reads is overwritten under it
    val rewritten =
      if (touched.isEmpty) Nil
      else Snapshots.landStaged(s, base) { stage =>
        val cur = ManifestIO.read(s, s"$base/postings",
          posts.filter(f => touched(bucketOf(f))))
        writePostings(
          if (!hasTombstones) cur
          else cur.join(tombstones, Seq("doc_id"), "left_anti"),
          s"$stage/postings")
      }
    Snapshots.commitSelectingExpecting(s, base, v,
      f => f.startsWith("deletes/") ||
        (f.startsWith("postings/") && touched(bucketOf(f))) ||
        (needFold &&
          (f.startsWith("terms/") || f.startsWith("terms_fold/"))),
      folded ++ marker ++ rewritten)
  }

  /** BM25 scores of `queryTerms` AS OF committed snapshot `version`:
    * every relation is the version's manifested file subset — the
    * postings scan carries a static `tbucket IN (...)` partition
    * filter plus the pushed term predicate, THAT version's tombstones
    * are anti-joined (broadcast), and the version's own terms segments
    * and stats row feed the shared scorer. A reader pinned to version N
    * is byte-for-byte unaffected by any later append, delete or purge.
    * Returns (doc_id, bm25, n_matched), unordered — same contract as
    * the fresh [[TextAnalysis.bm25Agg]]. */
  def serveAsOf(s: SparkSession, indexDir: String, version: Int,
      queryTerms: Seq[String]): DataFrame = {
    val base = IvfTopK.qualify(s, indexDir)
    // driver-side twin of the tbucket column: CRC32 of the UTF-8 term
    // bytes (exactly Spark's crc32 over a string cast), non-negative,
    // so % equals pmod
    val buckets = queryTerms.map { t =>
      val c = new java.util.zip.CRC32()
      c.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Integer.valueOf((c.getValue % Buckets).toInt)
    }.distinct
    val tf0 = pieceRead(s, base, version, "postings")
      .where(col("tbucket").isin(buckets: _*))
      .where(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val tf =
      if (pieceOf(s, base, version, "deletes").isEmpty) tf0
      else tf0.join(broadcast(pieceRead(s, base, version, "deletes")),
        Seq("doc_id"), "left_anti")
    // SEGMENTED VOCABULARY sum-on-read: the term predicate pushes below
    // the aggregation, so a query reads query-terms × segments rows,
    // never the vocabulary; integer sums make the reconstruction exact,
    // and a term whose deltas net to 0 (fully deleted) drops here —
    // exactly what a fresh survivors-only vocabulary would hold
    val df = pieceRead(s, base, version, "terms")
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .where(col("df") > 0)
    val stats = pieceRead(s, base, version, "stats")
      .select(col("n_docs"),
        (col("sum_dl").cast("double") /
          col("n_tok_docs").cast("double")).as("avgdl"))
    TextAnalysis.bm25ScoreFrom(tf, df, stats)
  }

  /** [[serveAsOf]] the CURRENT version of `h`'s index; a base dir with
    * no snapshot is refused, by name. */
  def serve(s: SparkSession, h: Handle,
      queryTerms: Seq[String]): DataFrame =
    serveAsOf(s, h.indexPath,
      currentVersion(s, h.indexPath, "serve"), queryTerms)
}
