package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SNAPSHOT ISOLATION for the persisted-index family, lakehouse-style:
  * a version is an immutable MANIFEST (text file describing the data
  * files that constitute it), committed by atomic rename. Writers add
  * data files (parquet `append` never mutates existing files) and then
  * [[commit]] the new listing; readers resolve a version's manifest to
  * its exact file set and read THOSE files — so a reader holding
  * version N is unaffected by any later append, and a crashed writer
  * leaves only unreferenced files (invisible to every reader,
  * reclaimed by [[expire]]). Nothing is maintained in place: the
  * pointer flip is the manifest rename, and "as-of" reads fall out for
  * free (Iceberg/Delta's core idea, reduced to what a file-listing
  * manifest can carry — single writer, no schema evolution; row-level
  * deletes ride as tombstone files the index families commit INSIDE
  * the manifested tree).
  *
  * MANIFEST FORMAT — two forms, chosen per commit by size:
  *  - FULL: one dataDir-relative path per line, sorted. The fold
  *    format, and what a fresh dataset's v1 gets.
  *  - DELTA: a `#base N` header followed by `+path` / `-path` op
  *    lines — the version is base N's file set with the adds/drops
  *    applied. This is what keeps commit WRITE amplification O(files
  *    changed) instead of O(files total): on a 10⁶-file table an
  *    ingest commit writes a few hundred bytes, not a multi-MB
  *    re-listing per commit (the same delta-segment discipline the
  *    BM25 vocabulary uses one level down; Iceberg answers the same
  *    problem with manifest lists + per-commit manifest segments).
  *    Deltas FOLD back to full form at [[expire]] (any surviving
  *    manifest whose base is being dropped is rewritten full —
  *    content-equivalent, resolved set unchanged), which also bounds
  *    chain length by the retention cadence. [[commit]] writes
  *    whichever form is fewer lines, so a selection-replacing commit
  *    (rollback across a big divergence) degrades gracefully to full.
  *
  * Contract boundaries, stated rather than hidden:
  *  - [[commit]] assumes a SINGLE WRITER (an ingest pipeline
  *    serializes its own maintenance); uncoordinated writers use
  *    [[commitExpecting]], whose publish rename doubles as a
  *    compare-and-swap on filesystems that refuse to rename over an
  *    existing path (HDFS, object-store committers) and detects
  *    lost updates best-effort elsewhere.
  *  - Every index family and every [[SnapshotTable]] (the
  *    cluster-label and vocabulary state tables included) is
  *    committed only and never rewrites a file a manifest references:
  *    a merge, purge or compaction lands its files as new siblings,
  *    and old versions keep reading their old files until expired.
  *
  * Versions are defined by the manifest files themselves
  * (`_manifests/v{N}.manifest`); there is no mutable CURRENT pointer
  * to corrupt — [[current]] is max N. Manifest writes go through a
  * temp file + rename (atomic per path on HDFS and local FS), so a
  * version either exists completely or not at all.
  */
object Snapshots {

  private def manifestDir(dataDir: String) = s"$dataDir/_manifests"

  private val ManifestName = """v(\d+)\.manifest""".r

  /** Per-manifest content cache (raw parsed lines). A manifest is
    * immutable once published — and [[publish]] INVALIDATES the cache
    * entry for any path it (re)writes, so the one in-process writer
    * can never serve a stale listing even when a dataset is deleted
    * and re-minted at the same path (the r15-advice hazard: a
    * same-file-count re-mint yields a same-length manifest within
    * mtime granularity, which the (modificationTime, length)
    * validation alone cannot distinguish). Cross-PROCESS rewrites
    * still validate by (modTime, length) best-effort — the same
    * boundary the publish CAS has on local FS, stated rather than
    * hidden. The cache is what keeps the bookkeeping passes that fold
    * over EVERY version ([[commitReplacing]]'s referenced-set,
    * [[expire]]'s live-set) at O(current + new) manifest I/O per call
    * instead of re-reading the whole history — on a 100-version dir a
    * commit stats 100 tiny files and reads ~1. */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Seq[String])]()

  /** Resolved-file-set cache (delta chains folded to the sorted full
    * listing), same key/validation/invalidation discipline as
    * [[manifestCache]]: resolving a version walks its base chain once
    * and later reads are one stat. */
  private val resolvedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, Seq[String])]()

  /** Manifest CONTENT reads (cache misses) — test instrumentation for
    * the bookkeeping-scaling guarantee, no production consumer. */
  val manifestReads = new java.util.concurrent.atomic.AtomicLong(0)

  private def fs(s: SparkSession, dataDir: String) =
    graft.Fs.resolve(dataDir, s.sparkContext.hadoopConfiguration)._1

  /** List a dataset's versions (ascending). */
  def versions(s: SparkSession, dataDir: String): Seq[Int] = {
    val f = fs(s, dataDir)
    val dir = new Path(manifestDir(dataDir))
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(n) => Some(n.toInt)
      case _ => None
    }).sorted
  }

  /** The newest committed version, if any. */
  def current(s: SparkSession, dataDir: String): Option[Int] =
    versions(s, dataDir).lastOption

  /** Snapshot the CURRENT file listing of `dataDir` as the next
    * version and return its number. Call after every completed batch
    * of data-file additions (save, append). The listing excludes the
    * manifest dir itself and any `_`/`.`-prefixed bookkeeping files
    * (Spark's own convention for non-data files). */
  def commit(s: SparkSession, dataDir: String): Int =
    writeManifest(s, dataDir, listRel(s, dataDir))

  /** A dataDir-relative path is BOOKKEEPING (not data) when any of
    * its segments is `_`/`.`-prefixed — Spark's own hidden-file
    * convention, which its readers also skip. This is what keeps
    * sidecar trees (`_manifests/`, [[FileStats]]'s `_filestats/`)
    * out of commits AND out of [[expire]]'s orphan sweep: a stats
    * segment is referenced by no manifest by design, and sweeping it
    * as an orphan would silently destroy the scan-planning bounds. */
  private def isHidden(relPath: String): Boolean =
    relPath.split('/').exists(seg =>
      seg.startsWith("_") || seg.startsWith("."))

  /** [[expire]]'s orphan-sweep exemption is by EXPLICIT sidecar name,
    * not the blanket hidden convention above: the only trees that may
    * legitimately hold files no manifest references are the ones this
    * layer itself owns (`_manifests/`, [[FileStats]]'s `_filestats/`).
    * Exempting every `_`/`.`-prefixed segment would shelter
    * crashed-write leftovers under Spark's `_temporary/` staging tree
    * forever — those are exactly the orphans the sweep exists to
    * reclaim. Commit LISTINGS keep the blanket convention ([[isHidden]])
    * — an in-flight `_temporary` part must never be committed as data. */
  private def isOwnedSidecar(relPath: String): Boolean = {
    val head = relPath.takeWhile(_ != '/')
    head == "_manifests" || head == "_filestats"
  }

  /** Current on-disk data files of `dataDir`, as dataDir-relative
    * paths (hidden bookkeeping trees excluded — see [[isHidden]]). */
  private def listRel(s: SparkSession, dataDir: String): Seq[String] =
    graft.Fs.listDataFiles(dataDir, s.sparkContext.hadoopConfiguration)
      .map(_.getPath.toString)
      .map(rel(dataDir, _))
      .filterNot(isHidden)

  /** Commit an EXPLICIT dataDir-relative file set as the next version
    * — the primitive behind [[commit]] (current listing),
    * [[commitReplacingWhere]] and [[rollback]]. Writes the DELTA form vs
    * the current version whenever it is smaller than the full
    * re-listing — O(files changed) manifest bytes per commit. */
  private def writeManifest(s: SparkSession, dataDir: String,
      relFiles: Seq[String]): Int = {
    val cur = current(s, dataDir)
    publish(s, dataDir, cur.getOrElse(0) + 1,
      manifestContent(s, dataDir, cur, relFiles))
  }

  /** The manifest body for `relFiles` as the successor of `base`:
    * the `#base`+ops delta when that is fewer lines than the full
    * sorted listing, the full listing otherwise (or when there is no
    * base). */
  private def manifestContent(s: SparkSession, dataDir: String,
      base: Option[Int], relFiles: Seq[String]): String = {
    val sorted = relFiles.sorted
    for (p <- sorted.headOption.toSeq ++ sorted.lastOption)
      require(!p.startsWith("#") && !p.startsWith("+") && !p.startsWith("-"),
        s"manifest: data file path '$p' collides with the manifest " +
          "grammar's line prefixes")
    base match {
      case Some(b) =>
        val prev = resolveRels(s, dataDir, b)
        val prevSet = prev.toSet
        val newSet = sorted.toSet
        val adds = sorted.filterNot(prevSet)
        val drops = prev.filterNot(newSet)
        if (1 + adds.size + drops.size < sorted.size)
          (s"#base $b" +: (adds.map("+" + _) ++ drops.map("-" + _)))
            .mkString("\n")
        else sorted.mkString("\n")
      case None => sorted.mkString("\n")
    }
  }

  /** Write manifest `v` via temp file + rename, then INVALIDATE any
    * cached content/resolution for that path (see [[manifestCache]] —
    * this is what makes path reuse safe in-process). Rename-over
    * semantics are the FS's: HDFS refuses an existing destination
    * (making the publish an atomic CAS on the version name), POSIX
    * local replaces silently — [[commitExpecting]] layers its checks
    * accordingly. `overwrite` is for [[expire]]'s content-equivalent
    * delta→full FOLD only: the destination is deleted first (on a
    * refusing FS), shrinking the no-manifest crash window to the
    * delete+rename pair — acceptable for a maintenance pass whose
    * rewrite is idempotent and content-equivalent. */
  private def publish(s: SparkSession, dataDir: String, v: Int,
      content: String, overwrite: Boolean = false): Int = {
    val f = fs(s, dataDir)
    val dir = new Path(manifestDir(dataDir))
    if (!f.exists(dir)) f.mkdirs(dir)
    val tmp = new Path(dir, s"v$v.manifest.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    val fin = new Path(dir, s"v$v.manifest")
    if (overwrite && f.exists(fin) && !f.rename(tmp, fin)) {
      // a refusing FS (HDFS): clear the destination, then retry
      f.delete(fin, false)
      require(f.rename(tmp, fin),
        s"snapshot fold: rename $tmp -> $fin failed after delete")
    } else if (!overwrite || !f.exists(fin))
      require(f.rename(tmp, fin),
        s"snapshot commit: rename $tmp -> $fin failed")
    invalidate(f, fin)
    v
  }

  private def invalidate(f: org.apache.hadoop.fs.FileSystem,
      p: Path): Unit = {
    val key = f.makeQualified(p).toString
    manifestCache.remove(key)
    resolvedCache.remove(key)
  }

  /** A [[commitExpecting]] lost the optimistic-concurrency race:
    * another writer committed after the caller read its base version.
    * The caller's data-file additions are untouched (they are
    * unreferenced until a manifest lands — [[expire]] reclaims them if
    * abandoned); the standard reaction is re-read, re-validate, retry. */
  final class SnapshotConflictException(msg: String)
    extends RuntimeException(msg)

  /** OPTIMISTIC-CONCURRENCY commit for uncoordinated writers: publish
    * the current listing as version `expected`+1, failing with
    * [[SnapshotConflictException]] if any other writer committed
    * since the caller read `expected` (= [[current]] at read time;
    * None for a fresh dataset). The protocol is the lakehouse one:
    * read current → add data files → commitExpecting; on conflict,
    * re-read and retry (appends are order-independent, so a retry
    * just re-lists). The version check runs immediately before the
    * publish rename and the rename targets exactly v(expected+1), so
    * on filesystems that refuse to rename over an existing path
    * (HDFS, object-store committers) the publish IS the
    * compare-and-swap; on POSIX local FS (silent replace) a
    * post-publish readback narrows the remaining window to the rename
    * itself — best effort, stated rather than hidden. */
  def commitExpecting(s: SparkSession, dataDir: String,
      expected: Option[Int]): Int = {
    val relFiles = listRel(s, dataDir).sorted
    val cur = current(s, dataDir)
    if (cur != expected)
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: expected current " +
          s"version $expected but found $cur — re-read and retry")
    val v = expected.getOrElse(0) + 1
    val f = fs(s, dataDir)
    val fin = new Path(manifestDir(dataDir), s"v$v.manifest")
    if (f.exists(fin))
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: v$v already exists")
    publish(s, dataDir, v, manifestContent(s, dataDir, expected, relFiles))
    // detect a silent rename-over on local FS: the surviving manifest
    // must RESOLVE to our file set (publish invalidated the cache, so
    // this readback re-reads the file that actually won)
    val got = files(s, dataDir, v).map(rel(dataDir, _)).sorted
    if (got != relFiles)
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: v$v was replaced " +
          "by a concurrent writer after publish")
    v
  }

  /** [[commitExpecting]] with the standard lost-race reaction baked in
    * — the full optimistic-concurrency loop uncoordinated writers run:
    * on [[SnapshotConflictException]], re-read the current version and
    * retry the publish. Sound for APPEND workloads because appends are
    * order-independent: the loser's data files are already landed
    * (unreferenced until a manifest selects them), so the retry's
    * re-listing picks up BOTH writers' files and the committed result
    * is the union regardless of publish order. Writers whose validity
    * depends on the base state (a conditional update) must re-VALIDATE
    * between retries instead of using this helper —
    * [[graft.plans.Bm25Index.appendCommitRetrying]] is the worked
    * example (its stats increment is re-DERIVED against the new
    * current per retry). Returns (committedVersion, conflictsObserved). */
  def commitRetrying(s: SparkSession, dataDir: String,
      expected: Option[Int], maxRetries: Int = 5): (Int, Int) = {
    var base = expected
    var conflicts = 0
    while (true) {
      try return (commitExpecting(s, dataDir, base), conflicts)
      catch { case e: SnapshotConflictException =>
        conflicts += 1
        if (conflicts > maxRetries)
          throw new SnapshotConflictException(
            s"commitRetrying: still conflicting after $maxRetries " +
              s"retries under $dataDir — last: ${e.getMessage}")
        base = current(s, dataDir)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit the next version as: version `v`'s file set MINUS the
    * files under `dropPrefixes` (dataDir-relative directory prefixes,
    * e.g. "terms"), PLUS every on-disk data file that no existing
    * manifest references — the caller's newly-landed siblings. This is
    * the primitive behind replacing a WHOLE-REWRITE artifact under
    * snapshot isolation: the writer lands the replacement as new
    * sibling files (parquet `append` — nothing existing mutates) and
    * the manifest swaps the SELECTION, while older versions keep
    * reading their own files until [[expire]] reclaims them.
    * [[SnapshotTable]]'s append, delete, compaction, partition drop and
    * purge use this form. Because it sweeps, any unreferenced file on
    * disk goes live — including a refused append's landed files;
    * writers that know their file set use [[commitSelectingExpecting]]
    * instead (every index family and [[SnapshotTable.mergeCommit]]).
    * SINGLE WRITER (`v` must be the
    * current version — a stale base is a lost update and is rejected);
    * unreferenced leftovers from a CRASHED past writer would be swept
    * into the new version, so after a crash run [[expire]] before
    * committing further — the standard lakehouse orphan-sweep rule. */
  def commitReplacing(s: SparkSession, dataDir: String, v: Int,
      dropPrefixes: Seq[String]): Int =
    commitReplacingWhere(s, dataDir, v,
      f => dropPrefixes.exists(p => f.startsWith(p + "/")))

  /** [[commitReplacing]] with an arbitrary drop PREDICATE over
    * dataDir-relative paths — for flat (un-partitioned) artifacts
    * whose replaced files sit at the dataset root rather than under a
    * directory prefix ([[SnapshotTable]]'s flat purge drops
    * individual part files). Same single-writer/orphan-sweep
    * contract. */
  def commitReplacingWhere(s: SparkSession, dataDir: String, v: Int,
      drop: String => Boolean): Int = {
    require(current(s, dataDir).contains(v),
      s"commitReplacing: base version $v is not current under $dataDir")
    val vf = files(s, dataDir, v).map(rel(dataDir, _))
    val referenced: Set[String] = versions(s, dataDir)
      .flatMap(w => files(s, dataDir, w)).map(rel(dataDir, _)).toSet
    val fresh = listRel(s, dataDir).filterNot(referenced)
    val kept = vf.filterNot(drop)
    writeManifest(s, dataDir, kept ++ fresh)
  }

  /** OPTIMISTIC-CONCURRENCY commit with an EXPLICIT file selection —
    * the multi-writer form of [[commitReplacing]]: the next version is
    * [version `expected`'s files minus those matching `drop`] plus
    * `addRel` (dataDir-relative paths the CALLER landed and tracked),
    * failing with [[SnapshotConflictException]] if any other writer
    * committed since `expected` was read. Unlike [[commitReplacing]]'s
    * sweep of every unreferenced on-disk file, nothing is swept here —
    * so two uncoordinated writers may land data files CONCURRENTLY
    * without writer A's commit absorbing writer B's half-landed batch;
    * each commit selects exactly its own tracked additions. Every
    * commit an index family makes after `save` — append, delete,
    * purge, in the MinHash, BM25, IVF, PQ and Z-order families, the
    * IVF centroid refresh, and [[SnapshotTable.mergeCommit]] on the
    * label and vocabulary tables — goes through here.
    * Same CAS + readback discipline as [[commitExpecting]]. */
  def commitSelectingExpecting(s: SparkSession, dataDir: String,
      expected: Int, drop: String => Boolean,
      addRel: Seq[String]): Int = {
    val kept = files(s, dataDir, expected).map(rel(dataDir, _))
      .filterNot(drop)
    // a claimed addition that is ALREADY part of the base selection
    // means this writer's file tracking absorbed another writer's
    // committed landing — selecting it again would duplicate its rows
    // in the new manifest. Refuse loudly: the race becomes a visible
    // conflict instead of silent row duplication.
    val already = addRel.toSet.intersect(kept.toSet)
    if (already.nonEmpty)
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: addRel re-selects " +
          s"file(s) already in base v$expected's selection " +
          s"(${already.toSeq.sorted.take(3).mkString(", ")}) — a " +
          "writer claimed another writer's landed files; claims must " +
          "be writer-exact (land via landStaged)")
    val relFiles = (kept ++ addRel).sorted
    if (!current(s, dataDir).contains(expected))
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: base version " +
          s"$expected is no longer current (${current(s, dataDir)}) — " +
          "re-derive against the new current and retry")
    val v = expected + 1
    val f = fs(s, dataDir)
    val fin = new Path(manifestDir(dataDir), s"v$v.manifest")
    if (f.exists(fin))
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: v$v already exists")
    publish(s, dataDir, v,
      manifestContent(s, dataDir, Some(expected), relFiles))
    val got = files(s, dataDir, v).map(rel(dataDir, _)).sorted
    if (got != relFiles)
      throw new SnapshotConflictException(
        s"snapshot commit conflict under $dataDir: v$v was replaced " +
          "by a concurrent writer after publish")
    v
  }

  /** WRITER-EXACT landing for multi-writer appends: run `write`
    * against a PRIVATE staging subdir under `dataDir`'s hidden
    * `_staging/` tree, then MOVE every staged data file to its final
    * home under `dataDir` (same relative partition path — new siblings,
    * exactly where a direct append would have placed them) and return
    * the dataDir-RELATIVE paths moved. This replaces the
    * landing-window listing diff as the file-claim step of the OCC
    * appends: a diff claims whatever landed inside the window, so a
    * concurrent writer's part files landing mid-window get claimed —
    * and committed — by the wrong writer; a private staging dir makes
    * the claim exact by construction, however writers' landings
    * interleave. It also keeps concurrent Spark write jobs out of each
    * other's `_temporary/` tree (two appends to the same directory
    * share one `_temporary/0`, a second interleaving hazard).
    *
    * Rename is metadata-only on HDFS/local (on a pure object store the
    * move degrades to copy — the same boundary as every rename-based
    * committer, stated rather than hidden). Crash windows: files left
    * UNDER `_staging/` or moved-but-uncommitted files are both
    * unreferenced by any manifest and invisible to commits
    * ([[isHidden]] hides the staging tree from listings), and
    * [[expire]]'s orphan sweep reclaims both — the standard
    * crashed-writer discipline. */
  def landStaged(s: SparkSession, dataDir: String)
      (write: String => Unit): Seq[String] = {
    val conf = s.sparkContext.hadoopConfiguration
    val token = java.util.UUID.randomUUID().toString
    val stage = s"$dataDir/_staging/$token"
    write(stage)
    val (f, _) = graft.Fs.resolve(dataDir, conf)
    val stageUri = new Path(stage).toUri.getPath
    val moved = graft.Fs.listDataFiles(stage, conf).map(_.getPath).map {
      p =>
        val r = p.toUri.getPath.drop(stageUri.length + 1)
        val dest = new Path(s"$dataDir/$r")
        // part names carry the write job's UUID, so a collision means
        // the same staged file was moved twice, not a name clash
        require(!f.exists(dest),
          s"landStaged: $dest already exists — refusing to clobber")
        f.mkdirs(dest.getParent)
        require(f.rename(p, dest), s"landStaged: rename $p -> $dest failed")
        r
    }
    f.delete(new Path(s"$dataDir/_staging/$token"), true)
    moved
  }

  /** The manifest's parsed shape: a full listing, or base+ops. */
  private final case class Parsed(base: Option[Int], adds: Seq[String],
      drops: Seq[String], full: Seq[String])

  private val BaseLine = """#base (\d+)""".r

  private def parseLines(lines: Seq[String], where: String): Parsed = {
    val base = lines.collectFirst { case BaseLine(b) => b.toInt }
    val adds = lines.collect { case l if l.startsWith("+") => l.drop(1) }
    val drops = lines.collect { case l if l.startsWith("-") => l.drop(1) }
    val full = lines.filterNot(l =>
      l.startsWith("#") || l.startsWith("+") || l.startsWith("-"))
    require(base.isDefined || (adds.isEmpty && drops.isEmpty),
      s"manifest $where has delta ops but no #base header")
    require(base.isEmpty || full.isEmpty,
      s"manifest $where mixes a #base header with plain listing lines")
    Parsed(base, adds, drops, full)
  }

  private def statOf(s: SparkSession, dataDir: String,
      v: Int): org.apache.hadoop.fs.FileStatus = {
    val f = fs(s, dataDir)
    val p = new Path(manifestDir(dataDir), s"v$v.manifest")
    try f.getFileStatus(p)
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalArgumentException(
        s"snapshot v$v not found under ${manifestDir(dataDir)}")
    }
  }

  /** Raw manifest lines of version `v`, via the validated content
    * cache (one stat on the hot path, a counted read on miss). */
  private def linesOf(s: SparkSession, dataDir: String, v: Int,
      st: org.apache.hadoop.fs.FileStatus): Seq[String] = {
    val key = st.getPath.toString
    val cached = manifestCache.get(key)
    if (cached != null && cached._1 == st.getModificationTime &&
        cached._2 == st.getLen) cached._3
    else {
      manifestReads.incrementAndGet()
      val f = fs(s, dataDir)
      val in = f.open(st.getPath)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
        buf.toString("UTF-8")
      } finally in.close()
      val lines = text.linesIterator.filter(_.nonEmpty).toSeq
      // bound the driver-side bookkeeping: the cache is tiny strings,
      // but a very long session over many staging dirs shouldn't
      // accumulate forever
      if (manifestCache.size > 8192) manifestCache.clear()
      manifestCache.put(key, (st.getModificationTime, st.getLen, lines))
      lines
    }
  }

  /** The `#base` header of version `v`, if it is a delta manifest. */
  private def baseOf(s: SparkSession, dataDir: String, v: Int): Option[Int] =
    parseLines(linesOf(s, dataDir, v, statOf(s, dataDir, v)),
      s"v$v under $dataDir").base

  /** Resolve version `v` to its sorted dataDir-relative file set:
    * walk the delta chain down to a full manifest (or a cached
    * resolution), then replay the ops oldest-first. Chain length is
    * bounded by the retention cadence ([[expire]] folds), and every
    * level's LINES are cached, so a cold resolution is O(chain) tiny
    * reads and a warm one is O(chain) stats. */
  private def resolveRels(s: SparkSession, dataDir: String,
      v: Int): Seq[String] = {
    val topStat = statOf(s, dataDir, v)
    val topKey = topStat.getPath.toString
    val hit = resolvedCache.get(topKey)
    if (hit != null && hit._1 == topStat.getModificationTime &&
        hit._2 == topStat.getLen) return hit._3
    // descend: ops stack ends ordered oldest-first
    var stack: List[(Seq[String], Seq[String])] = Nil
    var cur = v
    var curStat = topStat
    var baseSet: Seq[String] = null
    while (baseSet == null) {
      val key = curStat.getPath.toString
      val rc = resolvedCache.get(key)
      if (rc != null && rc._1 == curStat.getModificationTime &&
          rc._2 == curStat.getLen) baseSet = rc._3
      else {
        val p = parseLines(linesOf(s, dataDir, cur, curStat),
          s"v$cur under $dataDir")
        p.base match {
          case Some(b) =>
            stack = (p.adds, p.drops) :: stack
            cur = b
            curStat = statOf(s, dataDir, cur)
          case None =>
            baseSet = p.full.sorted
            if (resolvedCache.size > 4096) resolvedCache.clear()
            resolvedCache.put(key,
              (curStat.getModificationTime, curStat.getLen, baseSet))
        }
      }
    }
    val set = scala.collection.mutable.TreeSet[String]() ++ baseSet
    for ((adds, drops) <- stack) { set ++= adds; set --= drops }
    val res = set.toSeq
    if (resolvedCache.size > 4096) resolvedCache.clear()
    resolvedCache.put(topKey,
      (topStat.getModificationTime, topStat.getLen, res))
    res
  }

  /** The data files of version `v` (absolute paths, sorted). Delta
    * manifests resolve through the validated caches — one metadata
    * stat per chain level on the hot path. */
  def files(s: SparkSession, dataDir: String, v: Int): Seq[String] =
    resolveRels(s, dataDir, v).map(l => s"$dataDir/$l")

  /** Read version `v` AS OF its commit: exactly the manifested files,
    * with `basePath` set so Hive-partition columns (and therefore
    * partition PRUNING) survive the explicit file listing — a
    * partition-column predicate on this frame still prunes at the
    * file level, same as a directory read. An empty version yields an
    * empty frame with the schema read from any live file set — the
    * caller supplies `emptySchema` for the zero-file case. */
  def read(s: SparkSession, dataDir: String, v: Int,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val fl = files(s, dataDir, v)
    if (fl.isEmpty) {
      val sch = emptySchema.getOrElse(throw new IllegalArgumentException(
        s"snapshot v$v is empty and no emptySchema was supplied"))
      s.createDataFrame(java.util.Collections.emptyList[
        org.apache.spark.sql.Row](), sch)
    } else ManifestIO.read(s, dataDir, fl)
  }

  /** INCREMENTAL READ — the data files version `toV` references that
    * version `fromV` does not, read as one frame (basePath keeps
    * partition columns and pruning): file-level change capture. For
    * the APPEND-ONLY commit paths (save/append + [[commit]]) this is
    * EXACTLY the rows that arrived between the two versions — the
    * "process only what landed since my last checkpoint" contract
    * every downstream incremental consumer wants, at zero bookkeeping
    * beyond the manifests both sides already have (Iceberg's
    * incremental scan / Delta's file-level change feed, reduced to the
    * manifest diff). Commits that REPLACE file selections
    * ([[commitReplacing]], [[commitSelectingExpecting]]) surface the
    * replacement files too — file-level, not row-level, semantics
    * there; pair with a row-level change feed (the q114 shape) when
    * replacements are in play. `fromV` may be 0 (“from nothing”): the full `toV` set. */
  def readIncremental(s: SparkSession, dataDir: String, fromV: Int,
      toV: Int,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val before: Set[String] =
      if (fromV == 0) Set.empty else files(s, dataDir, fromV).toSet
    val toFiles = files(s, dataDir, toV)
    val fresh = toFiles.filterNot(before)
    if (fresh.isEmpty) {
      // an empty increment is a LEGAL outcome (a producer committed a
      // no-op batch — zero new files) and must yield an empty frame,
      // not a crash: derive the schema from any live file of either
      // endpoint (basePath-read, so partition columns survive), and
      // only a dataset with NO files anywhere still needs emptySchema
      val sch = emptySchema.orElse(
        toFiles.headOption
          .orElse(if (fromV == 0) None else files(s, dataDir, fromV).headOption)
          .map(f => ManifestIO.read(s, dataDir, Seq(f)).schema))
        .getOrElse(throw new IllegalArgumentException(
          s"no files were added between v$fromV and v$toV, both versions " +
            "are file-less, and no emptySchema was supplied"))
      s.createDataFrame(java.util.Collections.emptyList[
        org.apache.spark.sql.Row](), sch)
    } else ManifestIO.read(s, dataDir, fresh)
  }

  /** ROLLBACK — republish version `toV`'s exact file set as the NEXT
    * version (the lakehouse undo: nothing is deleted, history stays
    * linear, every version still references its own files, [[expire]]
    * reclaims as usual). Readers of the new current version see
    * precisely what `toV` saw; the rolled-back versions' files remain
    * resolvable until expired. SINGLE WRITER, like [[commit]]. Returns
    * the new version number. */
  def rollback(s: SparkSession, dataDir: String, toV: Int): Int = {
    // a rollback target must be a LIVE version: rolling back to an
    // expired one would either fail opaquely inside files() or publish
    // a manifest referencing reclaimed paths that only fails at read
    // time — name the likely cause instead
    require(versions(s, dataDir).contains(toV),
      s"rollback: v$toV is not a live version under $dataDir — never " +
        "committed, or dropped by expire(); rollback can only republish " +
        "a version whose manifest (and therefore file set) still exists")
    val fl = files(s, dataDir, toV)
    // cheap survival probe (one stat): a live manifest whose files were
    // reclaimed out-of-band should fail HERE, not at first read
    for (f0 <- fl.headOption)
      require(fs(s, dataDir).exists(new Path(f0)),
        s"rollback: v$toV's manifest references $f0 which no longer " +
          "exists on disk — reclaimed out-of-band (expire of a " +
          "replaced selection, or manual cleanup)")
    writeManifest(s, dataDir, fl.map(rel(dataDir, _)))
  }

  /** Retention: drop every manifest OLDER than `keepFrom` — EXCEPT
    * versions pinned by a [[tag]], which survive with their files
    * however far retention advances — then delete any data file
    * referenced by NO surviving manifest, which also reclaims orphans
    * from crashed writers (files that never made it into a manifest).
    * This is also where DELTA manifests FOLD: a surviving manifest
    * whose `#base` is being dropped is rewritten as a full listing
    * first (content-equivalent — its resolved file set is unchanged,
    * so every as-of read is byte-identical through the fold), which
    * bounds delta-chain length by the retention cadence. Returns the
    * number of data files deleted. */
  def expire(s: SparkSession, dataDir: String, keepFrom: Int): Int = {
    val f = fs(s, dataDir)
    val conf = s.sparkContext.hadoopConfiguration
    val pinned: Set[Int] = tags(s, dataDir).values.toSet
    val vs = versions(s, dataDir)
    val surviving: Set[Int] = vs.filter(v => v >= keepFrom || pinned(v)).toSet
    // FOLD before any manifest is deleted: ascending order, so a chain
    // that crosses the drop boundary folds at its lowest survivor and
    // higher survivors keep valid (surviving) bases
    for (v <- vs if surviving(v))
      for (b <- baseOf(s, dataDir, v) if !surviving(b))
        publish(s, dataDir, v,
          resolveRels(s, dataDir, v).mkString("\n"), overwrite = true)
    for (v <- vs if !surviving(v)) {
      val p = new Path(manifestDir(dataDir), s"v$v.manifest")
      f.delete(p, false)
      invalidate(f, p)
    }
    val live: Set[String] = versions(s, dataDir)
      .flatMap(v => files(s, dataDir, v)).toSet
    val all = graft.Fs.listDataFiles(dataDir, conf)
      .map(_.getPath.toString)
      .filterNot(p => isOwnedSidecar(rel(dataDir, p)))
    var n = 0
    for (p <- all if !live.contains(s"$dataDir/${rel(dataDir, p)}")) {
      f.delete(new Path(p), false)
      n += 1
    }
    // fold the stats sidecar on the same retention cadence: rows for
    // just-vacuumed files are dead weight that would otherwise
    // accumulate forever (a stats-less dataset pays one directory
    // stat). Runs after the sweep so the live-file filter nets out
    // everything this pass reclaimed.
    FileStats.compactStats(s, dataDir)
    n
  }

  /** TAGS — NAMED, RETENTION-EXEMPT versions (Iceberg's snapshot
    * tags, reduced to one tiny ref file): `tag("train-2026-01", v)`
    * pins version v under a stable name, [[versionOf]] resolves it,
    * and [[expire]] NEVER drops a tagged version's manifest (so its
    * files stay resolvable) however far retention advances — the
    * reproducibility pin a training run needs ("the exact dataset
    * version this model trained on") that a bare version number plus
    * a retention cadence cannot give, because the cadence would age
    * the number out. Tags are IMMUTABLE (re-tagging a name refuses;
    * [[dropTag]] first), live only under `_manifests/` (excluded from
    * data listings by the existing `_` convention), and written via
    * the same temp+rename publish as manifests — plus a post-rename
    * READBACK (POSIX rename silently replaces, so without it a
    * concurrent tag of the same name could overwrite the pin
    * undetected; same best-effort narrowing as [[commitExpecting]]). */
  def tag(s: SparkSession, dataDir: String, name: String, v: Int): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}"),
      s"tag: name '$name' must be 1-64 chars of [A-Za-z0-9._-] " +
        "starting alphanumeric (it becomes a filesystem name)")
    require(versions(s, dataDir).contains(v),
      s"tag: v$v is not a live version under $dataDir")
    val f = fs(s, dataDir)
    val p = new Path(manifestDir(dataDir), s"tag-$name.ref")
    require(!f.exists(p),
      s"tag: '$name' already exists under $dataDir — tags are " +
        "immutable; dropTag it first if re-pinning is really intended")
    val tmp = new Path(manifestDir(dataDir), s"tag-$name.ref.tmp")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8"))
    finally out.close()
    require(f.rename(tmp, p), s"tag: rename $tmp -> $p failed")
    // readback: on a silently-replacing FS the survivor must be OURS —
    // two concurrent tag() calls racing the same name cannot both pass
    // the exists() check AND both see their own version here
    val got = readSmall(f, p).trim
    require(got == v.toString,
      s"tag: '$name' was concurrently replaced after publish " +
        s"(read back '$got', wrote '$v') — tags are single-pin; " +
        "coordinate writers or use distinct names")
  }

  private def readSmall(f: org.apache.hadoop.fs.FileSystem,
      p: Path): String = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** All tags of a dataset (name -> pinned version). */
  def tags(s: SparkSession, dataDir: String): Map[String, Int] = {
    val f = fs(s, dataDir)
    val dir = new Path(manifestDir(dataDir))
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case TagName(n) => Some(n -> readSmall(f, st.getPath).trim.toInt)
        case _ => None
      }
    }.toMap
  }

  /** Resolve a tag to its pinned version, loudly. */
  def versionOf(s: SparkSession, dataDir: String, name: String): Int =
    tags(s, dataDir).getOrElse(name, throw new IllegalArgumentException(
      s"tag '$name' does not exist under $dataDir — tags: " +
        tags(s, dataDir).keys.toSeq.sorted.mkString(", ")))

  /** Drop a tag (the version becomes ordinary retention fodder on the
    * next [[expire]]). Refuses an unknown name — a silent no-op here
    * would mask a typo that leaves the real pin in place. */
  def dropTag(s: SparkSession, dataDir: String, name: String): Unit = {
    val f = fs(s, dataDir)
    val p = new Path(manifestDir(dataDir), s"tag-$name.ref")
    require(f.exists(p), s"dropTag: tag '$name' does not exist under $dataDir")
    require(f.delete(p, false), s"dropTag: delete $p failed")
  }

  private val TagName = """tag-(.+)\.ref""".r

  /** RETENTION BOUND, version-count form: keep only the newest
    * `keepLast` versions and [[expire]] everything older. Versions
    * accumulate one manifest each, and the passes that fold over the
    * whole history ([[commitReplacing]]'s referenced-set, [[expire]]'s
    * live-set) stat every surviving manifest per call — so an ingest
    * pipeline that commits per batch should run this on a cadence
    * (every N commits) to keep the version count, the reclaimable-file
    * backlog, the delta-chain length AND time-travel exposure bounded,
    * exactly as the lakehouse formats prescribe retention windows.
    * Versions pinned by a [[tag]] survive regardless (see [[expire]]).
    * Returns the number of data files reclaimed. */
  def expireKeeping(s: SparkSession, dataDir: String,
      keepLast: Int): Int = {
    require(keepLast >= 1, "expireKeeping: must keep at least 1 version")
    val vs = versions(s, dataDir)
    if (vs.size <= keepLast) 0
    else expire(s, dataDir, keepFrom = vs(vs.size - keepLast))
  }

  /** Path of `file` relative to `dataDir`, tolerant of scheme
    * differences (file:/ vs bare paths) between the listing and the
    * configured dir. */
  private def rel(dataDir: String, file: String): String = {
    val dn = new Path(dataDir).toUri.getPath
    val fn = new Path(file).toUri.getPath
    require(fn.startsWith(dn + "/"),
      s"data file $file is not under $dataDir")
    fn.drop(dn.length + 1)
  }
}
