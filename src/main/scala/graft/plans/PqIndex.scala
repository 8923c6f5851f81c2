package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Product-quantization index lifecycle — the PQ twin of
  * [[IvfTopK]]'s IVF lifecycle: train once per corpus version, persist
  * the model artifacts, load them in any later session and serve ADC
  * queries WITHOUT retraining or touching the float vectors.
  *
  * Artifact layout under `indexDir`:
  *   - `codebooks/` — the PqM×PqK trained codewords (j, cid, cv);
  *     k-rows-scale, the only thing the query side broadcasts;
  *   - `codes/`     — the encoded corpus PACKED to one row per vector
  *     (vec_id, pq_code_lo, pq_code_hi): the FAISS 8-byte codes table
  *     as two 32-bit halves (q89's exact bit layout — a single 8×8-bit
  *     pack overflows a SIGNED 64-bit shift at j = 7). The exploded
  *     (vec_id, j, cid) form this replaces was 8× the rows — the one
  *     corpus-sized artifact must not pay that at 100 TB; `serve`
  *     unpacks codes back to join layout with a map-side shift/mask.
  *     Snapshot-committed with its `deletes/` tombstone list: one
  *     lifecycle, [[Tombstoned]]'s.
  *   - `meta/`      — the source embeddings path, so `load` can
  *     sanity-name what the artifacts were built from.
  *
  * At 100 TB only `codes/` is corpus-sized, and serving a query scans
  * exactly it — `save` is the one-off training job, `load` reads the
  * k-row codebooks and one-row meta on the driver and leaves the
  * codes on disk for the scan.
  */
object PqIndex {

  final case class Handle(embPath: String, codebookPath: String,
      codesPath: String)

  /** Pack (vec_id, j, cid) code rows to one row per vector — q89's
    * two-halves expressions verbatim, so the persisted bytes are the
    * same code layout the oracle hash-checks. */
  private def packed(encoded: DataFrame): DataFrame =
    encoded.groupBy(col("vec_id")).agg(
      expr("sum(CASE WHEN j < 4 THEN " +
        "shiftleft(CAST(cid AS BIGINT), 8 * j) ELSE 0 END)").as("pq_code_lo"),
      expr("sum(CASE WHEN j >= 4 THEN " +
        "shiftleft(CAST(cid AS BIGINT), 8 * (j - 4)) ELSE 0 END)").as("pq_code_hi"))

  /** Train (or reuse the session-memoized) PQ model for `sfDir`'s
    * embeddings table, persist its artifacts under `indexDir` and
    * commit `codes/` as snapshot v1 — an index is born committed.
    * Returns the handle `serve` consumes. */
  def save(s: SparkSession, sfDir: String, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    val embPath = IvfTopK.qualify(s, s"$sfDir/embeddings.parquet")
    val (cents, encoded) = Similarity.pqModel(s, sfDir)
    cents.write.mode("overwrite").parquet(s"$base/codebooks")
    // the overwrite replaces the whole codes tree, manifests included
    packed(encoded).write.mode("overwrite").parquet(s"$base/codes")
    Snapshots.commit(s, s"$base/codes")
    import s.implicits._
    Seq(embPath).toDF("emb_path")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/meta")
    Handle(embPath, s"$base/codebooks", s"$base/codes")
  }

  private val savedDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Handle]()

  /** [[save]] exactly once per (session, indexDir) — the oracle-gated
    * serve query (q89c) goes through this so bench sweeps and repeated
    * verify runs re-serve from the artifacts instead of re-writing
    * them per invocation. */
  def ensureSaved(s: SparkSession, sfDir: String, indexDir: String): Handle =
    savedDirs.computeIfAbsent((s, IvfTopK.qualify(s, indexDir)),
      _ => save(s, sfDir, indexDir))

  /** Incremental index maintenance — the PQ twin of
    * [[IvfTopK.appendCommit]]: new vectors are encoded under the
    * EXISTING trained codebooks (the exact pqTrain assignment
    * arithmetic — the TopCells kernel under a broadcast j equi-join,
    * (dist, cid) tie-break), packed to q89's two-halves layout and
    * landed as new code files — no retrain, no rescan of the resident
    * corpus. `newRows` must carry (vec_id, embedding) with fresh
    * vec_ids; ids the base version tombstones are refused. The batch
    * lands through [[Snapshots.landStaged]] and commits on top of the
    * version read at entry. Returns the committed version. */
  def appendCommit(s: SparkSession, indexDir: String,
      newRows: DataFrame): Int = {
    val base = IvfTopK.qualify(s, indexDir)
    val byJ = s.read.parquet(s"$base/codebooks")
      .groupBy(col("j")).agg(collect_list(
        struct(col("cid").cast("long").as("cid"), col("cv"))).as("carr"))
    Tombstoned.appendCommit(s, s"$base/codes", newRows, "vec_id") {
      (staged, stage) =>
        val sv = staged
          .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .select(col("vec_id"),
            posexplode(expr(s"transform(sequence(0, ${Similarity.PqM - 1}), " +
              s"j -> slice(v, j * ${Similarity.PqSubDim} + 1, " +
              s"${Similarity.PqSubDim}))")))
          .select(col("vec_id"), col("pos").as("j"), col("col").as("sv"))
        packed(sv.join(broadcast(byJ), Seq("j"))
          .withColumn("cid", element_at(
            graft.functions.VectorFunctions.topCells(col("sv"), col("carr"), 1), 1)
            .getField("cid").cast("int")))
          .write.mode("append").parquet(stage)
    }
  }

  /** Reconstruct a handle from saved artifacts — no retraining, no
    * corpus scan; the driver reads back only the one-row meta. */
  def load(s: SparkSession, indexDir: String): Handle = {
    val base = IvfTopK.qualify(s, indexDir)
    val embPath = s.read.parquet(s"$base/meta").head().getString(0)
    Handle(embPath, s"$base/codebooks", s"$base/codes")
  }

  /** ADC top-k against the SAVED artifacts as of the current snapshot
    * (the q89b query path with disk-sourced model frames): broadcast
    * lookup table from the reloaded codebooks, distance sum over the
    * current version's code files — unpacked from the two 32-bit
    * halves to (vec_id, j, cid) join layout by a map-side shift/mask
    * projection (8 skinny rows per vector exist only inside the scan
    * stage, never on disk). The embeddings table is touched only for
    * the one query row. A codes dir with no snapshot is refused. */
  def serve(s: SparkSession, h: Handle): DataFrame =
    serveOn(s, h, Tombstoned.live(s, h.codesPath, "vec_id"))

  /** [[serve]] AS OF a committed snapshot version of `indexDir/codes`:
    * the codes scan is exactly the manifested file set with that
    * VERSION's tombstones anti-joined (broadcast — delete-sized), so a
    * reader pinned to version N is unaffected by later appends or
    * deletes (q131, q144). Codebooks/meta are train-time artifacts no
    * append or delete touches. */
  def serveAsOf(s: SparkSession, indexDir: String, version: Int): DataFrame = {
    val h = load(s, indexDir)
    serveOn(s, h, Tombstoned.relation(s, h.codesPath, version, "vec_id"))
  }

  /** Row-level DELETE under snapshot isolation: the vec_ids land as a
    * tombstone file under `codes/deletes/` and ONE commit pins them;
    * version-aware serves anti-join them while readers pinned to older
    * versions still see the deleted codes. Deletion never retrains
    * (codebooks untouched — ADC distances of the survivors are
    * bit-identical). Double deletes refuse loudly. Returns the
    * committed version. */
  def deleteCommit(s: SparkSession, indexDir: String,
      deleteIds: DataFrame): Int =
    Tombstoned.deleteCommit(s, s"${IvfTopK.qualify(s, indexDir)}/codes",
      deleteIds, "vec_id")

  /** COPY-ON-WRITE tombstone-purge compaction. The codes table is FLAT
    * (8 bytes per vector, no partition key carries the deletion
    * locality the cid/band layouts have), so a purge rewrites the
    * FILES that hold tombstoned rows — with the one-file-per-append
    * layout that is still bounded by where the deleted vectors'
    * batches landed, never by the append history of unaffected
    * batches; file granularity is the locality unit here, the
    * Delta/Iceberg MoR-purge trade for unpartitioned tables. The next
    * manifest selects [untouched files + the rewrite] and drops the
    * tombstone list. Returns the committed version (unchanged with
    * nothing to purge). */
  def purgeCommit(s: SparkSession, indexDir: String): Int = {
    val dir = s"${IvfTopK.qualify(s, indexDir)}/codes"
    Tombstoned.purgeCommit(s, dir, "vec_id", 1, identity,
      ManifestIO.read(s, dir, _))(_.write.mode("append").parquet(_))
  }

  /** The ADC body over a codes RELATION (a snapshot file set):
    * map-side shift/mask unpack, then the q89b broadcast-ADC join. */
  private def serveOn(s: SparkSession, h: Handle,
      codesRel: DataFrame): DataFrame = {
    val unpacked = codesRel
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${Similarity.PqM - 1}), j -> " +
          "CAST((CASE WHEN j < 4 THEN shiftright(pq_code_lo, 8 * j) " +
          "ELSE shiftright(pq_code_hi, 8 * (j - 4)) END) & 255 AS INT))")))
      .select(col("vec_id"), col("pos").as("j"), col("col").as("cid"))
    Similarity.pqAdcTopK(
      s.read.parquet(h.embPath),
      s.read.parquet(h.codebookPath),
      unpacked)
  }
}
