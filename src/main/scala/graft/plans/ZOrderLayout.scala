package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustered layout for multi-dimensional range
  * pruning — the DATA-LAYOUT operator of the lifecycle family: where
  * the PQ/IVF/BM25/LSH indexes persist a derived relation, this
  * rewrites the TABLE ITSELF so that range predicates on EITHER (or
  * both) of two dimensions prune at the file level. A single-column
  * sort clusters one dimension and scatters the other; interleaving
  * the dimensions' quantized bits gives every dimension locality —
  * the standard lakehouse clustering move (Delta/Iceberg `ZORDER BY`)
  * re-expressed on plain parquet + partition pruning.
  *
  * Layout under `layoutDir`:
  *   - `data/` — the rows, PARTITIONED by `zbucket` = the [[HiBits]]
  *     high bits of each quantized dimension interleaved (4^HiBits
  *     directories — a bounded partition count independent of data
  *     size), rows within each partition sorted by the full
  *     [[QBits]]-bit Morton code `z` so parquet row-group min/max
  *     stats stay tight inside the files too;
  *   - `meta/` — one row of per-dimension min/max, so a query box
  *     quantizes driver-side with the exact save-time arithmetic.
  *
  * `serve` maps a 2-D box to the bucket ids whose coarse cells
  * intersect it — a driver-side cross product of two ≤ 2^HiBits
  * ranges, never a data scan — applies them as a static partition
  * predicate (file-level pruning), and the exact box predicate on the
  * pruned remainder. At 100 TB the unmatched cells' files are never
  * opened, for single-dimension ranges as well as boxes: a predicate
  * on either dimension alone constrains its high bits and prunes to
  * a 2^HiBits-row stripe of the bucket grid.
  */
object ZOrderLayout {

  /** Quantization bits per dimension (0..255 cells). */
  val QBits = 8

  /** Coarse bits per dimension for the partition bucket:
    * 4^HiBits = 64 directories. */
  val HiBits = 3

  final case class Handle(dataPath: String, uMin: Long, uMax: Long,
      vMin: Double, vMax: Double)

  /** Interleave the low `bits` bits of `a` (even positions) and `b`
    * (odd positions) as a column expression — a pure shift/mask sum,
    * codegen-friendly. */
  private def interleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1)
    }.reduce(_ + _)

  /** Driver-side twin of [[interleave]]. */
  private def interleaveInt(a: Int, b: Int, bits: Int): Int =
    (0 until bits).map(i =>
      (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))).sum

  /** The u grid's span as exact integers — the quantizer regime is
    * keyed off this, identically on the column and driver sides:
    *
    *  - `range * 2^QBits` fits a Long (range < 2^55): the exact
    *    multiply form `(c - uMin) * 2^QBits div range`, which SPREADS
    *    a small range over all 2^QBits cells (a step division would
    *    park a 15-value range in cells 0..14 and starve the coarse
    *    buckets);
    *  - wider but `uMax - uMin` still a Long: divide FIRST by the cell
    *    width `step = ceil(range / 2^QBits)` — at this scale step ≥
    *    2^47, every cell is occupied-dense anyway, and the division
    *    keeps all intermediates in Long for snowflake-style id spans
    *    that wrap the old product;
    *  - full-Long span (the difference itself overflows): the same
    *    step division in decimal(38,0), whose scale-bounded rounding
    *    can move the floor by at most one quantum — inside serve's
    *    ±1 widening contract.
    *
    * The first two regimes are exact integer arithmetic on both
    * sides, so column and driver agree bit-for-bit there. */
  private def uRange(uMin: Long, uMax: Long): BigInt =
    BigInt(uMax) - BigInt(uMin) + 1

  private def uStep(uMin: Long, uMax: Long): Long = {
    val range = uRange(uMin, uMax)
    ((range + ((1 << QBits) - 1)) / (1 << QBits)).max(1).toLong
  }

  // the value is clamped into [min, max] BEFORE quantizing so an
  // appended outlier (append keeps the saved grid) lands in the edge
  // cell instead of overflowing the arithmetic
  private def quantU(u: Column, uMin: Long, uMax: Long): Column = {
    import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}
    def intDiv(a: Column, b: Long) =
      toCol(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        toExpr(a), toExpr(lit(b)))).cast("int")
    val range = uRange(uMin, uMax)
    val c = least(lit(uMax), greatest(lit(uMin), u))
    val q =
      if (range <= (Long.MaxValue >> QBits))
        intDiv((c - lit(uMin)) * (1L << QBits), range.toLong)
      else if (range <= BigInt(Long.MaxValue))
        intDiv(c - lit(uMin), uStep(uMin, uMax))
      else
        floor((c.cast("decimal(38,0)") - lit(java.math.BigDecimal.valueOf(uMin)))
          / lit(java.math.BigDecimal.valueOf(uStep(uMin, uMax)))).cast("int")
    least(lit((1 << QBits) - 1), greatest(lit(0), q))
  }

  private def quantV(v: Column, vMin: Double, vMax: Double): Column = {
    val range = vMax - vMin
    val c = least(lit(vMax), greatest(lit(vMin), v))
    val q = if (range == 0.0) lit(0)
      else floor((c - lit(vMin)) / lit(range) * (1 << QBits)).cast("int")
    least(lit((1 << QBits) - 1), greatest(lit(0), q))
  }

  /** Driver-side quantizers — same formulas; serve widens by one
    * quantum either way, so an FP-edge disagreement with the column
    * expression can only add a bucket, never lose one. Query bounds
    * are CLAMPED into the saved [min, max] before quantizing: a bound
    * past the saved range means "the edge cell" (the data can hold
    * nothing beyond it), and an unclamped extreme like Long.MaxValue
    * would overflow the `(u - uMin) * 2^QBits` product and silently
    * quantize to the WRONG edge. (Data rows never overflow: save
    * derives min/max from the data itself, so `u - uMin <= range`.) */
  private def quantU(u: Long, uMin: Long, uMax: Long): Int = {
    val c = math.min(uMax, math.max(uMin, u))
    // exact BigInt twin of the column quantizer, regime-matched:
    // multiply form for spans where it's exact on the column side,
    // step division beyond — overflow-free for any Long span, and at
    // most one quantum apart from the decimal wide-span path (covered
    // by serve's widening)
    val range = uRange(uMin, uMax)
    val diff = BigInt(c) - BigInt(uMin)
    val q =
      if (range <= (Long.MaxValue >> QBits)) (diff * (1L << QBits) / range).toInt
      else (diff / uStep(uMin, uMax)).toInt
    math.min((1 << QBits) - 1, math.max(0, q))
  }

  private def quantV(v: Double, vMin: Double, vMax: Double): Int = {
    val c = math.min(vMax, math.max(vMin, v))
    val range = vMax - vMin
    val q = if (range == 0.0) 0
      else math.floor((c - vMin) / range * (1 << QBits)).toInt
    math.min((1 << QBits) - 1, math.max(0, q))
  }

  /** `rows` with the grid's Morton code `z` and coarse `zbucket`
    * columns: a map-side quantize + interleave under (uMin, uMax,
    * vMin, vMax). */
  private def clustered(rows: DataFrame, uMin: Long, uMax: Long,
      vMin: Double, vMax: Double): DataFrame = {
    val qu = quantU(col("user_id"), uMin, uMax)
    val qv = quantV(col("value"), vMin, vMax)
    val hi = QBits - HiBits
    rows
      .withColumn("z", interleave(qu, qv, QBits))
      .withColumn("zbucket",
        interleave(shiftright(qu, hi), shiftright(qv, hi), HiBits))
  }

  /** The one layout writer: one shuffle by zbucket and a sorted write,
    * so each write lands one z-sorted file per bucket it touches. */
  private def writeBuckets(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(col("zbucket"))
      .sortWithinPartitions(col("zbucket"), col("z"))
      .write.mode(mode).partitionBy("zbucket").parquet(path)

  /** Rewrite `rows` — (event_id, user_id, event_type, value) — into
    * the Z-clustered layout under `layoutDir` and commit `data/` as
    * snapshot v1: one stats pass for the dimension ranges, then a
    * map-side quantize + interleave, one shuffle by zbucket, and a
    * sorted write. The one-off clustering job a table pays per version
    * to make every later range query prune. Refuses a layout that is
    * already committed (the overwrite would destroy files every
    * manifest references — recluster into a fresh dir instead). */
  def save(s: SparkSession, rows: DataFrame, layoutDir: String): Handle = {
    val base = IvfTopK.qualify(s, layoutDir)
    require(Snapshots.current(s, s"$base/data").isEmpty,
      s"ZOrderLayout.save: $layoutDir is already manifest-committed — the " +
        "overwrite would destroy committed files; recluster into a fresh " +
        "dir and retarget readers instead")
    val st = rows.agg(
      min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
      min(col("value")).as("v_min"), max(col("value")).as("v_max")).head()
    // an empty input has null min/max — fail with a real message
    // instead of an NPE from the Long destructuring below
    require(!st.isNullAt(0),
      s"ZOrderLayout.save: input has no rows — nothing to cluster under $layoutDir")
    val (uMin, uMax) = (st.getLong(0), st.getLong(1))
    val (vMin, vMax) = (st.getDouble(2), st.getDouble(3))
    writeBuckets(clustered(rows, uMin, uMax, vMin, vMax), s"$base/data",
      "overwrite")
    Snapshots.commit(s, s"$base/data")
    import s.implicits._
    Seq((uMin, uMax, vMin, vMax)).toDF("u_min", "u_max", "v_min", "v_max")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/meta")
    Handle(s"$base/data", uMin, uMax, vMin, vMax)
  }

  private val savedDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Handle]()

  /** [[save]] exactly once per (session, layoutDir) — the oracle-gated
    * range query (q101) re-serves from the clustered layout instead of
    * re-writing it per invocation. */
  def ensureSaved(s: SparkSession, rows: => DataFrame,
      layoutDir: String): Handle =
    savedDirs.computeIfAbsent((s, IvfTopK.qualify(s, layoutDir)),
      _ => save(s, rows, layoutDir))

  // --------------------------------------------------------------------
  // ONE LIFECYCLE ([[Tombstoned]]'s): one manifest spans `data/` — the
  // zbucket partitions plus the tombstone list [[deleteCommit]] lands
  // under `data/deletes/` — so a single version number pins rows +
  // applicable deletes together; `meta/` (the quantizer grid) is a
  // save-time artifact no mutation touches, like IVF's centroids. A
  // mutation that dies pre-commit leaves the current version intact
  // and only expire()-reclaimable orphans behind.
  // --------------------------------------------------------------------

  /** Incremental maintenance: new rows are quantized under the SAVED
    * grid (an append must not shift the grid the resident files were
    * clustered by) and land in their zbucket partitions as new files;
    * out-of-range values clamp into the edge cells, which stays
    * CORRECT (serve's exact residual predicate decides membership, and
    * its widened box covers the edge cells whenever the query range
    * reaches past the saved min/max) — only pruning efficiency for
    * outliers degrades until the next re-cluster. Event ids the base
    * version tombstones are refused, naming them: their old rows are
    * still on disk, so the new row would be anti-joined away and then
    * dropped with the old one by [[purgeCommit]]. Readers pinned to
    * older versions stay byte-identical. Returns the committed
    * version. */
  def appendCommit(s: SparkSession, layoutDir: String,
      newRows: DataFrame): Int = {
    val h = load(s, layoutDir)
    Tombstoned.appendCommit(s, h.dataPath, newRows, "event_id") {
      (staged, stage) =>
        writeBuckets(clustered(staged, h.uMin, h.uMax, h.vMin, h.vMax),
          stage, "append")
    }
  }

  /** Row-level DELETE under snapshot isolation — the tombstone shape
    * of the committed index families: the event_ids land as a
    * tombstone file inside the manifested tree and ONE commit pins
    * them; version-aware reads anti-join them (broadcast —
    * delete-sized) while readers pinned to older versions never see
    * them. [[purgeCommit]] later rewrites exactly the zbucket
    * partitions holding tombstoned rows and drops the list. Ids
    * already tombstoned as of the current version are refused (a
    * double delete is a caller bug). Returns the committed version. */
  def deleteCommit(s: SparkSession, layoutDir: String,
      deleteIds: DataFrame): Int =
    Tombstoned.deleteCommit(s, s"${IvfTopK.qualify(s, layoutDir)}/data",
      deleteIds, "event_id")

  /** COPY-ON-WRITE tombstone-purge compaction, PARTITION-LOCAL, with
    * the Z-order twist that rewritten partitions re-sort by the full
    * Morton code — appends interleave their own z-sorted files with
    * the residents', so the merge is also where row-group min/max
    * tightness is restored: only zbuckets holding a tombstoned row or
    * more than `maxFiles` files rewrite their surviving rows as one
    * new file each; every other partition's files carry VERBATIM into
    * the next manifest, which drops the tombstone list. Returns the
    * committed version (unchanged when there is nothing to purge or
    * merge). */
  def purgeCommit(s: SparkSession, layoutDir: String,
      maxFiles: Int = 1): Int =
    Tombstoned.purgeCommit(s, s"${IvfTopK.qualify(s, layoutDir)}/data",
      "event_id", maxFiles, Tombstoned.segment("zbucket"))(
      writeBuckets(_, _, "append"))

  /** [[serve]] AS OF a committed snapshot version: the scan is the
    * version's manifested file set with its tombstones anti-joined —
    * the zbucket partition predicate still prunes at the file level
    * through the explicit listing (basePath), so time travel keeps
    * the layout's whole point. The grid comes from meta (save-time,
    * version-independent). */
  def serveAsOf(s: SparkSession, layoutDir: String, version: Int,
      uLo: Long, uHi: Long, vLo: Double, vHi: Double): DataFrame = {
    val h = load(s, layoutDir)
    serveOn(h, Tombstoned.relation(s, h.dataPath, version, "event_id"),
      uLo, uHi, vLo, vHi)
  }

  /** Reconstruct a handle from the one-row stats meta. */
  def load(s: SparkSession, layoutDir: String): Handle = {
    val base = IvfTopK.qualify(s, layoutDir)
    val m = s.read.parquet(s"$base/meta").head()
    Handle(s"$base/data", m.getLong(0), m.getLong(1),
      m.getDouble(2), m.getDouble(3))
  }

  /** The 2-D box query as of the current snapshot: enumerate the
    * coarse cells intersecting [uLo, uHi] × [vLo, vHi] driver-side
    * (two ranges of ≤ 2^HiBits values each — no data touched), prune
    * the scan of the current version's files to their buckets, and
    * apply the exact predicate on what remains. A data dir with no
    * snapshot is refused. */
  def serve(s: SparkSession, h: Handle,
      uLo: Long, uHi: Long, vLo: Double, vHi: Double): DataFrame =
    serveOn(h, Tombstoned.live(s, h.dataPath, "event_id"), uLo, uHi, vLo, vHi)

  /** The serve body over a rows RELATION (a snapshot file set):
    * driver-side cell enumeration, static bucket predicate, exact
    * residual filter. */
  private def serveOn(h: Handle, rel: DataFrame,
      uLo: Long, uHi: Long, vLo: Double, vHi: Double): DataFrame = {
    val hi = QBits - HiBits
    // widen by one quantum against FP edges — a superset of buckets is
    // always correct; the exact predicate below decides membership
    def clampQ(q: Int) = math.min((1 << QBits) - 1, math.max(0, q))
    val (quLo, quHi) = (clampQ(quantU(uLo, h.uMin, h.uMax) - 1),
      clampQ(quantU(uHi, h.uMin, h.uMax) + 1))
    val (qvLo, qvHi) = (clampQ(quantV(vLo, h.vMin, h.vMax) - 1),
      clampQ(quantV(vHi, h.vMin, h.vMax) + 1))
    val buckets = for {
      ha <- (quLo >> hi) to (quHi >> hi)
      hb <- (qvLo >> hi) to (qvHi >> hi)
    } yield interleaveInt(ha, hb, HiBits)
    rel
      .where(col("zbucket").isin(buckets.distinct: _*))
      .where(col("user_id").between(uLo, uHi) &&
        col("value").between(vLo, vHi))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
  }
}
