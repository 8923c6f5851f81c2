package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Materialize, Tables}

/** Large-scale deduplication operators over the `documents` table —
  * the training-data-pipeline surface the reference engine lacks but a
  * 100 TB corpus job needs: exact dedup, MinHash+LSH, SimHash, and
  * blocked n-gram Jaccard (embedding near-dup lives in
  * [[Similarity]]).
  *
  * Determinism: every sketch is built from `md5` (bit-identical hex in
  * Spark and DuckDB), so all candidate generation and similarity
  * estimates are hash-matchable against the SQL oracle — no
  * engine-specific hash functions anywhere.
  *
  * Scale design (the point of each operator at 100 TB):
  *   - exact dedup is a single hash-partitioned groupBy on the content
  *     digest — one shuffle of (digest, doc_id), no text movement;
  *   - MinHash+LSH shuffles only (band_key, doc_id, signature) rows:
  *     candidate pairs come from equi-joining band buckets, never from
  *     an all-pairs product; bands/rows (b=2, r=8) tune the
  *     recall/candidate-volume trade-off;
  *   - SimHash reduces each doc to a 16-bit fingerprint; bucketing on
  *     the high byte bounds the pair search per bucket;
  *   - n-gram Jaccard uses (lang, n_chars) as a blocking key — the
  *     classic entity-resolution move that turns O(n²) into
  *     sum-of-squares over tiny blocks;
  *   - all expressions are codegen'd column expressions (no UDFs), so
  *     shingling/hashing runs inside WholeStageCodegen on the scan.
  */
object Dedup {

  /** Signature length and banding: k = bands * rowsPerBand. r=8 keeps
    * band-collision probability ~j^8 — selective enough that this
    * corpus's high baseline token-set similarity (avg j≈0.6) doesn't
    * flood the candidate set, while true near-dups still collide with
    * high probability in at least one band. */
  val K = 16
  val Bands = 2
  val RowsPerBand = 8

  /** Character-window length for exact substring duplication (q83) —
    * the ~50-char threshold of the substring-dedup literature, sized
    * down to this corpus's shorter documents. */
  val SubstrWindow = 40

  /** Chunk width (= stride: non-overlapping) in tokens for the
    * chunk-grain near-dup (q98) — q49's chunk width, so the dedup
    * grain matches the training-context grid. */
  val ChunkGrain = 20

  /** Skew guard for the band self-join: a band key whose bucket
    * exceeds [[HotBandThreshold]] members would put an O(bucket²)
    * candidate quadratic in ONE task (md5-derived keys are uniform,
    * so this only fires on adversarial/degenerate corpora — e.g. a
    * crawl where millions of documents share a boilerplate template
    * and thus a signature band). Hot buckets are salted into
    * [[BandSaltGroups]] groups and joined per group-PAIR (the
    * triangle decomposition in [[saltedBandPairs]]), bounding any
    * task at ~(bucket/groups)² comparisons. Threshold × threshold is
    * the max un-salted task (~10⁸ comparisons); groups² = 256 is the
    * salting's task-shrink factor. */
  val HotBandThreshold = 10000
  val BandSaltGroups = 16

  /** Near-dup decision threshold on the estimated Jaccard: 15/16
    * signature positions. On a small-vocabulary corpus moderate
    * token-set similarity is the norm (avg j≈0.6 here), so a dedup
    * threshold must sit well above it — 0.75 would declare almost
    * every pair a near-dup, which is volume without meaning. */
  val EstThreshold: Double = 15.0 / 16.0

  /** Bottom-k size for the q120 cross-source KMV overlap sketches —
    * deliberately SMALL so the sf0.01 gate already exercises the
    * (k−1)·2⁴⁸ div h_k estimator path (sources there hold ~25
    * distinct digests; k=64 would always take the exact-count
    * fallback and leave the estimator un-oracled). Production sizes
    * k in the thousands for <2% relative error — the plan shape is
    * k-independent. */
  val KmvOverlapK = 16

  /** q123 edit-distance verification of LSH candidates: the verify
    * stage reads a fixed PREFIX (the standard bounded-verify
    * contract) and a pair is char-confirmed at normalized similarity
    * ≥ the bar. MinHash estimates Jaccard over token SETS — a
    * reordered or set-preserving rewrite scores 1.0 there while
    * being a different document character-wise — so the char-level
    * pass is a second independent signal, not a recomputation. */
  val EditCap = 300
  val CharSimThreshold: Double = 0.8

  /** Banded-DP cutoff for q123: a distance above this can never reach
    * [[CharSimThreshold]] (0.2 × EditCap), so the engine runs the
    * O(band·n) thresholded Levenshtein and reports -1 / sim 0.0 /
    * rejected for beyond-band pairs — the oracle computes the full
    * distance and applies the same cap, so verdicts stay hash-exact
    * while the engine never pays the full O(n²) DP on a reject. */
  val LevBand: Int = math.ceil(EditCap * (1.0 - CharSimThreshold)).toInt

  /** q123 regime switch: above this corpus clone factor
    * (docs / distinct prefixes, estimated by one HLL pass) the DP
    * runs once per DISTINCT prefix pair and fans back out through a
    * join; at or below it the direct map-side form wins (measured at
    * sf0.1, clone factor 1.06: contraction's two extra 1.6M-row
    * shuffles cost ~6 s to save ~5% of DP). Conf-overridable so a
    * regime-agreement test can force both paths. */
  val EditCloneFactorSwitch: Double = 2.0

  /** q125 containment bar: a doc with ≥ this fraction of its distinct
    * tokens inside the other is "contained" (Broder's asymmetric
    * containment — catches a paragraph-lift that doc-level Jaccard
    * dilutes away). */
  val ContainThreshold: Double = 0.8

  /** Whitespace tokens, lowercased, empties dropped (multiplicity
    * kept) — the engine-wide tokenization shared with TextAnalysis. */
  private val toksExpr = Tokens.toksExpr
  private val toksSql = Tokens.toksSql

  /** Per-doc token + distinct-token-set columns. */
  private def withToks(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .withColumn("tokset", array_distinct(col("toks")))

  /** MinHash signature columns sig0..sig{K-1} (BIGINT): position i
    * ranks tokens by md5("<i>:" ++ token) and carries the winning
    * digest's first 32 bits as an unsigned number (see
    * [[graft.functions.MinHash16Kernel]]) — 8 bytes per position
    * through every downstream join/shuffle/checkpoint instead of a
    * 32-char hex string, numerically equal to the oracle's
    * fold-of-min-hex-prefix because the fold is order-isomorphic to
    * the fixed-length prefix. coalesce keeps the legacy NULL-tokset →
    * array-of-16-NULLs shape that `array(sig0, ..., sig15)` yielded. */
  def withMinhash(docs: DataFrame): DataFrame =
    // one projection for all K positions (withColumns over an ordered
    // map keeps withColumn's append-or-replace semantics and column
    // order): a withColumn per position re-analyzes the growing plan
    // K times per call
    withSig(docs).withColumns(scala.collection.immutable.ListMap(
      (0 until K).map(i => s"sig$i" -> col("sig").getItem(i)): _*))

  /** [[withToks]] plus the K-long `sig` array alone — the sketch
    * without the per-position columns, for callers that index `sig`
    * directly. */
  private def withSig(docs: DataFrame): DataFrame =
    withToks(docs).withColumn("sig",
      coalesce(graft.functions.VectorFunctions.minhash16(col("tokset")),
        array((0 until K).map(_ => lit(null).cast("long")): _*)))

  /** Oracle twin of the kernel, two stages: p_i = lexicographic min of
    * the position's 8-hex-char digest slice over the token set, then
    * sig_i = hexFold(p_i) — numeric min == fold of min-prefix. */
  private def sigPrefixSqlCols: String = (0 until K).map { i =>
    s"list_min(list_transform(tokset, t -> substr(md5('$i:' || t), 1, 8))) AS p$i"
  }.mkString(",\n         ")

  private def sigFoldSqlCols: String = (0 until K).map(i =>
    s"${Tokens.hexFold(s"p$i", 8)} AS sig$i").mkString(",\n         ")

  /** SimHash: 16-bit fingerprint; bit b is the sign of the
    * token-frequency-weighted sum of bit b of each token's md5 (the
    * hash value is the first 4 md5 hex digits, little-endian nibble
    * weights). The Spark side computes it with the native one-pass
    * [[graft.functions.SimHash16]] kernel; the oracle keeps the
    * declarative form below — they are bit-identical. */
  private val tokvalExprBody = (0 until 4).map { j =>
    s"(instr('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) * ${1 << (4 * j)}"
  }.mkString(" + ")
  private def tokvalSql =
    s"list_transform(toks, t -> ${tokvalExprBody.replace("h,", "md5(t),")})"

  private def simhashBitSql(b: Int): String =
    s"list_sum(list_transform(tv, x -> CASE WHEN ((x >> $b) & 1) = 1 THEN 1 ELSE -1 END))"

  def withSimhash(docs: DataFrame): DataFrame =
    // native one-pass kernel (graft.functions.SimHash16): bit-identical
    // to the declarative 1×transform + 16×aggregate form this replaced,
    // without 17 interpreted-lambda traversals per row. coalesce keeps
    // the legacy NULL-toks → fingerprint 0 semantics (the SQL CASE
    // yields 0 per bit on a NULL token array, and so does the oracle).
    withToks(docs).withColumn("simhash",
      coalesce(graft.functions.VectorFunctions.simhash16(col("toks")), lit(0)))

  private def simhashSql: String = {
    val bits = (0 until 16).map(b => s"${simhashBitSql(b)} AS w$b").mkString(",\n         ")
    val fp = (0 until 16).map(b => s"CASE WHEN w$b > 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
    s"""toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tvv AS (SELECT doc_id, $tokvalSql AS tv FROM toks),
       |bits AS (SELECT doc_id,
       |         $bits
       |  FROM tvv),
       |sh AS (SELECT doc_id, CAST($fp AS INTEGER) AS simhash FROM bits)""".stripMargin
  }

  /** Session-scoped memos of the materialized pair relation and the
    * converged cluster labels: the near-dup graph feeds
    * q31/q35/q35b/q37g, and each is a standalone query by contract —
    * without the memo one bench run rebuilds the identical sketch+join
    * pipeline four times (and q35b would re-run q35's whole
    * convergence loop). Keyed by (session, dir) so fresh sessions
    * never see stale plans. Session-lifetime by design (a bench/verify
    * process); a long-lived service should call [[clearMemos]] between
    * corpus versions. */
  private val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val clustersMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val sigMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val chunkSigMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val residentLabelsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** q123's corpus clone factor (docs / HLL-distinct prefixes) — a
    * CORPUS STATISTIC, not derived state, so like the replay corpora
    * it is NOT wiped by [[clearMemos]]: the probe is one scan-and-agg
    * per corpus version ("compute once per corpus version", the
    * catalog-statistics contract). */
  private val cloneFactorMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Double]()

  /** Evict memoized relations (for long-lived sessions / tests),
    * RELEASING their materialized storage — without the release a
    * bench sweep inherits the previous sweep's checkpoint blocks
    * until a full GC (measured: 2x sweep variance on q31/q35). */
  def clearMemos(): Unit = {
    import scala.jdk.CollectionConverters._
    Seq(pairsMemo, clustersMemo, sigMemo, chunkSigMemo,
        residentLabelsMemo).foreach { m =>
      m.values.asScala.foreach(graft.Materialize.release)
      m.clear()
    }
  }

  /** The materialized MinHash signature relation
    * (doc_id, sig, sig0..sig15), memoized per (session, dir): the
    * tokenize + K-md5 sketch pass over the corpus is the single most
    * expensive map stage of the dedup suite (~3 s at sf0.1), and both
    * the pair generator and the clustering contraction consume it —
    * without the memo each standalone query re-runs it. At cluster
    * scale this is "persist the signature table once per corpus".
    *
    * Repartitioned by doc_id at materialization: the corpus parquet
    * arrives in O(file-size/128MB) splits (ONE split at bench scale),
    * and every downstream band join BROADCASTS its small side — a
    * broadcast join preserves the probe side's partitioning, so
    * without this shuffle the multi-million-row candidate stream and
    * its K-comparison match count would execute on a single core
    * (measured: 22s → ~3s at sf0.1 on local[32]). At cluster scale
    * this is the same move: the persisted signature table is hash-
    * distributed by doc_id so candidate generation parallelizes
    * independently of the raw corpus's file layout.
    *
    * The partition count is EXPLICIT: AQE sizes shuffle partitions by
    * the shuffled bytes (a few hundred KB of signatures here → it
    * coalesces a bare `repartition(col)` back to ONE partition), but
    * the relation's cost is downstream — each signature row fans out
    * to hundreds of candidate pairs through the band joins. A
    * user-specified count is exempt from AQE coalescing, which is
    * exactly the intent. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    sigMemo.computeIfAbsent((s, d), _ => {
      val n = s.conf.get("spark.sql.shuffle.partitions").toInt
      val docs = Tables.documents(s, d)
      // The doc_id exchange is required either way (downstream band
      // joins consume a doc_id-distributed signature table). WHERE it
      // sits decides what parallelizes and what shuffles:
      //   - scan already wide (the cluster case — thousands of file
      //     splits): hash map-side on the scan partitioning, shuffle
      //     only the skinny (doc_id, 16x8-byte sig) rows. Raw text
      //     never moves.
      //   - scan narrower than the target (a genuinely single-split
      //     corpus — e.g. the sf0.01 verify input, where open-cost
      //     packing yields one split): pre-shuffle the raw docs so
      //     the K-md5 sketch work spreads across n cores instead of
      //     one; the output is then already doc_id-partitioned, so it
      //     is still ONE exchange, just moved below the hash work
      //     (text bytes are trivial exactly when this branch fires).
      //     At sf0.1 the scan already splits ~n ways, so the bench
      //     plan is byte-identical to the fixed form it replaces.
      val scanParts = docs.rdd.getNumPartitions
      def skinny(df: DataFrame) = df.select((col("doc_id") +: col("sig") +:
        (0 until K).map(i => col(s"sig$i"))): _*)
      Materialize.cut(
        if (scanParts < n)
          skinny(withMinhash(docs.repartition(n, col("doc_id"))))
        else
          skinny(withMinhash(docs)).repartition(n, col("doc_id")))
    })

  /** Chunk-grain signature relation for q98: documents split into
    * non-overlapping [[ChunkGrain]]-token chunks (q49's grid at
    * stride = width), each chunk carrying the same K=16 MinHash
    * sketch and packed 48-bit band keys the doc-level pipeline uses.
    * The sketch runs after the same adaptive exchange placement as
    * [[minhashSignatures]] (pre-shuffle raw docs only when the scan
    * is narrower than the target); text never moves past this
    * projection. Memoized per (session, dir) like the doc-level
    * signature relation, so bench sweeps release it via
    * [[clearMemos]] instead of leaking one checkpoint per run. */
  private def chunkSigs(s: SparkSession, d: String): DataFrame =
    chunkSigMemo.computeIfAbsent((s, d), _ => chunkSigsUncached(s, d))

  private def chunkSigsUncached(s: SparkSession, d: String): DataFrame = {
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    val docs0 = Tables.documents(s, d)
    val docs = if (docs0.rdd.getNumPartitions < n)
      docs0.repartition(n, col("doc_id")) else docs0
    val sigged = docs
      .withColumn("toks", expr(toksExpr))
      .withColumn("start",
        explode(expr(s"sequence(1, greatest(size(toks), 1), $ChunkGrain)")))
      .select(col("doc_id"),
        floor((col("start") - 1) / ChunkGrain).cast("int").as("chunk_idx"),
        array_distinct(expr(s"slice(toks, start, $ChunkGrain)")).as("tokset"))
      .withColumn("sig",
        graft.functions.VectorFunctions.minhash16(col("tokset")))
    val wide = (0 until K).foldLeft(sigged) { (df, i) =>
      df.withColumn(s"sig$i", col("sig").getItem(i))
    }
    val hexed = wide.select(col("doc_id") +: col("chunk_idx") +: col("sig") +:
      (0 until Bands).map { b =>
        md5(concat_ws(":", (b * RowsPerBand until (b + 1) * RowsPerBand)
          .map(i => col(s"sig$i").cast("string")): _*)).as(s"hx$b")
      }: _*)
    Materialize.cut(hexed.select(
      col("doc_id") +: col("chunk_idx") +: col("sig") +:
        (0 until Bands).map(b => expr(Tokens.hex48(s"hx$b")).as(s"bk$b")): _*))
  }

  /** MinHash+LSH near-dup pairs (unsorted — q31 adds the presentation
    * sort; the graph queries consume this directly). Materialized once
    * per session via [[Materialize]]. */
  def minhashPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo.computeIfAbsent((s, d),
      _ => Materialize.cut(minhashPairsUncached(s, d)))

  /** (doc_id, bk0..bk{Bands-1}): each band key PACKED to one 48-bit
    * BIGINT — md5 of the ':'-separated decimal rendering of the band's
    * sig values, hex-folded. The oracle applies the IDENTICAL
    * CAST-concat-md5-fold, so the key bytes match in both engines. */
  private def bandKeyed(sig: DataFrame): DataFrame = {
    val hexed = sig.select(col("doc_id") +: (0 until Bands).map { b =>
      md5(concat_ws(":", (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => col(s"sig$i").cast("string")): _*)).as(s"hx$b")
    }: _*)
    hexed.select(col("doc_id") +: (0 until Bands).map { b =>
      expr(Tokens.hex48(s"hx$b")).as(s"bk$b")
    }: _*)
  }

  /** Melted (doc_id, band_id, band_key) layout — the persisted "LSH
    * index table" shape a streaming dup-filter probes against. */
  private def bandMelt(keyed: DataFrame): DataFrame =
    keyed.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => col(s"bk$b")): _*)))
      .toDF("doc_id", "band_id", "band_key")

  /** Melted LSH index rows for an arbitrary documents frame:
    * (doc_id, sig, bk0, band_id, band_key) — one row per (doc, band),
    * carrying the full K-signature (so a candidate join verifies
    * est-Jaccard without a second corpus lookup) and the band-0 key
    * (so the band-1 join leg can apply the first-collision-band gate
    * without a distinct shuffle). This is the row layout
    * [[graft.plans.MinHashIndex]] persists — everything map-side, the
    * text never survives past the sketch projection.
    *
    * Same adaptive exchange placement as [[minhashSignatures]]: when
    * the input is narrower than the configured parallelism (a
    * single-split corpus file — the sf0.1 bench case), pre-shuffle the
    * raw docs by doc_id so the K-md5 sketch spreads across n cores
    * instead of one (measured: q99 8.3 s → the sketch was the whole
    * cost); an input already wide keeps its partitioning and nothing
    * moves before the skinny projection. */
  private[graft] def indexBandRows(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    val spread = if (scanWidth(docs) < n)
      docs.repartition(n, col("doc_id")) else docs
    // band keys read sig[i] straight from the array: the K per-position
    // columns of withMinhash would only be projected away again
    val hexed = withSig(spread).select(col("doc_id") +: col("sig") +:
      (0 until Bands).map { b =>
        md5(concat_ws(":", (b * RowsPerBand until (b + 1) * RowsPerBand)
          .map(i => col("sig").getItem(i).cast("string")): _*)).as(s"hx$b")
      }: _*)
    val keyed = hexed.select(col("doc_id") +: col("sig") +:
      (0 until Bands).map(b => expr(Tokens.hex48(s"hx$b")).as(s"bk$b")): _*)
    keyed.select(col("doc_id"), col("sig"), col("bk0"),
        posexplode(array((0 until Bands).map(b => col(s"bk$b")): _*)))
      .toDF("doc_id", "sig", "bk0", "band_id", "band_key")
  }

  /** How many tasks `docs` already scans in, read off the optimized
    * plan without building the physical one (`.rdd` would force a full
    * plan + deserializer codegen per call — measured ~2 s per serve on
    * the bench corpus):
    *   - a driver-local relation (every localized or `createDataFrame`
    *     batch) scans in min(rows, leaf parallelism) slices — a 100-doc
    *     batch on local[4] is already 4-way, and a spread would only
    *     add a shuffle job in front of a 25-row-per-task sketch;
    *   - a materialized relation (`LogicalRDD`, e.g. a checkpoint)
    *     scans in its RDD's partitions;
    *   - anything else counts its input files: a multi-file corpus
    *     scans at least one split per file, so the spread only fires
    *     for genuinely narrow scans. */
  private def scanWidth(docs: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val s = docs.sparkSession
    docs.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        math.min(lr.data.size, s.conf.getOption(
          "spark.sql.leafNodeDefaultParallelism").map(_.toInt)
          .getOrElse(s.sparkContext.defaultParallelism))
      case r: LogicalRDD => r.rdd.getNumPartitions
      case _ => docs.inputFiles.length
    }
  }

  private def minhashPairsUncached(s: SparkSession, d: String): DataFrame = {
    // the memoized signature relation feeds both sides of the band
    // self-join and both joinbacks — without it the K-md5 sketch
    // pipeline runs 4x here (observed via plan metrics) and once more
    // in the clustering contraction.
    //
    // Rep-level contraction (band-join once per DISTINCT signature,
    // expand through membership afterwards) was implemented and
    // MEASURED SLOWER here: this corpus's duplication factor is only
    // ~1.27x (3935 distinct signatures / 5000 docs at sf0.1), so the
    // two expansion joins cost more than the shrunken band join saves
    // (9.9s vs 6.9s). On a high-duplication corpus (the 100 TB crawl
    // case, dup factor >> 2) the contraction wins quadratically —
    // q35's propagation loop already runs rep-level for exactly that
    // reason; revisit if the data profile changes.
    val sig = minhashSignatures(s, d)
    // candidate generation carries ONLY (doc_id, band keys) — the
    // signature arrays must not ride through the band joins (they'd
    // multiply the shuffle volume by the candidate count); they're
    // joined back after pair generation, where the sig relation is
    // tiny per partition (auto-broadcast locally; a doc_id-keyed
    // shuffle join at scale).
    //
    // Each band key is PACKED to one 48-bit BIGINT — md5 of the
    // concatenated band signatures, hex-folded — instead of the raw
    // 8×32-char concat: 8 bytes per shuffle row instead of ~256. The
    // oracle applies the IDENTICAL md5+fold, so even a (theoretical)
    // truncation collision yields the same candidate set in both
    // engines; spurious candidates are filtered by the est threshold
    // computed from the full signatures either way.
    //
    // Cross-band dedup is a FILTER, not a shuffle: a pair is emitted
    // by band b only if no earlier band already collided (the
    // first-collision-band rule), so the union of the per-band joins
    // is exactly DISTINCT(all band collisions) without shuffling the
    // multi-million-row candidate stream through a distinct. Within
    // one band each doc appears once, so a band join emits a pair at
    // most once. The earlier-band residual never sees NULL keys: a
    // NULL band key (empty tokset) nulls EVERY band key of that doc,
    // and null keys don't equi-match, so such docs reach no residual.
    // materialized once: the skew-guarded join references the keyed
    // relation several times per band (hot-key counts, the cold anti
    // joins, the hot semi joins) — without the cut every reference
    // recomputes the band-key md5+fold projection over the corpus
    val keyed = Materialize.cut(bandKeyed(sig))
    val left = keyed.toDF("doc_a" +: (0 until Bands).map(b => s"a$b"): _*)
    val right = keyed.toDF("doc_b" +: (0 until Bands).map(b => s"b$b"): _*)
    // ADAPTIVE skew guard: one key-level count probe (map-side
    // combined, one number to the driver — the same move as
    // ivfModel's corpus count) decides whether any band bucket
    // exceeds the hot threshold. The md5-uniform normal case keeps
    // the exact plain join plan at zero overhead; a degenerate
    // corpus (boilerplate template ⇒ mega-bucket) switches every
    // band to the salted triangle join, whose per-task volume is
    // bounded at ~(bucket/groups)². AQE's skew-join split cannot do
    // this: it splits the PROBE side of a shuffle join but must
    // still pair each split against the whole matching build
    // partition, so an O(bucket²) self-join task stays quadratic.
    val maxBucket = bandMelt(keyed)
      .where(col("band_key").isNotNull)
      .groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    graft.SkewStats.record("minhash-bands", maxBucket, HotBandThreshold)
    val pairs = (0 until Bands).map { b =>
      val earlierDiffer = (0 until b)
        .map(i => col(s"a$i") =!= col(s"b$i"))
        .foldLeft(lit(true))(_ && _)
      if (maxBucket <= HotBandThreshold)
        left.join(right,
            col(s"a$b") === col(s"b$b") &&
              col("doc_a") < col("doc_b") && earlierDiffer)
          .select(col("doc_a"), col("doc_b"))
      else
        saltedBandPairs(left, right, b, earlierDiffer,
          HotBandThreshold, BandSaltGroups)
    }.reduce(_ unionByName _)
    val sigs = sig.select(col("doc_id"), col("sig"))
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      // match count via the native SigMatches kernel — identical value
      // and NULL semantics to the K explicit element comparisons, but
      // ONE tiny call in the generated code: the K-term CASE chain,
      // once the est filter pushes it into a join condition alongside
      // the projection copy, exceeds the whole-stage-codegen method
      // budget and drops the stage to interpreted evaluation
      .withColumn("matches",
        graft.functions.VectorFunctions.sigMatches(col("sig_a"), col("sig_b")))
      .withColumn("est_jaccard", col("matches") / lit(K.toDouble))
      .where(col("est_jaccard") >= EstThreshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      // the union of the per-band joins yields Bands x (probe
      // partitions) slices; coalesce (map-side, NO shuffle — the band
      // joins and match count still execute at full width inside the
      // merged tasks) so the materialized pair relation doesn't hand
      // every downstream consumer stacks of near-empty partitions
      .coalesce(s.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** One band's candidate join with a SKEW GUARD: keys whose bucket
    * stays at or under `threshold` take the plain equi-join; hot keys
    * are salted into `groups` groups (crc32 of the doc id — id
    * patterns can be adversarial, the hash is not) and joined per
    * group-PAIR via the triangle decomposition:
    *
    *   each row of group g replicates to every unordered group pair
    *   {g, x} (as (glo, ghi) key columns), so the pair (a, b) with
    *   groups (ga, gb), ga ≠ gb, equi-matches exactly once — on
    *   (min(ga,gb), max(ga,gb)) — and a SAME-group pair, which the
    *   replication would match on all `groups` shared pairs, is
    *   restricted by the diagonal predicate to its own (ga, ga) task.
    *
    * Every task then holds two ~bucket/groups slices instead of the
    * whole bucket: ~(bucket/groups)² comparisons, the bound
    * ScaleShapeSpec's mega-bucket fixture asserts. Replication costs
    * `groups`× on HOT rows only; cold keys (the md5-uniform normal
    * case — everything at bench scale) pay one broadcast anti-join
    * probe and keep their exact previous plan. Hot-key detection is a
    * key-level count aggregate (map-side combined, never corpus-row
    * volume) broadcast to both sides. The emitted pair SET is
    * identical to the plain join's — salting is pure partitioning,
    * proven set-identical in the spec. This is [[Skew.saltedJoin]]'s
    * replicate-the-other-side move adapted to self-pair enumeration,
    * where BOTH sides are the big side and the "other side" is the
    * group-pair space. */
  private[graft] def saltedBandPairs(left: DataFrame, right: DataFrame,
      b: Int, earlierDiffer: Column, threshold: Int, groups: Int): DataFrame =
    saltedKeyedPairs(left, right, s"a$b", s"b$b",
      pmod(crc32(col("doc_a").cast("string")), lit(groups)),
      pmod(crc32(col("doc_b").cast("string")), lit(groups)),
      col("doc_a") < col("doc_b") && earlierDiffer, threshold, groups)
      .select(col("doc_a"), col("doc_b"))

  /** The generic form of the skew-guarded self-pair join (see
    * [[saltedBandPairs]] for the triangle-decomposition semantics):
    * `keyA`/`keyB` are the two sides' join-key column names, `saltA`/
    * `saltB` the per-row salt-group expressions (must hash the SAME
    * row identity on both sides), `pred` the pair predicate applied in
    * BOTH the cold and hot legs. All columns of both sides ride
    * through, so callers whose pair rows carry payload (q98's chunk
    * ids + signatures) use this directly. */
  private[graft] def saltedKeyedPairs(left: DataFrame, right: DataFrame,
      keyA: String, keyB: String, saltA: Column, saltB: Column,
      pred: Column, threshold: Int, groups: Int): DataFrame = {
    val outCols = (left.columns ++ right.columns).toSeq.map(col)
    val hotK = broadcast(
      left.where(col(keyA).isNotNull)
        .groupBy(col(keyA)).agg(count(lit(1)).as("n"))
        .where(col("n") > threshold)
        .select(col(keyA).as("hot_k")))
    val coldL = left.join(hotK, col(keyA) === col("hot_k"), "left_anti")
    val coldR = right.join(hotK, col(keyB) === col("hot_k"), "left_anti")
    val cold = coldL.join(coldR, col(keyA) === col(keyB) && pred)
      .select(outCols: _*)
    val gxs = array((0 until groups).map(lit): _*)
    val hotL = left.join(hotK, col(keyA) === col("hot_k"), "left_semi")
      .withColumn("ga", saltA)
      .withColumn("gx", explode(gxs))
      .withColumn("aglo", least(col("ga"), col("gx")))
      .withColumn("aghi", greatest(col("ga"), col("gx")))
      .drop("gx")
    val hotR = right.join(hotK, col(keyB) === col("hot_k"), "left_semi")
      .withColumn("gb", saltB)
      .withColumn("gx", explode(gxs))
      .withColumn("bglo", least(col("gb"), col("gx")))
      .withColumn("bghi", greatest(col("gb"), col("gx")))
      .drop("gx")
    val hot = hotL.join(hotR,
        col(keyA) === col(keyB) &&
          col("aglo") === col("bglo") && col("aghi") === col("bghi") &&
          pred &&
          (col("ga") =!= col("gb") ||
            (col("aglo") === col("ga") && col("aghi") === col("ga"))))
      .select(outCols: _*)
    cold.unionByName(hot)
  }

  /** Connected components over the near-dup pair graph, memoized per
    * (session, dir): (doc_id, cluster_id = min doc_id in component),
    * unordered. q35 adds the presentation sort; q35b consumes the
    * labels directly instead of re-running the convergence loop. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    clustersMemo.computeIfAbsent((s, d), _ => dupClustersUncached(s, d))

  private def dupClustersUncached(s: SparkSession, d: String): DataFrame = {
    // Contraction: docs with IDENTICAL signatures form est=1.0
    // cliques, so they share a component by definition — contract
    // each sig-group to its min doc_id first. est(a,b) depends only
    // on the signatures, so rep-level edges are exactly the
    // doc-level edges modulo contraction: output-identical, but the
    // propagation graph shrinks from O(docs²·density) to
    // O(distinct-sigs²·density).
    val sigs = minhashSignatures(s, d).select(col("doc_id"), col("sig"))
    val reps = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rep"))
    val docRep = Materialize(
      sigs.join(reps, Seq("sig")).select(col("doc_id"), col("rep")))
    val repPairs = minhashPairs(s, d)
      .join(docRep.select(col("doc_id").as("doc_a"), col("rep").as("rep_a")), Seq("doc_a"))
      .join(docRep.select(col("doc_id").as("doc_b"), col("rep").as("rep_b")), Seq("doc_b"))
      .where(col("rep_a") =!= col("rep_b"))
      .select(col("rep_a"), col("rep_b")).distinct()
    val labels = minLabelComponents(
      repPairs, docRep.select(col("rep").as("node")))
    // the memoized result must not depend on per-loop frames that a
    // "persist" strategy may later release — cut the joined doc-level
    // labels themselves (memo outlives every per-round frame)
    val out = Materialize.cut(docRep.join(labels, docRep("rep") === labels("node"))
      .select(col("doc_id"), col("label").as("cluster_id")))
    Materialize.release(labels)
    Materialize.release(docRep)
    out
  }

  /** Pair-count ceiling for the LOCAL regime of
    * [[minLabelComponents]]. Below it the edge list collects to the
    * driver (≤ ~32 MB at the default) and a union-find labels the
    * touched nodes in one pass; above it the distributed propagation
    * loop runs. The same size-regime switch Spark applies at the
    * broadcast-join threshold: the distributed loop costs O(diameter)
    * shuffle rounds whose FIXED per-job cost (scheduling + codegen +
    * checkpoint) dwarfs the data when the graph is small — measured
    * ~0.8 s/round on a ~2k-node quotient graph, ~5 s/batch in q110s —
    * while a 2M-edge collect is tens of MB, well inside the bound
    * every broadcast join in this engine already accepts.
    * Conf-overridable so tests can force either regime on one graph
    * and assert the labelings agree. */
  private def localComponentsMaxPairs(s: SparkSession): Long =
    s.conf.get("spark.graft.localComponentsMaxPairs", (2L << 20).toString)
      .toLong

  /** Row ceiling for BROADCASTING the touched-survivor doc set in the
    * retire path (q111/q111s). The survivor set is bounded by the
    * touched clusters' membership — usually batch-sized — but retiring
    * one member of a mega-cluster makes it cluster-sized, and an
    * unconditional `broadcast()` hint would OOM the driver rather than
    * degrade (the one unguarded scale edge round 13's audit found).
    * Same size-regime idea as [[localComponentsMaxPairs]]: broadcast
    * under the bound (4M longs ≈ 32 MB, the bound every broadcast join
    * here already accepts), shuffle semi-join above it.
    * Conf-overridable so tests can force either regime on one retire
    * and assert the labelings agree. */
  private def survivorBroadcastMaxRows(s: SparkSession): Long =
    s.conf.get("spark.graft.survivorBroadcastMaxRows", (4L << 20).toString)
      .toLong

  /** The memoized pair relation restricted to edges with BOTH
    * endpoints in `survivors` (column `doc_id`, MATERIALIZED by the
    * caller; `nSurvivors` its counted size) — the retire path's
    * subgraph extraction, complete by the no-cross-cluster-edge
    * argument. Regime-guarded per [[survivorBroadcastMaxRows]]: small
    * survivor sets ride broadcast semi-joins (no shuffle of the pair
    * relation), mega-cluster retirements degrade to shuffle semi-joins
    * instead of a driver OOM. */
  private[graft] def survivorPairs(s: SparkSession, d: String,
      survivors: DataFrame, nSurvivors: Long): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (nSurvivors <= survivorBroadcastMaxRows(s)) df => broadcast(df)
      else identity
    minhashPairs(s, d)
      .join(hint(survivors.select(col("doc_id").as("doc_a"))),
        Seq("doc_a"), "left_semi")
      .join(hint(survivors.select(col("doc_id").as("doc_b"))),
        Seq("doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
  }

  /** Iterative min-label propagation over an undirected pair graph —
    * the connected-components kernel shared by q35 (near-dup doc
    * clusters), q92b (within-video scene groups), and the
    * incremental-cluster quotient steps (q108/q110/q110s). `pairs` is
    * one row per undirected edge (two LONG columns); `nodes` is the
    * node universe (column `node`, deduplicated here). Returns a
    * MATERIALIZED (node, label = component min) frame the caller must
    * `Materialize.release` after use.
    *
    * Two size regimes ([[localComponentsMaxPairs]]): small edge lists
    * collect once and a driver union-find answers directly; large ones
    * run the distributed loop — every round one join + min-aggregate,
    * frames cut per round so lineage stays flat. Only nodes that touch
    * an edge participate in either regime (on a near-dup graph a small
    * fraction of the universe); the isolated rest self-label in the
    * final join. */
  private[graft] def minLabelComponents(pairs: DataFrame,
      nodes: DataFrame): DataFrame =
    minLabelComponentsCore(pairs, _ => nodes)

  /** [[minLabelComponents]] whose node universe is `baseNodes` plus the
    * pb side of the pair list — DERIVED FROM THE MATERIALIZED pair
    * relation, for callers whose nodes expression would otherwise
    * re-execute the pair pipeline a second time (clusterStep's node set
    * is `batch ids ∪ bridge labels`, and the bridge labels come from
    * the index SERVE: passing them as a `nodes` DataFrame re-ran the
    * serve join inside the final label join — measured ~0.45–0.65 s per
    * q110s micro-batch, the second-largest item in its job profile). */
  private[graft] def minLabelComponentsPb(pairs: DataFrame,
      baseNodes: DataFrame): DataFrame =
    minLabelComponentsCore(pairs,
      p => baseNodes.unionByName(p.select(col("pb").as("node"))))

  private def minLabelComponentsCore(pairs: DataFrame,
      nodesOf: DataFrame => DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // materialize the single-direction pair list once — it is either
    // collected (local regime) or joined every propagation round
    // (distributed), and without this the upstream pipeline would
    // re-run per consumption
    // the regime-picking pair count rides the materialize job as an
    // observe metric (fires under every Materialize strategy) — a
    // separate count() was a whole extra job per call
    val obs = new org.apache.spark.sql.Observation()
    val p = graft.Jobs.labeled(s, "components: materialize pairs")(
      Materialize(pairs.toDF("pa", "pb")
        .observe(obs, count(lit(1)).as("n"))))
    val nPairs = obs.get("n") match {
      case n: java.lang.Long => n.longValue()
      case other => sys.error(s"unexpected observe metric: $other")
    }
    val longCols = p.schema.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val labels =
      if (longCols && nPairs <= localComponentsMaxPairs(s))
        graft.Jobs.labeled(s, "components: local union-find")(
          localMinLabels(s, p))
      else loopMinLabels(s, p)
    // the node universe is consumed exactly once, by this cut — an
    // eager materialization of it was a whole extra job per call
    // (every caller's nodes frame is either already materialized or a
    // cheap projection; the serve-derived case goes through
    // [[minLabelComponentsPb]])
    val out = graft.Jobs.labeled(s, "components: label join")(
      Materialize.cut(nodesOf(p).select(col("node")).distinct()
        .join(labels, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label"))))
    Materialize.release(labels)
    Materialize.release(p)
    out
  }

  /** LOCAL regime: collect the (bounded) pair list and union-find with
    * path halving, tracking the min node id per component. Returns
    * (node, label) for edge-touched nodes as a MATERIALIZED frame
    * (uniform release contract with the loop regime). */
  private def localMinLabels(s: SparkSession, p: DataFrame): DataFrame = {
    val rows = p.collect()
    // boxed value type: a primitive-Int map would unbox a missing
    // key's null to 0 and silently alias every new node to node 0
    val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer](
      rows.length * 3)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]
    val parent = new scala.collection.mutable.ArrayBuffer[Int]
    def intern(v: Long): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else {
        val i = ids.length
        idx.put(v, i); ids += v; parent += i; i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    for (r <- rows) {
      val a = find(intern(r.getLong(0)))
      val b = find(intern(r.getLong(1)))
      if (a != b) parent(a) = b
    }
    val minOf = Array.fill(ids.length)(Long.MaxValue)
    for (i <- ids.indices) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
    }
    import s.implicits._
    Materialize(
      ids.indices.map(i => (ids(i), minOf(find(i)))).toDF("node", "label"))
  }

  /** DISTRIBUTED regime: min-label propagation to fixpoint. No
    * driver-side graph — every round is one join + min-aggregate over
    * the edge-touched nodes, frames cut per round so lineage stays
    * flat. */
  private def loopMinLabels(s: SparkSession, p: DataFrame): DataFrame = {
    val edges = Materialize(p
      .union(p.select(col("pb"), col("pa")))
      .toDF("src", "dst"))
    var labels = Materialize(edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var converged = labels.head(1).isEmpty // no edges → nothing to propagate
    var rounds = 0
    // Convergence detection from the round's OWN output, no extra join:
    // least() only ever lowers a label, so sum(label) is strictly
    // decreasing until the fixpoint and equal exactly at it. Decimal
    // sum so a 100 TB node-id range cannot overflow the comparison.
    // prevSum == null covers round 1 (an edge-touched graph always
    // changes in round 1: for edge (a,b), max(a,b) adopts min(a,b)).
    var prevSum: java.math.BigDecimal = null
    while (!converged && rounds < 50) {
      val nbrMin = edges
        .join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
      val next = Materialize.cut(labels // cut the growing lineage per round
        .join(nbrMin, labels("node") === nbrMin("src"), "left")
        .select(col("node"), least(col("label"),
          coalesce(col("nbr_min"), col("label"))).as("label")))
      val nextSum = next
        .agg(sum(col("label").cast(DecimalType(38, 0))).as("s"))
        .head().getDecimal(0)
      Materialize.release(labels)
      labels = next
      converged = prevSum != null && nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      rounds += 1
    }
    Materialize.release(edges)
    // a chain-shaped component with diameter > the round cap would
    // exit unconverged; silent wrong labels are worse than failure
    require(converged,
      s"label propagation did not converge after $rounds rounds — " +
        "component diameter exceeds the cap; raise the bound")
    labels
  }

  /** q83's distinct (doc_id, 48-bit window-hash) relation, materialized
    * once (it feeds both the shared-hash count and the per-doc join).
    * Positions are exploded and the hash computed in the outer
    * projection: higher-order transform lambdas run interpreted (md5
    * per element, no codegen), so the window hash lives in a codegen'd
    * ProjectExec after the Generate — subexpression elimination
    * evaluates the md5 once even though the hex fold names it 12
    * times. The corpus is repartitioned with an EXPLICIT count before
    * the ~300x window fan-out (the q31 fan-out-blindness move: the
    * parquet arrives in O(file-size/128MB) splits — ONE at bench
    * scale — and AQE sizes by input bytes, so without this the whole
    * md5 stage runs on a single core). Package-visible so
    * ScaleShapeSpec can assert the materialized partition count
    * directly (localCheckpoint severs lineage, so the repartition is
    * invisible in the final plan string). */
  private[graft] def substringWindowsPlan(s: SparkSession, docs: DataFrame): DataFrame = {
    val W = SubstrWindow
    docs
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"))
      .where(length(col("text")) >= W)
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, length(text) - ${W - 1})")).as("i"))
      .select(col("doc_id"),
        expr(Tokens.hex48(s"md5(substring(text, i, $W))")).as("h"))
      .distinct()
  }

  private[graft] def substringWindows(s: SparkSession, docs: DataFrame): DataFrame =
    Materialize.cut(substringWindowsPlan(s, docs))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: one shuffle of (digest, id); text never moves.
    "q30_dedup_exact" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_md5"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("canonical_id"))
    },

    // MinHash + LSH banding: candidates from band-bucket equi-join,
    // estimate = matching signature fraction, near-dups at est >= 15/16.
    "q31_minhash_pairs" -> { (s, d) =>
      minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // SimHash fingerprints per document.
    "q32_simhash" -> { (s, d) =>
      withSimhash(Tables.documents(s, d))
        .select(col("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))
    },

    // SimHash near-dup pairs: bucket on the high byte, pair within the
    // bucket at hamming distance <= 6 (of 16 bits).
    "q33_simhash_pairs" -> { (s, d) =>
      // materialize the fingerprints once — the self-join would
      // otherwise run the 16-bit fold pipeline for both sides
      // cut (not persist): the returned frame is lazy, so a persisted
      // sh could never be released and would pin block-manager storage
      // once per invocation under the "persist" strategy
      val sh = Materialize.cut(withSimhash(Tables.documents(s, d))
        .select(col("doc_id"), col("simhash"),
          shiftright(col("simhash"), 8).as("bucket")))
      val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("fp_a"), col("bucket"))
      val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("fp_b"), col("bucket"))
      a.join(b, Seq("bucket"))
        .where(col("doc_a") < col("doc_b"))
        .withColumn("hamming", bit_count(expr("fp_a ^ fp_b")))
        .where(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // CHUNK-grain cross-document near-dup — the paragraph-level
    // middle grain between doc-level MinHash (q31: misses a doc that
    // merely CONTAINS a copied paragraph) and 40-char window hashing
    // (q83: exact matches only). Documents split into non-overlapping
    // 20-token chunks (q49's grid at stride = width); each chunk gets
    // the SAME K=16 MinHash sketch and packed 48-bit band keys as
    // q31; candidates come from cross-document band equi-joins, with
    // the band-1 leg gated on band-0 keys differing (the
    // first-collision-band rule — a FILTER, not a distinct shuffle);
    // est >= the q31 threshold. Scale: ~n_toks/20 chunk rows per doc,
    // and only (ids, 16x8-byte sig) rows ride the band joins — text
    // never shuffles past the sketch stage.
    "q98_chunk_neardup" -> { (s, d) =>
      // materialized once; both join legs and the union read it
      val ch = chunkSigs(s, d)
      def side(p: String) = ch.select(
        col("doc_id").as(s"doc_$p"), col("chunk_idx").as(s"chunk_$p"),
        col("sig").as(s"sig_$p"),
        col("bk0").as(s"${p}k0"), col("bk1").as(s"${p}k1"))
      val a = side("a")
      val b = side("b")
      val crossDoc = col("doc_a") < col("doc_b")
      // the q31 adaptive skew guard at chunk grain: chunk band keys
      // CAN go hot (boilerplate paragraphs repeated across a crawl —
      // and every empty-token doc's single chunk shares one sig), so
      // probe the worst bucket and switch both band legs to the
      // salted triangle join when it exceeds the threshold; the
      // md5-uniform normal case keeps the plain plan at zero overhead
      val maxBucket = ch
        .select(posexplode(array(col("bk0"), col("bk1"))))
        .toDF("band_id", "band_key")
        .where(col("band_key").isNotNull)
        .groupBy(col("band_id"), col("band_key"))
        .agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      graft.SkewStats.record("chunk-bands", maxBucket, HotBandThreshold)
      val leg1Pred = crossDoc && col("ak0") =!= col("bk0")
      val cand = if (maxBucket <= HotBandThreshold)
        a.join(b, col("ak0") === col("bk0") && crossDoc)
          .unionByName(a.join(b, col("ak1") === col("bk1") && leg1Pred))
      else {
        // salt on the full (doc, chunk) row identity — doc_id alone
        // would put all of a boilerplate doc's chunks in one group
        def salt(p: String) = pmod(crc32(concat_ws(":",
          col(s"doc_$p"), col(s"chunk_$p"))), lit(BandSaltGroups))
        saltedKeyedPairs(a, b, "ak0", "bk0", salt("a"), salt("b"),
            crossDoc, HotBandThreshold, BandSaltGroups)
          .unionByName(saltedKeyedPairs(a, b, "ak1", "bk1",
            salt("a"), salt("b"), leg1Pred, HotBandThreshold, BandSaltGroups))
      }
      // SigMatches kernel: same value/NULL semantics as the K-term
      // CASE sum, small enough that the est filter's pushdown into the
      // join condition keeps the stage inside whole-stage codegen
      val est = graft.functions.VectorFunctions
        .sigMatches(col("sig_a"), col("sig_b"))
        .cast("double") / lit(K.toDouble)
      cand.withColumn("est_jaccard", est)
        .where(col("est_jaccard") >= EstThreshold)
        .select(col("doc_a"), col("chunk_a"), col("doc_b"), col("chunk_b"),
          col("est_jaccard"))
        .orderBy(col("doc_a"), col("chunk_a"), col("doc_b"), col("chunk_b"))
    },

    // Duplicate CLUSTERING: connected components over the MinHash
    // near-dup pair graph (est >= 15/16), cluster id = min doc_id in
    // the component. Iterative min-label propagation — per round one
    // shuffle join + one aggregation; near-clique dup clusters
    // converge in 2-3 rounds. This is the assignment step a 100 TB
    // dedup pipeline runs after candidate generation (each round is
    // a bounded join, no driver-side graph).
    "q35_dup_clusters" -> { (s, d) =>
      dupClusters(s, d).orderBy(col("doc_id"))
    },

    // PageRank (3 fixed iterations, d=0.85) over the undirected
    // near-dup graph — centrality of documents inside duplicate
    // neighborhoods (which copy is the "canonical-most"). Each
    // iteration is one join + one aggregation; per-iteration rounding
    // to 8 decimals makes the double sums reduction-order stable, so
    // the run is bit-reproducible at any parallelism.
    "q37g_pagerank" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val nDocs = docs.count()
      val base = lit(0.15 / nDocs)
      val pairs = minhashPairs(s, d).select(col("doc_a"), col("doc_b"))
      // (src, dst, deg) materialized ONCE: the degree join is
      // loop-invariant, so hoisting it leaves each iteration exactly
      // one broadcast join (pr is one row per doc) + one aggregation
      // (r19: splitting deg onto the rank side was measured — 2.9 s ->
      // 3.1 s warm; the degree join is already a broadcast over the
      // materialize job, so the narrower checkpoint bought nothing)
      val undirected = pairs
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst")
      val edges = Materialize(undirected
        .join(undirected.groupBy(col("src")).agg(count(lit(1)).as("deg")),
          Seq("src")))
      var pr = docs.select(col("doc_id").as("node"),
        lit(1.0 / nDocs).as("pr"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(pr, edges("src") === pr("node"))
          .select(col("dst"), (col("pr") / col("deg")).as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
        pr = docs.select(col("doc_id").as("node"))
          .join(contrib, col("node") === contrib("dst"), "left")
          .select(col("node"),
            round(base + lit(0.85) * coalesce(col("in_sum"), lit(0.0)), 8).as("pr"))
      }
      // ONE cut after the loop: each intermediate pr is consumed
      // exactly once by the next iteration, so the nested 3-iteration
      // plan executes as a single job — eager per-iteration
      // checkpoints of a one-row-per-doc relation cost 3 extra job
      // roundtrips and buy no reuse. (At unbounded iteration counts
      // the cut moves back inside the loop to cap plan depth.)
      pr = Materialize.cut(pr)
      Materialize.release(edges) // the final pr is materialized; edges done
      pr.select(col("node").as("doc_id"), col("pr"))
        .orderBy(col("doc_id"))
    },

    // Dedup SELECTION — the final pipeline step: one kept document per
    // duplicate cluster (longest content wins, id tie-break), plus the
    // cluster size the choice represents.
    "q35b_dedup_select" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val clusters = dupClusters(s, d)
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      clusters
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .where(col("rnk") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"),
          col("n_chars").as("kept_n_chars"), col("n_members"))
        .orderBy(col("cluster_id"))
    },

    // CLUSTER-AWARE dataset split — the leakage-proof form of q85:
    // the split byte comes from the near-dup CLUSTER label, so every
    // member of a duplicate component lands in the same split and a
    // near-duplicate of a training document can never appear in
    // val/test. (q85's content-hash split pins only EXACT duplicates
    // together — two 95%-similar crawls of the same page can straddle
    // the train/test boundary, which is precisely the eval-leakage
    // mode near-dup detection exists to prevent.) Scale: one stateless
    // column expression over the memoized cluster relation — no
    // shuffle beyond what q35 already paid, and the 205/230 byte
    // thresholds reproduce q85's 80/10/10 target.
    "q108_cluster_split" -> { (s, d) =>
      dupClusters(s, d)
        .withColumn("b", expr(Tokens.mdByteExpr("cluster_id")))
        .select(col("doc_id"), col("cluster_id"),
          when(col("b") < 205, lit("train"))
            .when(col("b") < 230, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy(col("doc_id"))
    },

    // QUALITY-AWARE DUPLICATE REPRESENTATIVE — the keep-list policy a
    // training pipeline actually runs: q30's canonical rule keeps the
    // id-MINIMAL member of each near-dup cluster, which is an
    // arbitrary copy; production keeps the BEST copy (here the
    // keep-longest heuristic — n_chars descending, id-ascending tie
    // break for determinism — the standard choice when duplicates are
    // truncations/extracts of one another). One row_number window
    // over the memoized cluster relation joined to the doc lengths:
    // the window PARTITIONS by cluster_id, so there is no global sort
    // and per-task work is bounded by the largest cluster, never the
    // corpus — at 100 TB the keep-list costs one shuffle by
    // cluster_id on skinny (doc_id, cluster_id, n_chars) rows.
    "q140_cluster_representative" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      dupClusters(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .withColumn("rep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("rep"))
        .orderBy(col("doc_id"))
    },

    // Exact character-3-gram Jaccard within (lang, n_chars) blocks.
    "q34_ngram_jaccard" -> { (s, d) =>
      // materialize the gram relation once — the block self-join would
      // otherwise run the shingling pipeline for both legs. Native
      // one-pass char-3-gram kernel (below 3 chars → empty array,
      // matching the oracle's empty range()).
      val sh = Materialize.cut(Tables.documents(s, d)
        .withColumn("grams",
          graft.functions.VectorFunctions.charNgrams(lower(col("text")), 3))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("grams")))
      val a = sh.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
        col("lang"), col("n_chars"))
      val b = sh.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
        col("lang"), col("n_chars"))
      a.join(b, Seq("lang", "n_chars"))
        .where(col("doc_a") < col("doc_b"))
        // grams are distinct, so |a ∪ b| = |a| + |b| - |a ∩ b| — one
        // hash-probe pass per pair instead of two (array_union built
        // and sized a second array per pair for a number we already
        // know); same integer, bit-identical double
        .withColumn("n_common", size(array_intersect(col("ga"), col("gb"))))
        .withColumn("jaccard", col("n_common").cast("double") /
          (size(col("ga")) + size(col("gb")) - col("n_common")).cast("double"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // STREAMING dup-filter — the online half of the dedup pipeline: a
    // corpus's LSH band index is persisted once (band_id, band_key
    // DISTINCT — at 100 TB a bucketed table, here Materialize.cut),
    // and incoming documents stream through sketch → band keys →
    // stream-static equi-join against it; any band collision flags
    // the arrival as a near-dup of the standing corpus. The map side
    // (tokenize, MinHash16 kernel, key packing) is stateless, so the
    // stream needs no watermark or state store, and every micro-batch
    // does per-row work + one hash join — the shape that keeps up
    // with an ingest firehose. Replayed over staged files (3 files →
    // serialized micro-batches) under Trigger.AvailableNow; docs with
    // doc_id % 10 = 7 play the arrivals, the rest the corpus.
    // STREAMING exact dedup with BOUNDED state: arrivals stream
    // through dropDuplicatesWithinWatermark on the content digest —
    // the state store holds only digests younger than the watermark
    // delay, the form that survives an unbounded firehose (plain
    // dropDuplicates grows state forever). Arrival time is synthetic
    // (epoch + doc_id seconds — deterministic), and the delay is
    // DERIVED from max(doc_id) so it covers the replay's whole span
    // at any corpus size — a fixed delay would silently drop
    // cross-file "late" digests once ids outgrow it. Emission is then
    // exactly first-occurrence and the output SET equals batch
    // DISTINCT; no sentinel needed because rows emit on arrival, not
    // on flush. The production form runs a small FIXED delay instead:
    // state stays bounded and a duplicate arriving after its
    // predecessor expired is re-admitted — that TTL-vs-exactness
    // trade is exercised directly in StreamBatchParitySpec ("small
    // fixed TTL"), which observes state eviction and the re-admitted
    // late dup.
    "q78_stream_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("content_md5"))
        .withColumn("ts",
          timestamp_seconds(lit(1700000000L) + col("doc_id")))
      val maxRow = docs.agg(max(col("doc_id"))).head()
      val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      graft.streaming.Replay.run(s, docs, files = 3, stateParts = Some(3),
        stageKey = Some(s"q78:$d")) {
        stream =>
          stream
            .withWatermark("ts", s"${maxId + 60} seconds")
            .dropDuplicatesWithinWatermark("content_md5")
            .select(col("content_md5"))
      }
        // set semantics are the contract (the delay makes re-emission
        // impossible here; distinct states the invariant)
        .distinct().orderBy(col("content_md5"))
    },

    // q83's distinct (doc_id, window-hash) relation — see
    // substringWindows below for the scale shape.
    // EXACT SUBSTRING duplication (the "Deduplicating Training Data
    // Makes Language Models Better" shape, hash-window form): flag
    // every document sharing a 40-char text window with ANY other
    // document, with the count of shared windows. A suffix array is
    // the single-node tool; the distributed shape is the window-hash
    // stream — each document emits a hash per position, the corpus
    // groups by hash, and only (hash, doc_id) pairs ever shuffle (the
    // text never moves). The window md5 is hex48-folded to ONE BIGINT
    // before the shuffle (the q31 packed-key move: 8 bytes instead of
    // a 32-char hex string — same fold in the oracle, so the keys
    // match across engines; a 48-bit collision just flags one spurious
    // shared window, the accepted trade of any hash-window detector).
    // At 100 TB the group-by key is uniform — no skew — and the
    // per-doc window explode is map-side linear in text size. The
    // distinct (doc, hash) relation feeds both the shared-hash count
    // and the per-doc join, so it is materialized once.
    "q83_substring_dup" -> { (s, d) =>
      val W = SubstrWindow
      val docs = Tables.documents(s, d)
      val wins = substringWindows(s, docs)
      // wins is distinct per (doc, h): count == number of docs
      val shared = wins.groupBy(col("h"))
        .agg(count(lit(1)).as("nd"))
        .where(col("nd") >= 2)
        .select(col("h"))
      val hits = wins.join(shared, Seq("h"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      docs.select(col("doc_id"),
          greatest(length(col("text")).cast("long") - (W - 1), lit(0L))
            .as("n_windows"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).as("has_dup"))
        .orderBy(col("doc_id"))
    },

    "q75_stream_dup_filter" -> { (s, d) =>
      val sig = minhashSignatures(s, d)
      val index = Materialize.cut(
        bandMelt(bandKeyed(sig.where(col("doc_id") % 10 =!= 7)))
          .select(col("band_id"), col("band_key")).distinct())
      val incoming = Tables.documents(s, d).where(col("doc_id") % 10 === 7)
      val matched = graft.streaming.Replay.run(s, incoming, files = 3,
        stageKey = Some(s"q75:$d")) {
        stream =>
          bandMelt(bandKeyed(withMinhash(stream)))
            .join(index, Seq("band_id", "band_key"))
            .select(col("doc_id"), col("band_id"))
      }
      val hits = matched
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bands_hit"))
      incoming.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bands_hit"), lit(0L)).as("n_bands_hit"),
          col("n_bands_hit").isNotNull.as("is_dup"))
        .orderBy(col("doc_id"))
    },

    // PERSISTED-INDEX INCREMENTAL DEDUP — the lifecycle q31 feeds at
    // 100 TB: all-pairs dedup runs once per corpus version; every
    // ARRIVING batch afterwards is a probe against the standing LSH
    // index ([[graft.plans.MinHashIndex]]). Here the corpus split
    // models it: residents (doc_id % 10 != 0) are indexed once per
    // session (save → parquet artifacts, one file per band_id
    // directory); the incoming batch (doc_id % 10 == 0) is sketched
    // map-side, broadcast, and joined against the current version's
    // band files. Oracle = the q31 CTE chain with the
    // probe/resident split — driver-gated proof the persisted path
    // answers what the fresh all-pairs computation would.
    "q99_lsh_index_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val dir = lshIndexDir(s, d)
      val h = graft.plans.MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        s"$d/documents.parquet", dir)
      // cut before the presentation sort: the global orderBy's range
      // sampling would otherwise execute the whole probe-sketch +
      // index-join pipeline a second time (and the sort a third —
      // measured 14.5 s vs 5.5 s unsorted at sf0.1). Intra-query cut,
      // released by the bench's between-sweep unpersist like q33's.
      Materialize.cut(graft.plans.MinHashIndex.serve(s, h,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)))
        .orderBy(col("probe_doc"), col("corpus_doc"))
    },

    // The full ADMISSION VERDICT over the persisted index — per
    // arriving document: near-dup of the resident corpus OR of a
    // lower-id batch-mate (the id-minimal representative of a new dup
    // cluster is admitted, its copies rejected). One probe sketch
    // feeds both legs ([[graft.plans.MinHashIndex.admit]]); the
    // corpus leg rides the same broadcast join as q99,
    // the within-batch leg is the q31 band self-join at batch size.
    "q99b_lsh_admission" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val dir = lshIndexDir(s, d)
      val h = graft.plans.MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
        s"$d/documents.parquet", dir)
      graft.plans.MinHashIndex.admit(s, h,
          docs.where(pmod(col("doc_id"), lit(10)) === 0))
        .orderBy(col("doc_id"))
    },

    // SEQUENTIAL INCREMENTAL INGEST — the full 100 TB ingestion loop
    // run end-to-end: the probe population arrives as THREE ordered
    // batches; each batch is admission-checked against the index AS IT
    // STANDS (residents + everything admitted so far), and its
    // admitted docs are appended before the next batch arrives. The
    // verdicts are therefore path-dependent — a batch-0 reject's
    // near-dups in batch 2 are NOT corpus hits (the reject never
    // entered the index) — and the oracle unrolls the same three
    // stages as chained CTEs, so the driver gate proves the loop's
    // sequential semantics, not just one probe. Each invocation clones
    // the resident artifact (the loop commits into its index; the
    // shared q99 artifact stays as saved) — a production pipeline
    // commits into its one index and skips the clone.
    "q103_ingest_loop" -> { (s, d) => ingestLoop(s, d, compactAfter = None) },

    // The same loop with a COMPACTION between batches 1 and 2
    // ([[graft.plans.MinHashIndex.purgeCommit]] with maxFiles = 1):
    // appends accumulate one small file per band per batch, and the
    // copy-on-write rewrite collapses each band back to one file,
    // committed as the next version. Identical oracle SQL to q103 — the driver gate is the proof
    // that compaction is result-neutral mid-loop (batch 2 admits
    // against, and appends into, the compacted version).
    "q103b_ingest_compacted" ->
      { (s, d) => ingestLoop(s, d, compactAfter = Some(1)) },

    // AUTO-COMPACTION POLICY — the same loop with a threshold-
    // triggered BAND-LOCAL compaction after every append
    // ([[graft.plans.MinHashIndex.purgeCommit]] with maxFiles = 2):
    // only bands whose current-version file count crossed the
    // threshold are rewritten, capping per-band file growth under
    // continuous ingest — the
    // lakehouse OPTIMIZE scheduler shape. Identical oracle SQL to
    // q103: the gate proves the policy result-neutral at every point
    // in the loop.
    "q112_ingest_autocompact" ->
      { (s, d) => ingestLoop(s, d, compactAfter = None,
          autoCompactMaxFiles = Some(2)) },

    // STREAMING INGEST — q103's loop driven by the ENGINE's micro-
    // batch cycle instead of a driver for-loop: the probe firehose
    // replays as 3 ordered micro-batches and a `foreachBatch` callback
    // admits each batch against the persisted index AS IT STANDS, then
    // appends the admitted docs before the next trigger — the actual
    // production shape (a landing stream drives admission; the index
    // is the stream's external state). Identical oracle to q103: the
    // driver gate proves the streamed loop equals the unrolled batch
    // semantics.
    "q103s_stream_ingest" -> { (s, d) =>
      import graft.plans.MinHashIndex
      val docs = Tables.documents(s, d)
      val residents = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      MinHashIndex.ensureSaved(s, residents, s"$d/documents.parquet",
        lshIndexDir(s, d))
      val staging = takeClone(s, d)
      try {
        val runDir = s"$staging/idx"
        val feed = docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text"))
          .withColumn("batch",
            (pmod(col("doc_id"), lit(30)) / 10 + 1).cast("int"))
        // Per-batch verdicts are STAGED TO PARQUET, not accumulated in
        // a driver buffer: at a real micro-batch size a driver-side
        // ArrayBuffer grows with the stream's lifetime, while the
        // staged relation is also what the append joins against — the
        // admitted-id filter is a JOIN against the verdict relation
        // (the batch twin's form at ingestLoop), never an In-literal
        // sized by the batch.
        val verdictDir = s"$staging/verdicts"
        org.apache.hadoop.fs.FileSystem.get(new java.net.URI(verdictDir),
            s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(verdictDir))
        // the handle is two immutable paths — load it once, not per
        // micro-batch (each load re-reads the meta file as its own job)
        val h = MinHashIndex.load(s, runDir)
        graft.streaming.Replay.runBatchedForeach(s, feed, "batch",
          batches = 3, stageKey = Some(s"q103s:$d")) { batch =>
          val rows = MinHashIndex.localize(s,
            batch.select(col("doc_id"), col("text")))
          // verdict lands on disk BEFORE the append commits the next
          // version (the write is the materialization the batch twin
          // gets from Materialize.cut)
          MinHashIndex.admitRows(s, h, rows)
            .write.mode("append").parquet(verdictDir)
          // earlier batches' admitted ids are absent from `rows`, so
          // the inner join restricts the cumulative verdict relation
          // to this batch by construction
          MinHashIndex.appendRowsCommitRetrying(s, runDir, rows.join(
            s.read.schema(admitVerdictSchema).parquet(verdictDir)
              .where(col("admitted")).select(col("doc_id")),
            Seq("doc_id")))
        }
        // static schema (ADVICE r12): an empty probe slice yields zero
        // micro-batches and an empty staged dir — the explicit schema
        // keeps the read well-defined instead of NPE-ing on a
        // never-assigned runtime schema
        Materialize.cut(
          s.read.schema(admitVerdictSchema).parquet(verdictDir))
          .withColumn("batch",
            (pmod(col("doc_id"), lit(30)) / 10).cast("int"))
          .select(col("doc_id"), col("batch"), col("n_corpus_hits"),
            col("n_batch_hits"), col("admitted"))
          .orderBy(col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // RETENTION DELETE — the erasure pass that completes the index
    // lifecycle: a slice of the resident corpus (doc_id % 7 = 0) is
    // tombstoned ([[graft.plans.MinHashIndex.deleteCommit]]) and then
    // purged ([[graft.plans.MinHashIndex.purgeCommit]]), which
    // rewrites ONLY the bands holding its band rows, one new file each,
    // in the next version; the standard probe serve then runs against
    // what remains. Oracle = q99's CTE chain with the deleted slice
    // excluded from the corpus side — the driver gate proves the
    // band-local delete leaves exactly the fresh index over the
    // surviving residents.
    "q107_index_delete" -> { (s, d) =>
      import graft.plans.MinHashIndex
      val docs = Tables.documents(s, d)
      val residents = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
      MinHashIndex.ensureSaved(s, residents, s"$d/documents.parquet",
        lshIndexDir(s, d))
      val staging = takeClone(s, d)
      try {
        val runDir = s"$staging/idx"
        MinHashIndex.deleteCommit(s, runDir,
          residents.where(pmod(col("doc_id"), lit(7)) === 0)
            .select(col("doc_id")))
        MinHashIndex.purgeCommit(s, runDir)
        val h = MinHashIndex.load(s, runDir)
        // materialized before the finally reclaims the cloned index
        Materialize.cut(MinHashIndex.serve(s, h,
            docs.where(pmod(col("doc_id"), lit(10)) === 0)))
          .orderBy(col("probe_doc"), col("corpus_doc"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // SNAPSHOT-ISOLATED index with TIME TRAVEL — the lakehouse form of
    // the append lifecycle ([[graft.plans.Snapshots]]): each committed
    // version is an immutable manifest of the band files, so a reader
    // pinned to version 1 is untouched by the version-2 append and an
    // "as-of" serve needs no index copy at all. The query builds the
    // index over an initial resident population (doc_id % 10 ∈ 1..8)
    // as v1, appends the % 10 = 9 slice as v2, and serves
    // the SAME probe set (% 10 = 0) against both versions from ONE
    // probe sketch — the v1 leg must be blind to the appended slice.
    // Oracle = q99's CTE chain with the two corpus populations
    // unioned under a version tag. Scale: an as-of read is a file
    // LISTING choice, not a data operation — each leg reads exactly
    // its version's manifested band files, and the append itself only
    // adds files (one per band).
    "q109_index_timetravel" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      // the initial save + v1 commit is a shared immutable artifact
      // (pre-staged clone, same accounting as q103's takeClone); the
      // query's own work is the append, the v2 commit and the two
      // as-of serves
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/bands").get
        val (v2, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9)
            .select(col("doc_id"), col("text")))
        val probe = MinHashIndex.localize(s,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")))
        def leg(v: Int, tag: Int) =
          MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2)))
          .select(col("version"), col("probe_doc"), col("corpus_doc"),
            col("est_jaccard"))
          .orderBy(col("version"), col("probe_doc"), col("corpus_doc"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // SNAPSHOT-PRESERVING COMPACTION — q109's maintenance leg
    // ([[graft.plans.MinHashIndex.purgeCommit]], which with no
    // tombstones merges fragmented bands copy-on-write), so time
    // travel and small-file maintenance coexist. Here the append (which
    // adds a second file to every band) commits v2, then compaction
    // merges each of v2's bands into ONE new sibling file and commits the merged layout as v3 — old files
    // stay on disk and v1/v2 keep reading their own sets (the
    // Iceberg/Delta OPTIMIZE shape). ONE probe sketch then
    // serves as-of ALL THREE versions: v1 must be blind to the append,
    // and v3 must be row-identical to v2 — compaction is purely
    // physical. Oracle = q109's CTE with the v2 population repeated
    // under tag 3. Scale: the rewrite touches only bands the append
    // actually fragmented, old versions cost storage (not
    // write amplification) until expire reclaims them.
    "q113_snapshot_compact" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/bands").get
        val (v2, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9)
            .select(col("doc_id"), col("text")))
        // the appended batch left every band with 2 files; merge each
        // into one copy-on-write and commit the result
        val v3 = MinHashIndex.purgeCommit(s, idxDir)
        val probe = MinHashIndex.localize(s,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")))
        def leg(v: Int, tag: Int) =
          MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
            .withColumn("version", lit(tag))
        Materialize.cut(
          leg(v1, 1).unionByName(leg(v2, 2)).unionByName(leg(v3, 3)))
          .select(col("version"), col("probe_doc"), col("corpus_doc"),
            col("est_jaccard"))
          .orderBy(col("version"), col("probe_doc"), col("corpus_doc"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // TAGGED SNAPSHOT SURVIVING RETENTION — the reproducibility pin a
    // training run keeps about its own inputs ("the exact dataset
    // version this model trained on"): a bare version number ages out
    // of any retention cadence, so the baseline version is TAGGED
    // (Snapshots.tag — Iceberg's snapshot tags as one ref file), an
    // append commits v2, and retention expires everything below
    // current — the tagged version SURVIVES with its manifest and
    // files while untagged history is reclaimed. The query then serves
    // one probe sketch as-of the TAG-resolved version and as-of
    // current: the tag leg must be the pre-append population exactly,
    // months of retention later. Oracle = q109's two-leg CTE (same
    // populations — what tagging must preserve). Scale: a tag is one
    // tiny ref file and an expire-time exemption; serves stay
    // manifest-listing choices.
    "q139_tagged_snapshot" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val bands = s"$idxDir/bands"
        val v1 = Snapshots.current(s, bands).get
        Snapshots.tag(s, bands, "train-baseline", v1)
        val (v2, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9)
            .select(col("doc_id"), col("text")))
        // retention advances past v1 — only the tag keeps it alive
        Snapshots.expire(s, bands, keepFrom = v2)
        require(Snapshots.versions(s, bands).contains(v1),
          "tagged version was expired — the pin failed")
        val probe = MinHashIndex.localize(s,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")))
        def leg(v: Int, tag: Int) =
          MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        Materialize.cut(
          leg(Snapshots.versionOf(s, bands, "train-baseline"), 1)
            .unionByName(leg(v2, 2)))
          .select(col("version"), col("probe_doc"), col("corpus_doc"),
            col("est_jaccard"))
          .orderBy(col("version"), col("probe_doc"), col("corpus_doc"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // OCC APPEND FOR THE BAND FAMILY — the q141 re-derive protocol
    // where the df-free shape makes every landed artifact ADDITIVE
    // (closing the r16 single-writer asymmetry: BM25 had the
    // capability, its siblings didn't): writers A and B both read
    // base v1; A lands its band files and publishes v2; B lands its
    // files (order-independent parquet appends), loses the publish
    // race, and the retry re-validates the ONE base-dependent rule —
    // the re-ingest guard — against the new current before committing
    // v3 with an EXPLICIT file selection (v2's files + B's tracked
    // landings; commitSelectingExpecting — a concurrent writer's
    // half-landed batch is never swept in). The query REQUIRES the
    // conflict to have fired exactly once (vacuity-proof) and serves
    // one probe sketch as-of all three versions; the oracle is q109's
    // CTE per version population — v3 must be the union of both
    // writers' batches over the residents, no lost update, no double
    // rows. Scale: conflict detection is one manifest stat; a retry
    // re-lists file NAMES, never re-lands band rows.
    "q149_lsh_occ_append" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val bands = s"$idxDir/bands"
        val v1 = Snapshots.current(s, bands).get
        // writer A wins the race
        val (v2, cA) = MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(20)) === 9)
            .select(col("doc_id"), col("text")))
        require(cA == 0, s"writer A should commit clean, got $cA conflicts")
        // writer B publishes against the base it read BEFORE A's
        // commit — the stale-base retry path, forced
        val (v3, cB) = MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(20)) === 19)
            .select(col("doc_id"), col("text")),
          expected = Some(v1))
        require(cB == 1,
          s"writer B should lose exactly one race then succeed, got $cB")
        require(v3 == v2 + 1, s"expected v${v2 + 1}, committed v$v3")
        val probe = MinHashIndex.localize(s,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")))
        def leg(v: Int, tag: Int) =
          MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2))
            .unionByName(leg(v3, 3)))
          .select(col("version"), col("probe_doc"), col("corpus_doc"),
            col("est_jaccard"))
          .orderBy(col("version"), col("probe_doc"), col("corpus_doc"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // OPTIMISTIC-CONCURRENCY COMMIT, END TO END — two UNCOORDINATED
    // writers against one committed dataset (the lakehouse
    // multi-writer protocol the single-writer lifecycles above don't
    // exercise): both read base version v1; writer A lands its slice
    // and wins the publish (v2); writer B lands its slice, publishes
    // against the STALE base, takes the SnapshotConflictException, and
    // runs the standard reaction (Snapshots.commitRetrying: re-read
    // current, retry — sound for appends because the loser's data
    // files are already landed and the retry's re-listing picks up
    // BOTH writers' files). The query REQUIRES the conflict to have
    // fired exactly once (a vacuous run fails loudly), and the oracle
    // gates the invariant that matters: the committed result is the
    // UNION of both writers' rows regardless of publish order — no
    // lost update, no double write. Scale: conflict detection is one
    // manifest stat + an atomic rename; a retry re-lists file NAMES,
    // never re-writes data.
    "q137_occ_commit_retry" -> { (s, d) =>
      import graft.plans.Snapshots
      val docs = Tables.documents(s, d)
      def slice(m: Int) = docs.where(pmod(col("doc_id"), lit(10)) === m)
        .select(col("doc_id"))
      val staging = graft.Fs.createStagingDir(s, "graft-q137")
      try {
        val dir = s"$staging/table"
        slice(5).write.mode("append").parquet(dir)
        val v1 = Snapshots.commit(s, dir)
        // both writers read the same base BEFORE either publishes
        val baseA = Snapshots.current(s, dir)
        val baseB = Snapshots.current(s, dir)
        slice(6).write.mode("append").parquet(dir)
        val (v2, conflictsA) = Snapshots.commitRetrying(s, dir, baseA)
        slice(7).write.mode("append").parquet(dir)
        val (v3, conflictsB) = Snapshots.commitRetrying(s, dir, baseB)
        require(v2 == v1 + 1 && conflictsA == 0,
          s"writer A should publish cleanly, got (v$v2, $conflictsA)")
        require(v3 == v2 + 1 && conflictsB == 1,
          s"writer B should lose exactly one race then succeed, got " +
            s"(v$v3, $conflictsB)")
        // materialized before the finally reclaims the staging dir
        Materialize.cut(Snapshots.read(s, dir, v3)
          .withColumn("slice", pmod(col("doc_id"), lit(10)).cast("int")))
          .orderBy(col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // ROW-LEVEL DELETE UNDER SNAPSHOT ISOLATION — the committed
    // index's erasure path (q107's retention semantics, with every
    // version kept readable for time travel). The
    // clone's v1 population (%10 ∈ 1..8) loses its %7 = 0 slice as a
    // TOMBSTONE commit (v2 — one appended file inside the manifested
    // tree, one manifest swap; nothing rewritten), then a COW PURGE
    // commit (v3) rewrites ONLY the bands holding tombstoned rows (one
    // new file each) and drops the list. ONE probe sketch serves as-of all three
    // versions: v1 must still see the deleted docs (time travel
    // through the delete), v2 must equal a fresh survivors-only index
    // (merge-on-read), v3 must equal v2 (the purge is purely
    // physical). Oracle = q109's CTE shape with the survivor predicate
    // on tags 2/3. Scale: a deleted doc holds exactly Bands band rows,
    // so the purge writes ≤ Bands files regardless of delete size, and
    // every as-of read stays a manifest listing choice.
    "q138_snapshot_delete" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/bands").get
        val v2 = MinHashIndex.deleteCommit(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0 &&
            pmod(col("doc_id"), lit(10)) =!= 9 &&
            pmod(col("doc_id"), lit(7)) === 0)
            .select(col("doc_id")))
        val v3 = MinHashIndex.purgeCommit(s, idxDir)
        val probe = MinHashIndex.localize(s,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")))
        def leg(v: Int, tag: Int) =
          MinHashIndex.serveRowsAsOf(s, idxDir, v, probe)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        Materialize.cut(
          leg(v1, 1).unionByName(leg(v2, 2)).unionByName(leg(v3, 3)))
          .select(col("version"), col("probe_doc"), col("corpus_doc"),
            col("est_jaccard"))
          .orderBy(col("version"), col("probe_doc"), col("corpus_doc"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // INCREMENTAL CONSUMPTION BETWEEN SNAPSHOTS — the downstream half
    // of the manifest lifecycle (Iceberg's incremental scan / Delta's
    // file-level change feed, reduced to a manifest diff): a consumer
    // that checkpointed version N processes ONLY the files version M
    // references that N does not — for the append-only commit paths
    // that is exactly the rows that arrived in between, with zero
    // bookkeeping beyond the manifests both sides already have. Here
    // the appended slice commits v2 and the consumer's incremental
    // read of (v1 → v2] must equal the slice's band rows precisely —
    // no resident row re-surfaces, none of the arrivals is missed.
    // Scale: the read cost is the NEW files only (never a diff of two
    // corpus-sized row sets), and the band_id partition column
    // survives the explicit listing via basePath.
    "q132_snapshot_increment" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/bands").get
        val (v2, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9)
            .select(col("doc_id"), col("text")))
        // materialized before the finally reclaims the staging dir
        Materialize.cut(
          Snapshots.readIncremental(s, s"$idxDir/bands", v1, v2)
            .select(col("doc_id"), col("band_id").cast("int").as("band_id"),
              col("band_key")))
          .orderBy(col("doc_id"), col("band_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // STREAMING MANIFEST TAILING — q132's incremental read driven by
    // the ENGINE's micro-batch cycle (the Delta-streaming-source /
    // Iceberg-incremental-consumer shape): a PRODUCER appends one
    // arrival slice per micro-batch and commits a new version; the
    // CONSUMER, holding only its last-seen version number, tails the
    // manifest diff (lastSeen → current] each trigger and merges
    // those rows into its own mirror — never re-reading a resident
    // file, never missing an arrival, across an arbitrary commit
    // cadence. The mirror after 3 batches must equal the one-shot
    // appended population EXACTLY (q132's oracle verbatim — path
    // independence across the commit slicing). Scale: per trigger the
    // consumer reads the new files only; its bookkeeping is ONE
    // integer (the version), not an offset log or a row-level
    // checkpoint.
    "q134s_manifest_tail" -> { (s, d) =>
      import graft.plans.{MinHashIndex, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val bands = s"$idxDir/bands"
        val mirror = s"$staging/mirror"
        // the arrival feed: the %10 = 9 slice in 3 ordered batches
        val feed = docs.where(pmod(col("doc_id"), lit(10)) === 9)
          .select(col("doc_id"), col("text"))
          .withColumn("batch", (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        var lastSeen = Snapshots.current(s, bands).get
        graft.streaming.Replay.runBatchedForeach(s, feed, "batch",
          batches = 3, stageKey = Some(s"q134s:$d")) { batch =>
          // producer half: land the arrivals, commit the next version
          val (cur, _) = MinHashIndex.appendCommitRetrying(s, idxDir,
            batch.select(col("doc_id"), col("text")))
          // consumer half: tail the manifest diff since lastSeen into
          // the mirror — new files only, one integer of state
          Snapshots.readIncremental(s, bands, lastSeen, cur)
            .select(col("doc_id"), col("band_id").cast("int").as("band_id"),
              col("band_key"))
            .write.mode("append").parquet(mirror)
          lastSeen = cur
        }
        // materialized before the finally reclaims the staging dir
        Materialize.cut(s.read.parquet(mirror))
          .orderBy(col("doc_id"), col("band_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // INCREMENTAL CLUSTER MAINTENANCE — the landing-pipeline form of
    // q35: resident cluster labels are PERSISTED STATE; an arriving
    // batch contributes its near-dup edges (batch→corpus from the
    // persisted LSH index serve, batch→batch from the band self-join
    // over the same probe sketch) and labels update by propagating on
    // the QUOTIENT graph — nodes are the batch docs plus the TOUCHED
    // resident cluster labels, never the resident corpus. Contracting
    // a connected cluster to its label preserves components, and the
    // component min over [batch ids ∪ cluster mins] IS the global
    // min, so the result equals a full recompute EXACTLY — which is
    // the oracle (q35's recursive SQL over the whole corpus). The
    // resident→resident graph cannot gain edges from a batch, so the
    // only resident-side mutation is a bounded label REMAP (broadcast
    // of the merged-label map, touched clusters only). At 100 TB this
    // is the difference between re-clustering the corpus per ingest
    // batch and paying O(batch + touched clusters).
    "q110_incremental_clusters" -> { (s, d) =>
      import graft.plans.MinHashIndex
      val docs = Tables.documents(s, d)
      val h = MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text")),
        s"$d/documents.parquet", lshIndexDir(s, d))
      val resLab = residentLabelsServed(s, d)
      // one probe sketch feeds both edge legs (the admitRows pattern)
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text")))
      val delta = clusterStep(s, h, resLab, probe)
      // bounded remap: touched resident clusters whose component min
      // changed (possibly to a batch id, or to another cluster's min
      // when a batch doc bridges two resident clusters)
      val resFinal = resLab
        .join(broadcast(delta.remap),
          resLab("label") === delta.remap("old_label"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("label")).as("label"))
      val out = Materialize.cut(
        resFinal.unionByName(delta.batchLab)
          .select(col("doc_id"), col("label").as("cluster_id")))
      Materialize.release(delta.comp)
      out.orderBy(col("doc_id"))
    },

    // CHANGE DATA FEED from the incremental maintenance step — what a
    // downstream consumer (a training-set materializer, a serving
    // cache, another index) actually subscribes to: not the new label
    // TABLE but the DELTA the batch caused. Emits one row per
    // affected doc — 'insert' for the arriving batch (old_label = -1
    // sentinel), 'update' for every RESIDENT doc whose cluster label
    // changed (old → new). Unchanged residents never appear, so the
    // feed is O(batch + touched-cluster members): the inserts come
    // straight from the quotient propagation and the updates from the
    // label table joined against the BROADCAST changed-remap — never
    // a corpus diff of two label snapshots, which is how a naive CDC
    // (recompute + except) would do it and what this query exists to
    // avoid at 100 TB. Oracle = two full recomputes (residents-only
    // vs whole corpus) diffed in SQL — the bounded incremental feed
    // must equal the exhaustive diff row-for-row.
    "q114_cluster_changefeed" -> { (s, d) =>
      import graft.plans.MinHashIndex
      val docs = Tables.documents(s, d)
      val h = MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text")),
        s"$d/documents.parquet", lshIndexDir(s, d))
      val resLab = residentLabelsServed(s, d)
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text")))
      val delta = clusterStep(s, h, resLab, probe)
      // only remap entries that MOVE a label produce update rows
      val changed = delta.remap.where(col("new_label") =!= col("old_label"))
      val updates = resLab
        .join(broadcast(changed), resLab("label") === changed("old_label"))
        .select(col("doc_id"), lit("update").as("op"),
          col("label").as("old_label"), col("new_label"))
      val inserts = delta.batchLab
        .select(col("doc_id"), lit("insert").as("op"),
          lit(-1L).as("old_label"), col("label").as("new_label"))
      val out = Materialize.cut(inserts.unionByName(updates))
      Materialize.release(delta.comp)
      out.orderBy(col("doc_id"))
    },

    // CHANGEFEED APPLY — the CONSUMER side of q114, closing the CDC
    // loop: a downstream system (here a training-set materializer
    // keeping one canonical doc per near-dup cluster) maintains its
    // OWN label mirror and keep-list from the feed alone — it never
    // sees the batch, the index, or the producer's corpus. Apply is
    // MERGE semantics: feed rows merge into the committed mirror
    // copy-on-write (dbucket is a pure function of doc_id, so the
    // touched buckets derive from the feed — buckets holding no feed
    // doc carry their files verbatim), and the keep-list VIEW
    // recomputes only the TOUCHED clusters (the feed's new_label set) against the mirror,
    // while untouched clusters' keep rows come straight from the
    // pre-batch state (their membership provably didn't change; the
    // merged-away old_labels are excluded so no stale row survives).
    // That is O(feed + touched-cluster members) end to end — the
    // feed-sufficiency contract CDC exists for. Oracle = the full-
    // corpus recompute's per-cluster keep-list (q35b's selection:
    // longest member, doc_id tiebreak) with the touched flag derived
    // from the exhaustive diff — proving the mirror-maintained view
    // equals what a from-scratch consumer would build.
    "q117_changefeed_apply" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.plans.{MinHashIndex, SnapshotTable}
      val docs = Tables.documents(s, d)
      val h = MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text")),
        s"$d/documents.parquet", lshIndexDir(s, d))
      val resLab = residentLabelsServed(s, d)
      val probe = MinHashIndex.localize(s,
        docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text")))
      val delta = clusterStep(s, h, resLab, probe)
      val changed = delta.remap.where(col("new_label") =!= col("old_label"))
      val updates = resLab
        .join(broadcast(changed), resLab("label") === changed("old_label"))
        .select(col("doc_id"), lit("update").as("op"),
          col("label").as("old_label"), col("new_label"))
      val inserts = delta.batchLab
        .select(col("doc_id"), lit("insert").as("op"),
          lit(-1L).as("old_label"), col("label").as("new_label"))
      // the feed is the ONLY producer artifact that crosses over
      val feed = Materialize.cut(inserts.unionByName(updates))
      Materialize.release(delta.comp)
      val staging = graft.Fs.createStagingDir(s, "graft-q117")
      try {
        val mirDir = s"$staging/mirror"
        graft.Fs.copyDir(s, stageResidentState(s, d), mirDir)
        val buckets = labelBuckets(s, mirDir)
        SnapshotTable.mergeCommit(s, mirDir, Seq("dbucket"), "doc_id",
          feed.select(col("doc_id"), col("new_label").as("label"))
            .withColumn("dbucket",
              pmod(col("doc_id"), lit(buckets)).cast("int")))
        val touched = feed.select(col("new_label").as("label")).distinct()
        // labels merged away by updates must not leave stale keep rows;
        // derived from the FEED (the only live artifact — delta.comp is
        // already released, and a real consumer has nothing else anyway)
        val excl = touched.unionByName(
          feed.where(col("op") === "update")
            .select(col("old_label").as("label"))).distinct()
        val dims = docs.select(col("doc_id"), col("n_chars"))
        def keepList(lab: DataFrame): DataFrame = {
          val byLab = Window.partitionBy(col("label"))
          lab.join(dims, Seq("doc_id"))
            .withColumn("rnk", row_number().over(
              byLab.orderBy(col("n_chars").desc, col("doc_id").asc)))
            .withColumn("n_members", count(lit(1)).over(byLab))
            .where(col("rnk") === 1)
            .select(col("label").as("cluster_id"),
              col("doc_id").as("kept_doc"), col("n_members"))
        }
        val untouchedKeep = keepList(
          resLab.join(broadcast(excl), Seq("label"), "left_anti"))
          .withColumn("touched", lit(false))
        val touchedKeep = keepList(
          currentLabels(s, mirDir)
            .join(broadcast(touched), Seq("label"), "left_semi"))
          .withColumn("touched", lit(true))
        // materialized before the finally reclaims the mirror
        Materialize.cut(untouchedKeep.unionByName(touchedKeep))
          .orderBy(col("cluster_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // CROSS-SOURCE OVERLAP ESTIMATION — the dedup PLANNING sketch: how
    // many documents do two crawl sources share, for every source
    // pair, WITHOUT joining corpora? Per-source KMV (bottom-k) sketch
    // of the content digest's 48-bit hash; a pair's union estimate
    // comes from the bottom-k of the two sketches' union (provably the
    // true bottom-k of A∪B: a value missing from its source's sketch
    // has k smaller values in that same sketch, so it can never be
    // among the union's k smallest), and the intersection follows by
    // inclusion–exclusion, floored at 0. The q55b estimator verbatim —
    // (k−1)·2⁴⁸ div h_k, exact-count fallback below k — pure integer
    // arithmetic, bit-reproducible in both engines, with K sized so
    // sf0.01 already exercises the estimator path, not just the
    // fallback. Scale: the per-source sketch aggregation is the only
    // corpus-volume work (one distinct on (source, hash)); everything
    // pairwise runs on sketch rows (sources × K — KBs for thousands of
    // sources), never on documents. The exact_inter leg is the
    // SELF-EVALUATION (q100's recall pattern): it pays the real
    // digest-keyed corpus shuffle the sketch exists to avoid, and a
    // production run drops it.
    "q120_kmv_source_overlap" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val km = KmvOverlapK
      val est = s"(${km - 1} * 281474976710656) div h_k"
      val docs = Tables.documents(s, d)
      val hashes = docs.select(col("source"), md5(col("text")).as("hx"))
        .select(col("source"), expr(Tokens.hex48("hx")).as("h"))
        .distinct()
      val ranked = hashes.withColumn("rn",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("h"))))
      val perSrc = ranked.groupBy(col("source")).agg(
        count(lit(1)).as("nd"),
        max(when(col("rn") === km, col("h"))).as("h_k"))
        .select(col("source"),
          coalesce(expr(est), col("nd")).cast("long").as("est"))
      // the sketch relation — the ONLY thing the pairwise stage reads
      val sk = Materialize.cut(
        ranked.where(col("rn") <= km).select(col("source"), col("h")))
      val srcs = sk.select(col("source")).distinct()
      val pairRel = srcs.select(col("source").as("source_a"))
        .crossJoin(srcs.select(col("source").as("source_b")))
        .where(col("source_a") < col("source_b"))
      val u = pairRel
        .join(sk.withColumnRenamed("source", "source_a"), Seq("source_a"))
        .select(col("source_a"), col("source_b"), col("h"))
        .unionByName(pairRel
          .join(sk.withColumnRenamed("source", "source_b"), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("h")))
        .distinct()
      val pairEst = u.withColumn("rn", row_number().over(
          Window.partitionBy(col("source_a"), col("source_b"))
            .orderBy(col("h"))))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("nd"),
          max(when(col("rn") === km, col("h"))).as("h_k"))
        .select(col("source_a"), col("source_b"),
          coalesce(expr(est), col("nd")).cast("long").as("est_union"))
      val sd = docs.select(col("source"), md5(col("text")).as("digest"))
        .distinct()
      val exact = sd.select(col("source").as("source_a"), col("digest"))
        .join(sd.select(col("source").as("source_b"), col("digest")),
          Seq("digest"))
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairEst
        .join(broadcast(perSrc.select(col("source").as("source_a"),
          col("est").as("est_a"))), Seq("source_a"))
        .join(broadcast(perSrc.select(col("source").as("source_b"),
          col("est").as("est_b"))), Seq("source_b"))
        .join(exact, Seq("source_a", "source_b"), "left")
        .withColumn("est_inter", greatest(lit(0L),
          col("est_a") + col("est_b") - col("est_union")))
        .select(col("source_a"), col("source_b"), col("est_a"),
          col("est_b"), col("est_union"), col("est_inter"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          round(col("est_inter").cast("double") /
            col("est_union").cast("double"), 6).as("jaccard_est"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // EDIT-DISTANCE VERIFICATION of the LSH near-dup candidates — the
    // second stage of the industrial dedup pipeline: MinHash banding
    // proposes (token-SET evidence), a bounded character-level pass
    // confirms (Levenshtein over fixed EditCap prefixes). The DP is
    // the BANDED thresholded form everywhere: a distance beyond
    // LevBand can never reach the sim bar, so the engine returns -1
    // at O(LevBand·n) (with the O(1) length-gap exit inside) and the
    // oracle applies the same cap to its full-DP distance, keeping
    // verdicts hash-exact; identical prefixes short-circuit to 0.
    //
    // ADAPTIVE REGIME (the components-kernel pattern): a one-pass HLL
    // probe estimates the corpus clone factor (docs per distinct
    // prefix). At or below EditCloneFactorSwitch the DP runs DIRECT,
    // map-side on the memoized pair stream — measured at sf0.1
    // (clone factor 1.06, 94.6% distinct prefix pairs): 9.0 s for one
    // banded pass over 1.7M pairs, vs ~6 s of extra shuffles the
    // contraction wastes to save 5% of DP. Above the switch the DP
    // runs ONCE PER DISTINCT PREFIX PAIR and fans back out through a
    // (ha, hb) join — on a clone-multiplied corpus the candidate set
    // grows with multiplicity² while its distinct-content pairs do
    // not (the 10× rehearsal's self-union: 171.75M pairs, the same
    // 1.6M distinct — a 100× DP saving). The distinct relation is
    // explicitly repartitioned before the DP: AQE sizes the tiny-
    // bytes shuffle to ~2 partitions and would serialize the DP
    // stage (measured 9.3 s single-task vs 0.4 s wide).
    "q123_editdist_verify" -> { (s, d) =>
      val pairs = minhashPairs(s, d)
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val txt = Tables.documents(s, d)
        .select(col("doc_id"),
          substring(col("text"), 1, EditCap).as("prefix"))
      val switchAt = s.conf.getOption("spark.graft.editVerifyCloneFactor")
        .map(_.toDouble).getOrElse(EditCloneFactorSwitch)
      val cloneFactor: Double = cloneFactorMemo.computeIfAbsent((s, d), _ => {
        val stats = txt.agg(count(lit(1)).as("n"),
          approx_count_distinct(col("prefix")).as("nd")).head()
        stats.getLong(0).toDouble / math.max(1L, stats.getLong(1))
      })
      // the banded DP through the bit-parallel kernel
      // (graft.functions.LevWithin — bit-for-bit the built-in
      // levenshtein(pa, pb, LevBand), fuzz-pinned by LevWithinSpec):
      // Myers/Hyyrö runs O(ceil(m/64)·n) word ops instead of
      // O(band·n) DP cells — measured 7.8 s → 1.2 s for the whole
      // 1.7M-pair verify pass (join floor 0.4 s)
      val levWithin = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.LevWithin(
          org.apache.spark.sql.GraftSqlBridge.expression(col("pa")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("pb")),
          LevBand))
      def scored(withPrefixes: DataFrame): DataFrame = withPrefixes
        .withColumn("lev",
          when(col("pa") === col("pb"), lit(0)).otherwise(levWithin))
        .withColumn("ml",
          greatest(length(col("pa")), length(col("pb"))).cast("double"))
      def verdictCols(df: DataFrame): DataFrame = df
        .withColumn("edit_dist",
          when(col("lev") < 0, lit(-1L)).otherwise(col("lev").cast("long")))
        .withColumn("edit_sim",
          when(col("lev") < 0, lit(0.0)).otherwise(
            round(lit(1.0) - col("lev").cast("double") / col("ml"), 6)))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          col("edit_dist"), col("edit_sim"),
          (col("edit_sim") >= CharSimThreshold).as("char_verified"))
      val verdicts = Materialize.cut(
        if (cloneFactor <= switchAt) {
          // DIRECT: DP map-side on the pair stream; no broadcast hint
          // (AQE broadcasts the prefix projection at bench scale; at
          // corpus scale it correctly becomes a shuffle join sized by
          // the candidate set)
          verdictCols(scored(pairs
            .join(txt.select(col("doc_id").as("doc_a"),
              col("prefix").as("pa")), Seq("doc_a"))
            .join(txt.select(col("doc_id").as("doc_b"),
              col("prefix").as("pb")), Seq("doc_b"))))
        } else {
          // CONTRACTED: DP once per distinct prefix pair
          val hashed = txt.withColumn("ph", md5(col("prefix")))
          val withH = pairs
            .join(hashed.select(col("doc_id").as("doc_a"),
              col("ph").as("ha")), Seq("doc_a"))
            .join(hashed.select(col("doc_id").as("doc_b"),
              col("ph").as("hb")), Seq("doc_b"))
          val reps = hashed.select(col("ph"), col("prefix"))
            .groupBy(col("ph")).agg(first(col("prefix")).as("prefix"))
          val levByContent = scored(withH
              .select(col("ha"), col("hb")).distinct()
              .repartition(parts, col("ha"), col("hb"))
              .join(reps.select(col("ph").as("ha"),
                col("prefix").as("pa")), Seq("ha"))
              .join(reps.select(col("ph").as("hb"),
                col("prefix").as("pb")), Seq("hb")))
            .select(col("ha"), col("hb"), col("lev"), col("ml"))
          verdictCols(withH.join(levByContent, Seq("ha", "hb")))
        })
      // cut BEFORE the presentation sort (the q99 pattern): the range
      // partitioner's sampling pass would otherwise re-execute the
      // join + DP pipeline a second time for the sort boundaries
      verdicts.orderBy(col("doc_a"), col("doc_b"))
    },

    // CONTAINMENT SCORING (Broder's asymmetric containment) — the
    // superset/subset detector doc-level Jaccard structurally misses:
    // a paragraph lifted from A into a much longer B dilutes
    // J(A,B) ≈ |A|/|B| below any near-dup bar, while cont(A→B) =
    // |set(A)∩set(B)| / |set(A)| stays high. Candidates come from the
    // CHUNK-grain band join (q98's memoized sketch — a lifted
    // paragraph collides at chunk grain no matter how the documents'
    // sizes diverge); the full distinct-token sets then ride ONLY the
    // two candidate-sized doc_id joins to score both directions.
    // relation classifies the pair: mutual containment = near_dup,
    // one-sided = a_in_b / b_in_a (drop-the-subset policy input),
    // else partial. Scale: candidate-bounded like q123 — the corpus
    // pass is the shared chunk sketch; token sets never self-join.
    "q125_containment" -> { (s, d) =>
      val cand = queries("q98_chunk_neardup")(s, d)
        .select(col("doc_a"), col("doc_b")).distinct()
      val sets = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(expr(toksExpr)).as("tokset"))
      val contOf = (common: Column, n: Column) =>
        when(n === 0L, lit(0.0)).otherwise(
          round(common.cast("double") / n.cast("double"), 6))
      cand
        .join(sets.select(col("doc_id").as("doc_a"),
          col("tokset").as("ta")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"),
          col("tokset").as("tb")), Seq("doc_b"))
        .withColumn("n_common",
          size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("n_a", size(col("ta")).cast("long"))
        .withColumn("n_b", size(col("tb")).cast("long"))
        .withColumn("cont_a", contOf(col("n_common"), col("n_a")))
        .withColumn("cont_b", contOf(col("n_common"), col("n_b")))
        .withColumn("jaccard", contOf(col("n_common"),
          col("n_a") + col("n_b") - col("n_common")))
        .withColumn("relation",
          when(col("cont_a") >= ContainThreshold &&
               col("cont_b") >= ContainThreshold, lit("near_dup"))
            .when(col("cont_a") >= ContainThreshold, lit("a_in_b"))
            .when(col("cont_b") >= ContainThreshold, lit("b_in_a"))
            .otherwise(lit("partial")))
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"),
          col("n_b"), col("cont_a"), col("cont_b"), col("jaccard"),
          col("relation"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // FUZZY DECONTAMINATION — the third member of the decontamination
    // family {exact 5-gram semi-join (q63), bloom bitmap (q63b),
    // FUZZY (this)}: an eval answer PARAPHRASED into a training page
    // shares no exact 5-gram but keeps most of its token set, so the
    // verdict comes from the MinHash band collision + signature
    // verification the dedup stack already runs — here with the
    // benchmark set as the tiny side. Scale: the benchmark's melted
    // band rows are eval-suite sized by definition → BROADCAST, so
    // candidate generation never shuffles the corpus by band key; the
    // est verification joins the memoized signature relation back on
    // the candidate-sized pair relation only. The bar reuses
    // EstThreshold (this corpus's ambient token-set similarity ≈ 0.6
    // makes a lower recall-oriented bar volume without meaning —
    // production tunes it down for paraphrase recall). Output is
    // q63's verdict shape over the SAME train population, so the
    // three family members are directly comparable per doc.
    "q127_fuzzy_decontaminate" -> { (s, d) =>
      val sig = minhashSignatures(s, d)
      val bands = bandMelt(bandKeyed(sig))
      val isBench = col("doc_id") % Curation.BenchmarkMod === 0
      val benchBands = bands.where(isBench)
        .select(col("doc_id").as("bench_doc"),
          col("band_id"), col("band_key"))
      val trainBands = bands.where(!isBench)
        .select(col("doc_id").as("train_doc"),
          col("band_id"), col("band_key"))
      val cand = trainBands
        .join(broadcast(benchBands), Seq("band_id", "band_key"))
        .select(col("train_doc"), col("bench_doc")).distinct()
      val sigs = sig.select(col("doc_id"), col("sig"))
      val hits = cand
        .join(sigs.select(col("doc_id").as("train_doc"),
          col("sig").as("sig_a")), Seq("train_doc"))
        .join(sigs.select(col("doc_id").as("bench_doc"),
          col("sig").as("sig_b")), Seq("bench_doc"))
        .withColumn("matches", graft.functions.VectorFunctions
          .sigMatches(col("sig_a"), col("sig_b")))
        .where(col("matches") / lit(K.toDouble) >= EstThreshold)
        .groupBy(col("train_doc")).agg(count(lit(1)).as("n"))
      Tables.documents(s, d).where(!isBench).select(col("doc_id"))
        .join(hits.withColumnRenamed("train_doc", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_fuzzy_hits"),
          col("n").isNotNull.as("contaminated"))
        .orderBy(col("doc_id"))
    },

    // STREAMING INCREMENTAL CLUSTERS — q110 driven by the ENGINE's
    // micro-batch cycle (the q103s pattern applied to CLUSTER state):
    // the arriving corpus slice replays as 3 ordered micro-batches,
    // and each foreachBatch callback computes the batch's edges
    // against the index AS IT STANDS (earlier batches already
    // appended), runs the quotient propagation, MERGES into the
    // committed label table, and appends the batch to the index before
    // the next trigger — the index AND the label table are both the
    // stream's external state, which is how a landing pipeline
    // maintains near-dup clusters continuously. The label table is
    // bucketed by pmod(doc_id, corpus-sized bucket count) and each
    // batch commits one version through
    // [[graft.plans.SnapshotTable.mergeCommit]]: a batch that touches a
    // handful of clusters rewrites the buckets holding their members as
    // new files, never the table. Oracle = q110's full-recompute
    // SQL verbatim — the gate proves the batched, path-dependent
    // updates compose to EXACTLY the one-shot result regardless of
    // arrival slicing.
    "q110s_stream_clusters" -> { (s, d) =>
      import graft.plans.{MinHashIndex, SnapshotTable}
      val docs = Tables.documents(s, d)
      MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text")),
        s"$d/documents.parquet", lshIndexDir(s, d))
      val staging = takeClone(s, d)
      try {
        val runDir = s"$staging/idx"
        // the label table starts as a private copy of the committed
        // resident state, v1 included (the stream commits on top of
        // it; the shared artifact stays immutable across invocations)
        val labDir = s"$staging/labels"
        graft.Fs.copyDir(s, stageResidentState(s, d), labDir)
        val buckets = labelBuckets(s, labDir)
        val feed = docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("text"))
          .withColumn("batch",
            (pmod(col("doc_id"), lit(30)) / 10 + 1).cast("int"))
        // the handle is two immutable paths — load it once, not per
        // micro-batch (each load re-reads the meta file as its own job)
        val h = MinHashIndex.load(s, runDir)
        graft.streaming.Replay.runBatchedForeach(s, feed, "batch",
          batches = 3, stageKey = Some(s"q110s:$d")) { batch =>
          val rows = MinHashIndex.localize(s,
            batch.select(col("doc_id"), col("text")))
          val lab = currentLabels(s, labDir)
          val delta = clusterStep(s, h, lab, rows)
          // the upsert rows: remapped members of touched clusters +
          // the batch's own labels — bucket-complete by construction
          // (every doc whose label changes is covered), so the merge
          // rewrites only buckets holding them
          val remapB = broadcast(delta.remap)
          val updates = lab
            .join(remapB, lab("label") === remapB("old_label"))
            .select(col("doc_id"), col("new_label").as("label"))
            .unionByName(delta.batchLab)
            .withColumn("dbucket",
              pmod(col("doc_id"), lit(buckets)).cast("int"))
          // dbucket is a pure function of doc_id, so the touched set
          // derives from the updates alone — no table scan
          SnapshotTable.mergeCommit(s, labDir, Seq("dbucket"), "doc_id",
            updates)
          Materialize.release(delta.comp)
          // ALL batch docs enter the index — clustering maintains
          // state for the full corpus (unlike q103's dedup admission,
          // which appends only survivors)
          MinHashIndex.appendRowsCommitRetrying(s, runDir, rows)
        }
        // materialized before the finally reclaims the staging dir
        Materialize.cut(currentLabels(s, labDir)
            .select(col("doc_id"), col("label").as("cluster_id")))
          .orderBy(col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // CLUSTER-STATE TIME TRAVEL — the snapshot layer applied to the
    // PERSISTED LABEL TABLE (completing it across state tables, not
    // just indexes): "which cluster was this doc in AS OF version N"
    // is the reproducibility record a training run needs about its own
    // dedup decisions — rerunning yesterday's keep-list requires
    // yesterday's clusters, not today's. The resident table is born
    // committed as v1; one arriving batch runs the q110 quotient
    // increment and lands through the COW MERGE-INTO
    // (SnapshotTable.mergeCommit — touched dbuckets rewrite as NEW
    // sibling files, the next manifest selects exactly them, untouched
    // buckets carry verbatim); the SAME query
    // then reads the table as-of both versions. Oracle: the
    // residents-only recompute under tag 1 (the v1 state) and q110's
    // full recompute under tag 2 — both legs exact, so the COW merge
    // must neither leak the increment into v1 nor lose it from v2.
    // Scale: the as-of read is a manifest choice; the merge rewrites
    // the buckets holding changed labels, never the table.
    "q135_state_timetravel" -> { (s, d) =>
      import graft.plans.{MinHashIndex, SnapshotTable, Snapshots}
      val docs = Tables.documents(s, d)
      val h = MinHashIndex.ensureSaved(s,
        docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
          .select(col("doc_id"), col("text")),
        s"$d/documents.parquet", lshIndexDir(s, d))
      val staging = graft.Fs.createStagingDir(s, "graft-q135")
      try {
        val labDir = s"$staging/labels"
        graft.Fs.copyDir(s, stageResidentState(s, d), labDir)
        val buckets = labelBuckets(s, labDir)
        val v1 = Snapshots.current(s, labDir).get
        val rows = MinHashIndex.localize(s,
          docs.where(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")))
        val lab = SnapshotTable.readAsOf(s, labDir, v1, "doc_id")
          .select(col("doc_id"), col("label"))
        val delta = clusterStep(s, h, lab, rows)
        val remapB = broadcast(delta.remap)
        val updates = lab
          .join(remapB, lab("label") === remapB("old_label"))
          .select(col("doc_id"), col("new_label").as("label"))
          .unionByName(delta.batchLab)
          .withColumn("dbucket",
            pmod(col("doc_id"), lit(buckets)).cast("int"))
        val v2 = SnapshotTable.mergeCommit(s, labDir, Seq("dbucket"),
          "doc_id", updates)
        Materialize.release(delta.comp)
        def leg(v: Int, tag: Int) =
          SnapshotTable.readAsOf(s, labDir, v, "doc_id")
            .select(col("doc_id"), col("label").as("cluster_id"))
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2)))
          .select(col("version"), col("doc_id"), col("cluster_id"))
          .orderBy(col("version"), col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // RETENTION RETIRE PROPAGATED INTO CLUSTER STATE — q111, the
    // DECREMENTAL counterpart of q110. Retiring a doc can SPLIT its
    // cluster (it may be the only bridge between two halves) and must
    // re-label it when the retired doc was the component min — so the
    // affected clusters are re-solved, but ONLY those: touched
    // clusters come from one semi-join against the persisted label
    // table, their members are bounded by the touched clusters, and
    // the survivor-induced edge set is the memoized pair relation
    // restricted to touched survivors (connected components have no
    // cross-cluster edges, so the restriction loses nothing). The
    // bounded subgraph re-solves through the components kernel
    // (typically its local regime), and the label table changes the
    // way a 100-TB state table must: ONE copy-on-write merge commits
    // the retired rows' delete and the touched survivors' new labels
    // together (dbucket is a pure function of doc_id, so the touched
    // buckets derive from the change rows), and buckets holding
    // neither carry their files verbatim.
    // Oracle = q35's full recompute over the survivor population.
    "q111_cluster_retire" -> { (s, d) =>
      val src = stageResidentState(s, d)
      val staging = graft.Fs.createStagingDir(s, "graft-q111")
      try {
        val labDir = s"$staging/labels"
        graft.Fs.copyDir(s, src, labDir)
        val buckets = labelBuckets(s, labDir)
        val resLab = currentLabels(s, labDir)
        // the retention slice: resident docs aged out by policy
        val retired = resLab.where(pmod(col("doc_id"), lit(17)) === 3)
          .select(col("doc_id"))
        val touched = resLab.join(retired, Seq("doc_id"))
          .select(col("label")).distinct()
        // materialized: consumed by the size probe, both semi-joins
        // and the components node universe (and the probe's count is
        // what picks the broadcast-vs-shuffle regime in survivorPairs)
        val survivors = Materialize(
          resLab.join(broadcast(touched), Seq("label"))
            .join(retired, Seq("doc_id"), "left_anti")
            .select(col("doc_id")))
        val pairs = survivorPairs(s, d, survivors, survivors.count())
        val comp = minLabelComponents(pairs,
          survivors.select(col("doc_id").as("node")))
        mergeLabels(s, labDir, buckets,
          comp.select(col("node").as("doc_id"), col("label")), retired)
        Materialize.release(comp)
        Materialize.release(survivors)
        Materialize.cut(currentLabels(s, labDir)
            .select(col("doc_id"), col("label").as("cluster_id")))
          .orderBy(col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // STREAMING RETIRE — q111 driven by the ENGINE's micro-batch
    // cycle (completing the {incremental, decremental} × {batch,
    // streaming} maintenance matrix): retention deletes arrive as 3
    // ordered micro-batches, and each foreachBatch callback touches
    // the clusters of ITS retirees against the label table AS IT
    // STANDS (earlier batches already deleted + relabeled), re-solves
    // the survivor-induced subgraph, and commits the delete and the
    // relabels as one merge before the next trigger. A cluster touched by two
    // batches is re-solved twice against its CURRENT membership —
    // which is why the composition equals the one-shot retire: each
    // step computes exact components of the then-current survivor
    // graph, so induction carries to the final population. Oracle =
    // q111's full-recompute SQL verbatim, path-independence proven at
    // the driver's gate.
    "q111s_stream_retire" -> { (s, d) =>
      val src = stageResidentState(s, d)
      val staging = graft.Fs.createStagingDir(s, "graft-q111s")
      try {
        val labDir = s"$staging/labels"
        graft.Fs.copyDir(s, src, labDir)
        val buckets = labelBuckets(s, labDir)
        // the retention feed: the same %17 policy slice as q111,
        // arriving in 3 ordered micro-batches
        val feed = currentLabels(s, src)
          .where(pmod(col("doc_id"), lit(17)) === 3)
          .select(col("doc_id"))
          .withColumn("batch", (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        graft.streaming.Replay.runBatchedForeach(s, feed, "batch",
          batches = 3, stageKey = Some(s"q111s:$d")) { batch =>
          val lab = currentLabels(s, labDir)
          val retiredB = batch.select(col("doc_id"))
          val touched = lab.join(retiredB, Seq("doc_id"))
            .select(col("label")).distinct()
          // same regime-guarded restriction as the batch twin (q111)
          val survivors = Materialize(
            lab.join(broadcast(touched), Seq("label"))
              .join(retiredB, Seq("doc_id"), "left_anti")
              .select(col("doc_id")))
          val pairs = survivorPairs(s, d, survivors, survivors.count())
          val comp = minLabelComponents(pairs,
            survivors.select(col("doc_id").as("node")))
          mergeLabels(s, labDir, buckets,
            comp.select(col("node").as("doc_id"), col("label")), retiredB)
          Materialize.release(comp)
          Materialize.release(survivors)
        }
        Materialize.cut(currentLabels(s, labDir)
            .select(col("doc_id"), col("label").as("cluster_id")))
          .orderBy(col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },
  )

  /** The three-batch incremental ingest loop behind q103/q103b/q112:
    * clone the resident index, then per batch — admit, materialize the
    * verdict (it feeds both the admitted-id join and the result),
    * commit the admitted docs' band rows, optionally compact
    * (`compactAfter` = merge every fragmented band after batch k;
    * `autoCompactMaxFiles` = merge only bands over that many
    * files after EVERY append). */
  private def ingestLoop(s: SparkSession, d: String,
      compactAfter: Option[Int],
      autoCompactMaxFiles: Option[Int] = None): DataFrame = {
    import graft.plans.MinHashIndex
    val docs = Tables.documents(s, d)
    val residents = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    MinHashIndex.ensureSaved(s, residents, s"$d/documents.parquet",
      lshIndexDir(s, d))
    // ONE sketch job for the whole probe population; the arrival
    // batches are slices of the localized sketch (filtering a local
    // relation), so the corpus is scanned once, not once per batch
    // per step — and appends reuse the same rows instead of
    // re-sketching the admitted docs
    val probeRows = MinHashIndex.localize(s,
      docs.where(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), col("text")))
    val staging = takeClone(s, d)
    try {
      val runDir = s"$staging/idx"
      // the handle is two immutable paths — load it once, not per batch
      val h = MinHashIndex.load(s, runDir)
      val verdicts = (0 until 3).map { k =>
        val batchRows = probeRows.where(
          pmod(col("doc_id"), lit(30)) === k * 10)
        val v = Materialize.cut(
          MinHashIndex.admitRows(s, h, batchRows)
            .withColumn("batch", lit(k).cast("int")))
        MinHashIndex.appendRowsCommitRetrying(s, runDir, batchRows.join(
          v.where(col("admitted")).select(col("doc_id")), Seq("doc_id")))
        for (mf <- autoCompactMaxFiles)
          MinHashIndex.purgeCommit(s, runDir, mf)
        if (compactAfter.contains(k)) MinHashIndex.purgeCommit(s, runDir)
        v
      }
      verdicts.reduce(_ unionByName _)
        .select(col("doc_id"), col("batch"), col("n_corpus_hits"),
          col("n_batch_hits"), col("admitted"))
        .orderBy(col("doc_id"))
    } finally graft.Fs.deleteRecursively(staging,
      s.sparkContext.hadoopConfiguration)
  }

  /** [[graft.plans.MinHashIndex.admitRows]]'s fixed output schema —
    * declared statically so the staged-verdict read stays well-defined
    * even when a replay yields zero micro-batches (empty probe). */
  private val admitVerdictSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_corpus_hits",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_batch_hits",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("admitted",
      org.apache.spark.sql.types.BooleanType)))

  private val stagedClones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Pre-stage `n` clones of the saved LSH index UNTIMED (the bench's
    * per-sweep stage hook, the `clone` row of [[graft.Bench.staging]]):
    * the lifecycle queries
    * (q103/q103b/q103s/q107) each COMMIT into a private clone so the
    * shared q99 artifact stays as saved across re-runs — but the clone
    * is harness setup, not lifecycle work (a production pipeline
    * commits into its one index), so benching it inside the timed
    * query charged
    * ~4-5 s of byte copy to each lifecycle median in r12. Clones are
    * consumed by [[takeClone]]; un-consumed ones are reclaimed with
    * the staging root at JVM exit. */
  def stageIngestClones(s: SparkSession, d: String, n: Int): Unit = {
    import graft.plans.MinHashIndex
    MinHashIndex.ensureSaved(s,
      Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) =!= 0),
      s"$d/documents.parquet", lshIndexDir(s, d))
    val q = stagedClones.computeIfAbsent((s, d),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
    for (_ <- q.size until n) {
      val staging = graft.Fs.createStagingDir(s, "graft-lsh-clone")
      MinHashIndex.copyTo(s, lshIndexDir(s, d), s"$staging/idx")
      q.add(staging)
    }
  }

  /** Pop a pre-staged clone if the bench staged one, else clone inline
    * (Verify / standalone invocations). Returns the staging root; the
    * caller commits into `$root/idx` and reclaims the root when done. The
    * caller must have [[graft.plans.MinHashIndex.ensureSaved]] the
    * shared artifact first (the inline path copies from it). */
  private def takeClone(s: SparkSession, d: String): String = {
    val q = stagedClones.get((s, d))
    val pre = if (q == null) null else q.poll()
    if (pre != null) pre
    else {
      val staging = graft.Fs.createStagingDir(s, "graft-lsh-clone")
      graft.plans.MinHashIndex.copyTo(s, lshIndexDir(s, d), s"$staging/idx")
      staging
    }
  }

  /** The RESIDENT corpus's cluster labels (doc_id, label = component
    * min over residents only) — q110's persisted incremental state,
    * memoized per (session, dir). In production this is a parquet
    * table maintained batch over batch; here it is derived once from
    * the resident slice of the memoized pair relation. */
  private def residentLabels(s: SparkSession, d: String): DataFrame =
    residentLabelsMemo.computeIfAbsent((s, d), _ => {
      val resPairs = minhashPairs(s, d)
        .where(pmod(col("doc_a"), lit(10)) =!= 0 &&
          pmod(col("doc_b"), lit(10)) =!= 0)
        .select(col("doc_a"), col("doc_b"))
      val nodes = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id").as("node"))
      val out = minLabelComponents(resPairs, nodes)
      // minLabelComponents returns a frame the caller must release;
      // re-cut under the memo's own lifetime so clearMemos owns it
      val kept = Materialize.cut(out.select(col("node").as("doc_id"),
        col("label")))
      Materialize.release(out)
      kept
    })

  /** Bucket sizing for the persisted cluster-label table (q110/q110s):
    * partitions are keyed by pmod(doc_id, buckets) — IMMUTABLE per
    * row, so a label remap never moves a row between partitions and
    * the upsert's touched-bucket set is exactly the buckets holding
    * members of touched clusters. The COUNT is sized to the corpus at
    * stage time (write-sized-for-read, the r12 lesson): one bucket per
    * ~1M label rows, floored at 8 — a fixed count either over-shards a
    * bench corpus (64 near-empty dirs taxing every per-batch read,
    * write, and listing) or under-shards a 100-TB one (multi-GB
    * rewrite per touched cluster). The chosen count is persisted
    * alongside the table (`_graft_buckets`, underscore-hidden from
    * parquet discovery) because every later writer must hash with the
    * SAME modulus. */
  private val LabelBucketTargetRows = 1L << 20

  private def labelBucketCount(nRows: Long): Int =
    math.max(8L, math.min(4096L,
      (nRows + LabelBucketTargetRows - 1) / LabelBucketTargetRows)).toInt

  /** Read back the bucket modulus a label table was written with. */
  private def labelBuckets(s: SparkSession, tableDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$tableDir/_graft_buckets")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new java.io.BufferedReader(new java.io.InputStreamReader(in))
      .readLine().trim.toInt
    finally in.close()
  }

  private val residentStateDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** The persisted resident-label STATE TABLE behind q110/q110s —
    * (doc_id, label) bucketed by pmod(doc_id, [[labelBucketCount]]),
    * computed
    * once per (session, dir) and kept as FILES (like Replay's staged
    * corpora, it survives clearMemos: in production this is a parquet
    * table maintained batch over batch, not a per-job derivation),
    * born committed as snapshot v1 so every reader and every per-query
    * copy goes through its manifest. Returns the table directory. The
    * bench calls this from its untimed stage block
    * ([[graft.Bench.staging]], `state` row) so the one-time
    * derivation is charged to stage_sec, not to whichever q110 run a
    * sweep hits first; Verify and tests hit the same lazy path
    * inline. */
  def stageResidentState(s: SparkSession, d: String): String =
    residentStateDirs.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-resident-labels")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      // the derivation rides the session memos (pairs/signatures);
      // an UNTIMED staging call must not pre-pay relations the TIMED
      // dedup queries (q31/q35) claim to measure — release whatever
      // this call minted, keep whatever already existed
      val minted = Seq(pairsMemo, sigMemo, residentLabelsMemo)
        .map(m => m -> !m.containsKey((s, d)))
      try {
        val lab = residentLabels(s, d)
        val buckets = labelBucketCount(lab.count())
        graft.plans.SnapshotTable.saveCommit(s,
          lab.withColumn("dbucket",
              pmod(col("doc_id"), lit(buckets)).cast("int"))
            .repartition(col("dbucket")),
          s"$dir/labels", Seq("dbucket"))
        val p = new org.apache.hadoop.fs.Path(s"$dir/labels/_graft_buckets")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val out = fs.create(p, true)
        try out.write(s"$buckets\n".getBytes("UTF-8")) finally out.close()
      } finally for ((m, wasMinted) <- minted if wasMinted)
        Option(m.remove((s, d))).foreach(Materialize.release)
      s"$dir/labels"
    })

  /** The resident cluster labels as q110/q110s consume them — read
    * from the persisted state table (staging it on first use). */
  private def residentLabelsServed(s: SparkSession, d: String): DataFrame =
    currentLabels(s, stageResidentState(s, d))

  /** (doc_id, label) of a committed label table's current version. */
  private def currentLabels(s: SparkSession, dir: String): DataFrame = {
    val v = graft.plans.Snapshots.current(s, dir).getOrElse(
      throw new IllegalStateException(s"no committed label table under $dir"))
    graft.plans.SnapshotTable.readAsOf(s, dir, v, "doc_id")
      .select(col("doc_id"), col("label"))
  }

  /** One retire step's commit on a label table: `retired` doc ids
    * leave and `relabeled` (doc_id, label) rows land, in one merge. */
  private def mergeLabels(s: SparkSession, dir: String, buckets: Int,
      relabeled: DataFrame, retired: DataFrame): Int = {
    def bucketed(df: DataFrame) =
      df.withColumn("dbucket", pmod(col("doc_id"), lit(buckets)).cast("int"))
    graft.plans.SnapshotTable.mergeCommit(s, dir, Seq("dbucket"), "doc_id",
      bucketed(relabeled), Some(bucketed(retired)))
  }

  /** Within-batch near-dup pairs from a localized probe sketch —
    * q31's band self-join at batch size (batch ≪ corpus by contract,
    * no skew guard needed). Shared by q110 and its streaming twin. */
  private def batchBandPairs(probe: DataFrame): DataFrame = {
    def side(p: String) = probe.select(
      col("doc_id").as(s"doc_$p"), col("sig").as(s"sig_$p"),
      col("bk0").as(s"bk0_$p"), col("band_id"), col("band_key"))
    // SigMatches kernel (not the K-term CASE sum) — the est filter
    // lands in the join condition, where the big form broke codegen
    val est = graft.functions.VectorFunctions
      .sigMatches(col("sig_a"), col("sig_b"))
      .cast("double") / lit(K.toDouble)
    side("a").join(side("b"), Seq("band_id", "band_key"))
      .where(col("doc_a") < col("doc_b"))
      .where(col("band_id") === 0 || col("bk0_a") =!= col("bk0_b"))
      .where(est >= EstThreshold)
      .select(col("doc_a").as("pa"), col("doc_b").as("pb"))
  }

  /** One incremental cluster-maintenance step's outputs: the arriving
    * batch's labels, the touched-cluster remap (old_label →
    * new_label), and the materialized quotient-component frame the
    * caller must [[graft.Materialize.release]] AFTER consuming the
    * other two (both are lazy views over it). */
  private case class ClusterDelta(batchLab: DataFrame, remap: DataFrame,
      comp: DataFrame)

  /** ONE incremental cluster-maintenance step, shared by q110 and the
    * q110s streaming twin: edges are batch→corpus bridges from the
    * standing index serve (corpus hits mapped to their CURRENT labels)
    * plus the within-batch band pairs, and labels propagate on the
    * QUOTIENT graph — nodes are the batch's doc ids plus the touched
    * cluster labels, never the resident corpus. Batch nodes are told
    * apart from label nodes by MEMBERSHIP in the batch id set, not id
    * arithmetic: once a streamed batch is absorbed, its ids can BE
    * cluster labels in the next step. */
  private def clusterStep(s: SparkSession,
      h: graft.plans.MinHashIndex.Handle,
      labels: DataFrame, batchRows: DataFrame): ClusterDelta = {
    import graft.plans.MinHashIndex
    val ids = batchRows.select(col("doc_id")).distinct()
    // leg 1: batch → resident-CLUSTER bridges via the index serve
    val bridges = MinHashIndex.serveRows(s, h, batchRows)
      .join(labels.select(col("doc_id").as("corpus_doc"), col("label")),
        Seq("corpus_doc"))
      .select(col("probe_doc").as("pa"), col("label").as("pb"))
      .distinct()
    // leg 2: batch → batch pairs over the same probe sketch
    val pairs = batchBandPairs(batchRows)
    // node universe = batch ids ∪ bridge labels; batch-pair pb values
    // are batch ids, so `ids ∪ pb(all pairs)` is exactly that set —
    // derived from the MATERIALIZED pair relation inside
    // minLabelComponentsPb, so the serve join executes once, not twice
    val comp = minLabelComponentsPb(bridges.unionByName(pairs),
      ids.select(col("doc_id").as("node")))
    val idNodes = ids.select(col("doc_id").as("node"))
    ClusterDelta(
      batchLab = comp.join(idNodes, Seq("node"))
        .select(col("node").as("doc_id"), col("label")),
      remap = comp.join(idNodes, Seq("node"), "left_anti")
        .select(col("node").as("old_label"), col("label").as("new_label")),
      comp = comp)
  }

  /** Pristine SNAPSHOT index for q109 — the v1 population
    * (doc_id % 10 ∈ 1..8) saved and manifest-committed ONCE per
    * (session, dir); q109 invocations mutate byte-copies of it. */
  private val snapIndexMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def snapIndexDir(s: SparkSession, d: String): String =
    snapIndexMemo.computeIfAbsent((s, d), _ => {
      import graft.plans.MinHashIndex
      val dir = graft.Fs.createStagingDir(s, "graft-lsh-snapsrc")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      MinHashIndex.save(s,
        Tables.documents(s, d)
          .where(pmod(col("doc_id"), lit(10)) =!= 0 &&
            pmod(col("doc_id"), lit(10)) =!= 9)
          .select(col("doc_id"), col("text")),
        s"$d/documents.parquet", s"$dir/idx")
      dir
    })

  private val stagedSnapClones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Pre-stage `n` byte-copies of the committed-v1 snapshot index
    * UNTIMED ([[graft.Bench.staging]], `snap` row) — the q109 analogue of
    * [[stageIngestClones]]: the initial save + v1 commit is a shared
    * immutable artifact; what q109 demonstrates (and times) is the
    * append → commit v2 → dual as-of serves. */
  def stageSnapClones(s: SparkSession, d: String, n: Int): Unit = {
    val src = snapIndexDir(s, d)
    val q = stagedSnapClones.computeIfAbsent((s, d),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
    for (_ <- q.size until n) {
      val staging = graft.Fs.createStagingDir(s, "graft-lsh-snapclone")
      graft.plans.MinHashIndex.copyTo(s, s"$src/idx", s"$staging/idx")
      q.add(staging)
    }
  }

  /** Pop a pre-staged snapshot clone or copy inline (Verify /
    * standalone). The returned root holds `idx/` with manifest v1
    * already committed. */
  private def takeSnapClone(s: SparkSession, d: String): String = {
    val q = stagedSnapClones.get((s, d))
    val pre = if (q == null) null else q.poll()
    if (pre != null) pre
    else {
      val staging = graft.Fs.createStagingDir(s, "graft-lsh-snapclone")
      graft.plans.MinHashIndex.copyTo(s, s"${snapIndexDir(s, d)}/idx",
        s"$staging/idx")
      staging
    }
  }

  private val lshIndexDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Session-scoped artifact directory for the persisted LSH index
    * (q99), one per (session, sfDir): minted under the staging root,
    * written once, reclaimed at JVM exit — the Similarity.indexDir
    * pattern. */
  private def lshIndexDir(s: SparkSession, d: String): String =
    lshIndexDirMemo.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-lsh-index")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      dir
    })

  /** Oracle CTE chain up to the melted band rows: tokens → k
    * signatures → bands (mirrors the Spark pipeline stage for stage;
    * the persisted-index oracle (q99) appends its own probe-split
    * candidate CTE instead of the symmetric self-join below). */
  private def sigBandCtes: String = {
    // band_key mirrors the Spark side's packed key exactly: md5 of the
    // ':'-joined (concat_ws — both engines skip NULLs identically)
    // decimal band signatures, hex48-folded to a BIGINT
    val bandKeys = (0 until Bands).map { b =>
      val key = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"CAST(sig$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, sig, $b AS band_id, " +
        s"${Tokens.hex48(s"md5(concat_ws(':', $key))")} AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""tok AS (
       |  SELECT doc_id, list_distinct($toksSql) AS tokset FROM documents),
       |sigp AS (
       |  SELECT doc_id,
       |         $sigPrefixSqlCols
       |  FROM tok),
       |sig0 AS (
       |  SELECT doc_id,
       |         $sigFoldSqlCols
       |  FROM sigp),
       |sig AS (SELECT *, [${(0 until K).map(i => s"sig$i").mkString(", ")}] AS sig FROM sig0),
       |bands AS (
       |  $bandKeys)""".stripMargin
  }

  /** Shared oracle CTE chain for the CHUNK-grain sketch (q98/q125):
    * documents → non-overlapping ChunkGrain token chunks → per-chunk
    * K-signature + two packed band keys → cross-document candidate
    * chunk pairs (band-0 join ∪ band-1 join gated on bk0 differing —
    * the first-collision-band rule, mirroring the Spark plan). Also
    * defines `t(doc_id, toks)` for downstream token-set consumers. */
  private def chunkCandCtes: String = {
    val bandKey = (b: Int) => Tokens.hex48("md5(concat_ws(':', " +
      (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"CAST(sig$i AS VARCHAR)").mkString(", ") + "))")
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |st AS (
       |  SELECT doc_id, toks, u.s AS start
       |  FROM t, unnest(range(1, greatest(len(toks), 1) + 1, $ChunkGrain)) AS u(s)),
       |ck AS (
       |  SELECT doc_id,
       |    CAST(floor((start - 1) / $ChunkGrain.0) AS INTEGER) AS chunk_idx,
       |    list_distinct(toks[start:start+${ChunkGrain - 1}]) AS tokset
       |  FROM st),
       |sigp AS (
       |  SELECT doc_id, chunk_idx,
       |         $sigPrefixSqlCols
       |  FROM ck),
       |sig0 AS (
       |  SELECT doc_id, chunk_idx,
       |         $sigFoldSqlCols
       |  FROM sigp),
       |sig AS (SELECT *,
       |  [${(0 until K).map(i => s"sig$i").mkString(", ")}] AS sig,
       |  ${bandKey(0)} AS bk0, ${bandKey(1)} AS bk1 FROM sig0),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, a.chunk_idx AS chunk_a,
       |         b.doc_id AS doc_b, b.chunk_idx AS chunk_b,
       |         a.sig AS sig_a, b.sig AS sig_b
       |  FROM sig a JOIN sig b ON a.bk0 = b.bk0 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, a.chunk_idx, b.doc_id, b.chunk_idx,
       |         a.sig, b.sig
       |  FROM sig a JOIN sig b ON a.bk1 = b.bk1 AND a.doc_id < b.doc_id
       |    AND a.bk0 <> b.bk0)""".stripMargin
  }

  /** Shared oracle CTE chain: [[sigBandCtes]] + distinct candidate
    * pairs from the symmetric band self-join. */
  private def minhashCtes: String =
    s"""$sigBandCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id)""".stripMargin
  private def estSql: String =
    s"len(list_filter(range(1, ${K + 1}), i -> sig_a[i] = sig_b[i])) / ${K.toDouble}"

  /** The q103/q103b oracle: the three ingest stages UNROLLED as
    * chained CTEs. Stage k's corpus = the residents plus every prior
    * stage's admitted set (`a0..a{k-1}`), so the SQL reproduces the
    * loop's path-dependent semantics exactly; batch membership is
    * doc_id % 30 (the probes are doc_id % 10 = 0, split into thirds
    * 0/10/20). */
  private def ingestLoopOracle: String = {
    def corpusPred(k: Int): String =
      (Seq("b.doc_id % 10 <> 0") ++
        (0 until k).map(j => s"b.doc_id IN (SELECT doc_id FROM a$j)"))
        .mkString("(", " OR ", ")")
    def stage(k: Int): String =
      s"""cand$k AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 30 = ${k * 10} AND ${corpusPred(k)}),
         |ch$k AS (SELECT doc_id, count(*) AS n FROM cand$k
         |  WHERE $estSql >= $EstThreshold GROUP BY 1),
         |cb$k AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 30 = ${k * 10} AND b.doc_id % 30 = ${k * 10}),
         |bh$k AS (SELECT doc_b AS doc_id, count(*) AS n FROM cb$k
         |  WHERE $estSql >= $EstThreshold GROUP BY 1),
         |a$k AS (SELECT d.doc_id FROM documents d
         |  LEFT JOIN ch$k USING (doc_id) LEFT JOIN bh$k USING (doc_id)
         |  WHERE d.doc_id % 30 = ${k * 10}
         |    AND ch$k.n IS NULL AND bh$k.n IS NULL)""".stripMargin
    def leg(k: Int): String =
      s"""SELECT d.doc_id, CAST($k AS INTEGER) AS batch,
         |  CAST(coalesce(ch$k.n, 0) AS BIGINT) AS n_corpus_hits,
         |  CAST(coalesce(bh$k.n, 0) AS BIGINT) AS n_batch_hits,
         |  (ch$k.n IS NULL AND bh$k.n IS NULL) AS admitted
         |FROM documents d
         |LEFT JOIN ch$k USING (doc_id) LEFT JOIN bh$k USING (doc_id)
         |WHERE d.doc_id % 30 = ${k * 10}""".stripMargin
    s"""WITH $sigBandCtes,
       |${(0 until 3).map(stage).mkString(",\n")}
       |${(0 until 3).map(leg).mkString("\nUNION ALL\n")}
       |ORDER BY doc_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "q31_minhash_pairs" ->
      s"""WITH $minhashCtes
         |SELECT doc_a, doc_b, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the oracle computes the FULL distance and applies the band cap
    // after the fact — the engine's banded DP must agree exactly
    "q123_editdist_verify" ->
      s"""WITH $minhashCtes,
         |nd AS (
         |  SELECT doc_a, doc_b, $estSql AS est_jaccard
         |  FROM cand WHERE $estSql >= $EstThreshold),
         |v AS (
         |  SELECT nd.doc_a, nd.doc_b, nd.est_jaccard,
         |    levenshtein(substr(ta.text, 1, $EditCap),
         |                substr(tb.text, 1, $EditCap)) AS lev,
         |    greatest(length(substr(ta.text, 1, $EditCap)),
         |             length(substr(tb.text, 1, $EditCap))) AS ml
         |  FROM nd JOIN documents ta ON nd.doc_a = ta.doc_id
         |          JOIN documents tb ON nd.doc_b = tb.doc_id)
         |SELECT doc_a, doc_b, est_jaccard,
         |  CASE WHEN lev > $LevBand THEN CAST(-1 AS BIGINT)
         |       ELSE CAST(lev AS BIGINT) END AS edit_dist,
         |  CASE WHEN lev > $LevBand THEN 0.0
         |       ELSE round(1.0 - CAST(lev AS DOUBLE) / CAST(ml AS DOUBLE), 6)
         |       END AS edit_sim,
         |  CASE WHEN lev > $LevBand THEN false
         |       ELSE round(1.0 - CAST(lev AS DOUBLE) / CAST(ml AS DOUBLE), 6)
         |              >= $CharSimThreshold END AS char_verified
         |FROM v ORDER BY doc_a, doc_b""".stripMargin,
    "q127_fuzzy_decontaminate" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS train_doc, b.doc_id AS bench_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % ${Curation.BenchmarkMod} <> 0
         |    AND b.doc_id % ${Curation.BenchmarkMod} = 0),
         |h AS (SELECT train_doc, count(*) AS n FROM cand
         |  WHERE $estSql >= $EstThreshold GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_fuzzy_hits,
         |  (h.n IS NOT NULL) AS contaminated
         |FROM documents d LEFT JOIN h ON d.doc_id = h.train_doc
         |WHERE d.doc_id % ${Curation.BenchmarkMod} <> 0
         |ORDER BY d.doc_id""".stripMargin,
    "q99_lsh_index_dedup" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
         |SELECT probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY probe_doc, corpus_doc""".stripMargin,
    "q109_index_timetravel" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT 1 AS version, a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |  UNION
         |  SELECT 2, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
         |SELECT version, probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY version, probe_doc, corpus_doc""".stripMargin,
    // q139: the tag-resolved leg must be the pre-append population
    // EXACTLY after retention reclaimed untagged history — q109's
    // two-leg CTE verbatim (tagging preserves what time travel sees)
    "q139_tagged_snapshot" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT 1 AS version, a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |  UNION
         |  SELECT 2, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
         |SELECT version, probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY version, probe_doc, corpus_doc""".stripMargin,
    // q149: q109's CTE per version population — v1 the residents, v2
    // after writer A's batch (%20 = 9), v3 after writer B's retry
    // lands %20 = 19 too (= all the %10 = 9 docs). The v3 leg gates
    // the no-lost-update invariant: a swept-in or dropped batch would
    // change the candidate pair set.
    "q149_lsh_occ_append" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT 1 AS version, a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |  UNION
         |  SELECT 2, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND
         |    (b.doc_id % 10 NOT IN (0, 9) OR b.doc_id % 20 = 9)
         |  UNION
         |  SELECT 3, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
         |SELECT version, probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY version, probe_doc, corpus_doc""".stripMargin,
    // q137: the committed result after the conflict→re-read→retry loop
    // must be the UNION of both writers' slices plus the seed,
    // regardless of which writer lost the race (no lost update)
    "q137_occ_commit_retry" ->
      """SELECT doc_id, CAST(doc_id % 10 AS INTEGER) AS slice
        |FROM documents WHERE doc_id % 10 IN (5, 6, 7)
        |ORDER BY doc_id""".stripMargin,
    // q138: q109's CTE shape with the survivor predicate (%7 <> 0) on
    // tags 2 and 3 — tag 1 proves time travel THROUGH the delete (the
    // pre-delete version still sees the deleted docs), tag 2 the
    // merge-on-read tombstone filter, tag 3 that the physical purge is
    // result-neutral
    "q138_snapshot_delete" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT 1 AS version, a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |  UNION
         |  SELECT 2, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |    AND b.doc_id % 7 <> 0
         |  UNION
         |  SELECT 3, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |    AND b.doc_id % 7 <> 0)
         |SELECT version, probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY version, probe_doc, corpus_doc""".stripMargin,
    // q132: the appended population's band rows, exactly — what the
    // manifest diff between v1 and v2 must surface, no more, no less
    "q132_snapshot_increment" ->
      s"""WITH $sigBandCtes
         |SELECT doc_id, CAST(band_id AS INTEGER) AS band_id, band_key
         |FROM bands WHERE doc_id % 10 = 9
         |ORDER BY doc_id, band_id""".stripMargin,
    // q134s: the consumer's mirror after 3 producer commits must equal
    // the one-shot appended population — q132's oracle verbatim (path
    // independence across the commit slicing)
    "q134s_manifest_tail" ->
      s"""WITH $sigBandCtes
         |SELECT doc_id, CAST(band_id AS INTEGER) AS band_id, band_key
         |FROM bands WHERE doc_id % 10 = 9
         |ORDER BY doc_id, band_id""".stripMargin,
    // q109 plus a third as-of leg AFTER the copy-on-write compaction:
    // tag 3 repeats the v2 population verbatim — the compacted layout
    // must be row-identical (compaction is purely physical), while v1
    // stays blind to the append through its preserved file set
    "q113_snapshot_compact" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT 1 AS version, a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 NOT IN (0, 9)
         |  UNION
         |  SELECT 2, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |  UNION
         |  SELECT 3, a.doc_id, b.doc_id, a.sig, b.sig
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
         |SELECT version, probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY version, probe_doc, corpus_doc""".stripMargin,
    "q99b_lsh_admission" ->
      s"""WITH $sigBandCtes,
         |candc AS (
         |  SELECT DISTINCT a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         |ch AS (
         |  SELECT probe_doc, count(*) AS n FROM candc
         |  WHERE $estSql >= $EstThreshold GROUP BY 1),
         |candb AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |   AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 0),
         |bh AS (
         |  SELECT doc_b, count(*) AS n FROM candb
         |  WHERE $estSql >= $EstThreshold GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(ch.n, 0) AS BIGINT) AS n_corpus_hits,
         |  CAST(coalesce(bh.n, 0) AS BIGINT) AS n_batch_hits,
         |  (ch.n IS NULL AND bh.n IS NULL) AS admitted
         |FROM documents d
         |LEFT JOIN ch ON d.doc_id = ch.probe_doc
         |LEFT JOIN bh ON d.doc_id = bh.doc_b
         |WHERE d.doc_id % 10 = 0
         |ORDER BY d.doc_id""".stripMargin,
    "q103_ingest_loop" -> ingestLoopOracle,
    // compaction is result-neutral by contract: same SQL as q103
    "q103b_ingest_compacted" -> ingestLoopOracle,
    // the streamed loop must equal the unrolled batch semantics
    "q103s_stream_ingest" -> ingestLoopOracle,
    // the partition-local auto-compaction policy is result-neutral at
    // every point in the loop: same SQL as q103
    "q112_ingest_autocompact" -> ingestLoopOracle,
    // q99's serve with the deleted slice excluded from the corpus
    "q107_index_delete" ->
      s"""WITH $sigBandCtes,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS probe_doc, b.doc_id AS corpus_doc,
         |         a.sig AS sig_a, b.sig AS sig_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |    AND b.doc_id % 7 <> 0)
         |SELECT probe_doc, corpus_doc, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY probe_doc, corpus_doc""".stripMargin,
    "q98_chunk_neardup" ->
      s"""WITH $chunkCandCtes
         |SELECT doc_a, chunk_a, doc_b, chunk_b, $estSql AS est_jaccard
         |FROM cand WHERE $estSql >= $EstThreshold
         |ORDER BY doc_a, chunk_a, doc_b, chunk_b""".stripMargin,
    "q125_containment" ->
      s"""WITH $chunkCandCtes,
         |dp AS (
         |  SELECT DISTINCT doc_a, doc_b FROM cand
         |  WHERE $estSql >= $EstThreshold),
         |ts AS (SELECT doc_id, list_distinct(toks) AS tokset FROM t),
         |j AS (
         |  SELECT dp.doc_a, dp.doc_b,
         |    len(list_intersect(ta.tokset, tb.tokset)) AS n_common,
         |    len(ta.tokset) AS n_a, len(tb.tokset) AS n_b
         |  FROM dp JOIN ts ta ON dp.doc_a = ta.doc_id
         |          JOIN ts tb ON dp.doc_b = tb.doc_id),
         |m AS (
         |  SELECT doc_a, doc_b,
         |    CAST(n_common AS BIGINT) AS n_common,
         |    CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         |    CASE WHEN n_a = 0 THEN 0.0 ELSE
         |      round(CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS cont_a,
         |    CASE WHEN n_b = 0 THEN 0.0 ELSE
         |      round(CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS cont_b,
         |    CASE WHEN n_a + n_b - n_common = 0 THEN 0.0 ELSE
         |      round(CAST(n_common AS DOUBLE)
         |        / CAST(n_a + n_b - n_common AS DOUBLE), 6) END AS jaccard
         |  FROM j)
         |SELECT doc_a, doc_b, n_common, n_a, n_b, cont_a, cont_b, jaccard,
         |  CASE WHEN cont_a >= $ContainThreshold AND cont_b >= $ContainThreshold THEN 'near_dup'
         |       WHEN cont_a >= $ContainThreshold THEN 'a_in_b'
         |       WHEN cont_b >= $ContainThreshold THEN 'b_in_a'
         |       ELSE 'partial' END AS relation
         |FROM m ORDER BY doc_a, doc_b""".stripMargin,
    "q37g_pagerank" -> {
      def iter(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT d.doc_id AS node,
           |    round(0.15 / nn.n + 0.85 * COALESCE(s.in_sum, 0.0), 8) AS pr
           |  FROM documents d
           |  CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents) nn
           |  LEFT JOIN (
           |    SELECT e.dst, sum(p.pr / dg.deg) AS in_sum
           |    FROM edges e
           |    JOIN deg dg ON e.src = dg.src
           |    JOIN $prev p ON e.src = p.node
           |    GROUP BY e.dst) s ON d.doc_id = s.dst)""".stripMargin
      s"""WITH $minhashCtes,
         |prs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |pr0 AS (
         |  SELECT doc_id AS node, 1.0 / (SELECT count(*) FROM documents) AS pr
         |  FROM documents),
         |${iter("pr0", "pr1")},
         |${iter("pr1", "pr2")},
         |${iter("pr2", "pr3")}
         |SELECT node AS doc_id, pr FROM pr3 ORDER BY doc_id""".stripMargin
    },
    "q35b_dedup_select" ->
      s"""WITH RECURSIVE $minhashCtes,
         |prs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |ranked AS (
         |  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rnk,
         |    count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
         |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
         |SELECT cluster_id, doc_id AS kept_doc, n_chars AS kept_n_chars,
         |  n_members
         |FROM ranked WHERE rnk = 1 ORDER BY cluster_id""".stripMargin,
    "q35_dup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // the incremental result must equal a FULL recompute over the
    // whole corpus — q35's oracle verbatim is the strongest possible
    // gate for the quotient-graph update
    "q110_incremental_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // q110's oracle VERBATIM: the streamed, batched, path-dependent
    // label-table updates must compose to exactly the one-shot full
    // recompute, no matter how the arrival was sliced
    "q110s_stream_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // q135: version 1 must equal the residents-only recompute (the
    // pre-batch state, byte-for-byte — the COW merge must not leak the
    // increment backwards), version 2 the full recompute (q110's
    // oracle — the merge must not lose it forwards)
    "q135_state_timetravel" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |fin AS (SELECT a AS doc_id, min(b) AS lab FROM reach GROUP BY a),
         |redges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0),
         |rreach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
         |  UNION
         |  SELECT r.a, e.dst FROM rreach r JOIN redges e ON r.b = e.src),
         |old AS (SELECT a AS doc_id, min(b) AS lab FROM rreach GROUP BY a)
         |SELECT 1 AS version, doc_id, lab AS cluster_id FROM old
         |UNION ALL
         |SELECT 2, doc_id, lab FROM fin
         |ORDER BY version, doc_id""".stripMargin,
    // the bounded incremental change feed must equal the EXHAUSTIVE
    // diff of two full recomputes: labels over residents only (the
    // pre-batch state) vs labels over the whole corpus (post-batch) —
    // inserts are the batch docs, updates the residents whose label
    // moved, unchanged residents absent
    "q114_cluster_changefeed" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |fin AS (SELECT a AS doc_id, min(b) AS lab FROM reach GROUP BY a),
         |redges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0),
         |rreach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
         |  UNION
         |  SELECT r.a, e.dst FROM rreach r JOIN redges e ON r.b = e.src),
         |old AS (SELECT a AS doc_id, min(b) AS lab FROM rreach GROUP BY a)
         |SELECT f.doc_id, 'insert' AS op,
         |       CAST(-1 AS BIGINT) AS old_label, f.lab AS new_label
         |FROM fin f WHERE f.doc_id % 10 = 0
         |UNION ALL
         |SELECT o.doc_id, 'update', o.lab, f.lab
         |FROM old o JOIN fin f ON o.doc_id = f.doc_id
         |WHERE o.lab <> f.lab
         |ORDER BY doc_id""".stripMargin,
    // the feed-maintained consumer view must equal the keep-list a
    // from-scratch consumer would build over the full recompute; the
    // touched flag comes from the exhaustive diff (final clusters
    // holding a batch doc or a relabeled resident)
    "q117_changefeed_apply" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |fin AS (SELECT a AS doc_id, min(b) AS lab FROM reach GROUP BY a),
         |redges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |  WHERE doc_a % 10 <> 0 AND doc_b % 10 <> 0),
         |rreach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
         |  UNION
         |  SELECT r.a, e.dst FROM rreach r JOIN redges e ON r.b = e.src),
         |old AS (SELECT a AS doc_id, min(b) AS lab FROM rreach GROUP BY a),
         |feedids AS (
         |  SELECT doc_id FROM fin WHERE doc_id % 10 = 0
         |  UNION
         |  SELECT o.doc_id FROM old o JOIN fin f ON o.doc_id = f.doc_id
         |  WHERE o.lab <> f.lab),
         |touched AS (
         |  SELECT DISTINCT f.lab FROM fin f JOIN feedids i ON f.doc_id = i.doc_id),
         |ranked AS (
         |  SELECT f.lab AS cluster_id, f.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY f.lab
         |      ORDER BY d.n_chars DESC, f.doc_id ASC) AS rnk,
         |    count(*) OVER (PARTITION BY f.lab) AS n_members
         |  FROM fin f JOIN documents d ON f.doc_id = d.doc_id)
         |SELECT r.cluster_id, r.doc_id AS kept_doc,
         |  CAST(r.n_members AS BIGINT) AS n_members,
         |  (t.lab IS NOT NULL) AS touched
         |FROM ranked r LEFT JOIN touched t ON t.lab = r.cluster_id
         |WHERE r.rnk = 1 ORDER BY r.cluster_id""".stripMargin,
    // the sketch arithmetic is bit-reproducible: both engines build
    // the same bottom-k hash sets and the same integer estimator, and
    // the exact_inter self-eval column is the plain digest join
    "q120_kmv_source_overlap" -> {
      val k = KmvOverlapK
      val est = s"(${k - 1} * 281474976710656) // max(CASE WHEN rn = $k THEN h END)"
      s"""WITH hs AS (
         |  SELECT DISTINCT source, ${Tokens.hex48("hx")} AS h FROM (
         |    SELECT source, md5(text) AS hx FROM documents)),
         |r AS (
         |  SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM hs),
         |per AS (
         |  SELECT source, CAST(COALESCE($est, count(*)) AS BIGINT) AS est
         |  FROM r GROUP BY source),
         |sk AS (SELECT source, h FROM r WHERE rn <= $k),
         |srcs AS (SELECT DISTINCT source FROM sk),
         |pr AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM srcs a, srcs b WHERE a.source < b.source),
         |u AS (
         |  SELECT DISTINCT source_a, source_b, h FROM (
         |    SELECT p.source_a, p.source_b, s.h
         |    FROM pr p JOIN sk s ON s.source = p.source_a
         |    UNION ALL
         |    SELECT p.source_a, p.source_b, s.h
         |    FROM pr p JOIN sk s ON s.source = p.source_b)),
         |ur AS (
         |  SELECT source_a, source_b, h, row_number() OVER (
         |    PARTITION BY source_a, source_b ORDER BY h) AS rn
         |  FROM u),
         |ue AS (
         |  SELECT source_a, source_b,
         |    CAST(COALESCE($est, count(*)) AS BIGINT) AS est_union
         |  FROM ur GROUP BY source_a, source_b),
         |sd AS (SELECT DISTINCT source, md5(text) AS digest FROM documents),
         |ex AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS exact_inter
         |  FROM sd a JOIN sd b ON a.digest = b.digest AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT ue.source_a, ue.source_b, pa.est AS est_a, pb.est AS est_b,
         |  ue.est_union,
         |  CAST(greatest(0, pa.est + pb.est - ue.est_union) AS BIGINT)
         |    AS est_inter,
         |  CAST(coalesce(ex.exact_inter, 0) AS BIGINT) AS exact_inter,
         |  round(CAST(greatest(0, pa.est + pb.est - ue.est_union) AS DOUBLE)
         |    / CAST(ue.est_union AS DOUBLE), 6) AS jaccard_est
         |FROM ue
         |JOIN per pa ON pa.source = ue.source_a
         |JOIN per pb ON pb.source = ue.source_b
         |LEFT JOIN ex ON ex.source_a = ue.source_a AND ex.source_b = ue.source_b
         |ORDER BY ue.source_a, ue.source_b""".stripMargin
    },
    // q111's oracle VERBATIM: the streamed, path-dependent retire
    // batches must compose to exactly the one-shot survivor recompute
    "q111s_stream_retire" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  WHERE $estSql >= $EstThreshold
         |    AND doc_a % 10 <> 0 AND doc_a % 17 <> 3
         |    AND doc_b % 10 <> 0 AND doc_b % 17 <> 3),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  WHERE doc_id % 10 <> 0 AND doc_id % 17 <> 3
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // the incremental retire must equal a full recompute over the
    // SURVIVOR population (residents minus the retention slice) —
    // components of the survivor-induced subgraph, min surviving id
    "q111_cluster_retire" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand
         |  WHERE $estSql >= $EstThreshold
         |    AND doc_a % 10 <> 0 AND doc_a % 17 <> 3
         |    AND doc_b % 10 <> 0 AND doc_b % 17 <> 3),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  WHERE doc_id % 10 <> 0 AND doc_id % 17 <> 3
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "q108_cluster_split" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${Tokens.mdByteSql("cluster_id")} < 205 THEN 'train'
         |       WHEN ${Tokens.mdByteSql("cluster_id")} < 230 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin,
    // q140: the same recursive cluster CTE as q108, with the
    // keep-longest representative decided by a per-cluster window —
    // n_chars DESC, doc_id ASC tie break, both engines deterministic
    "q140_cluster_representative" ->
      s"""WITH RECURSIVE $minhashCtes,
         |pairs AS (SELECT doc_a, doc_b FROM cand WHERE $estSql >= $EstThreshold),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT c.doc_id, c.cluster_id, d.n_chars,
         |  (row_number() OVER (PARTITION BY c.cluster_id
         |     ORDER BY d.n_chars DESC, c.doc_id ASC) = 1) AS rep
         |FROM cl c JOIN documents d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q32_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "q33_simhash_pairs" ->
      s"""WITH $simhashSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sh a JOIN sh b
         |  ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q34_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct(list_transform(range(1, length(lower(text)) - 1),
        |      i -> substring(lower(text), i, 3))) AS grams
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q78_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS content_md5
        |FROM documents ORDER BY content_md5""".stripMargin,
    "q75_stream_dup_filter" ->
      s"""WITH $minhashCtes,
         |inc AS (
         |  SELECT doc_id, band_id, band_key FROM bands WHERE doc_id % 10 = 7),
         |idx AS (
         |  SELECT DISTINCT band_id, band_key FROM bands WHERE doc_id % 10 <> 7),
         |hits AS (
         |  SELECT i.doc_id, count(*) AS n_bands_hit
         |  FROM inc i JOIN idx USING (band_id, band_key)
         |  GROUP BY i.doc_id)
         |SELECT d.doc_id,
         |       coalesce(h.n_bands_hit, 0) AS n_bands_hit,
         |       h.doc_id IS NOT NULL AS is_dup
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 10 = 7
         |ORDER BY d.doc_id""".stripMargin,
    "q83_substring_dup" ->
      s"""WITH w0 AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(length(text) - ${SubstrWindow - 1}, 0) + 1),
         |    i -> md5(substr(text, i, $SubstrWindow)))) AS m
         |  FROM documents),
         |wins AS (SELECT DISTINCT doc_id, ${Tokens.hex48("m")} AS h FROM w0),
         |shared AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
         |hits AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM wins JOIN shared USING (h) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(greatest(length(d.text) - ${SubstrWindow - 1}, 0) AS BIGINT) AS n_windows,
         |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
         |  coalesce(h.n_shared, 0) > 0 AS has_dup
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
  )
}
