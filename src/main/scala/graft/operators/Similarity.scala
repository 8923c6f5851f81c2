package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline, a
  * hyperplane-LSH-bucketed variant as the scale path, and blocked
  * embedding-cosine near-dup pairs.
  *
  * The cosine kernel is the native codegen'd Catalyst expression
  * [[graft.functions.CosineSimilarity]] (one fused pass over the raw
  * float arrays — no per-element interpreted lambdas, no
  * float→double array materialization). Results are rounded to 6
  * decimals so they are hash-stable against the oracle regardless of
  * summation association.
  *
  * Scale design:
  *   - brute-force top-k is a broadcast of ONE query row against a
  *     narrow scan + `orderBy.limit` (Spark plans TakeOrderedAndProject
  *     — per-partition top-k then a k-row merge on the driver, no full
  *     sort, no shuffle of the corpus);
  *   - the LSH path buckets vectors by the sign pattern of [[Planes]]
  *     seeded random-hyperplane projections (Charikar SimHash for
  *     cosine) and probes every bucket within [[ProbeHamming]] sign
  *     flips of the query's (multi-probe) — at 100 TB the bucket
  *     column is a partition key, so the scan prunes to the probed
  *     fraction of the corpus (93/256 at the default radius);
  *   - the IVF path learns its coarse quantizer with deterministic
  *     Lloyd k-means (md5-seeded init, fixed iterations) — the cell id
  *     is the partition key and nprobe cells bound the scan;
  *   - near-dup pair generation blocks on `label` (or any coarse
  *     cluster id) — sum-of-squares over blocks, never a global
  *     cross join.
  *
  * Determinism across engines: the hyperplane matrix is derived from
  * md5 in Scala and embedded as double literals in BOTH the Spark
  * expression and the oracle SQL; projections/distances are written as
  * the same left-to-right double arithmetic in both dialects, so sign
  * tests and argmins agree bit-for-bit. k-means centroid updates round
  * each dim to 6 decimals (reduction-order stability), like every
  * other cross-engine aggregate in this library.
  */
object Similarity {

  /** Hyperplane count for the LSH bucket (2^Planes buckets) and the
    * multi-probe radius: the probe visits every bucket within
    * [[ProbeHamming]] sign flips of the query's bucket —
    * sum(C(Planes, m), m <= 3) = 93 of 256 buckets (~36% of the
    * corpus at uniform occupancy), chosen to hold recall@10 >= 0.7 on
    * moderate-similarity 64-dim embeddings where a single-bucket probe
    * misses most true neighbors. */
  val Planes = 8
  val ProbeHamming = 3

  /** XOR masks enumerating the probed buckets (hamming <= ProbeHamming). */
  private val probeMasks: Seq[Int] =
    (0 until (1 << Planes)).filter(Integer.bitCount(_) <= ProbeHamming)

  /** k-means cells (floor), probed cells, and Lloyd iterations for
    * IVF. The actual cell count is derived from the corpus:
    * k = max(KCells, ceil(n / TargetPerCell)), so cells hold ~1000
    * vectors in expectation at any corpus size instead of n/8 — the
    * first half of keeping q76's per-cell quadratic bounded. Both
    * engines compute k from the same count, so the trained quantizer
    * stays in cross-engine lockstep. */
  val KCells = 8
  val NProbe = 3
  val KmIters = 2
  val TargetPerCell = 1000

  /** Neighbors returned per row by the k-NN similarity JOIN (q86). */
  val KnnK = 5

  /** Deliberately small chunk cap baked into q86b so the k-NN join's
    * oversized-cell code path — rank-chunking + adjacent-chunk probing,
    * see [[knnBoundedCandidates]] — is itself oracle-gated at sf0.01,
    * where every cell sits far under the production [[CellCap]]. */
  val KnnCapGate = 48

  /** ANN self-evaluation (q100/q100b): probe-sample size and cutoff
    * for recall@k of the IVF indexes against the exact ground truth. */
  val RecallProbes = 8
  val RecallK = 10

  /** (probes, corpus) split for the recall evaluators: the first
    * [[RecallProbes]] vectors are the query sample, the rest the
    * corpus. `assigned` must carry (vec_id, v, embedding) plus the
    * index's own cell columns, which ride along into `corpus`. */
  private def recallSplit(assigned: DataFrame): (DataFrame, DataFrame) = (
    assigned.where(col("vec_id") < RecallProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("qv"),
        col("embedding").as("q_embedding")),
    assigned.where(col("vec_id") >= RecallProbes))

  /** Shared recall@k evaluator: exact ground truth per probe (salted
    * two-stage top-k — no task sorts a probe's full candidate stream)
    * vs the index's `approxCand` candidate rows (corpus rows already
    * pruned to the probed cells, carrying probe_id), both ranked by
    * the identical (cos desc, vec_id) order. Returns one row per
    * probe: (probe_id, n_overlap, recall_at_10). */
  private def recallVsExact(probes: DataFrame, corpus: DataFrame,
      approxCand: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topW = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exCand = corpus
      .crossJoin(broadcast(probes.select(col("probe_id"), col("q_embedding"))))
      .select(col("probe_id"), col("vec_id"),
        cos6(col("embedding"), col("q_embedding")).as("cos"))
    val saltW = Window
      .partitionBy(col("probe_id"), pmod(col("vec_id"), lit(32)))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = exCand
      .withColumn("rn1", row_number().over(saltW)).where(col("rn1") <= RecallK)
      .withColumn("rn", row_number().over(topW)).where(col("rn") <= RecallK)
      .select(col("probe_id"), col("vec_id"))
    val approx = approxCand
      .join(broadcast(probes.select(col("probe_id"), col("q_embedding"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos6(col("embedding"), col("q_embedding")).as("cos"))
      .withColumn("rn", row_number().over(topW)).where(col("rn") <= RecallK)
      .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
    exact.join(approx, Seq("probe_id", "vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("recall_at_10",
        round(col("n_overlap") / lit(RecallK.toDouble), 6))
      .orderBy(col("probe_id"))
  }

  /** Two-level (hierarchical) IVF quantizer parameters (q88) — the
    * fix for flat IVF's documented 100 TB ceiling: with corpus-derived
    * k = n/Target, flat assignment computes k distances per vector
    * (n²/Target FLOPs corpus-wide). The hierarchy trains
    * k1 ≈ √(n/Target) SUPER-cells globally, then k2_s ≈ n_s/Target
    * sub-cells inside each super-cell, so assignment is k1 + k2_s ≈
    * 2√(n/Target) distances per vector. Ivf2Target is kept small so
    * the two-level structure is non-degenerate — and therefore
    * actually oracle-gated — at sf0.01 (500 vectors → 4 super-cells
    * × ~2 sub-cells); production would use TargetPerCell. */
  val Ivf2Target = 64
  val Ivf2SuperMin = 4
  val NProbeSuper = 3
  val NProbeSub = 5

  /** Product-quantization parameters (q89): the 64-dim vector splits
    * into [[PqM]] subspaces of 8 dims, each quantized against its own
    * [[PqK]]-codeword codebook (8 bits/subspace (the canonical PQ config) → a 64-bit code per
    * vector vs the 256-byte float payload). ADC (asymmetric
    * distance computation) then approximates query distances from a
    * PqM×PqK lookup table without touching the original vectors —
    * the memory-bound ANN path of a 100 TB vector lake. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 256

  /** Hard per-chunk cap for the within-cell pair search (q76): a cell
    * over the cap is rank-chunked (see [[cellBoundedCandidates]]) so
    * no task's candidate volume exceeds ~1.5*cap per member, no matter
    * how skewed the embedding space is. [[CellCapGate]] is the
    * deliberately small cap baked into q76b so the chunked code path
    * itself is exercised and oracle-gated at sf0.01 (where average
    * cells sit well under the production cap). */
  val CellCap = 4096
  val CellCapGate = 48

  /** Hybrid retrieval (q97): per-leg candidate depth, fused list
    * size, and the standard RRF dampening constant. */
  val HybridM = 50
  val HybridK = 20
  val RrfC = 60

  private[graft] def cos6(a: Column, b: Column): Column =
    round(VectorFunctions.cosine(a, b), 6)

  /** Within-cell near-dup candidate pairs with a HARD bound on the
    * per-task quadratic. Cell members are ranked by (distance to
    * their final centroid, vec_id) and chunked into rank blocks of
    * `cap`; pairs are searched only within a chunk and between
    * rank-adjacent chunks. A cell at or under `cap` keeps the exact
    * full quadratic (single chunk, unchanged semantics); an oversized
    * — skewed — cell degrades to a bounded neighborhood search
    * instead of an O(cell²) task: each vector meets <= 3*cap
    * rank-neighbors, so candidate volume is <= 1.5*cap*n however
    * skewed the embedding space is (the ScaleShapeSpec fixture proves
    * the bound on a single mega-cell). Rank-adjacency in centroid
    * distance is the SemDeDup-style approximation: near-identical
    * vectors have near-identical centroid distances, so true
    * near-dups land in the same or adjacent chunks. The ranking
    * window itself is linear per cell (one external sort), never
    * quadratic. */
  private[graft] def cellBoundedCandidates(assigned: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cw = Window.partitionBy(col("cid"))
    val ranked = assigned
      .withColumn("rn", row_number().over(cw.orderBy(col("dist"), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(cw))
      .withColumn("chunk", floor((col("rn") - lit(1.0)) / lit(cap)))
    // the probe side fans out to its own and both adjacent chunks ONLY
    // when the cell is over the cap — pairs at chunk distance <= 1
    // match exactly once (the build side stays at its home chunk)
    val a = ranked
      .select(col("cid"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("chunk"), col("cnt"))
      .withColumn("pc", explode(when(col("cnt") > cap,
        array(col("chunk") - 1, col("chunk"), col("chunk") + 1))
        .otherwise(array(col("chunk")))))
      .drop("chunk", "cnt")
    val b = ranked.select(col("cid"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("chunk").as("pc"))
    a.join(b, Seq("cid", "pc")).where(col("vec_a") < col("vec_b"))
  }

  /** The SemDeDup keep-rule over [[cellBoundedCandidates]]: drop any
    * vector with a lower-id near-dup (cos >= 0.4) in its bounded
    * search neighborhood; one anti-join pass, not iterative. */
  private def semanticKept(s: SparkSession, d: String, cap: Int): DataFrame = {
    val (_, assigned) = ivfModel(s, d)
    val dropped = cellBoundedCandidates(assigned, cap)
      .where(cos6(col("emb_a"), col("emb_b")) >= 0.4)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("hit", lit(true))
    assigned.select(col("vec_id"), col("cid").cast("bigint").as("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("hit").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Map-side IVF probe assignment for the k-NN join (q86): every
    * vector's NProbe nearest cells — (vec_id, pos, cid, qdist), pos 0
    * = the home cell (identical tie-breaks to ivfModel's arn=1
    * membership) — computed per row against the broadcast centroid
    * array by the codegen'd [[graft.functions.TopCells]] kernel. The
    * fragment is scan → project → explode: NO window, NO shuffle —
    * the declarative crossJoin + row_number() form this replaces
    * materialized and shuffled n×k rows (n²/1000 with corpus-derived
    * k) just to keep NProbe of them. */
  private[graft] def knnProbes(s: SparkSession, d: String): DataFrame = {
    val (cents, assigned) = ivfModel(s, d)
    val carr = cents.agg(collect_list(
      struct(col("cid").cast("long").as("cid"), col("cv"))).as("carr"))
    assigned.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(carr))
      .select(col("vec_id"),
        posexplode(VectorFunctions.topCells(col("v"), col("carr"), NProbe)))
      .select(col("vec_id"), col("pos"),
        col("col.cid").as("cid"), col("col.dist").as("qdist"))
  }

  /** Candidate pairs for the k-NN join with a HARD per-cell bound —
    * the [[cellBoundedCandidates]] rank-chunk pattern applied to the
    * probe-expanded cell relation. All probe rows of a cell (members
    * AND foreign probes — every row carries its distance to the same
    * centroid, so one total order covers both) are ranked by
    * (qdist, vec_id) and chunked at `cap`; a probe meets only the
    * MEMBER rows (pos 0 — the rows that actually hold the cell's
    * vectors) of its own and rank-adjacent chunks. A cell at or under
    * the cap keeps the exact all-members semantics (single chunk); an
    * oversized — skewed — cell degrades to a bounded neighborhood
    * search: each probe meets <= 3*cap rank-neighbors, so no task's
    * candidate volume is quadratic in a mega-cell no matter how
    * skewed the embedding space. Rank-adjacency in centroid distance
    * is the same approximation q76 uses: true near neighbors have
    * near-identical distances to the shared centroid. Only the skinny
    * (vec_id, pos, cid, qdist) probe rows — n×NProbe of them, linear
    * in the corpus — enter the ranking shuffle; each output pair is
    * produced exactly once (the member side stays at its home chunk). */
  private[graft] def knnBoundedCandidates(probes: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cw = Window.partitionBy(col("cid"))
    // materialize once: the ranked relation feeds BOTH join legs —
    // without the cut the probe scan + ranking shuffle run twice
    val ranked = graft.Materialize.cut(probes
      .withColumn("rn", row_number().over(cw.orderBy(col("qdist"), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(cw))
      .withColumn("chunk", floor((col("rn") - lit(1.0)) / lit(cap))))
    val a = ranked
      .select(col("cid"), col("vec_id"), col("chunk"), col("cnt"))
      .withColumn("pc", explode(when(col("cnt") > cap,
        array(col("chunk") - 1, col("chunk"), col("chunk") + 1))
        .otherwise(array(col("chunk")))))
      .select(col("cid"), col("vec_id"), col("pc"))
    val b = ranked.where(col("pos") === 0)
      .select(col("cid"), col("vec_id").as("nn_id"), col("chunk").as("pc"))
    a.join(b, Seq("cid", "pc"))
      .where(col("nn_id") =!= col("vec_id"))
      .select(col("vec_id"), col("cid"), col("nn_id"))
  }

  /** The k-NN similarity join (q86/q86b). Shape:
    *   (1) probe assignment is MAP-SIDE ([[knnProbes]] — the TopCells
    *       kernel under the centroid broadcast; no n×k rows exist);
    *   (2) candidates come from the (cid, chunk) EQUI-JOIN of probe
    *       rows against cell members, rank-chunk-bounded at `cap`
    *       ([[knnBoundedCandidates]]) — at 100 TB cid is the
    *       assignment table's partition key, so each task joins
    *       co-located cells and no mega-cell goes quadratic;
    *   (3) embeddings are fetched back by two skinny id equi-joins
    *       (the wide vectors never ride through the ranking shuffles);
    *       the vec_id fetch runs LAST, so the per-(vec_id, cid) and
    *       per-vec_id top-k windows reuse its exchange (sort only);
    *   (4) ranking is TWO-STAGE: per-(vec_id, cid) top-k prunes to
    *       n*NProbe*k rows before the global per-vec_id top-k.
    * Recall matches q39 by construction below the cap (same trained
    * quantizer, same NProbe, same tie-breaks). */
  private def knnJoin(s: SparkSession, d: String, cap: Int): DataFrame =
    knnJoinFiltered(s, d, cap, excludeSameLabel = false)
      .select(col("vec_id"), col("nn_rank"), col("nn_id"), col("cos"))
      .orderBy(col("vec_id"), col("nn_rank"))

  /** The ADC top-k query path over a PQ model — parameterized on the
    * model frames so it serves BOTH the memoized trainer (q89b) and
    * artifacts reloaded from disk ([[graft.plans.PqIndex]]): the
    * query explodes into PqM subvectors, one broadcast lookup table
    * of PqM×PqK rounded l2² entries is built against the codebooks,
    * and distances sum over the ENCODED corpus only (8 code bytes per
    * vector at query time — the floats never load). */
  private[graft] def pqAdcTopK(emb: DataFrame, cents: DataFrame,
      encoded: DataFrame): DataFrame = {
    val q8 = emb.where(col("vec_id") === 0)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
        s"j -> slice(v, j * $PqSubDim + 1, $PqSubDim))")))
      .select(col("pos").as("j"), col("col").as("qsv"))
    val dtab = cents.join(broadcast(q8), Seq("j"))
      .withColumn("qd", round(VectorFunctions.l2sq(col("qsv"), col("cv")), 6))
      .select(col("j"), col("cid"), col("qd"))
    encoded.where(col("vec_id") =!= 0)
      .join(broadcast(dtab), Seq("j", "cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qd").cast("decimal(18,6)")).cast("double").as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** The k-NN join kernel with an optional same-label exclusion —
    * `excludeSameLabel = true` is HARD-NEGATIVE MINING (q96): for
    * every anchor, the top-k most-similar vectors of a DIFFERENT
    * label, the per-anchor negatives a contrastive embedding trainer
    * consumes. The label predicate runs BEFORE both top-k stages (a
    * post-filtered plain k-NN list would under-fill anchors whose
    * neighborhoods are same-label — exactly the anchors hard-negative
    * mining exists for). Same scale shape as q86: map-side probe
    * assignment, (cid, chunk)-bounded candidates, label filter
    * map-side on the candidate stream, two-stage top-k. */
  private def knnJoinFiltered(s: SparkSession, d: String, cap: Int,
      excludeSameLabel: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, assigned) = ivfModel(s, d)
    val cand0 = knnBoundedCandidates(knnProbes(s, d), cap)
    val emb = assigned.select(col("vec_id"), col("embedding"), col("label"))
    val joined = cand0
      .join(emb.select(col("vec_id").as("nn_id"),
        col("embedding").as("nn_emb"), col("label").as("nn_label")),
        Seq("nn_id"))
      .join(emb, Seq("vec_id"))
    val cand = (if (excludeSameLabel)
        joined.where(col("nn_label") =!= col("label"))
      else joined)
      .withColumn("cos", cos6(col("embedding"), col("nn_emb")))
    val cellW = Window.partitionBy(col("vec_id"), col("cid"))
      .orderBy(col("cos").desc, col("nn_id"))
    val topW = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nn_id"))
    cand
      .withColumn("crn", row_number().over(cellW))
      .where(col("crn") <= KnnK)
      .withColumn("rnk", row_number().over(topW))
      .where(col("rnk") <= KnnK)
      .select(col("vec_id"), col("label"),
        col("rnk").cast("int").as("nn_rank"),
        col("nn_id"), col("nn_label"), col("cos"))
  }

  /** HYBRID RETRIEVAL (q97/q97b, the RAG candidate-generation shape):
    * BM25 of the fixed text query and cosine-to-query-vector (q36's
    * form, same id space) each produce a top-M list, fused by
    * reciprocal-rank fusion rrf = Σ 1/(C + rank). Scale: each leg
    * ends in TakeOrderedAndProject (per-partition top-M, no global
    * sort); the rank windows and the full-outer fusion join run over
    * two ≤M-row lists — constant-size, independent of the corpus.
    * Doc 0 is the query document and is excluded from both legs.
    * `bm` supplies the lexical leg — the fresh scorer (q97) or the
    * persisted-index serve (q97b). */
  private def hybridSearch(s: SparkSession, d: String, bm: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // windows below are global but their input is the limit(M)
    // output — a constant-size relation at any corpus scale. The
    // pmod(doc_id, 1) constant partition key (the ivfModel
    // seed-window move) keeps WindowExec's "no partition defined"
    // WARN out of every bench log; it must survive the optimizer,
    // which strips lit(0) (EliminateWindowPartitions).
    val bmr = bm
      .where(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(HybridM)
      .withColumn("bm25_rank", row_number().over(
        Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("bm25").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("bm25_rank"))
    val e = Tables.embeddings(s, d)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding").as("q_embedding"))
    val crk = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        cos6(col("embedding"), col("q_embedding")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(HybridM)
      .withColumn("cos_rank", row_number().over(
        Window.partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("cos").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("cos_rank"))
    bmr.join(crk, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfC) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("cos_rank")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(HybridK)
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"), col("rrf"))
  }

  /** ONE IVF refresh step over a committed cid-partitioned assignment
    * table (q122 and q133) — the drift maintenance of the vector
    * index: refreshed centroids = per-cell dimension means (ivfModel's
    * update arithmetic) over the current version's rows, then a
    * map-side reassignment under the broadcast refreshed centroid
    * array. The disk mutation is COPY-ON-WRITE: cells that LOSE movers
    * rewrite their surviving membership as new files, movers land in
    * their new cells as new files, and the next manifest selects
    * [unlosing cells' version-v files + exactly those files]
    * ([[graft.plans.Snapshots.landStaged]] +
    * [[graft.plans.Snapshots.commitSelectingExpecting]]) — so a reader
    * pinned to version v stays byte-identical while the refreshed
    * layout commits as v+1, and write amplification is the TOUCHED
    * cells, never the corpus. The refreshed centroids land at
    * `centsOut` (the caller versions them alongside if it serves
    * across the refresh). Returns (newVersion, delta (vec_id,
    * old_cid, new_cid, moved)) with new_cid read back from the
    * COMMITTED version, so an oracle gate on the result proves the
    * manifest mutation, not just the arithmetic. */
  private[graft] def refreshAssignmentCommit(s: SparkSession,
      assignDir: String, centsOut: String): (Int, DataFrame) = {
    import graft.plans.{Snapshots, Tombstoned}
    val v = Tombstoned.current(s, assignDir, "refreshAssignmentCommit")
    val cur = Tombstoned.relation(s, assignDir, v, "vec_id")
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val embCols = cur.schema.fieldNames.filter(c => c != "cid" && c != "v").toSeq
    val newCents = cur.groupBy(col("cid")).agg(
      array((0 until 64).map(i =>
        round(avg(expr(s"v[$i]")), 6)): _*).as("cv"))
    val carr = newCents.agg(collect_list(struct(
      col("cid").cast("long").as("cid"), col("cv"))).as("carr"))
    val delta = graft.Materialize.cut(cur
      .crossJoin(broadcast(carr))
      .withColumn("new_cid", element_at(
        VectorFunctions.topCells(col("v"), col("carr"), 1), 1)
        .getField("cid").cast("int"))
      .select((embCols.map(col) :+ col("cid").as("old_cid")
        :+ col("new_cid")): _*))
    newCents.write.mode("overwrite").parquet(centsOut)
    // cells losing movers: bounded by k — a driver list is the right
    // size for both the rewrite filter and the manifest drop set
    val movers = delta.where(col("old_cid") =!= col("new_cid"))
    val losers = movers.select(col("old_cid")).distinct()
      .collect().map(_.getInt(0)).toSet
    def cells(rows: DataFrame, cid: String, path: String): Unit =
      rows.select(embCols.map(col) :+ col(cid).as("cid"): _*)
        .repartition(col("cid"))
        .write.mode("append").partitionBy("cid").parquet(path)
    val mine = Snapshots.landStaged(s, assignDir) { stage =>
      if (losers.nonEmpty)
        cells(delta.where(col("old_cid").isin(losers.toSeq.map(Int.box): _*) &&
          col("old_cid") === col("new_cid")), "old_cid", stage)
      cells(movers, "new_cid", stage)
    }
    val loserDirs = losers.map(c => s"cid=$c/")
    val v2 = Snapshots.commitSelectingExpecting(s, assignDir, v,
      f => loserDirs.exists(f.startsWith), mine)
    val after = Tombstoned.relation(s, assignDir, v2, "vec_id")
      .select(col("vec_id"), col("cid").as("new_cid"))
    val out = graft.Materialize.cut(
      delta.select(col("vec_id"), col("old_cid")).join(after, Seq("vec_id"))
        .withColumn("moved", col("old_cid") =!= col("new_cid")))
    graft.Materialize.release(delta)
    (v2, out)
  }

  private val indexDirMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), String]()

  /** Session-scoped artifact directory for the persisted-index serve
    * queries (q39c/q89c), one per (session, sfDir, kind): minted under
    * the staging root, written once ([[graft.plans.PqIndex
    * .ensureSaved]] / [[graft.plans.IvfTopK.ensureSaved]]), reclaimed
    * at JVM exit. Bounded hooks: at most #kinds × #sfDirs per JVM. */
  private def indexDir(s: SparkSession, d: String, kind: String): String =
    indexDirMemo.computeIfAbsent((s, d, kind), _ => {
      val dir = graft.Fs.createStagingDir(s, s"graft-$kind-index")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      dir
    })

  /** Force-train every memoized ANN model for (session, dir) — the
    * bench's untimed per-sweep pre-stage (the `model` row of
    * [[graft.Bench.staging]]).
    * Training is eager ([[graft.Materialize.cut]] materializes on
    * call), so after this returns the model queries hit warm memos and
    * time only the query path — the "train once per corpus version,
    * query many times" production contract. Idempotent (memo hits). */
  def stageModels(s: SparkSession, d: String): Unit = {
    ivfModel(s, d)
    hierModel(s, d)
    pqModel(s, d)
    ivfPqModel(s, d)
    ()
  }

  private val ivfMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  /** Evict memoized relations (for long-lived sessions / bench
    * sweeps). Clears EVERY trained-model memo — a sweep that reused
    * a prior sweep's hierarchical/PQ model would under-report those
    * queries' training cost — and RELEASES each model frame's
    * materialized storage (leaked checkpoint blocks otherwise survive
    * to pressure the next sweep until a full GC). */
  def clearMemos(): Unit = {
    import scala.jdk.CollectionConverters._
    def rel(df: DataFrame): Unit = graft.Materialize.release(df)
    ivfMemo.values.asScala.foreach { case (a, b) => rel(a); rel(b) }
    hierMemo.values.asScala.foreach { case (a, b, c) => rel(a); rel(b); rel(c) }
    pqMemo.values.asScala.foreach { case (a, b) => rel(a); rel(b) }
    ivfPqMemo.values.asScala.foreach { case (a, b) => rel(a); rel(b) }
    ivfMemo.clear()
    hierMemo.clear()
    pqMemo.clear()
    ivfPqMemo.clear()
  }

  /** The deterministic Lloyd k-means coarse quantizer, memoized per
    * (session, dir): (centroids (cid, cv), assignment (vec_id, label,
    * v, embedding, cid, dist)). Seeds = the k vectors ranked first by
    * md5("seed:"||vec_id), k corpus-derived (max(KCells,
    * ceil(n/TargetPerCell))); KmIters assign/update rounds; centroid
    * dims rounded to 6 for reduction-order stability. Both the IVF
    * probe (q39) and semantic dedup (q76) consume the same trained
    * model — at 100 TB this is "train the quantizer once per corpus,
    * persist the assignment table". */
  private[graft] def ivfModel(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfMemo.computeIfAbsent((s, d), _ => {
      import org.apache.spark.sql.expressions.Window
      // materialize the double-vector relation once — it feeds three
      // assignment passes (KmIters + final), each of which would
      // otherwise recompute the scan + cast pipeline
      val e = graft.Materialize.cut(Tables.embeddings(s, d)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
      // corpus-derived cell count: one O(1)-result count job, then
      // k = max(KCells, ceil(n / TargetPerCell)) — the oracle computes
      // the identical GREATEST(ceil(count/…)) so seeds match
      val k = math.max(KCells,
        math.ceil(e.count().toDouble / TargetPerCell).toInt)
      // seed selection: global top-k by hash via orderBy+limit
      // (plans as TakeOrderedAndProject — per-partition top-k, no
      // global sort); the cid-numbering window then runs over only
      // k rows.
      val seeds = e
        .withColumn("h", md5(concat(lit("seed:"), col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id"))
        .limit(k)
      // constant-0 partition key: these windows run over <= k
      // rows post-limit, so a single partition IS the right plan —
      // the explicit key just keeps WindowExec's "no partition
      // defined / moving all data" warning out of every bench log.
      // The key must survive the optimizer (lit(0) is stripped by
      // EliminateWindowPartitions, `x * 0` by arithmetic
      // simplification); pmod(vec_id, 1) = 0 for the non-null
      // non-negative ids and is left intact.
      var cents = seeds
        .withColumn("rn", row_number().over(
          Window.partitionBy(pmod(col("vec_id"), lit(1)))
            .orderBy(col("h"), col("vec_id"))))
        .select((col("rn") - 1).as("cid"), col("v").as("cv"))
      // MAP-SIDE assignment: the codegen'd TopCells kernel scans the
      // broadcast centroid array per row and emits the single nearest
      // (cid, dist) directly — same left-to-right l2² fold and
      // (dist, cid) tie-break as the crossJoin + row_number() window
      // it replaces (bit-identical results), but nothing n×k is ever
      // materialized or shuffled: with corpus-derived k = n/1000 the
      // window form shuffles n²/1000 rows per k-means pass.
      def assign(c: DataFrame): DataFrame = {
        val carr = c.agg(collect_list(
          struct(col("cid").cast("long").as("cid"), col("cv"))).as("carr"))
        e.crossJoin(broadcast(carr))
          .withColumn("best", element_at(
            VectorFunctions.topCells(col("v"), col("carr"), 1), 1))
          // dist (to the winning centroid) rides along: q76's bounded
          // pair search ranks cell members by it
          .select(col("vec_id"), col("label"), col("v"), col("embedding"),
            col("best.cid").cast("int").as("cid"), col("best.dist").as("dist"))
      }
      for (_ <- 1 to KmIters) {
        // cut per round: the centroid relation is k rows but its
        // lineage would otherwise nest the full previous assignment
        cents = graft.Materialize.cut(assign(cents).groupBy(col("cid")).agg(
          array((0 until 64).map(i => round(avg(expr(s"v[$i]")), 6)): _*).as("cv")))
      }
      // consumed by q39 (query row + probed-cell candidates) and q76
      (cents, graft.Materialize.cut(assign(cents)))
    })

  private val hierMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame, DataFrame)]()

  /** The TWO-LEVEL deterministic quantizer (q88): Lloyd k-means over
    * k1 = max(Ivf2SuperMin, ceil(√(n/Ivf2Target))) super-cells (same
    * md5 seeding and KmIters as [[ivfModel]]), then an independent
    * Lloyd run INSIDE each super-cell over k2_s = max(1,
    * ceil(n_s/Ivf2Target)) sub-cells (seeds = the k2_s vectors ranked
    * first by md5("seed2:"||vec_id) within their super-cell).
    *
    * Scale shape: every assignment pass is map-side — super
    * assignment scans the broadcast k1-row centroid array
    * ([[graft.functions.TopCells]]); sub assignment reaches its
    * super-cell's sub-centroid array through a BROADCAST equi-join on
    * scid (the whole sub-centroid table is k1·k2 rows) and scans only
    * that array. Per-vector training cost is k1 + k2_s ≈ 2√(n/Target)
    * distances vs flat IVF's n/Target — the documented 100 TB fix.
    * The only corpus-wide shuffles are the per-(scid) seed ranking
    * (one window over skinny rows) and the centroid-update partial
    * aggregations.
    *
    * Returns (superCents (scid, cv), subCents (scid, cid2, cv),
    * assigned (vec_id, label, v, embedding, scid, cid2, dist2)). */
  private[graft] def hierModel(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) =
    hierMemo.computeIfAbsent((s, d), _ => {
      import org.apache.spark.sql.expressions.Window
      val e = graft.Materialize.cut(Tables.embeddings(s, d)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
      val n = e.count()
      val k1 = math.max(Ivf2SuperMin,
        math.ceil(math.sqrt(n.toDouble / Ivf2Target)).toInt)
      val seeds1 = e
        .withColumn("h", md5(concat(lit("seed:"), col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id"))
        .limit(k1)
        .withColumn("rn", row_number().over(
          Window.partitionBy(pmod(col("vec_id"), lit(1)))
            .orderBy(col("h"), col("vec_id"))))
        .select((col("rn") - 1).as("scid"), col("v").as("cv"))
      def assignSuper(c: DataFrame): DataFrame = {
        val carr = c.agg(collect_list(
          struct(col("scid").cast("long").as("cid"), col("cv"))).as("carr"))
        e.crossJoin(broadcast(carr))
          .withColumn("best", element_at(
            VectorFunctions.topCells(col("v"), col("carr"), 1), 1))
          .select(col("vec_id"), col("label"), col("v"), col("embedding"),
            col("best.cid").cast("int").as("scid"), col("best.dist").as("dist1"))
      }
      var cents1 = seeds1
      for (_ <- 1 to KmIters) {
        cents1 = graft.Materialize.cut(assignSuper(cents1).groupBy(col("scid")).agg(
          array((0 until 64).map(i => round(avg(expr(s"v[$i]")), 6)): _*).as("cv")))
      }
      val a1 = graft.Materialize.cut(assignSuper(cents1))
      // per-super sub-cell counts, then per-super seed ranking — one
      // window over the skinny (scid, hash, vec_id) relation
      val k2t = a1.groupBy(col("scid")).agg(greatest(lit(1L),
        ceil(count(lit(1)) / lit(Ivf2Target.toDouble))).as("k2"))
      val seeds2 = a1
        .withColumn("h", md5(concat(lit("seed2:"), col("vec_id").cast("string"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("scid")).orderBy(col("h"), col("vec_id"))))
        .join(broadcast(k2t), Seq("scid"))
        .where(col("rn") <= col("k2"))
        .select(col("scid"), (col("rn") - 1).as("cid2"), col("v").as("cv"))
      def assignSub(c2: DataFrame): DataFrame = {
        val bySc = c2.groupBy(col("scid")).agg(collect_list(
          struct(col("cid2").cast("long").as("cid"), col("cv"))).as("carr"))
        a1.join(broadcast(bySc), Seq("scid"))
          .withColumn("best", element_at(
            VectorFunctions.topCells(col("v"), col("carr"), 1), 1))
          .select(col("vec_id"), col("label"), col("v"), col("embedding"),
            col("scid"), col("best.cid").cast("int").as("cid2"),
            col("best.dist").as("dist2"))
      }
      var cents2 = seeds2
      for (_ <- 1 to KmIters) {
        cents2 = graft.Materialize.cut(assignSub(cents2)
          .groupBy(col("scid"), col("cid2")).agg(
            array((0 until 64).map(i => round(avg(expr(s"v[$i]")), 6)): _*).as("cv")))
      }
      (graft.Materialize.cut(cents1), cents2,
        graft.Materialize.cut(assignSub(cents2)))
    })

  private val pqMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  /** Deterministic product-quantizer training (q89): the corpus
    * explodes into (vec_id, j, sv) subvector rows — PqM per vector —
    * and ALL PqM codebooks train in the same jobs with the subspace
    * index j as the group key: seeds = the PqK subvectors ranked
    * first by md5("pqseed:"||j||":"||vec_id) within their subspace,
    * then KmIters assign/update rounds where assignment reaches its
    * subspace's codeword array through a broadcast equi-join on j
    * (the whole codebook table is PqM·PqK rows) and the TopCells
    * kernel scans only that array. One corpus-wide explode, map-side
    * assignment, centroid updates keyed (j, cid) — no shuffle wider
    * than the skinny subvector rows.
    *
    * Returns (codebooks (j, cid, cv), encoded (vec_id, j, cid, dist)
    * — dist = the subvector's distance to its codeword, rounded to 6
    * for order-independent reconstruction-error sums). */
  private[graft] def pqModel(s: SparkSession, d: String): (DataFrame, DataFrame) =
    pqMemo.computeIfAbsent((s, d), _ => {
      val sv = graft.Materialize.cut(Tables.embeddings(s, d)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .select(col("vec_id"),
          posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
            s"j -> slice(v, j * $PqSubDim + 1, $PqSubDim))")))
        .select(col("vec_id"), col("pos").as("j"), col("col").as("sv")))
      pqTrain(sv, "pqseed:")
    })

  /** The generic PQ trainer shared by q89 (raw subvectors) and q91
    * (coarse-residual subvectors): `sv` must carry (vec_id, j, sv);
    * any extra columns (q91's coarse ccid) ride through to the
    * encoded output untouched. Seeds, iteration count and assignment
    * tie-breaks are exactly [[pqModel]]'s, parameterized only by the
    * seed-hash prefix so the two codebook families are independent. */
  private def pqTrain(sv: DataFrame, seedPrefix: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val seeds = sv
      .withColumn("h", md5(concat(lit(seedPrefix), col("j").cast("string"),
        lit(":"), col("vec_id").cast("string"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("j")).orderBy(col("h"), col("vec_id"))))
      .where(col("rn") <= PqK)
      .select(col("j"), (col("rn") - 1).as("cid"), col("sv").as("cv"))
    def assign(c: DataFrame): DataFrame = {
      val byJ = c.groupBy(col("j")).agg(collect_list(
        struct(col("cid").cast("long").as("cid"), col("cv"))).as("carr"))
      sv.join(broadcast(byJ), Seq("j"))
        .withColumn("best", element_at(
          VectorFunctions.topCells(col("sv"), col("carr"), 1), 1))
        .withColumn("cid", col("best.cid").cast("int"))
        .withColumn("dist", col("best.dist"))
        .drop("best", "carr")
    }
    var cents = seeds
    for (_ <- 1 to KmIters) {
      cents = graft.Materialize.cut(assign(cents)
        .groupBy(col("j"), col("cid")).agg(
          array((0 until PqSubDim).map(i =>
            round(avg(expr(s"sv[$i]")), 6)): _*).as("cv")))
    }
    (cents, graft.Materialize.cut(assign(cents)
      .withColumn("dist", round(col("dist"), 6))
      .drop("sv")))
  }

  private val ivfPqMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  /** IVF-PQ training (q91) — the composition a 100 TB vector lake
    * actually runs (FAISS's IVFADC layout): vectors are coarsely
    * quantized by the shared [[ivfModel]], and PQ codebooks train on
    * the RESIDUALS v - centroid(cell) rather than the raw vectors.
    * Residuals concentrate near the origin, so the same PqM×PqK
    * codebook budget spends its resolution on the within-cell
    * displacement — reconstruction error drops vs raw-vector PQ
    * (OperatorsSpec asserts exactly that), and the query side prunes
    * to NProbe cells BEFORE touching codes. Returns
    * (codebooks (j, cid, cv), encoded (vec_id, ccid, j, cid, dist)) —
    * ccid = the coarse cell, the table's partition key at scale. */
  private[graft] def ivfPqModel(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfPqMemo.computeIfAbsent((s, d), _ => {
      val (cents, assigned) = ivfModel(s, d)
      // residuals: one broadcast join against the k-row centroid
      // table; exact double subtraction (no rounding — both engines
      // subtract the same IEEE doubles)
      val rsv = graft.Materialize.cut(assigned
        .join(broadcast(cents), Seq("cid"))
        .withColumn("r", expr("zip_with(v, cv, (x, c) -> x - c)"))
        .select(col("vec_id"), col("cid").as("ccid"),
          posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
            s"j -> slice(r, j * $PqSubDim + 1, $PqSubDim))")))
        .select(col("vec_id"), col("ccid"), col("pos").as("j"),
          col("col").as("sv")))
      pqTrain(rsv, "ipqseed:")
    })

  /** Seeded random hyperplanes — (j, i) from the first four md5 bytes
    * of "plane:j:dim:i", mapped to [-1, 1). Public data only (md5),
    * reproducible everywhere; the single source of truth lives in the
    * native kernel ([[graft.functions.HyperplaneBucket.Coef]]) and is
    * embedded as literals in the oracle SQL so both engines share the
    * exact doubles. */
  private[operators] def planeCoef: Array[Array[Double]] =
    graft.functions.HyperplaneBucket.Coef

  /** Signed projection of dims expression `v(i)` onto plane j, written
    * as an explicit left-to-right sum — identical evaluation order in
    * Spark and DuckDB gives identical sign bits. */
  private def projection(j: Int, v: Int => String): String =
    (0 until 64).map(i => s"${v(i)} * ${planeCoef(j)(i)}").mkString(" + ")

  /** Random-hyperplane LSH bucket (Spark side, over the raw float
    * array column `embedding`): the fused native kernel — the
    * declarative 8×64-term expression tree it replaces cost ~1 s of
    * codegen per fresh plan and dominated q37/q38b runtime. coalesce
    * keeps the legacy NULL-embedding → bucket 0 fold (the oracle's
    * CASE WHEN NULL > 0 yields 0 per bit). */
  private def bucketCol: Column =
    coalesce(VectorFunctions.hyperplaneBucket(col("embedding")), lit(0))

  /** Same bucket over the oracle's 1-indexed double list `v`. */
  private def bucketSql(v: String): String =
    (0 until Planes).map(j =>
      s"CASE WHEN ${projection(j, i => s"$v[${i + 1}]")} > 0 THEN ${1 << j} ELSE 0 END")
      .mkString(" + ")

  private val vecSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
  private val nrmSql = "sqrt(list_sum(list_transform(v, x -> x * x)))"
  private def cosSql(va: String, vb: String, na: String, nb: String) =
    s"round(list_sum(list_transform(range(1, 65), i -> $va[i] * $vb[i])) / ($na * $nb), 6)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-k for the query vector (vec_id = 0).
    // Plans as broadcast-nested-loop of 1 row + TakeOrderedAndProject.
    "q36_knn_brute" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"))
      e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          cos6(col("embedding"), col("q_embedding")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    },

    // ANN: same top-k but probing only the buckets within ProbeHamming
    // sign flips of the query's bucket (multi-probe LSH — recall
    // without extra hash tables; few-plane sign flips are the most
    // likely misses).
    "q37_ann_lsh" -> { (s, d) =>
      val e = Tables.embeddings(s, d).withColumn("bucket", bucketCol)
      val probes = probeMasks.map(m => expr(s"bucket ^ $m"))
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("q_embedding"),
          explode(array(probes: _*)).as("bucket"))
      e.where(col("vec_id") =!= 0)
        .join(broadcast(q), Seq("bucket"))
        .select(col("vec_id"), col("label"),
          cos6(col("embedding"), col("q_embedding")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    },

    // IVF ANN with a LEARNED coarse quantizer: deterministic Lloyd
    // k-means (seeds = the KCells vectors ranked first by
    // md5('seed:'||vec_id); KmIters assign/update rounds; centroid
    // dims rounded to 6 for reduction-order stability), then probe the
    // NProbe nearest cells and take the exact top-k within them. At
    // 100 TB the final cell id is a partition key — the probe prunes
    // the scan to ~NProbe/KCells of the corpus; training runs on a
    // sample and only the assignment pass sees the full data.
    "q39_ann_ivf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (cents, assigned) = ivfModel(s, d)
      val qrow = assigned.where(col("vec_id") === 0)
        .select(col("v").as("qv"), col("embedding").as("q_embedding"))
      val qDist = VectorFunctions.l2sq(col("qv"), col("cv"))
      // <= k rows here too — see the seed-numbering window above
      val pw = Window.partitionBy(pmod(col("cid"), lit(1)))
        .orderBy(col("qdist"), col("cid"))
      val probed = cents.crossJoin(broadcast(qrow.select(col("qv"))))
        .withColumn("qdist", qDist)
        .withColumn("prn", row_number().over(pw))
        .where(col("prn") <= NProbe)
        .select(col("cid"))
      assigned
        .join(broadcast(probed), Seq("cid"))
        .where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qrow.select(col("q_embedding"))))
        .select(col("vec_id"), col("label"),
          cos6(col("embedding"), col("q_embedding")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    },

    // Hierarchical (two-level) IVF ANN — the 100 TB form of q39:
    // probe the NProbeSuper nearest super-cells, then the NProbeSub
    // nearest sub-cells among theirs, and take the exact top-k inside
    // them. Training and assignment cost 2·√(n/Target) distances per
    // vector instead of flat IVF's n/Target (see hierModel); at scale
    // (scid, cid2) is the assignment table's partition key and the
    // probe prunes the scan to ~NProbeSub sub-cells.
    "q88_ann_ivf_hier" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (cents1, cents2, assigned) = hierModel(s, d)
      val qrow = assigned.where(col("vec_id") === 0)
        .select(col("v").as("qv"), col("embedding").as("q_embedding"))
      // constant-key windows: both centroid relations are <= k1·k2
      // rows (see the seed-numbering note in ivfModel)
      val pw1 = Window.partitionBy(pmod(col("scid"), lit(1)))
        .orderBy(col("qdist"), col("scid"))
      val probedSuper = cents1.crossJoin(broadcast(qrow.select(col("qv"))))
        .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(pw1))
        .where(col("prn") <= NProbeSuper)
        .select(col("scid"))
      val pw2 = Window.partitionBy(pmod(col("cid2"), lit(1)))
        .orderBy(col("qdist"), col("scid"), col("cid2"))
      val probedSub = cents2.join(broadcast(probedSuper), Seq("scid"))
        .crossJoin(broadcast(qrow.select(col("qv"))))
        .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(pw2))
        .where(col("prn") <= NProbeSub)
        .select(col("scid"), col("cid2"))
      assigned
        .join(broadcast(probedSub), Seq("scid", "cid2"))
        .where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qrow.select(col("q_embedding"))))
        .select(col("vec_id"), col("label"),
          cos6(col("embedding"), col("q_embedding")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(10)
    },

    // ANN RECALL@k SELF-EVALUATION — "measure, don't guess" applied
    // to the index itself: for a sample of RecallProbes query vectors,
    // compute the EXACT cosine top-k (the ground truth every recall
    // number needs — inherently one brute-force pass over the corpus
    // per probe, which is why it runs on a sample) and the IVF-probed
    // top-k, and report per-probe overlap. The exact leg's per-probe
    // top-k is SALTED two-stage (local top-k per (probe, vec-salt)
    // group, then top-k of the ≤ salt·k survivors) so no single task
    // ever sorts a probe's full candidate stream; the approx leg is
    // cell-bounded by construction. This is the query a 100 TB
    // pipeline runs after every index rebuild to decide whether
    // NProbe/k still meet the recall budget.
    "q100_ann_recall" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (cents, assigned) = ivfModel(s, d)
      val (probes, corpus) = recallSplit(assigned)
      // IVF leg: per-probe NProbe nearest cells over the broadcast
      // centroids, candidates pruned to those cells
      val cellW = Window.partitionBy(col("probe_id"))
        .orderBy(col("qdist"), col("cid"))
      val probedCells = probes.select(col("probe_id"), col("qv"))
        .crossJoin(broadcast(cents))
        .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(cellW))
        .where(col("prn") <= NProbe)
        .select(col("probe_id"), col("cid"))
      val approxCand = corpus.join(broadcast(probedCells), Seq("cid"))
      recallVsExact(probes, corpus, approxCand)
    },

    // Recall@10 of the TWO-LEVEL quantizer (q88's probe path) against
    // the same exact ground truth — at corpus scale the hierarchy is
    // the quantizer actually deployed, so it is the one whose recall
    // budget matters. Same evaluator as q100; only the candidate
    // pruning differs (super-probe → sub-probe under broadcast
    // centroid relations).
    "q100b_ann_recall_hier" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (cents1, cents2, assigned) = hierModel(s, d)
      val (probes, corpus) = recallSplit(assigned)
      val pw1 = Window.partitionBy(col("probe_id"))
        .orderBy(col("qdist"), col("scid"))
      val probedSuper = probes.select(col("probe_id"), col("qv"))
        .crossJoin(broadcast(cents1))
        .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(pw1))
        .where(col("prn") <= NProbeSuper)
        .select(col("probe_id"), col("scid"))
      val pw2 = Window.partitionBy(col("probe_id"))
        .orderBy(col("qdist"), col("scid"), col("cid2"))
      val probedSub = cents2.join(broadcast(probedSuper), Seq("scid"))
        .join(broadcast(probes.select(col("probe_id"), col("qv"))),
          Seq("probe_id"))
        .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(pw2))
        .where(col("prn") <= NProbeSub)
        .select(col("probe_id"), col("scid"), col("cid2"))
      val approxCand = corpus.join(broadcast(probedSub), Seq("scid", "cid2"))
      recallVsExact(probes, corpus, approxCand)
    },

    // Recall@10 of the PQ-ADC COMPRESSED path (q89b) — the third index
    // family's self-evaluation. ADC approximates squared-L2, so the
    // ground truth here ranks by exact L2², not cosine: the number
    // answers "what does quantizing to 8 bytes/vector cost in
    // recall", separately from what cell pruning costs (q100/q100b).
    // One broadcast lookup table per probe (P × PqM × PqK rows —
    // broadcast-sized by construction); the encoded corpus is scanned
    // once for all probes.
    "q100c_ann_recall_pq" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val P = RecallProbes
      val (cents, encoded) = pqModel(s, d)
      // the memoized double-vector relation (v per vec_id) — the
      // exact leg and the probe slices read it; cells are ignored
      val (_, vecs) = ivfModel(s, d)
      val probes = vecs.where(col("vec_id") < P)
        .select(col("vec_id").as("probe_id"), col("v").as("qv"))
      val topWd = Window.partitionBy(col("probe_id"))
        .orderBy(col("dist").asc, col("vec_id").asc)
      val saltWd = Window
        .partitionBy(col("probe_id"), pmod(col("vec_id"), lit(32)))
        .orderBy(col("dist").asc, col("vec_id").asc)
      val exact = vecs.where(col("vec_id") >= P)
        .crossJoin(broadcast(probes))
        .select(col("probe_id"), col("vec_id"),
          VectorFunctions.l2sq(col("v"), col("qv")).as("dist"))
        .withColumn("rn1", row_number().over(saltWd)).where(col("rn1") <= RecallK)
        .withColumn("rn", row_number().over(topWd)).where(col("rn") <= RecallK)
        .select(col("probe_id"), col("vec_id"))
      val q8 = probes
        .select(col("probe_id"),
          posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
            s"j -> slice(qv, j * $PqSubDim + 1, $PqSubDim))")))
        .select(col("probe_id"), col("pos").as("j"), col("col").as("qsv"))
      val dtab = cents.join(broadcast(q8), Seq("j"))
        .withColumn("qd", round(VectorFunctions.l2sq(col("qsv"), col("cv")), 6))
        .select(col("probe_id"), col("j"), col("cid"), col("qd"))
      val adcW = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
      val approx = encoded.where(col("vec_id") >= P)
        .join(broadcast(dtab), Seq("j", "cid"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("qd").cast("decimal(18,6)")).cast("double").as("adc_dist"))
        .withColumn("rn", row_number().over(adcW)).where(col("rn") <= RecallK)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(approx, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
        .withColumn("recall_at_10",
          round(col("n_overlap") / lit(RecallK.toDouble), 6))
        .orderBy(col("probe_id"))
    },

    // Product-quantization ENCODE — the storage side of a compressed
    // vector lake: each vector becomes a 64-bit code (8 subspaces ×
    // 8-bit codeword ids vs the 256-byte float payload) plus
    // its reconstruction error. Map-side assignment per subspace (see
    // pqModel); the code packs as an integer sum so the gate is
    // value-exact with no string juggling.
    "q89_pq_encode" -> { (s, d) =>
      val (_, encoded) = pqModel(s, d)
      // the 64-bit code ships as two 32-bit halves: a single 8×8-bit
      // pack overflows a SIGNED 64-bit shift for codeword ids >= 128
      // at j = 7 (DuckDB's << errors on it), and integer sums need no
      // cross-engine ordered aggregation
      encoded.groupBy(col("vec_id")).agg(
        expr("sum(CASE WHEN j < 4 THEN " +
          "shiftleft(CAST(cid AS BIGINT), 8 * j) ELSE 0 END)").as("pq_code_lo"),
        expr("sum(CASE WHEN j >= 4 THEN " +
          "shiftleft(CAST(cid AS BIGINT), 8 * (j - 4)) ELSE 0 END)").as("pq_code_hi"),
        sum(col("dist").cast("decimal(18,6)")).cast("double").as("recon_err"))
        .orderBy(col("vec_id"))
    },

    // PQ ADC top-k — the query side: distances to the query are
    // approximated from a PqM×PqK lookup table (query subvector ↔
    // codeword distances, rounded once for order-independent sums)
    // joined against the ENCODED corpus — the original floats are
    // never touched at query time. At 100 TB the encoded table is the
    // only thing scanned: 8 bytes/vector instead of 256.
    "q89b_pq_adc_topk" -> { (s, d) =>
      val (cents, encoded) = pqModel(s, d)
      pqAdcTopK(Tables.embeddings(s, d), cents, encoded)
    },

    // PERSISTED-INDEX SERVE, PQ: save the trained PQ artifacts once
    // per session (codebooks + PACKED codes + meta), then answer the
    // ADC top-k from the on-disk artifacts alone — load reads the
    // one-row meta, the codes scan unpacks the 8-byte codes map-side,
    // the floats are never touched. The oracle is q89b's SQL verbatim:
    // driver-gated proof that the "train once per corpus version"
    // lifecycle serves the same answers as the in-session model.
    "q89c_pq_serve" -> { (s, d) =>
      val dir = indexDir(s, d, "pq")
      graft.plans.PqIndex.ensureSaved(s, d, dir)
      graft.plans.PqIndex.serve(s, graft.plans.PqIndex.load(s, dir))
    },

    // PERSISTED-INDEX SERVE, IVF: the q39 twin — artifacts saved once
    // (cid-partitioned assignment + centroids + meta), then the probe
    // runs driver-side over the reloaded k-row centroid table and the
    // scan reads ONLY the probed cid partitions (static partition
    // filter — at 100 TB the unprobed cells' files are never opened).
    // Oracle = q39's SQL verbatim.
    "q39c_ivf_serve" -> { (s, d) =>
      val dir = indexDir(s, d, "ivf")
      graft.plans.IvfTopK.ensureSaved(s, d, dir)
      graft.plans.IvfTopK.serveTopK(s, dir)
    },

    // STREAMING ONLINE ANN — the {batch, streaming} maintenance matrix
    // extended to the VECTOR index: embeddings ARRIVE in ordered
    // micro-batches, and each foreachBatch callback (a) probes the
    // assignment table AS IT STANDS for its own top-k neighbors
    // (per-probe NProbe cells under the broadcast centroid table, the
    // q100 pruning), then (b) assigns itself to the FIXED quantizer
    // (the exact IvfTopK.appendCommit arithmetic) and appends into the
    // cid partitions before the next trigger. So batch 2's probes can hit
    // batch 1's vectors but never their own batch — the online
    // "search then index" shape of an embedding landing pipeline
    // (retrieval dedup, streaming RAG corpora). The quantizer is
    // trained ONCE (the production contract: train on a corpus
    // sample, reuse across arrivals); the resident assignment starts
    // as the vec_id%10≠0 population. Oracle = per-batch top-k over
    // residents ∪ strictly-earlier arrivals, path dependence unrolled
    // in SQL — ranked by the same rounded cosine, so ranks hash-match.
    // Scale: per batch the work is probes × NProbe cells of
    // candidates (file-pruned by the cid partition layout) + one
    // batch-sized cid-shuffled append — never a corpus pass.
    "q121s_stream_ann_ingest" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dir = indexDir(s, d, "ivf")
      graft.plans.IvfTopK.ensureSaved(s, d, dir)
      val staging = graft.Fs.createStagingDir(s, "graft-q121s")
      try {
        val assignPath = s"$staging/assignment"
        val resultsDir = s"$staging/results"
        org.apache.hadoop.fs.FileSystem.get(new java.net.URI(resultsDir),
            s.sparkContext.hadoopConfiguration)
          .mkdirs(new org.apache.hadoop.fs.Path(resultsDir))
        // resident-only assignment start, write-sized-for-read, read
        // through the committed index's manifest (no directory listing)
        graft.plans.Tombstoned.live(s, s"$dir/assignment", "vec_id")
          .where(pmod(col("vec_id"), lit(10)) =!= 0)
          .repartition(col("cid"))
          .write.partitionBy("cid").parquet(assignPath)
        val cents = s.read.parquet(s"$dir/centroids")
        val embCols = Tables.embeddings(s, d).schema.fieldNames.toSeq
        val feed = Tables.embeddings(s, d)
          .where(pmod(col("vec_id"), lit(10)) === 0)
          .withColumn("batch",
            (pmod(col("vec_id"), lit(30)) / 10 + 1).cast("int"))
        val resultSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("probe_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rnk",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cos",
            org.apache.spark.sql.types.DoubleType)))
        graft.streaming.Replay.runBatchedForeach(s, feed, "batch",
          batches = 3, stageKey = Some(s"q121s:$d")) { batch =>
          val rows = graft.Materialize.cut(batch.drop("batch"))
          val probes = rows.select(col("vec_id").as("probe_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"),
            col("embedding").as("q_embedding"))
          val cellW = Window.partitionBy(col("probe_id"))
            .orderBy(col("qdist"), col("cid"))
          val probedCells = probes.select(col("probe_id"), col("qv"))
            .crossJoin(broadcast(cents))
            .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
            .withColumn("prn", row_number().over(cellW))
            .where(col("prn") <= NProbe)
            .select(col("probe_id"), col("cid"))
          val topW = Window.partitionBy(col("probe_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)
          // serve FIRST, against the index as it stands
          s.read.parquet(assignPath)
            .join(broadcast(probedCells), Seq("cid"))
            .join(broadcast(probes.select(col("probe_id"),
              col("q_embedding"))), Seq("probe_id"))
            .withColumn("cos", cos6(col("embedding"), col("q_embedding")))
            .withColumn("rnk", row_number().over(topW))
            .where(col("rnk") <= RecallK)
            .select(col("probe_id"), col("rnk"), col("vec_id"), col("cos"))
            .write.mode("append").parquet(resultsDir)
          // then absorb the batch: map-side assignment under the
          // broadcast centroid array, cid-partitioned append
          val carr = cents.agg(collect_list(struct(
            col("cid").cast("long").as("cid"), col("cv"))).as("carr"))
          rows
            .withColumn("v",
              expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
            .crossJoin(broadcast(carr))
            .withColumn("cid", element_at(
              VectorFunctions.topCells(col("v"), col("carr"), 1), 1)
              .getField("cid").cast("int"))
            .select(embCols.map(col) :+ col("cid"): _*)
            .repartition(col("cid"))
            .write.mode("append").partitionBy("cid").parquet(assignPath)
          graft.Materialize.release(rows)
        }
        graft.Materialize.cut(
          s.read.schema(resultSchema).parquet(resultsDir))
          .orderBy(col("probe_id"), col("rnk"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // IVF CENTROID REFRESH — the drift-maintenance leg that completes
    // the vector-index lifecycle {save, append, delete, purge, serve,
    // REFRESH}: after enough appends the trained centroids no longer
    // sit at their cells' means, so recall decays. One Lloyd round
    // against the CURRENT membership of a committed clone of the
    // saved index: new centroids = per-cell dimension means (the
    // exact ivfModel update arithmetic), then a map-side reassignment
    // under the broadcast refreshed centroids — and ONLY the cells
    // that lose a mover are rewritten, as new files the v2 manifest
    // selects (copy-on-write; cells with no movers carry their v1
    // files into v2, asserted in ScaleShapeSpec). The output reads
    // new_cid from the COMMITTED v2, so the oracle gate proves the
    // disk mutation equals the reassignment — not just that the
    // arithmetic matches. Oracle =
    // the kmeans CTE chain extended by exactly one update+assign
    // round. Scale: the update is one map-side-combined groupBy(cid)
    // over (k × 64) partial means; the move volume is the DRIFT, not
    // the corpus — the production cadence refreshes when moved-share
    // crosses a threshold, and this query reports that share.
    "q122_ivf_refresh" -> { (s, d) =>
      val dir = indexDir(s, d, "ivf")
      graft.plans.IvfTopK.ensureSaved(s, d, dir)
      val staging = graft.Fs.createStagingDir(s, "graft-q122")
      try {
        // a committed clone: the saved assignment carries its manifests
        val assignPath = s"$staging/assignment"
        graft.Fs.copyDir(s, s"$dir/assignment", assignPath)
        refreshAssignmentCommit(s, assignPath, s"$staging/centroids")._2
          .orderBy(col("vec_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // IVF-PQ ADC top-k — the full 100 TB retrieval architecture in
    // one query (FAISS IVFADC): coarse-probe the NProbe nearest
    // cells, compute one ADC lookup table PER PROBED CELL from the
    // query's residual against that cell's centroid, and approximate
    // distances over the ENCODED corpus pruned to the probed cells.
    // The (ccid, j, cid) broadcast join does both the cell prune and
    // the table lookup; at scale ccid is the encoded table's
    // partition key, so the probe prunes the scan to ~NProbe/k of
    // the corpus AND each scanned vector costs 8 code bytes + PqM
    // table lookups — never a float vector at query time.
    "q91_ivfpq_adc_topk" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val (cents, assigned) = ivfModel(s, d)
      val (cbooks, encoded) = ivfPqModel(s, d)
      val qrow = assigned.where(col("vec_id") === 0).select(col("v").as("qv"))
      // <= k rows under this window — see the q39 seed-numbering note
      val pw = Window.partitionBy(pmod(col("cid"), lit(1)))
        .orderBy(col("qdist"), col("cid"))
      val probed = cents.crossJoin(broadcast(qrow))
        .withColumn("qdist", VectorFunctions.l2sq(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(pw))
        .where(col("prn") <= NProbe)
        .select(col("cid").as("ccid"),
          expr("zip_with(qv, cv, (x, c) -> x - c)").as("rq"))
      val rq8 = probed.select(col("ccid"),
          posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
            s"j -> slice(rq, j * $PqSubDim + 1, $PqSubDim))")))
        .select(col("ccid"), col("pos").as("j"), col("col").as("qsv"))
      // NProbe × PqM × PqK rows — broadcast-sized by construction
      val dtab = cbooks.join(broadcast(rq8), Seq("j"))
        .withColumn("qd", round(VectorFunctions.l2sq(col("qsv"), col("cv")), 6))
        .select(col("ccid"), col("j"), col("cid"), col("qd"))
      encoded.where(col("vec_id") =!= 0)
        .join(broadcast(dtab), Seq("ccid", "j", "cid"))
        .groupBy(col("vec_id"))
        .agg(sum(col("qd").cast("decimal(18,6)")).cast("double").as("adc_dist"))
        .orderBy(col("adc_dist").asc, col("vec_id").asc)
        .limit(10)
    },

    // k-NN similarity JOIN — top-k neighbors for EVERY row, the
    // pipeline-scale ANN shape (dedup candidate generation, retrieval
    // augmentation): q36/q37/q39 answer one lookup vector; this
    // answers all of them in one relational pass, and NEVER
    // corpus x corpus. See [[knnJoin]] for the shape.
    "q86_knn_join" -> { (s, d) => knnJoin(s, d, CellCap) },

    // The same join with the chunk cap forced small (KnnCapGate) so
    // the oversized-cell code path — rank-chunking + adjacent-chunk
    // probing — is what the sf0.01 oracle gate actually executes and
    // hash-checks, rather than a branch that only fires on skew.
    "q86b_knn_join_capped" -> { (s, d) => knnJoin(s, d, KnnCapGate) },

    // HYBRID RETRIEVAL with the fresh BM25 leg — see [[hybridSearch]].
    "q97_hybrid_search" -> { (s, d) =>
      hybridSearch(s, d, TextAnalysis.bm25Agg(s, d))
    },

    // The same fusion with the LEXICAL leg served from the persisted
    // BM25 index ([[graft.plans.Bm25Index]]): the corpus is tokenized
    // and aggregated once into term-bucketed postings, and the query
    // touches only its terms' buckets — the production RAG shape,
    // where the lexical index is built per corpus version like the
    // PQ/IVF ones. Oracle = q97's SQL verbatim (shared scorer ⇒
    // bit-identical scores).
    "q97b_hybrid_served" -> { (s, d) =>
      val dir = indexDir(s, d, "bm25")
      graft.plans.Bm25Index.ensureSaved(s, d, dir)
      hybridSearch(s, d, graft.plans.Bm25Index.serve(
        s, graft.plans.Bm25Index.load(s, dir), TextAnalysis.Bm25QueryTerms))
    },

    // HARD-NEGATIVE MINING for contrastive embedding training: for
    // every anchor vector, the top-k most-similar vectors whose label
    // DIFFERS from the anchor's — q86's cell-bounded join with the
    // label exclusion applied before the top-k stages (a post-filtered
    // k-NN list would under-fill exactly the anchors whose
    // neighborhoods are same-label, the ones the miner exists for).
    "q96_hard_negatives" -> { (s, d) =>
      knnJoinFiltered(s, d, CellCap, excludeSameLabel = true)
        .withColumnRenamed("nn_rank", "hn_rank")
        .withColumnRenamed("nn_id", "neg_id")
        .withColumnRenamed("nn_label", "neg_label")
        .orderBy(col("vec_id"), col("hn_rank"))
    },

    // Embedding-cosine near-dup pairs, blocked by label.
    "q38_embed_neardup" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val a = e.select(col("vec_id").as("vec_a"), col("label"),
        col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("label"),
        col("embedding").as("emb_b"))
      a.join(b, Seq("label"))
        .where(col("vec_a") < col("vec_b"))
        .withColumn("cos", cos6(col("emb_a"), col("emb_b")))
        .where(col("cos") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("label"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // Embedding near-dup with DATA-DERIVED blocking: candidates share
    // an LSH bucket (the same seeded hyperplane signs as q37) instead
    // of a ground-truth label — the honest 100 TB formulation, since a
    // raw crawl has no labels. One equi-join on the bucket key, never
    // a global cross join; the kernel runs only inside buckets.
    "q38b_embed_neardup_lsh" -> { (s, d) =>
      // materialize once: the 8×64-mult bucketing feeds both join legs
      val e = graft.Materialize.cut(Tables.embeddings(s, d)
        .withColumn("bucket", bucketCol))
      val a = e.select(col("vec_id").as("vec_a"), col("bucket"),
        col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("bucket"),
        col("embedding").as("emb_b"))
      a.join(b, Seq("bucket"))
        .where(col("vec_a") < col("vec_b"))
        .withColumn("cos", cos6(col("emb_a"), col("emb_b")))
        .where(col("cos") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("bucket"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // INT8 quantization — the storage/bandwidth op of a 100 TB vector
    // lake: 4x smaller embeddings (plus a per-vector scale) before
    // ANN probing or shipping to trainers. Symmetric absmax scheme:
    // scale = max|x|/127, q_i = floor(x_i/scale + 0.5). Map-only, one
    // pass; every arithmetic step (fold-max, divide, floor) is
    // IEEE-identical in both engines, so the oracle hash-checks the
    // full quantized payload via a canonical digest. floor(x + 0.5)
    // is used instead of round() to pin down half-way behavior
    // identically everywhere.
    "q80_quantize_int8" -> { (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("amax",
          expr("aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
        .withColumn("scale", col("amax") / lit(127.0))
        .withColumn("q", expr(
          "transform(v, x -> CAST(floor(CASE WHEN scale = 0.0 THEN 0.0 " +
            "ELSE x / scale END + 0.5) AS INT))"))
        .withColumn("q_digest",
          md5(expr("array_join(transform(q, x -> CAST(x AS STRING)), ',')")))
        .withColumn("n_clipped",
          expr("size(filter(q, x -> x > 127 OR x < -127))"))
        .select(col("vec_id"), round(col("scale"), 9).as("scale"),
          col("q_digest"), col("n_clipped"))
        .orderBy(col("vec_id"))
    },

    // SEMANTIC dedup (the SemDeDup shape): cluster the embedding space
    // with the SAME trained k-means quantizer as IVF, then within each
    // cell drop any vector whose cosine to a lower-id cell-mate
    // reaches the near-dup threshold — keep exactly the id-minimal
    // representative of every near-dup neighborhood. The pair search
    // never leaves a cell (cid is the partition key at 100 TB), the
    // quadratic is HARD-bounded per cell by rank-chunking (see
    // cellBoundedCandidates — k scales with corpus size AND any
    // skewed mega-cell is chunked at CellCap), and the keep rule is
    // one anti-join pass, not an iterative clustering.
    "q76_semantic_dedup" -> { (s, d) => semanticKept(s, d, CellCap) },

    // The same operator with the chunk cap forced small (CellCapGate)
    // so the oversized-cell code path — rank-chunking + adjacent-chunk
    // probing — is what the sf0.01 oracle gate actually executes and
    // hash-checks, rather than a branch that only fires on skew.
    "q76b_semantic_dedup_capped" -> { (s, d) => semanticKept(s, d, CellCapGate) },

    // IVF INDEX TIME TRAVEL — the vector family's snapshot lifecycle
    // (q109's shape, per the round-13 advice): the committed-v1 index
    // is trained on the resident population (vec_id % 10 ≠ 9, a
    // pre-staged clone), the % 10 = 9 slice is APPENDED — assigned
    // map-side to the FIXED quantizer, landing only in its cid
    // partitions — and committed as v2; ONE query vector then serves
    // q39's probed top-10 as-of BOTH versions. The v1 leg must be
    // blind to the appended vectors even though their files sit in the
    // same cid directories — the manifest, not the listing, defines
    // the scan. Oracle: the k-means chain over the v1 population, the
    // appended slice assigned to the final centroids, one probed
    // top-10 per version. Scale: an as-of read is a manifest listing
    // choice; both legs keep the cid partition pruning (basePath), and
    // the append itself is the dynamic-partition file addition.
    "q130_ivf_timetravel" -> { (s, d) =>
      import graft.plans.{IvfTopK, Snapshots}
      val staging = takeIvfSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/assignment").get
        val v2 = IvfTopK.appendCommit(s, idxDir,
          Tables.embeddings(s, d)
            .where(pmod(col("vec_id"), lit(10)) === 9))
        def leg(v: Int, tag: Int) =
          IvfTopK.serveTopKAsOf(s, idxDir, v)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2)))
          .select(col("version"), col("vec_id"), col("label"), col("cos"))
          .orderBy(col("version"), col("cos").desc, col("vec_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // SNAPSHOT-PRESERVING CENTROID REFRESH — q122's drift maintenance
    // over the resident-slice index of the snapshot queries: the Lloyd
    // round, the map-side reassignment and the copy-on-write commit
    // are q122's exactly — losing cells REWRITE their survivors as new
    // sibling files and movers append into their new cells, with the
    // next manifest selecting [unlosing cells' v1 files + the new
    // files] — version 1 stays byte-identical (tested) while the
    // refreshed layout commits as version 2, and write amplification
    // is the touched cells, never the corpus. new_cid is re-read from
    // the COMMITTED v2 layout, so the oracle gate proves the manifest
    // mutation composes to exactly one update+assign k-means round.
    "q133_refresh_timetravel" -> { (s, d) =>
      val staging = takeIvfSnapClone(s, d)
      try {
        val (_, delta) = refreshAssignmentCommit(s,
          s"$staging/idx/assignment", s"$staging/ncents")
        // materialized (cut) before the finally reclaims the staging
        delta.select(col("vec_id"), col("old_cid"), col("new_cid"),
            col("moved"))
          .orderBy(col("vec_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // PQ INDEX TIME TRAVEL — q130's shape for the PRODUCT-QUANTIZED
    // family, completing snapshot isolation across all four persisted
    // index families (MinHash q109/q113, BM25 q129, IVF q130, PQ
    // here): the committed-v1 codes table (codebooks trained on the
    // resident slice) absorbs an append — new vectors ENCODED under
    // the existing codebooks map-side, packed to the 8-byte layout,
    // landing as new files — and commits v2; the ADC top-10 then
    // serves as-of both versions. The codes table is the one
    // corpus-sized artifact, so version pinning is exactly a file-set
    // choice over it; codebooks/meta never change on append. Oracle:
    // the PQ training chain over the v1 population, the appended slice
    // encoded against the final codebooks, one ADC top-10 per version.
    "q131_pq_timetravel" -> { (s, d) =>
      import graft.plans.{PqIndex, Snapshots}
      val staging = takePqSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/codes").get
        val v2 = PqIndex.appendCommit(s, idxDir,
          Tables.embeddings(s, d)
            .where(pmod(col("vec_id"), lit(10)) === 9)
            .select(col("vec_id"), col("embedding")))
        def leg(v: Int, tag: Int) =
          PqIndex.serveAsOf(s, idxDir, v).withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2)))
          .select(col("version"), col("vec_id"), col("adc_dist"))
          .orderBy(col("version"), col("adc_dist"), col("vec_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // COMMITTED IVF INDEX ROW-LEVEL DELETE — q138's tombstone + purge
    // shape for the vector family (r15 verdict #3: the in-place delete
    // is refused on committed datasets, so a committed IVF index had
    // no erasure path): the resident % 7 = 0 slice (query vector
    // exempt) tombstones as ONE appended file inside the manifested
    // tree (v2 — nothing rewritten, deletion never retrains), then a
    // COW purge rewrites ONLY the cid partitions holding tombstoned
    // vectors — locality is even better than the band index's, each
    // vector lives in exactly one cell — and drops the list (v3). The
    // probed top-10 serves as-of all three versions: v1 still sees the
    // deleted vectors (time travel through the delete), v2 = the
    // survivor index (merge-on-read), v3 ≡ v2 (the purge is purely
    // physical). Oracle: the k-means chain over the v1 population,
    // probed top-10 per version population.
    "q143_ivf_snapshot_delete" -> { (s, d) =>
      import graft.plans.{IvfTopK, Snapshots}
      val staging = takeIvfSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/assignment").get
        val v2 = IvfTopK.deleteCommit(s, idxDir,
          Tables.embeddings(s, d)
            .where(pmod(col("vec_id"), lit(10)) =!= 9 &&
              pmod(col("vec_id"), lit(7)) === 0 && col("vec_id") =!= 0)
            .select(col("vec_id")))
        val v3 = IvfTopK.purgeCommit(s, idxDir)
        def leg(v: Int, tag: Int) =
          IvfTopK.serveTopKAsOf(s, idxDir, v)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2))
            .unionByName(leg(v3, 3)))
          .select(col("version"), col("vec_id"), col("label"), col("cos"))
          .orderBy(col("version"), col("cos").desc, col("vec_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // COMMITTED PQ INDEX ROW-LEVEL DELETE — the erasure path for the
    // LAST index family without one: tombstones append under
    // codes/deletes/ (v2), the COW purge rewrites only the code FILES
    // holding tombstoned rows (the codes table is flat — file
    // granularity is the locality unit, the unpartitioned-table MoR
    // trade) and drops the list (v3). ADC top-10 as-of all three
    // versions; codebooks never change, so survivor distances are
    // bit-identical across versions. Oracle: the PQ training chain
    // over the v1 population, ADC top-10 per version population.
    "q144_pq_snapshot_delete" -> { (s, d) =>
      import graft.plans.{PqIndex, Snapshots}
      val staging = takePqSnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, s"$idxDir/codes").get
        val v2 = PqIndex.deleteCommit(s, idxDir,
          Tables.embeddings(s, d)
            .where(pmod(col("vec_id"), lit(10)) =!= 9 &&
              pmod(col("vec_id"), lit(7)) === 0 && col("vec_id") =!= 0)
            .select(col("vec_id")))
        val v3 = PqIndex.purgeCommit(s, idxDir)
        def leg(v: Int, tag: Int) =
          PqIndex.serveAsOf(s, idxDir, v).withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2))
            .unionByName(leg(v3, 3)))
          .select(col("version"), col("vec_id"), col("adc_dist"))
          .orderBy(col("version"), col("adc_dist"), col("vec_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },
  )

  /** The RESIDENT embeddings slice (vec_id % 10 ≠ 9) staged as its own
    * table ONCE per (session, sfDir) — the shared training population
    * of the snapshot-lifecycle queries (q130 IVF, q131 PQ); every
    * snapshot clone's meta points here read-only. */
  private val residentEmbMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def residentEmbDir(s: SparkSession, d: String): String =
    residentEmbMemo.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-emb-resident")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      Tables.embeddings(s, d)
        .where(pmod(col("vec_id"), lit(10)) =!= 9)
        .write.parquet(s"$dir/embeddings.parquet")
      dir
    })

  /** Pristine committed-v1 IVF snapshot index for q130 — trained on
    * [[residentEmbDir]]'s population, saved + manifest-committed ONCE
    * per (session, sfDir); q130 invocations mutate byte-copies of it. */
  private val ivfSnapMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def ivfSnapDir(s: SparkSession, d: String): String =
    ivfSnapMemo.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-ivf-snapsrc")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      graft.plans.IvfTopK.ensureSaved(s, residentEmbDir(s, d), s"$dir/idx")
      dir
    })

  /** Pristine committed-v1 PQ snapshot index for q131 — codebooks
    * trained on [[residentEmbDir]]'s population, codes saved +
    * manifest-committed ONCE per (session, sfDir); q131 invocations
    * mutate byte-copies of it. */
  private val pqSnapMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def pqSnapDir(s: SparkSession, d: String): String =
    pqSnapMemo.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-pq-snapsrc")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      graft.plans.PqIndex.ensureSaved(s, residentEmbDir(s, d), s"$dir/idx")
      dir
    })

  private val stagedIvfSnapClones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Pre-stage `n` byte-copies of the committed-v1 IVF snapshot index
    * UNTIMED ([[graft.Bench.staging]], `ivf-snap` row): the training +
    * save + v1 commit
    * is a shared immutable artifact; what q130 demonstrates (and
    * times) is the append, the v2 commit and the dual as-of serves. */
  def stageIvfSnapClones(s: SparkSession, d: String, n: Int): Unit = {
    val src = ivfSnapDir(s, d)
    val q = stagedIvfSnapClones.computeIfAbsent((s, d),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
    for (_ <- q.size until n) {
      val staging = graft.Fs.createStagingDir(s, "graft-ivf-snapclone")
      graft.Fs.copyDir(s, s"$src/idx", s"$staging/idx")
      q.add(staging)
    }
  }

  /** Pop a pre-staged snapshot clone or copy inline (Verify /
    * standalone). The returned root holds `idx/` with manifest v1
    * already committed. */
  private def takeIvfSnapClone(s: SparkSession, d: String): String = {
    val q = stagedIvfSnapClones.get((s, d))
    val pre = if (q == null) null else q.poll()
    if (pre != null) pre
    else {
      val staging = graft.Fs.createStagingDir(s, "graft-ivf-snapclone")
      graft.Fs.copyDir(s, s"${ivfSnapDir(s, d)}/idx",
        s"$staging/idx")
      staging
    }
  }

  private val stagedPqSnapClones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Pre-stage `n` byte-copies of the committed-v1 PQ snapshot index
    * UNTIMED ([[graft.Bench.staging]], `pq-snap` row) — the q130
    * accounting applied to
    * the PQ family. */
  def stagePqSnapClones(s: SparkSession, d: String, n: Int): Unit = {
    val src = pqSnapDir(s, d)
    val q = stagedPqSnapClones.computeIfAbsent((s, d),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
    for (_ <- q.size until n) {
      val staging = graft.Fs.createStagingDir(s, "graft-pq-snapclone")
      graft.Fs.copyDir(s, s"$src/idx", s"$staging/idx")
      q.add(staging)
    }
  }

  /** Pop a pre-staged PQ snapshot clone or copy inline. */
  private def takePqSnapClone(s: SparkSession, d: String): String = {
    val q = stagedPqSnapClones.get((s, d))
    val pre = if (q == null) null else q.poll()
    if (pre != null) pre
    else {
      val staging = graft.Fs.createStagingDir(s, "graft-pq-snapclone")
      graft.Fs.copyDir(s, s"${pqSnapDir(s, d)}/idx",
        s"$staging/idx")
      staging
    }
  }

  def oracle: Map[String, String] = {
    val base =
      s"""WITH e AS (
         |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
         |n AS (SELECT vec_id, label, v, $nrmSql AS nrm FROM e)""".stripMargin
    // shared k-means CTE chain (mirrors ivfModel stage for stage):
    // seeds -> KmIters assign/update rounds -> final assignment `fin`
    val centDims = (1 to 64).map(i => s"round(avg(v[$i]), 6)").mkString(", ")
    def distSql(v: String, cv: String) =
      s"list_sum(list_transform(range(1, 65), i -> ($v[i] - $cv[i]) * ($v[i] - $cv[i])))"
    def assignCte(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, label, v, nrm, cid, dist FROM (
         |    SELECT e.vec_id, e.label, e.v, e.nrm, c.cid,
         |      ${distSql("e.v", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${distSql("e.v", "c.cv")}, c.cid) AS arn
         |    FROM n e CROSS JOIN $cents c) WHERE arn = 1)""".stripMargin
    val iterCtes = (1 to KmIters).map { it =>
      s"""${assignCte(s"cents${it - 1}", s"a$it")},
         |cents$it AS (SELECT cid, [$centDims] AS cv FROM a$it GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val kmeansCtes =
      s"""sd AS (
         |  SELECT v, rn - 1 AS cid FROM (
         |    SELECT v, row_number() OVER (
         |      ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM n)
         |  WHERE rn <= (SELECT GREATEST($KCells,
         |    CAST(ceil(COUNT(*) / $TargetPerCell.0) AS BIGINT)) FROM n)),
         |cents0 AS (SELECT cid, v AS cv FROM sd),
         |$iterCtes,
         |${assignCte(s"cents$KmIters", "fin")}""".stripMargin
    // mirrors cellBoundedCandidates + semanticKept: rank cell members
    // by (dist-to-final-centroid, vec_id), chunk at `cap`, probe own +
    // adjacent chunks only when the cell is over the cap
    def semdedupSql(cap: Int) =
      s"""$base,
         |$kmeansCtes,
         |rk AS (
         |  SELECT vec_id, v, nrm, cid,
         |    row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cid) AS cnt
         |  FROM fin),
         |ck AS (
         |  SELECT *, CAST(floor((rn - 1.0) / $cap) AS BIGINT) AS chunk FROM rk),
         |ae AS (
         |  SELECT ck.vec_id, ck.v, ck.nrm, ck.cid, ck.chunk + o.off AS pc
         |  FROM ck CROSS JOIN (VALUES (-1), (0), (1)) AS o(off)
         |  WHERE ck.cnt > $cap OR o.off = 0),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM ae a JOIN ck b
         |    ON a.cid = b.cid AND a.pc = b.chunk AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.4)
         |SELECT f.vec_id, CAST(f.cid AS BIGINT) AS cid,
         |       d.vec_id IS NULL AS kept
         |FROM fin f LEFT JOIN dropped d ON f.vec_id = d.vec_id
         |ORDER BY f.vec_id""".stripMargin
    // mirrors hierModel stage for stage: global k1-cell k-means
    // (seed:, KmIters rounds), per-super sub-cell counts, per-super
    // seed2: ranking, per-super k-means (the sub chain joins on scid
    // so every window/update stays inside its super-cell), then the
    // two-level probe
    val hierK1Sql = s"(SELECT GREATEST($Ivf2SuperMin, " +
      s"CAST(ceil(sqrt(COUNT(*) / $Ivf2Target.0)) AS BIGINT)) FROM n)"
    def assignSuperCte(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, label, v, nrm, scid FROM (
         |    SELECT e.vec_id, e.label, e.v, e.nrm, c.scid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${distSql("e.v", "c.cv")}, c.scid) AS arn
         |    FROM n e CROSS JOIN $cents c) WHERE arn = 1)""".stripMargin
    def assignSubCte(cents: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, label, v, nrm, scid, cid2 FROM (
         |    SELECT f.vec_id, f.label, f.v, f.nrm, f.scid, c.cid2,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${distSql("f.v", "c.cv")}, c.cid2) AS arn
         |    FROM hfin1 f JOIN $cents c ON f.scid = c.scid) WHERE arn = 1)""".stripMargin
    val superIterCtes = (1 to KmIters).map { it =>
      s"""${assignSuperCte(s"hc${it - 1}", s"ha$it")},
         |hc$it AS (SELECT scid, [$centDims] AS cv FROM ha$it GROUP BY scid)""".stripMargin
    }.mkString(",\n")
    val subIterCtes = (1 to KmIters).map { it =>
      s"""${assignSubCte(s"cc${it - 1}", s"ca$it")},
         |cc$it AS (SELECT scid, cid2, [$centDims] AS cv
         |  FROM ca$it GROUP BY scid, cid2)""".stripMargin
    }.mkString(",\n")
    val hierCtes =
      s"""sd1 AS (
         |  SELECT v, rn - 1 AS scid FROM (
         |    SELECT v, row_number() OVER (
         |      ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM n)
         |  WHERE rn <= $hierK1Sql),
         |hc0 AS (SELECT scid, v AS cv FROM sd1),
         |$superIterCtes,
         |${assignSuperCte(s"hc$KmIters", "hfin1")},
         |k2t AS (SELECT scid, GREATEST(1,
         |    CAST(ceil(COUNT(*) / $Ivf2Target.0) AS BIGINT)) AS k2
         |  FROM hfin1 GROUP BY scid),
         |sd2 AS (
         |  SELECT r.scid, r.rn - 1 AS cid2, r.v AS cv FROM (
         |    SELECT scid, v, row_number() OVER (PARTITION BY scid
         |      ORDER BY md5('seed2:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM hfin1) r JOIN k2t ON r.scid = k2t.scid
         |  WHERE r.rn <= k2t.k2),
         |cc0 AS (SELECT scid, cid2, cv FROM sd2),
         |$subIterCtes,
         |${assignSubCte(s"cc$KmIters", "hfin2")}""".stripMargin
    // mirrors pqModel stage for stage: subvector explode, per-subspace
    // md5 seeds, KmIters assign/update rounds keyed (j, cid), final
    // encode with the per-subspace distance rounded once
    val pqDims = (1 to PqSubDim).map(i => s"round(avg(sv[$i]), 6)").mkString(", ")
    def pqDistSql(a: String, c: String) =
      s"list_sum(list_transform(range(1, ${PqSubDim + 1}), " +
        s"i -> ($a[i] - $c[i]) * ($a[i] - $c[i])))"
    def pqAssignCte(cents: String, out: String, fin: Boolean) = {
      val sel = if (fin) "vec_id, j, cid, round(dist, 6) AS dist"
        else "vec_id, j, sv, cid"
      s"""$out AS (
         |  SELECT $sel FROM (
         |    SELECT a.vec_id, a.j, a.sv, c.cid, ${pqDistSql("a.sv", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY a.vec_id, a.j
         |        ORDER BY ${pqDistSql("a.sv", "c.cv")}, c.cid) AS arn
         |    FROM sv8 a JOIN $cents c ON a.j = c.j) WHERE arn = 1)""".stripMargin
    }
    val pqIterCtes = (1 to KmIters).map { it =>
      s"""${pqAssignCte(s"pc${it - 1}", s"pa$it", fin = false)},
         |pc$it AS (SELECT j, cid, [$pqDims] AS cv FROM pa$it GROUP BY j, cid)""".stripMargin
    }.mkString(",\n")
    val pqCtes =
      s"""sv8 AS (
         |  SELECT vec_id, j, list_slice(v, j * $PqSubDim + 1,
         |    j * $PqSubDim + $PqSubDim) AS sv
         |  FROM n, range(0, $PqM) t(j)),
         |pqs AS (
         |  SELECT j, rn - 1 AS cid, sv AS cv FROM (
         |    SELECT j, sv, row_number() OVER (PARTITION BY j
         |      ORDER BY md5('pqseed:' || CAST(j AS VARCHAR) || ':' ||
         |        CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM sv8) WHERE rn <= $PqK),
         |pc0 AS (SELECT j, cid, cv FROM pqs),
         |$pqIterCtes,
         |${pqAssignCte(s"pc$KmIters", "pfin", fin = true)}""".stripMargin
    // mirrors ivfPqModel stage for stage: residuals against the final
    // coarse centroids, subvector explode, the same PQ chain under
    // the 'ipqseed:' hash family with the coarse ccid riding through
    def ipqAssignCte(cents: String, out: String, fin: Boolean) = {
      val sel = if (fin) "vec_id, ccid, j, cid, round(dist, 6) AS dist"
        else "vec_id, ccid, j, sv, cid"
      s"""$out AS (
         |  SELECT $sel FROM (
         |    SELECT a.vec_id, a.ccid, a.j, a.sv, c.cid,
         |      ${pqDistSql("a.sv", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY a.vec_id, a.j
         |        ORDER BY ${pqDistSql("a.sv", "c.cv")}, c.cid) AS arn
         |    FROM rsv8 a JOIN $cents c ON a.j = c.j) WHERE arn = 1)""".stripMargin
    }
    val ipqIterCtes = (1 to KmIters).map { it =>
      s"""${ipqAssignCte(s"ic${it - 1}", s"ia$it", fin = false)},
         |ic$it AS (SELECT j, cid, [$pqDims] AS cv FROM ia$it GROUP BY j, cid)""".stripMargin
    }.mkString(",\n")
    val ivfPqCtes =
      s"""rs AS (
         |  SELECT f.vec_id, f.cid AS ccid,
         |    list_transform(range(1, 65), i -> f.v[i] - c.cv[i]) AS r
         |  FROM fin f JOIN cents$KmIters c ON f.cid = c.cid),
         |rsv8 AS (
         |  SELECT vec_id, ccid, j, list_slice(r, j * $PqSubDim + 1,
         |    j * $PqSubDim + $PqSubDim) AS sv
         |  FROM rs, range(0, $PqM) t(j)),
         |ipqs AS (
         |  SELECT j, rn - 1 AS cid, sv AS cv FROM (
         |    SELECT j, sv, row_number() OVER (PARTITION BY j
         |      ORDER BY md5('ipqseed:' || CAST(j AS VARCHAR) || ':' ||
         |        CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM rsv8) WHERE rn <= $PqK),
         |ic0 AS (SELECT j, cid, cv FROM ipqs),
         |$ipqIterCtes,
         |${ipqAssignCte(s"ic$KmIters", "ifin", fin = true)}""".stripMargin
    // mirrors knnProbes + knnBoundedCandidates + knnJoin: every
    // vector's NProbe nearest cells, all probe rows of a cell ranked
    // by (qdist, vec_id) and chunked at `cap`, probes meet member
    // rows (prn = 1 — the Spark side's pos 0) of their own + adjacent
    // chunks only when the cell is over the cap, then the global
    // per-vector top-KnnK by (cos desc, nn_id)
    def knnSql(cap: Int) =
      s"""$base,
         |$kmeansCtes,
         |pr AS (
         |  SELECT vec_id, cid, qdist, prn FROM (
         |    SELECT f.vec_id, c.cid, ${distSql("f.v", "c.cv")} AS qdist,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${distSql("f.v", "c.cv")}, c.cid) AS prn
         |    FROM fin f CROSS JOIN cents$KmIters c) WHERE prn <= $NProbe),
         |prk AS (
         |  SELECT vec_id, cid, prn,
         |    row_number() OVER (PARTITION BY cid ORDER BY qdist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cid) AS cnt
         |  FROM pr),
         |pck AS (
         |  SELECT *, CAST(floor((rn - 1.0) / $cap) AS BIGINT) AS chunk FROM prk),
         |pa AS (
         |  SELECT p.vec_id, p.cid, p.chunk + o.off AS pc
         |  FROM pck p CROSS JOIN (VALUES (-1), (0), (1)) AS o(off)
         |  WHERE p.cnt > $cap OR o.off = 0),
         |cand AS (
         |  SELECT a.vec_id, b.vec_id AS nn_id,
         |    ${cosSql("av.v", "bv.v", "av.nrm", "bv.nrm")} AS cos
         |  FROM pa a
         |  JOIN pck b ON b.cid = a.cid AND b.chunk = a.pc AND b.prn = 1
         |    AND b.vec_id <> a.vec_id
         |  JOIN fin av ON av.vec_id = a.vec_id
         |  JOIN fin bv ON bv.vec_id = b.vec_id)
         |SELECT vec_id, CAST(rnk AS INTEGER) AS nn_rank, nn_id, cos FROM (
         |  SELECT vec_id, nn_id, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nn_id) AS rnk
         |  FROM cand)
         |WHERE rnk <= $KnnK
         |ORDER BY vec_id, nn_rank""".stripMargin
    // knnSql with the same-label exclusion inside cand — the filter
    // precedes the rank, mirroring the Spark side's pre-top-k gate
    def hnSql(cap: Int) =
      s"""$base,
         |$kmeansCtes,
         |pr AS (
         |  SELECT vec_id, cid, qdist, prn FROM (
         |    SELECT f.vec_id, c.cid, ${distSql("f.v", "c.cv")} AS qdist,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${distSql("f.v", "c.cv")}, c.cid) AS prn
         |    FROM fin f CROSS JOIN cents$KmIters c) WHERE prn <= $NProbe),
         |prk AS (
         |  SELECT vec_id, cid, prn,
         |    row_number() OVER (PARTITION BY cid ORDER BY qdist, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY cid) AS cnt
         |  FROM pr),
         |pck AS (
         |  SELECT *, CAST(floor((rn - 1.0) / $cap) AS BIGINT) AS chunk FROM prk),
         |pa AS (
         |  SELECT p.vec_id, p.cid, p.chunk + o.off AS pc
         |  FROM pck p CROSS JOIN (VALUES (-1), (0), (1)) AS o(off)
         |  WHERE p.cnt > $cap OR o.off = 0),
         |cand AS (
         |  SELECT a.vec_id, av.label, b.vec_id AS neg_id,
         |    bv.label AS neg_label,
         |    ${cosSql("av.v", "bv.v", "av.nrm", "bv.nrm")} AS cos
         |  FROM pa a
         |  JOIN pck b ON b.cid = a.cid AND b.chunk = a.pc AND b.prn = 1
         |    AND b.vec_id <> a.vec_id
         |  JOIN fin av ON av.vec_id = a.vec_id
         |  JOIN fin bv ON bv.vec_id = b.vec_id
         |  WHERE av.label <> bv.label)
         |SELECT vec_id, label, CAST(rnk AS INTEGER) AS hn_rank, neg_id,
         |  neg_label, cos FROM (
         |  SELECT vec_id, label, neg_id, neg_label, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, neg_id) AS rnk
         |  FROM cand)
         |WHERE rnk <= $KnnK
         |ORDER BY vec_id, hn_rank""".stripMargin
    // the BM25 CTE chain is q48's oracle verbatim (same terms, same
    // Okapi constants), restricted to doc_id <> 0; the cosine leg is
    // q36's scorer. Both legs rank to HybridM, then RRF-fuse.
    val termsSql = graft.operators.TextAnalysis.Bm25QueryTerms
      .map(t => s"'$t'").mkString(", ")
    val hybridSql =
      s"""$base,
         |t AS (
         |  SELECT doc_id, len(toks) AS dl, u.term FROM (
         |    SELECT doc_id, ${Tokens.toksSql} AS toks FROM documents),
         |    unnest(toks) AS u(term)),
         |dls AS (SELECT doc_id, max(dl) AS dl FROM t GROUP BY 1),
         |stats AS (
         |  SELECT (SELECT count(*) FROM documents) AS n_docs,
         |         (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM dls) AS avgdl),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
         |  FROM t WHERE term IN ($termsSql) GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df
         |  FROM t WHERE term IN ($termsSql) GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id,
         |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (tf * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS score_t
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats),
         |bm AS (SELECT doc_id, round(sum(score_t), 6) AS bm25 FROM scored
         |  WHERE doc_id <> 0 GROUP BY doc_id),
         |bmr AS (SELECT doc_id, r AS bm25_rank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
         |  FROM bm) WHERE r <= $HybridM),
         |cr AS (SELECT doc_id, r AS cos_rank FROM (
         |  SELECT a.vec_id AS doc_id, row_number() OVER (
         |    ORDER BY ${cosSql("a.v", "q.v", "a.nrm", "q.nrm")} DESC, a.vec_id) AS r
         |  FROM n a CROSS JOIN (SELECT v, nrm FROM n WHERE vec_id = 0) q
         |  WHERE a.vec_id <> 0) WHERE r <= $HybridM)
         |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         |  CAST(b.bm25_rank AS INTEGER) AS bm25_rank,
         |  CAST(c.cos_rank AS INTEGER) AS cos_rank,
         |  round(COALESCE(1.0 / ($RrfC + b.bm25_rank), 0) +
         |        COALESCE(1.0 / ($RrfC + c.cos_rank), 0), 6) AS rrf
         |FROM bmr b FULL OUTER JOIN cr c ON b.doc_id = c.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT $HybridK""".stripMargin
    val m = Map(
      "q96_hard_negatives" -> hnSql(CellCap),
      "q97_hybrid_search" -> hybridSql,
      "q36_knn_brute" ->
        s"""$base
           |SELECT a.vec_id, a.label,
           |  ${cosSql("a.v", "q.v", "a.nrm", "q.nrm")} AS cos
           |FROM n a CROSS JOIN (SELECT v, nrm FROM n WHERE vec_id = 0) q
           |WHERE a.vec_id <> 0
           |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
      "q37_ann_lsh" ->
        s"""$base,
           |bk AS (SELECT *, ${bucketSql("v")} AS bucket FROM n),
           |qb AS (SELECT v, nrm, bucket FROM bk WHERE vec_id = 0),
           |probe AS (
           |  SELECT v, nrm, xor(bucket, m.mk) AS bucket
           |  FROM qb CROSS JOIN (VALUES ${probeMasks.map(m => s"($m)").mkString(", ")}) AS m(mk))
           |SELECT a.vec_id, a.label,
           |  ${cosSql("a.v", "q.v", "a.nrm", "q.nrm")} AS cos
           |FROM bk a JOIN probe q ON a.bucket = q.bucket
           |WHERE a.vec_id <> 0
           |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
      "q39_ann_ivf" ->
        s"""$base,
           |$kmeansCtes,
           |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
           |probed AS (
           |  SELECT cid FROM (
           |    SELECT c.cid, row_number() OVER (
           |      ORDER BY ${distSql("q.qv", "c.cv")}, c.cid) AS prn
           |    FROM cents$KmIters c CROSS JOIN q) WHERE prn <= $NProbe)
           |SELECT a.vec_id, a.label,
           |  ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
           |FROM fin a
           |JOIN probed p ON a.cid = p.cid
           |CROSS JOIN (SELECT v, nrm FROM n WHERE vec_id = 0) q2
           |WHERE a.vec_id <> 0
           |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
      "q100_ann_recall" ->
        s"""$base,
           |$kmeansCtes,
           |probes AS (
           |  SELECT vec_id AS probe_id, v AS qv, nrm AS qnrm
           |  FROM n WHERE vec_id < $RecallProbes),
           |exact AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, a.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${cosSql("a.v", "p.qv", "a.nrm", "p.qnrm")} DESC,
           |          a.vec_id ASC) AS rn
           |    FROM n a CROSS JOIN probes p WHERE a.vec_id >= $RecallProbes)
           |  WHERE rn <= $RecallK),
           |cells AS (
           |  SELECT probe_id, cid FROM (
           |    SELECT p.probe_id, c.cid,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${distSql("p.qv", "c.cv")}, c.cid) AS prn
           |    FROM cents$KmIters c CROSS JOIN probes p)
           |  WHERE prn <= $NProbe),
           |approx AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, a.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${cosSql("a.v", "p.qv", "a.nrm", "p.qnrm")} DESC,
           |          a.vec_id ASC) AS rn
           |    FROM fin a JOIN cells cl ON a.cid = cl.cid
           |    JOIN probes p ON p.probe_id = cl.probe_id
           |    WHERE a.vec_id >= $RecallProbes)
           |  WHERE rn <= $RecallK)
           |SELECT e.probe_id,
           |  CAST(count(a.vec_id) AS BIGINT) AS n_overlap,
           |  round(count(a.vec_id) / $RecallK.0, 6) AS recall_at_10
           |FROM exact e LEFT JOIN approx a
           |  ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
           |GROUP BY e.probe_id
           |ORDER BY e.probe_id""".stripMargin,
      // streaming online ANN: the path-dependent per-batch serves
      // unroll as "residents ∪ strictly earlier arrivals" — candidate
      // cids come from the SAME final quantizer (fin's assignment is
      // the nearest-final-centroid rule the stream's append applies)
      "q121s_stream_ann_ingest" ->
        s"""$base,
           |$kmeansCtes,
           |arr AS (
           |  SELECT f.vec_id, f.v, f.nrm, f.cid,
           |    CAST((f.vec_id % 30) / 10 + 1 AS INT) AS batch
           |  FROM fin f WHERE f.vec_id % 10 = 0),
           |res AS (
           |  SELECT f.vec_id, f.v, f.nrm, f.cid, 0 AS batch
           |  FROM fin f WHERE f.vec_id % 10 <> 0),
           |cand AS (SELECT * FROM res UNION ALL SELECT * FROM arr),
           |cells AS (
           |  SELECT probe_id, cid FROM (
           |    SELECT p.vec_id AS probe_id, c.cid,
           |      row_number() OVER (PARTITION BY p.vec_id
           |        ORDER BY ${distSql("p.v", "c.cv")}, c.cid) AS prn
           |    FROM cents$KmIters c CROSS JOIN arr p)
           |  WHERE prn <= $NProbe),
           |served AS (
           |  SELECT probe_id, rnk, vec_id, cos FROM (
           |    SELECT p.vec_id AS probe_id, a.vec_id,
           |      ${cosSql("a.v", "p.v", "a.nrm", "p.nrm")} AS cos,
           |      row_number() OVER (PARTITION BY p.vec_id
           |        ORDER BY ${cosSql("a.v", "p.v", "a.nrm", "p.nrm")} DESC,
           |          a.vec_id ASC) AS rnk
           |    FROM arr p
           |    JOIN cells cl ON cl.probe_id = p.vec_id
           |    JOIN cand a ON a.cid = cl.cid AND a.batch < p.batch)
           |  WHERE rnk <= $RecallK)
           |SELECT probe_id, CAST(rnk AS INTEGER) AS rnk, vec_id, cos
           |FROM served ORDER BY probe_id, rnk""".stripMargin,
      // one more Lloyd round over the final assignment: refreshed
      // centroids are fin's per-cell means, the reassignment is the
      // standard (dist, cid)-tiebroken nearest — and the query's
      // on-disk move must land exactly there
      "q122_ivf_refresh" ->
        s"""$base,
           |$kmeansCtes,
           |ncents AS (SELECT cid, [$centDims] AS cv FROM fin GROUP BY cid),
           |${assignCte("ncents", "ref")}
           |SELECT f.vec_id, CAST(f.cid AS INTEGER) AS old_cid,
           |  CAST(r.cid AS INTEGER) AS new_cid,
           |  (f.cid <> r.cid) AS moved
           |FROM fin f JOIN ref r ON r.vec_id = f.vec_id
           |ORDER BY f.vec_id""".stripMargin,
      "q100c_ann_recall_pq" ->
        s"""$base,
           |$pqCtes,
           |probes AS (
           |  SELECT vec_id AS probe_id, v AS qv
           |  FROM n WHERE vec_id < $RecallProbes),
           |exact AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, a.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${distSql("a.v", "p.qv")}, a.vec_id ASC) AS rn
           |    FROM n a CROSS JOIN probes p WHERE a.vec_id >= $RecallProbes)
           |  WHERE rn <= $RecallK),
           |q8 AS (
           |  SELECT p.probe_id, t.j, list_slice(p.qv, t.j * $PqSubDim + 1,
           |    t.j * $PqSubDim + $PqSubDim) AS qsv
           |  FROM probes p, range(0, $PqM) t(j)),
           |dt AS (
           |  SELECT q8.probe_id, c.j, c.cid,
           |    round(${pqDistSql("q8.qsv", "c.cv")}, 6) AS qd
           |  FROM pc$KmIters c JOIN q8 ON c.j = q8.j),
           |adc AS (
           |  SELECT dt.probe_id, e.vec_id,
           |    CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
           |  FROM pfin e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
           |  WHERE e.vec_id >= $RecallProbes
           |  GROUP BY 1, 2),
           |approx AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id
           |        ORDER BY adc_dist, vec_id) AS rn FROM adc)
           |  WHERE rn <= $RecallK)
           |SELECT e.probe_id,
           |  CAST(count(a.vec_id) AS BIGINT) AS n_overlap,
           |  round(count(a.vec_id) / $RecallK.0, 6) AS recall_at_10
           |FROM exact e LEFT JOIN approx a
           |  ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
           |GROUP BY e.probe_id
           |ORDER BY e.probe_id""".stripMargin,
      "q100b_ann_recall_hier" ->
        s"""$base,
           |$hierCtes,
           |probes AS (
           |  SELECT vec_id AS probe_id, v AS qv, nrm AS qnrm
           |  FROM n WHERE vec_id < $RecallProbes),
           |exact AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, a.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${cosSql("a.v", "p.qv", "a.nrm", "p.qnrm")} DESC,
           |          a.vec_id ASC) AS rn
           |    FROM n a CROSS JOIN probes p WHERE a.vec_id >= $RecallProbes)
           |  WHERE rn <= $RecallK),
           |ps AS (
           |  SELECT probe_id, scid FROM (
           |    SELECT p.probe_id, c.scid,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${distSql("p.qv", "c.cv")}, c.scid) AS prn
           |    FROM hc$KmIters c CROSS JOIN probes p)
           |  WHERE prn <= $NProbeSuper),
           |pc AS (
           |  SELECT probe_id, scid, cid2 FROM (
           |    SELECT ps.probe_id, c.scid, c.cid2,
           |      row_number() OVER (PARTITION BY ps.probe_id
           |        ORDER BY ${distSql("p.qv", "c.cv")}, c.scid, c.cid2) AS prn
           |    FROM cc$KmIters c
           |    JOIN ps ON c.scid = ps.scid
           |    JOIN probes p ON p.probe_id = ps.probe_id)
           |  WHERE prn <= $NProbeSub),
           |approx AS (
           |  SELECT probe_id, vec_id FROM (
           |    SELECT pc.probe_id, a.vec_id,
           |      row_number() OVER (PARTITION BY pc.probe_id
           |        ORDER BY ${cosSql("a.v", "p.qv", "a.nrm", "p.qnrm")} DESC,
           |          a.vec_id ASC) AS rn
           |    FROM hfin2 a
           |    JOIN pc ON a.scid = pc.scid AND a.cid2 = pc.cid2
           |    JOIN probes p ON p.probe_id = pc.probe_id
           |    WHERE a.vec_id >= $RecallProbes)
           |  WHERE rn <= $RecallK)
           |SELECT e.probe_id,
           |  CAST(count(a.vec_id) AS BIGINT) AS n_overlap,
           |  round(count(a.vec_id) / $RecallK.0, 6) AS recall_at_10
           |FROM exact e LEFT JOIN approx a
           |  ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
           |GROUP BY e.probe_id
           |ORDER BY e.probe_id""".stripMargin,
      "q80_quantize_int8" ->
        s"""WITH e AS (
           |  SELECT vec_id, $vecSql AS v FROM embeddings),
           |a AS (
           |  SELECT vec_id, v,
           |    list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
           |  FROM e),
           |sc AS (SELECT vec_id, v, amax / 127.0 AS scale FROM a),
           |qz AS (
           |  SELECT vec_id, scale,
           |    list_transform(v, x -> CAST(floor(
           |      CASE WHEN scale = 0.0 THEN 0.0 ELSE x / scale END + 0.5)
           |      AS INTEGER)) AS q
           |  FROM sc)
           |SELECT vec_id, round(scale, 9) AS scale,
           |  md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')) AS q_digest,
           |  len(list_filter(q, x -> x > 127 OR x < -127)) AS n_clipped
           |FROM qz ORDER BY vec_id""".stripMargin,
      "q86_knn_join" -> knnSql(CellCap),
      "q86b_knn_join_capped" -> knnSql(KnnCapGate),
      "q89_pq_encode" ->
        s"""$base,
           |$pqCtes
           |SELECT vec_id,
           |  CAST(sum(CASE WHEN j < 4
           |    THEN CAST(cid AS BIGINT) << (8 * j) ELSE 0 END) AS BIGINT)
           |    AS pq_code_lo,
           |  CAST(sum(CASE WHEN j >= 4
           |    THEN CAST(cid AS BIGINT) << (8 * (j - 4)) ELSE 0 END) AS BIGINT)
           |    AS pq_code_hi,
           |  CAST(sum(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) AS recon_err
           |FROM pfin GROUP BY vec_id ORDER BY vec_id""".stripMargin,
      "q89b_pq_adc_topk" ->
        s"""$base,
           |$pqCtes,
           |q8 AS (
           |  SELECT j, list_slice(q.qv, j * $PqSubDim + 1,
           |    j * $PqSubDim + $PqSubDim) AS qsv
           |  FROM (SELECT v AS qv FROM n WHERE vec_id = 0) q, range(0, $PqM) t(j)),
           |dt AS (
           |  SELECT c.j, c.cid, round(${pqDistSql("q8.qsv", "c.cv")}, 6) AS qd
           |  FROM pc$KmIters c JOIN q8 ON c.j = q8.j)
           |SELECT e.vec_id,
           |  CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
           |FROM pfin e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
           |WHERE e.vec_id <> 0
           |GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10""".stripMargin,
      "q91_ivfpq_adc_topk" ->
        s"""$base,
           |$kmeansCtes,
           |$ivfPqCtes,
           |q AS (SELECT v AS qv FROM n WHERE vec_id = 0),
           |probed AS (
           |  SELECT cid AS ccid, cv FROM (
           |    SELECT c.cid, c.cv, row_number() OVER (
           |      ORDER BY ${distSql("q.qv", "c.cv")}, c.cid) AS prn
           |    FROM cents$KmIters c CROSS JOIN q) WHERE prn <= $NProbe),
           |rq8 AS (
           |  SELECT p.ccid, j, list_slice(
           |    list_transform(range(1, 65), i -> q.qv[i] - p.cv[i]),
           |    j * $PqSubDim + 1, j * $PqSubDim + $PqSubDim) AS qsv
           |  FROM probed p CROSS JOIN q, range(0, $PqM) t(j)),
           |dt AS (
           |  SELECT r8.ccid, c.j, c.cid,
           |    round(${pqDistSql("r8.qsv", "c.cv")}, 6) AS qd
           |  FROM ic$KmIters c JOIN rq8 r8 ON c.j = r8.j)
           |SELECT e.vec_id,
           |  CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
           |FROM ifin e
           |JOIN dt ON e.ccid = dt.ccid AND e.j = dt.j AND e.cid = dt.cid
           |WHERE e.vec_id <> 0
           |GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10""".stripMargin,
      "q88_ann_ivf_hier" ->
        s"""$base,
           |$hierCtes,
           |q AS (SELECT v AS qv FROM n WHERE vec_id = 0),
           |ps AS (
           |  SELECT scid FROM (
           |    SELECT c.scid, row_number() OVER (
           |      ORDER BY ${distSql("q.qv", "c.cv")}, c.scid) AS prn
           |    FROM hc$KmIters c CROSS JOIN q) WHERE prn <= $NProbeSuper),
           |pc AS (
           |  SELECT scid, cid2 FROM (
           |    SELECT c.scid, c.cid2, row_number() OVER (
           |      ORDER BY ${distSql("q.qv", "c.cv")}, c.scid, c.cid2) AS prn
           |    FROM cc$KmIters c JOIN ps USING (scid) CROSS JOIN q)
           |  WHERE prn <= $NProbeSub)
           |SELECT a.vec_id, a.label,
           |  ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
           |FROM hfin2 a
           |JOIN pc ON a.scid = pc.scid AND a.cid2 = pc.cid2
           |CROSS JOIN (SELECT v, nrm FROM n WHERE vec_id = 0) q2
           |WHERE a.vec_id <> 0
           |ORDER BY cos DESC, a.vec_id ASC LIMIT 10""".stripMargin,
      "q76_semantic_dedup" -> semdedupSql(CellCap),
      "q76b_semantic_dedup_capped" -> semdedupSql(CellCapGate),
      "q38_embed_neardup" ->
        s"""$base
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           |  ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
           |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
           |WHERE ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.4
           |ORDER BY vec_a, vec_b""".stripMargin,
      "q38b_embed_neardup_lsh" ->
        s"""$base,
           |bk AS (SELECT *, ${bucketSql("v")} AS bucket FROM n)
           |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
           |  ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
           |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.4
           |ORDER BY vec_a, vec_b""".stripMargin,
    )
    // q130: the k-means CTE chain trains on the v1 POPULATION
    // (vec_id % 10 <> 9 — `n` is redefined to it, so kmeansCtes
    // applies verbatim and seeds/k/centroids mirror the staged table
    // ivfModel trains on); the appended slice is assigned to the FINAL
    // centroids with the same argmin (appendCommit's map-side assignment),
    // and each version leg is q39's probed top-10 over its own
    // population — the probe cells are version-independent because an
    // append never retrains.
    val timetravelSql =
      s"""WITH e AS (
         |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
         |nall AS (SELECT vec_id, label, v, $nrmSql AS nrm FROM e),
         |n AS (SELECT * FROM nall WHERE vec_id % 10 <> 9),
         |$kmeansCtes,
         |n9 AS (SELECT * FROM nall WHERE vec_id % 10 = 9),
         |app AS (
         |  SELECT vec_id, label, v, nrm, cid, dist FROM (
         |    SELECT e.vec_id, e.label, e.v, e.nrm, c.cid,
         |      ${distSql("e.v", "c.cv")} AS dist,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${distSql("e.v", "c.cv")}, c.cid) AS arn
         |    FROM n9 e CROSS JOIN cents$KmIters c) WHERE arn = 1),
         |vtwo AS (SELECT * FROM fin UNION ALL SELECT * FROM app),
         |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
         |probed AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${distSql("q.qv", "c.cv")}, c.cid) AS prn
         |    FROM cents$KmIters c CROSS JOIN q) WHERE prn <= $NProbe),
         |leg1 AS (
         |  SELECT 1 AS version, a.vec_id, a.label,
         |    ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
         |  FROM fin a JOIN probed p ON a.cid = p.cid
         |  CROSS JOIN (SELECT v, nrm FROM nall WHERE vec_id = 0) q2
         |  WHERE a.vec_id <> 0
         |  ORDER BY cos DESC, a.vec_id ASC LIMIT 10),
         |leg2 AS (
         |  SELECT 2 AS version, a.vec_id, a.label,
         |    ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
         |  FROM vtwo a JOIN probed p ON a.cid = p.cid
         |  CROSS JOIN (SELECT v, nrm FROM nall WHERE vec_id = 0) q2
         |  WHERE a.vec_id <> 0
         |  ORDER BY cos DESC, a.vec_id ASC LIMIT 10)
         |SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
         |ORDER BY version, cos DESC, vec_id""".stripMargin
    // q131: the PQ training chain over the v1 population (`n`
    // redefined, pqCtes verbatim — seeds/codebooks mirror the staged
    // table pqModel trains on), the appended slice's subvectors
    // assigned to the FINAL codebooks with the same (dist, cid) argmin
    // (PqIndex.appendCommit's encoding), one ADC top-10 per version.
    val pqTimetravelSql =
      s"""WITH e AS (
         |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
         |nall AS (SELECT vec_id, label, v, $nrmSql AS nrm FROM e),
         |n AS (SELECT * FROM nall WHERE vec_id % 10 <> 9),
         |$pqCtes,
         |sv9 AS (
         |  SELECT vec_id, j, list_slice(v, j * $PqSubDim + 1,
         |    j * $PqSubDim + $PqSubDim) AS sv
         |  FROM (SELECT * FROM nall WHERE vec_id % 10 = 9), range(0, $PqM) t(j)),
         |papp AS (
         |  SELECT vec_id, j, cid FROM (
         |    SELECT a.vec_id, a.j, c.cid,
         |      row_number() OVER (PARTITION BY a.vec_id, a.j
         |        ORDER BY ${pqDistSql("a.sv", "c.cv")}, c.cid) AS arn
         |    FROM sv9 a JOIN pc$KmIters c ON a.j = c.j) WHERE arn = 1),
         |ptwo AS (SELECT vec_id, j, cid FROM pfin
         |  UNION ALL SELECT vec_id, j, cid FROM papp),
         |q8 AS (
         |  SELECT j, list_slice(q.qv, j * $PqSubDim + 1,
         |    j * $PqSubDim + $PqSubDim) AS qsv
         |  FROM (SELECT v AS qv FROM n WHERE vec_id = 0) q, range(0, $PqM) t(j)),
         |dt AS (
         |  SELECT c.j, c.cid, round(${pqDistSql("q8.qsv", "c.cv")}, 6) AS qd
         |  FROM pc$KmIters c JOIN q8 ON c.j = q8.j),
         |leg1 AS (
         |  SELECT 1 AS version, e.vec_id,
         |    CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
         |  FROM pfin e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10),
         |leg2 AS (
         |  SELECT 2 AS version, e.vec_id,
         |    CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
         |  FROM ptwo e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10)
         |SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
         |ORDER BY version, adc_dist, vec_id""".stripMargin
    // q143: the k-means chain over the v1 population; the survivor
    // population drops the resident % 7 = 0 slice (query vector
    // exempt); one probed top-10 per version — probe cells are
    // version-independent because deletion never retrains
    val ivfDeleteSql =
      s"""WITH e AS (
         |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
         |nall AS (SELECT vec_id, label, v, $nrmSql AS nrm FROM e),
         |n AS (SELECT * FROM nall WHERE vec_id % 10 <> 9),
         |$kmeansCtes,
         |surv AS (SELECT * FROM fin WHERE vec_id % 7 <> 0 OR vec_id = 0),
         |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
         |probed AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY ${distSql("q.qv", "c.cv")}, c.cid) AS prn
         |    FROM cents$KmIters c CROSS JOIN q) WHERE prn <= $NProbe),
         |leg1 AS (
         |  SELECT 1 AS version, a.vec_id, a.label,
         |    ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
         |  FROM fin a JOIN probed p ON a.cid = p.cid
         |  CROSS JOIN (SELECT v, nrm FROM nall WHERE vec_id = 0) q2
         |  WHERE a.vec_id <> 0
         |  ORDER BY cos DESC, a.vec_id ASC LIMIT 10),
         |leg2 AS (
         |  SELECT 2 AS version, a.vec_id, a.label,
         |    ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
         |  FROM surv a JOIN probed p ON a.cid = p.cid
         |  CROSS JOIN (SELECT v, nrm FROM nall WHERE vec_id = 0) q2
         |  WHERE a.vec_id <> 0
         |  ORDER BY cos DESC, a.vec_id ASC LIMIT 10),
         |leg3 AS (
         |  SELECT 3 AS version, a.vec_id, a.label,
         |    ${cosSql("a.v", "q2.v", "a.nrm", "q2.nrm")} AS cos
         |  FROM surv a JOIN probed p ON a.cid = p.cid
         |  CROSS JOIN (SELECT v, nrm FROM nall WHERE vec_id = 0) q2
         |  WHERE a.vec_id <> 0
         |  ORDER BY cos DESC, a.vec_id ASC LIMIT 10)
         |SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
         |UNION ALL SELECT * FROM leg3
         |ORDER BY version, cos DESC, vec_id""".stripMargin
    // q144: the PQ training chain over the v1 population; survivor
    // codes drop the same slice; one ADC top-10 per version —
    // codebooks never change, so survivor distances are bit-identical
    val pqDeleteSql =
      s"""WITH e AS (
         |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
         |nall AS (SELECT vec_id, label, v, $nrmSql AS nrm FROM e),
         |n AS (SELECT * FROM nall WHERE vec_id % 10 <> 9),
         |$pqCtes,
         |psurv AS (SELECT vec_id, j, cid FROM pfin
         |  WHERE vec_id % 7 <> 0 OR vec_id = 0),
         |q8 AS (
         |  SELECT j, list_slice(q.qv, j * $PqSubDim + 1,
         |    j * $PqSubDim + $PqSubDim) AS qsv
         |  FROM (SELECT v AS qv FROM n WHERE vec_id = 0) q, range(0, $PqM) t(j)),
         |dt AS (
         |  SELECT c.j, c.cid, round(${pqDistSql("q8.qsv", "c.cv")}, 6) AS qd
         |  FROM pc$KmIters c JOIN q8 ON c.j = q8.j),
         |leg1 AS (
         |  SELECT 1 AS version, e.vec_id,
         |    CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
         |  FROM pfin e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10),
         |leg2 AS (
         |  SELECT 2 AS version, e.vec_id,
         |    CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
         |  FROM psurv e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10),
         |leg3 AS (
         |  SELECT 3 AS version, e.vec_id,
         |    CAST(sum(CAST(dt.qd AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
         |  FROM psurv e JOIN dt ON e.j = dt.j AND e.cid = dt.cid
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id ORDER BY adc_dist, e.vec_id LIMIT 10)
         |SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
         |UNION ALL SELECT * FROM leg3
         |ORDER BY version, adc_dist, vec_id""".stripMargin
    // q133: q122's oracle (kmeans chain + exactly one update+assign
    // round) instantiated over the v1 population the snapshot clone
    // was trained on
    val refreshTimetravelSql =
      s"""WITH e AS (
         |  SELECT vec_id, label, $vecSql AS v FROM embeddings),
         |nall AS (SELECT vec_id, label, v, $nrmSql AS nrm FROM e),
         |n AS (SELECT * FROM nall WHERE vec_id % 10 <> 9),
         |$kmeansCtes,
         |ncents AS (SELECT cid, [$centDims] AS cv FROM fin GROUP BY cid),
         |${assignCte("ncents", "ref")}
         |SELECT f.vec_id, CAST(f.cid AS INTEGER) AS old_cid,
         |  CAST(r.cid AS INTEGER) AS new_cid,
         |  (f.cid <> r.cid) AS moved
         |FROM fin f JOIN ref r ON r.vec_id = f.vec_id
         |ORDER BY f.vec_id""".stripMargin
    // The persisted-index SERVE queries must equal their in-session
    // twins EXACTLY — same deterministic trained model, same query
    // arithmetic, only the model inputs are disk-sourced — so their
    // oracle is the original SQL verbatim.
    m ++ Map(
      "q39c_ivf_serve" -> m("q39_ann_ivf"),
      "q89c_pq_serve" -> m("q89b_pq_adc_topk"),
      "q97b_hybrid_served" -> m("q97_hybrid_search"),
      "q130_ivf_timetravel" -> timetravelSql,
      "q131_pq_timetravel" -> pqTimetravelSql,
      "q133_refresh_timetravel" -> refreshTimetravelSql,
      "q143_ivf_snapshot_delete" -> ivfDeleteSql,
      "q144_pq_snapshot_delete" -> pqDeleteSql,
    )
  }
}
