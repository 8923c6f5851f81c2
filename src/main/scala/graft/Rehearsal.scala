package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** SCALE REHEARSAL: self-union documents/embeddings into a ~Nx corpus
  * and run the heavy dedup/ANN/index family once, UNTIMED by the
  * bench, recording per-query wall time, the largest single-task
  * input / shuffle-read volumes, spill, and every skew-guard probe
  * ([[SkewStats]]). This converts "the plan survives 10x" from an
  * argument into a measurement: if a guard threshold is mis-sized or
  * a task's input grows super-linearly, it shows up here first, at a
  * scale the container can still execute.
  *
  * The self-union multiplies every text/vector `factor` times under
  * fresh ids (original ids shifted by k*(max+1)), which is the
  * ADVERSARIAL direction for the dedup family: every document gains
  * factor-1 exact twins, so duplicate groups, band buckets, and
  * cluster sizes all grow with the factor while the md5 key space
  * stays uniform — the guards see real pressure, not just more rows.
  *
  * Run: `sbt "runMain graft.Rehearsal [baseDir] [factor]"` (defaults
  * /root/testdata/sf0.1, 10). Results go to stdout as one block to
  * paste into PLANS.md. */
object Rehearsal {

  /** The heavy family named by the round-12 advice, plus the
    * round-13 incremental cluster maintenance (its serve + quotient
    * propagation see the same hit-multiplicity pressure as q99, and
    * the resident-label derivation rides the q31/q35 memos staged by
    * the earlier entries), plus the round-13 candidate-bounded
    * verification stages (q123/q125 — their claim is that cost
    * follows the CANDIDATE set, which under self-union grows
    * quadratically in the clone factor: the adversarial direction)
    * and fuzzy decontamination (q127 — broadcast-side benchmark
    * growth). */
  val heavy: Seq[String] = Seq(
    "q31_minhash_pairs", "q35_dup_clusters", "q86_knn_join",
    "q98_chunk_neardup", "q99_lsh_index_dedup", "q103_ingest_loop",
    "q110_incremental_clusters", "q123_editdist_verify",
    "q125_containment", "q127_fuzzy_decontaminate",
    // round-14 snapshot lifecycles: the claims under pressure are
    // (q129) the purge compaction rewrites only tombstone-holding
    // buckets while append/delete stay batch-bounded, (q132/q135) the
    // manifest diff and the COW merge-into cost the NEW files /
    // touched buckets — never the 10x corpus — and (q133) the refresh
    // moves only drifted vectors
    "q129_bm25_timetravel", "q132_snapshot_increment",
    "q133_refresh_timetravel", "q135_state_timetravel",
    // round-15: the committed band index's erasure path — the claims
    // under pressure are that the tombstone commit rewrites NOTHING
    // (one appended file + a manifest) and the purge rewrites only
    // tombstone-holding bands into one file each, ≤ Bands files by
    // construction however large the delete; q129 above
    // now also exercises the segmented vocabulary (per-commit df
    // deltas, sum-on-read) under the 10x corpus
    "q138_snapshot_delete",
    // round-16: the remaining committed lifecycles. The claims under
    // pressure: (q141) the OCC re-derive retry costs one re-read +
    // one re-landed stats sibling per conflict — bookkeeping, never a
    // function of corpus size; (q142) the Z-order
    // save/append/delete/purge chain under manifest commits touches
    // only tombstone-holding or fragmented zbuckets on purge and the
    // as-of serves stay zbucket-pruned through the explicit listing;
    // (q143/q144) the IVF/PQ committed deletes rewrite only the
    // deleted vectors' cid cells / code files; (q145) stats recording
    // scans only uncovered files and range planning stays driver-side
    // however many files the version references
    "q141_bm25_occ_append", "q142_zorder_timetravel",
    "q143_ivf_snapshot_delete", "q144_pq_snapshot_delete",
    "q145_stats_skipping",
    // round-17: the committed-TABLE lifecycle. The claims under
    // pressure: (q146/q148) the corpus purge rewrites only files /
    // partitions holding tombstoned rows however big the table;
    // (q147) string-bound pruning stays a driver-side stats read and
    // the pruned serve opens only intersecting files; (q149) the OCC
    // retry re-lists file names, never re-lands band rows; (q150) the
    // evolved serve's mergeSchema is one distributed footer pass, not
    // per-row work; (q151) compaction is one bounded repartition
    // shuffle of the current selection
    "q146_table_delete", "q147_pruned_serve", "q148_partitioned_delete",
    "q149_lsh_occ_append", "q150_schema_evolution", "q151_table_compact",
    // round-18: the claims under pressure: (q152) partitioned
    // compaction's shuffle is bounded by the FRAGMENTED partitions'
    // rows (one task per fragmented day, untouched days carry
    // verbatim); (q153) the conjunctive prune stays a driver-side
    // stats read and the doubly-pruned serve opens only files
    // intersecting BOTH ranges however dense the corpus
    "q152_partitioned_compact", "q153_pruned_serve_multi",
    // (q154) the retention drop is manifest-only — its 10x cost is the
    // two as-of serve legs, never the dropped days' bytes
    "q154_partition_drop")

  private final class TaskMax extends SparkListener {
    val maxInput = new java.util.concurrent.atomic.AtomicLong(0)
    val maxShuffleRead = new java.util.concurrent.atomic.AtomicLong(0)
    val spill = new java.util.concurrent.atomic.AtomicLong(0)
    val maxPeakMem = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        maxInput.getAndAccumulate(m.inputMetrics.bytesRead, math.max)
        maxShuffleRead.getAndAccumulate(
          m.shuffleReadMetrics.totalBytesRead, math.max)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        maxPeakMem.getAndAccumulate(m.peakExecutionMemory, math.max)
      }
    }
    def reset(): Unit = {
      maxInput.set(0); maxShuffleRead.set(0); spill.set(0); maxPeakMem.set(0)
    }
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%.1f MB"

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    // optional third arg: comma-separated substring filter over the
    // heavy list — a targeted re-run for newly-landed queries without
    // repeating the whole multi-hour pass (full runs omit it)
    val onlyQ = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val dir = Fs.createStagingDir(spark, "graft-rehearsal")
    try {
      // ---- stage the Nx corpus under fresh ids -------------------
      def selfUnion(table: String, idCol: String): Long = {
        val base = spark.read.parquet(s"$baseDir/$table.parquet")
        val step = base.agg(max(col(idCol))).head().getLong(0) + 1
        val big = (0 until factor)
          .map(k => base.withColumn(idCol, col(idCol) + lit(k * step)))
          .reduce(_ unionByName _)
        big.repartition(cpus)
          .write.mode("overwrite").parquet(s"$dir/$table.parquet")
        spark.read.parquet(s"$dir/$table.parquet").count()
      }
      val nDocs = selfUnion("documents", "doc_id")
      val nVecs = selfUnion("embeddings", "vec_id")
      // events multiply under the SAME time range — the adversarial
      // direction for the layout family: 10x row density per zbucket
      // and per ts-range file, so fragmentation/purge bounds see real
      // pressure rather than just a longer timeline
      val nEvs = selfUnion("events", "event_id")
      println(s"[rehearsal] staged ${factor}x corpus at $dir: " +
        s"$nDocs documents, $nVecs embeddings, $nEvs events")

      val listener = new TaskMax
      spark.sparkContext.addSparkListener(listener)
      SkewStats.drain() // discard anything recorded before we measure
      val qs = SparkEntry.queries
      val selected = onlyQ match {
        case Some(pats) => heavy.filter(n => pats.exists(n.contains))
        case None => heavy
      }
      val rows = selected.map { name =>
        listener.reset()
        val t0 = System.nanoTime()
        val n = qs(name)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // count() can skip column materialization but every heavy
        // query here ends in a join/agg/write-side shape whose work
        // count() still forces; wall times are for RELATIVE scaling
        // judgment, not bench comparison
        val guards = SkewStats.drain()
        val gtxt = if (guards.isEmpty) "none probed"
          else guards.map(p => s"${p.site}: maxBucket=${p.maxBucket} " +
            s"thr=${p.threshold} salted=${p.salted}").mkString("; ")
        val line = f"$name%-22s ${sec}%7.1f s  rows=$n%-9d " +
          s"maxTaskInput=${mb(listener.maxInput.get)}  " +
          s"maxTaskShufRead=${mb(listener.maxShuffleRead.get)}  " +
          s"spill=${mb(listener.spill.get)}  " +
          s"peakTaskMem=${mb(listener.maxPeakMem.get)}  guards[$gtxt]"
        println(s"[rehearsal] $line")
        // reclaim replay/materialize debris between queries, same
        // hygiene as the bench loop
        graft.streaming.Replay.releaseOutputs()
        line
      }
      println("[rehearsal] ==== summary (paste into PLANS.md) ====")
      rows.foreach(println)
    } finally {
      Fs.deleteRecursively(dir, spark.sparkContext.hadoopConfiguration)
      spark.stop()
    }
  }
}
