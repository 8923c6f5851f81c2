package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.plans.{MinHashIndex, Snapshots}

/** `dedup-ingest`: a closed loop of arriving batches against a
  * committed MinHash index. Each batch is sketched once
  * (`MinHashIndex.localize`), judged (`MinHashIndex.admitRows`), and its
  * admitted documents are appended by an optimistic snapshot commit
  * (`MinHashIndex.appendCommitRetrying`), so the table grows through
  * the run. */
object DedupIngest {
  final case class Doc(batch: Int, id: Long, kind: String, text: String)

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def frame(s: SparkSession, docs: Seq[Doc]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.id, d.text)): _*), DocSchema)

  /** One batch: (verdicts by id, sketch ms, admit ms, commit ms, commit fs calls, conflicts). */
  private def ingest(c: Ctx, idxDir: String, h: MinHashIndex.Handle, docs: Seq[Doc],
      bid: Long) = {
    val s = c.spark
    val (local, sketchMs) = c.timed(Trace.span(s, "functions", "localize", bid)(
      MinHashIndex.localize(s, frame(s, docs))))
    val (verdict, admitMs) = c.timed(Trace.span(s, "plans", "admitRows", bid)(
      MinHashIndex.admitRows(s, h, local).select(col("doc_id"), col("admitted"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap))
    val admitted = docs.filter(d => verdict.getOrElse(d.id, false))
    val fs0 = c.fsTotal
    val (conflicts, commitMs) = c.timed(Trace.span(s, "plans", "appendCommitRetrying", bid) {
      if (admitted.isEmpty) 0
      else MinHashIndex.appendCommitRetrying(s, idxDir, frame(s, admitted))._2
    })
    (verdict, sketchMs, admitMs, commitMs, (c.fsTotal - fs0).toDouble, conflicts)
  }

  def run(c: Ctx): Unit = {
    val s = c.spark
    val dir = c.runDir
    val docsPath = s"$dir/resident.parquet"
    val resident = s.read.schema(DocSchema).json(s"$dir/resident.jsonl")
    resident.write.mode("overwrite").parquet(docsPath)
    val residentIds = resident.select("doc_id").collect().map(_.getLong(0)).toSet
    val pool: Seq[Seq[Doc]] = {
      import s.implicits._
      s.read.schema("batch INT, doc_id BIGINT, kind STRING, text STRING")
        .json(s"$dir/batches.jsonl").select(col("batch"), col("doc_id").as("id"),
          col("kind"), col("text")).as[Doc].collect().toSeq
        .groupBy(_.batch).toSeq.sortBy(_._1).map(_._2.sortBy(_.id))
    }

    // ---- set-up: save + commit the index, repeated; the median counts.
    // The first index also takes three warm-up batches from the pool's end.
    val saves = (0 until 3).map { r =>
      c.timed {
        val h = MinHashIndex.save(s, s.read.parquet(docsPath), docsPath, s"$dir/idx$r")
        Snapshots.commit(s, h.bandsPath)
        h
      }
    }
    c.setup("index_save_s", saves.map(_._2 / 1000.0))
    val (_, warmMs) = c.timed(pool.takeRight(3).zipWithIndex.foreach { case (b, i) =>
      ingest(c, s"$dir/idx0", saves(0)._1, b, -1L - i)
    })
    c.setup("warmup_s", warmMs / 1000.0)

    val idxDir = s"$dir/idx2"
    val h = saves(2)._1
    val batchMs, sketch, admit, commit, commitCalls, batchCalls =
      scala.collection.mutable.ArrayBuffer[Double]()
    var conflicts = 0L
    var failed = 0L
    var probed = 0L
    val admittedIds = scala.collection.mutable.Set[Long]()
    c.startWindow()
    val until = System.nanoTime() + c.seconds * 1000000000L
    var b = 0
    while (System.nanoTime() < until && b < pool.size - 3) {
      val docs = pool(b)
      val fs0 = c.fsTotal
      val ((verdict, sk, ad, cm, cc, cf), ms) = c.timed(ingest(c, idxDir, h, docs, b.toLong))
      batchMs += ms; sketch += sk; admit += ad; commit += cm; commitCalls += cc
      batchCalls += (c.fsTotal - fs0).toDouble
      conflicts += cf
      probed += docs.size
      for (d <- docs) {
        val ok = verdict.get(d.id) match {
          case None => false
          case Some(adm) =>
            if (adm) admittedIds += d.id
            d.kind match {
              case "exact" => !adm
              case "unique" => adm
              case _ => true
            }
        }
        if (!ok) {
          failed += 1
          c.note(s"batch $b doc ${d.id} (${d.kind}): verdict ${verdict.get(d.id)}")
        }
      }
      b += 1
    }
    c.endWindow()
    c.put("live_heap_mb", Gc.liveHeapMb())
    val bands = h.bandsPath
    c.attempted(probed)
    c.put("tweets", probed)
    c.putSeries("latency_ms", batchMs)
    c.putSeries("functions.sketch_ms", sketch)
    c.putSeries("plans.admit_ms", admit)
    c.putSeries("plans.append_commit_ms", commit)
    c.putSeries("fs.commit_calls", commitCalls)
    c.putSeries("fs.batch_calls", batchCalls)
    c.put("plans.commit_conflicts", conflicts)
    c.put("plans.admit_ratio", admittedIds.size.toDouble / math.max(1L, probed))
    c.put("plans.versions", Snapshots.versions(s, bands).size.toLong)
    val current = Snapshots.current(s, bands).get
    c.put("plans.files_live", Snapshots.files(s, bands, current).size.toLong)
    c.put("plans.manifest_bytes", c.dirStats(new java.net.URI(bands).getPath + "/_manifests")._2)

    // ---- output checks: the committed snapshot holds exactly the
    // resident documents plus the admitted ones
    if (failed > 0) c.fail(s"$failed documents got the wrong verdict", failed)
    val committed = Snapshots.read(s, bands, current).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val want = residentIds ++ admittedIds
    if (committed != want)
      c.broken(s"committed snapshot v$current holds ${committed.size} docs, expected " +
        s"${want.size} (${(want -- committed).size} missing, ${(committed -- want).size} extra)")
    c.put("input.batches_run", b.toLong)
  }
}
