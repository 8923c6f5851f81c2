package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guards the bench harness's knowledge of which queries need untimed
  * staging: each row of [[Bench.staging]] must list exactly the
  * queries that consume what it stages — for the replay row, the query
  * prefixes that pass a `stageKey = Some(s"qNN:...")` to
  * [[graft.streaming.Replay.run]] or call `Replay.stageOnce(s,
  * s"qNN:...")` directly. A replay query added without updating the
  * row would silently lose its untimed pre-stage pass and re-absorb
  * the one-time staging write into sweep 1's timing — the exact skew
  * the pass exists to remove. */
class BenchConfigSpec extends AnyFunSuite {

  /** The keys the staging table's row `row` serves. */
  private def declared(row: String): Set[String] =
    Bench.staging.filter(_.name == row).flatMap(_.keys).toSet

  /** Keys of the `"qNN_…" ->` map entries of operators/`file` whose
    * body contains any of `markers`. An entry's body ends at the NEXT
    * entry or at its Map literal's closing paren, whichever comes
    * first — the regex matches both the queries and the oracle maps,
    * and the last entry of each map would otherwise swallow the helper
    * DEFINITIONS that follow (ingestLoop, takeClone, ...) and
    * self-attribute their names. */
  private def consumersOf(file: String, markers: String*): Set[String] = {
    val text = Files.readString(Paths.get(
      "src", "main", "scala", "graft", "operators", file))
    val ms = """"(q[0-9]+[a-z]*)_[a-z0-9_]*"\s*->""".r
      .findAllMatchIn(text).toList
    assert(ms.nonEmpty, s"no query entries found in $file — pattern rot?")
    ms.zipWithIndex.flatMap { case (m, i) =>
      val next = if (i + 1 < ms.size) ms(i + 1).start else text.length
      val close = text.indexOf("\n  )\n", m.end)
      val end = if (close == -1) next else math.min(close, next)
      if (markers.exists(text.substring(m.end, end).contains))
        Some(m.group(1))
      else None
    }.toSet
  }

  private lazy val bench = Files.readString(
    Paths.get("src", "main", "scala", "graft", "Bench.scala"))

  test("Bench.replayStagers matches the stageKey call sites in source") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"source root $root not found")
    val scalaFiles: List[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toList
    // a keyed staging site is the string literal s"<prefix>:..."
    // appearing as the key argument of stageKey=Some(...) or
    // stageOnce(session, ...): match the literal within a short
    // window after either marker (DOTALL — call sites wrap lines)
    val pat = """(?s)stage(?:Key\s*=\s*Some\(|Once\([^"]{0,80}?)s"([A-Za-z0-9]+):""".r
    val found = scalaFiles.flatMap { p =>
      val text = Files.readString(p)
      pat.findAllMatchIn(text).map(_.group(1))
    }.toSet
    assert(found.nonEmpty, "no stageKey call sites found — pattern rot?")
    assert(found === declared("replay"),
      s"Bench staging row replay=${declared("replay").toSeq.sorted} but " +
        s"source call sites use ${found.toSeq.sorted} — update Bench's " +
        "replay row")
  }

  test("Bench.gramStagers matches the benchGramsRel consumers in Curation") {
    // same coupling idea as the replay row: a query that consumes the
    // memoized benchmark-gram relation must be listed so its
    // materialization is pre-staged untimed (r11: the unstaged rebuild
    // doubled q84's median on an unchanged stream plan)
    val consumers = consumersOf("Curation.scala", "benchGramsRel(")
    assert(consumers.nonEmpty, "no benchGramsRel consumers found — pattern rot?")
    assert(consumers === declared("gram"),
      s"Bench staging row gram=${declared("gram").toSeq.sorted} but " +
        s"Curation queries using benchGramsRel are ${consumers.toSeq.sorted}")
    assert(bench.contains("Curation.stageGrams("),
      "Bench's stage block never calls Curation.stageGrams")
  }

  test("Bench.cloneStagers matches the takeClone consumers in Dedup") {
    // a lifecycle query that mutates a per-invocation index clone
    // (Dedup.takeClone) must be listed so the bench pre-stages its
    // clone untimed — an unlisted consumer silently re-absorbs the
    // ~4-5 s byte copy into its timed median (the r12 accounting bug)
    // direct takeClone call or via the shared ingestLoop helper
    // (which takeClones internally)
    val consumers = consumersOf("Dedup.scala", "takeClone(", "ingestLoop(")
    assert(consumers.nonEmpty, "no takeClone consumers found — pattern rot?")
    assert(consumers === declared("clone"),
      s"Bench staging row clone=${declared("clone").toSeq.sorted} but " +
        s"Dedup queries consuming clones are ${consumers.toSeq.sorted}")
    // the committed-v1 snapshot clones (q109) have their own pool
    val snapConsumers = consumersOf("Dedup.scala", "takeSnapClone(")
    assert(snapConsumers === declared("snap"),
      s"Bench staging row snap=${declared("snap").toSeq.sorted} but Dedup " +
        s"queries consuming snap clones are ${snapConsumers.toSeq.sorted}")
    // the persisted resident-label state table (q110 family): direct
    // stageResidentState call or the residentLabelsServed reader
    val stateConsumers = consumersOf("Dedup.scala",
      "residentLabelsServed(", "stageResidentState(")
    assert(stateConsumers === declared("state"),
      s"Bench staging row state=${declared("state").toSeq.sorted} but " +
        s"Dedup queries consuming the label state are " +
        s"${stateConsumers.toSeq.sorted}")
    assert(bench.contains("Dedup.stageIngestClones("),
      "Bench's stage block never calls Dedup.stageIngestClones")
    assert(bench.contains("Dedup.stageSnapClones("),
      "Bench's stage block never calls Dedup.stageSnapClones")
    assert(bench.contains("Dedup.stageResidentState("),
      "Bench's stage block never calls Dedup.stageResidentState")
  }

  test("Bench.vocabStagers matches the stageVocabStats consumers in TextAnalysis") {
    // q116's persisted vocabulary-stats table is derived once per
    // session (files, like the label state table); a consumer missing
    // from the vocab row pays the one-time resident-corpus aggregate
    // inside whichever sweep times it first (the r13 advice item)
    val consumers = consumersOf("TextAnalysis.scala", "stageVocabStats(")
    assert(consumers.nonEmpty, "no stageVocabStats consumers found — pattern rot?")
    assert(consumers === declared("vocab"),
      s"Bench staging row vocab=${declared("vocab").toSeq.sorted} but " +
        s"TextAnalysis queries consuming vocab stats are " +
        s"${consumers.toSeq.sorted}")
    assert(bench.contains("TextAnalysis.stageVocabStats("),
      "Bench's stage block never calls TextAnalysis.stageVocabStats")
  }

  test("Bench.bm25SnapStagers/ivfSnapStagers match the snap-clone consumers") {
    // the committed-v1 snapshot clones of the BM25 and IVF families
    // (q129/q130) follow the same accounting as Dedup's snap row: a
    // consumer missing from its row re-absorbs the index build + v1
    // commit into its timed median
    val bm25 = consumersOf("TextAnalysis.scala", "takeBm25SnapClone(")
    assert(bm25.nonEmpty, "no takeBm25SnapClone consumers — pattern rot?")
    assert(bm25 === declared("bm25-snap"),
      s"Bench staging row bm25-snap=${declared("bm25-snap").toSeq.sorted} " +
        s"but TextAnalysis consumers are ${bm25.toSeq.sorted}")
    val ivf = consumersOf("Similarity.scala", "takeIvfSnapClone(")
    assert(ivf.nonEmpty, "no takeIvfSnapClone consumers — pattern rot?")
    assert(ivf === declared("ivf-snap"),
      s"Bench staging row ivf-snap=${declared("ivf-snap").toSeq.sorted} " +
        s"but Similarity consumers are ${ivf.toSeq.sorted}")
    val pq = consumersOf("Similarity.scala", "takePqSnapClone(")
    assert(pq.nonEmpty, "no takePqSnapClone consumers — pattern rot?")
    assert(pq === declared("pq-snap"),
      s"Bench staging row pq-snap=${declared("pq-snap").toSeq.sorted} " +
        s"but Similarity consumers are ${pq.toSeq.sorted}")
    assert(bench.contains("TextAnalysis.stageBm25SnapClones("),
      "Bench's stage block never calls TextAnalysis.stageBm25SnapClones")
    assert(bench.contains("Similarity.stageIvfSnapClones("),
      "Bench's stage block never calls Similarity.stageIvfSnapClones")
    assert(bench.contains("Similarity.stagePqSnapClones("),
      "Bench's stage block never calls Similarity.stagePqSnapClones")
  }

  test("every staging-table key is a registered query key and every row " +
      "serves a query") {
    // rows match by key equality, so a mistyped key would silently
    // unstage its query instead of failing anywhere
    val registered = SparkEntry.queries.keySet.map(Bench.key)
    for (row <- Bench.staging) {
      assert(row.keys.nonEmpty, s"staging row ${row.name} serves no query")
      val unknown = row.keys -- registered
      assert(unknown.isEmpty, s"staging row ${row.name} names keys with no " +
        s"registered query: ${unknown.toSeq.sorted}")
    }
  }

  test("partialSelection: heaviest-first admission under the remaining " +
      "budget, returned in name order") {
    val samples = Seq("q_a" -> 100.0, "q_b" -> 50.0, "q_c" -> 10.0,
      "q_d" -> 1.0, "q_e" -> 0.1)
    // generous budget: everything fits (est = 0.6 × sample, 30 s margin)
    assert(Bench.partialSelection(samples, 130.0).toSet ==
      samples.map(_._1).toSet)
    // tight budget: the HEAVIEST query is admitted first and exhausts
    // it — the cold-inflated heavy family is exactly what needs its
    // second sample
    assert(Bench.partialSelection(samples, 90.0) == Seq("q_a"))
    // too tight for the heavies: the cheap tail still back-fills
    assert(Bench.partialSelection(samples, 31.0) == Seq("q_d", "q_e"))
    // name order on return (memo-payment order within the sweep must
    // match a full sweep's relative order), whatever admission did
    assert(Bench.partialSelection(
      Seq("q_z" -> 5.0, "q_a" -> 50.0, "q_m" -> 20.0), 1000.0) ==
      Seq("q_a", "q_m", "q_z"))
  }

  test("cleanSamples: ambient-polluted sweeps are excluded from the median; " +
      "jitter and all-clean runs are untouched") {
    def medianOf(ts: List[Double]): Double = {
      val cl = Bench.cleanSamples(ts).map(ts).sorted
      if (cl.size % 2 == 1) cl(cl.size / 2)
      else (cl(cl.size / 2 - 1) + cl(cl.size / 2)) / 2
    }
    // the r14 official record's q84/q84b details — two of four sweeps
    // polluted, median-of-4 landed on the polluted side (8.50/9.72 s);
    // the clean median must sit within 1.5x of the best sample (the
    // verdict's done-criterion, by construction of the threshold)
    val q84 = List(4.27, 12.72, 3.29, 15.58)
    assert(Bench.cleanSamples(q84) == List(0, 2), Bench.cleanSamples(q84))
    assert(medianOf(q84) <= 1.5 * q84.min, s"q84 clean median ${medianOf(q84)}")
    val q84b = List(13.14, 4.78, 6.30, 14.16)
    assert(Bench.cleanSamples(q84b) == List(1, 2))
    assert(medianOf(q84b) <= 1.5 * q84b.min)
    // an all-clean run keeps every sample (the filter must not bias
    // ordinary variance)
    assert(Bench.cleanSamples(List(3.0, 3.3, 2.9)) == List(0, 1, 2))
    // sub-second jitter is NOT pollution: the absolute floor keeps a
    // 0.2 s query's 0.9 s sample (4.5x) in the median and out of the
    // rerun trigger
    assert(Bench.cleanSamples(List(0.2, 0.9)) == List(0, 1))
    // fewer than 2 clean samples is the rerun trigger's condition —
    // [3.3, 12.7, 15.6] keeps only the best and needs another sweep
    assert(Bench.cleanSamples(List(3.3, 12.7, 15.6)) == List(0))
    // the best sample is always chosen, whatever the spread
    assert(Bench.cleanSamples(List(100.0, 1.0, 100.0)) == List(1))
  }

  test("Bench flushes the cumulative record per sweep and budget-gates " +
      "both later sweeps and the guard rerun") {
    // r16's one failed gate: BENCH.json was written ONCE at the end, so
    // the driver's rc=124 kill left parsed:null — the harness must
    // flush after every sweep and never START work it cannot finish
    // inside SPARK_GRAFT_TIME_BUDGET_S. Assert the structure in source
    // (the same grep-coupling style as the stager tests): the flush
    // call sits INSIDE runSweep, and both the sweep loop and the guard
    // loop consult elapsed + lastSweepWall against the budget.
    assert(bench.contains("SPARK_GRAFT_TIME_BUDGET_S"),
      "Bench has no wall-clock budget env knob")
    val sweepBody = bench.substring(bench.indexOf("def runSweep("))
    val sweepEnd = sweepBody.indexOf("\n    }")
    assert(sweepBody.substring(0, sweepEnd + 6).contains("writeRecord()"),
      "runSweep does not flush the cumulative record — a driver kill " +
        "mid-run would leave no parseable BENCH.json (the r16 failure)")
    val gates = "elapsedS \\+ lastSweepWall <= budgetS".r
      .findAllIn(bench).size
    assert(gates >= 2,
      s"expected the budget gate on BOTH the sweep loop and the guard " +
        s"rerun, found $gates consults")
    assert(bench.contains("budgetSkipped"),
      "a budget skip must be recorded in the artifact, not silent")
  }

  test("noop sink is an honest materialization: the presentation sort " +
      "survives into the executed plan") {
    // Bench times fn(...).write.format("noop") — valid only if the
    // noop write still executes the full plan (a dropped final Sort
    // would under-time every ORDER BY query). Capture the executed
    // plan via a QueryExecutionListener and assert the Sort is there.
    val s = SparkSpec.spark
    @volatile var plan: String = null
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        if (qe.executedPlan.toString.contains("Noop"))
          plan = qe.executedPlan.toString
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      import org.apache.spark.sql.functions._
      s.range(0, 1000).select(col("id"), (col("id") % 7).as("k"))
        .orderBy(col("k"), col("id"))
        .write.mode("overwrite").format("noop").save()
      // the listener fires asynchronously — poll briefly
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (plan == null && System.nanoTime() < deadline) Thread.sleep(50)
      assert(plan != null, "no executed plan captured for the noop write")
      assert(plan.contains("Sort"),
        s"the noop write dropped the presentation sort:\n$plan")
    } finally s.listenerManager.unregister(listener)
  }

  test("fullCoverageLine: every registered query fits the driver's tail " +
      "window at useful precision; pathological inputs still fit") {
    // the REAL registry names at a realistic value spread — the r18
    // PERF gap was n_common=0 because only the top-8 medians reached
    // the guaranteed-last stdout line
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 150, s"registry shrank? ${names.size}")
    val medians = names.zipWithIndex.map { case (n, i) =>
      n.takeWhile(_ != '_') -> (i % 10 match {
        case 0 => 16.17   // heavy lifecycle
        case 1 | 2 => 7.3
        case 3 | 4 => 1.8
        case _ => 0.05 + (i % 7) * 0.11 // the sub-second crowd
      })
    }
    val line = Bench.fullCoverageLine(medians, "429.8", "394.5",
      2, 3, 1, "[]", "0.1", limit = 1920)
    assert(line.length <= 1920, s"line ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":429.8,"unit":"sec""""))
    assert(line.endsWith(""","sf":0.1}"""))
    for ((k, _) <- medians)
      assert(line.contains("\"" + k + "\":"), s"missing $k")
    // values keep a decimal where it matters (something below the cut
    // was emitted at 1dp)
    assert("""":\d+\.\d""".r.findFirstIn(line).isDefined, line.take(200))
    // a nonempty failed list always rides along
    val withFail = Bench.fullCoverageLine(medians, "429.8", "394.5",
      2, 3, 1, """["q84_x"]""", "0.1", limit = 1920)
    assert(withFail.contains(""""failed":["q84_x"]"""))
    assert(withFail.length <= 1920)
    // pathological: every query slow (wide values) — entries may drop
    // but the line must still fit and stay well-formed
    val fat = names.map(n => n.takeWhile(_ != '_') -> 123.456)
    val fatLine = Bench.fullCoverageLine(fat, "23209.7", "20001.2",
      2, 3, 1, "[]", "0.1", limit = 1920)
    assert(fatLine.length <= 1920, s"fat line ${fatLine.length}")
    assert(fatLine.endsWith(""","sf":0.1}"""))
    // tiny window: still bounded, still well-formed
    val tiny = Bench.fullCoverageLine(medians, "429.8", "394.5",
      2, 3, 1, "[]", "0.1", limit = 500)
    assert(tiny.length <= 500 && tiny.endsWith(""","sf":0.1}"""))
  }

  test("Bench sweep loop clears every module that defines clearMemos") {
    // The sweep loop's blanket unpersist of ALL persistent RDDs is
    // only safe because every cross-query memo was released by a
    // clearMemos call just before it — a module that adds a memo
    // registry without being wired into the sweep loop would have its
    // LIVE localCheckpoint blocks freed mid-sweep and fail its next
    // use. Couple the two by construction: any `def clearMemos` in
    // main source must be invoked as `<Module>.clearMemos()` in
    // Bench.scala.
    val root = Paths.get("src", "main", "scala")
    val definers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("def clearMemos"))
      .map(_.getFileName.toString.stripSuffix(".scala"))
      .toSet
    assert(definers.nonEmpty, "no clearMemos definers found — pattern rot?")
    val uncleared = definers.filterNot(m => bench.contains(s"$m.clearMemos()"))
    assert(uncleared.isEmpty,
      s"modules define clearMemos but Bench's sweep loop never calls them: " +
        s"${uncleared.toSeq.sorted} — wire them in before the blanket unpersist")
  }
}
