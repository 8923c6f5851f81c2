package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators — the filters a training-data pipeline
  * runs between raw crawl and tokenizer:
  *
  *  - benchmark DECONTAMINATION (q63): drop-or-flag train documents
  *    sharing a 5-token shingle with an eval/benchmark set;
  *  - PII SCRUBBING (q64): redact emails / phone numbers, count
  *    redactions;
  *  - REPETITION metrics (q65): within-document duplicate-token and
  *    duplicate-3-gram fractions (the Gopher/MassiveText-style
  *    repetition filters);
  *  - DOMAIN MIXING (q66): per-source sampling weights toward a
  *    uniform token budget across sources, with a deterministic
  *    per-document keep decision.
  *
  * Scale shapes: q64/q65 are map-only column expressions (one scan,
  * no shuffle but the presentation sort). q63 broadcasts the
  * benchmark shingle set (eval suites are tiny by definition) so the
  * corpus side stays map + partial-agg — the 100 TB corpus is never
  * shuffled by shingle. q66 aggregates to one row per source (tiny),
  * broadcasts the weights back, and decides keep/drop per document
  * with the engine-wide md5 hash — no per-document state, fully
  * reproducible at any parallelism.
  */
object Curation {

  private val toksExpr = Tokens.toksExpr
  private val toksSql = Tokens.toksSql

  /** Distinct 5-token shingles (space-joined); empty below 5 tokens.
    * Native one-pass kernel (graft.functions.TokenShingles) — the
    * interpreted transform+slice+concat_ws lambda this replaces cost
    * ~10 s per corpus pass at sf0.1. The oracle keeps the declarative
    * form; VectorExprSpec asserts bit-parity. */
  def grams5(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.shingles(toks, 5, distinct = true)
  private val grams5Sql =
    "CASE WHEN len(toks) >= 5 THEN list_distinct(list_transform(" +
      "range(1, len(toks) - 3), i -> array_to_string(list_slice(toks, i, i + 4), ' '))) " +
      "ELSE [] END"

  /** All 3-token shingles, multiplicity kept (the repetition metric
    * needs the duplicate count); empty below 3 tokens. */
  private def grams3(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.shingles(toks, 3, distinct = false)
  private val grams3Sql =
    "CASE WHEN len(toks) >= 3 THEN list_transform(" +
      "range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) " +
      "ELSE [] END"

  /** Documents whose id is divisible by this form the stand-in
    * benchmark/eval set for decontamination. */
  val BenchmarkMod = 97

  /** q128 pack size in tokens — deliberately small so the sf0.01
    * gate exercises many pack boundaries (including docs that
    * straddle them); production packs are context-length sized and
    * the plan shape is budget-independent. */
  val EpochPackBudget = 512

  /** q63b bloom geometry: m = [[BloomBitsPerGram]] bits per distinct
    * benchmark gram (floored at 64) with [[BloomK]] double-hash
    * probes — m/n = 8, k = 5 is the classic ~2% false-positive
    * point. Sizing m to the SET (not a fixed constant) keeps the FP
    * rate stable across corpus scales, and makes FPs — the part of
    * the bloom contract worth oracle-checking — actually occur at
    * test scale. */
  val BloomBitsPerGram = 8
  val BloomK = 5

  /** q84b's at-least-once feed model: originals land in micro-batches
    * 1..3 (doc_id mod 3), and the doc_id % RedeliverMod = RedeliverRem
    * slice of the train set is re-delivered in batch 4. TtlSeconds is
    * the FIXED dedup-state TTL (vs q84's corpus-derived delay):
    * smaller than the 1000 s batch spacing so state expires across
    * batches, larger than 0 so in-flight duplicates still dedup. */
  val RedeliverMod = 7
  val RedeliverRem = 3
  val TtlSeconds = 300

  /** Vocabulary cap for the broadcast-vocab surprisal filter (q82b):
    * the top-K terms by corpus frequency form the vocabulary, the tail
    * pools into one OOV bucket. Sized below this corpus's 31 distinct
    * terms so the OOV path is exercised and oracle-gated (the
    * production value is ~100K — whatever comfortably broadcasts). */
  val VocabK = 24

  // PII patterns — identical strings reach Spark (java.util.regex)
  // and the oracle (RE2): only constructs with the same semantics in
  // both engines (char classes, bounded repetition, literal escapes).
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"
  private val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val cardRe = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
  private val ibanRe = "[A-Z]{2}[0-9]{2}[A-Z0-9]{12}"

  /** q82's exploded (doc_id, term) stage, materialized once: it feeds
    * the total, the frequency table, and the per-doc sum — three
    * consumers that would otherwise re-tokenize the corpus. The
    * EXPLICIT-count repartition ahead of the ~50x token fan-out is the
    * q31 move: the parquet scan is ONE split at bench scale and AQE
    * sizes by input bytes, blind to the explosion. Package-visible so
    * ScaleShapeSpec can assert the materialized partition count
    * directly (the localCheckpoint severs lineage, so the final plan
    * string can't show the repartition). */
  /** q85's assignment body over any (doc_id, text) frame: split byte
    * = first md5 byte of the TEXT, so identical content always lands
    * in the same split regardless of ids — package-visible so the
    * spec can prove the leakage guard on a frame with forced
    * duplicates (the sf0.001 fixture has none). */
  private[graft] def splitAssign(docs: DataFrame): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withColumn("b", expr(Tokens.mdByteExpr("text")))
      .select(col("doc_id"), col("digest"),
        when(col("b") < 205, lit("train"))
          .when(col("b") < 230, lit("val"))
          .otherwise(lit("test")).as("split"))

  /** q84's per-row gate pipeline over a (doc_id, text) document
    * stream: quality + repetition scoring (stateless column
    * expressions, identical to q81's), then benchmark decontamination
    * as a stream-static LEFT ANTI join against the gram relation.
    *
    * The anti join is a BroadcastNestedLoopJoin on
    * `array_contains(grams, gram)` by construction — an equi-hash form
    * would need the gram-exploded doc re-AGGREGATED back to one row
    * per doc, and an append-mode stream allows no aggregation ahead of
    * the watermark dedup (and no stream-stream anti join to subtract a
    * contaminated-id stream). Per row it scans the broadcast gram set
    * until first match — the same work the plan-literal
    * `array_intersect` form did, but the eval suite now ships ONCE as
    * a broadcast relation instead of O(|bench|) literal expressions
    * re-planned every micro-batch. An empty bench relation keeps every
    * row, matching the old lit(false) special case. */
  private val gramsMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** The benchmark 5-gram set as a standalone MATERIALIZED relation
    * (cut once; ~KBs by definition), memoized per (session, dir):
    * q84 and q84b each broadcast it into their streams — not as a
    * driver-collected plan literal, which bloated the plan by
    * O(|bench|) expressions per micro-batch and would not survive an
    * eval suite growing past KBs. (The batch pipeline q81 instead
    * derives the grams from its own single corpus scan.) Released per
    * bench sweep via [[clearMemos]]. */
  private def benchGramsRel(s: SparkSession, d: String): DataFrame =
    gramsMemo.computeIfAbsent((s, d), _ => graft.Materialize.cut(
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .where(col("doc_id") % BenchmarkMod === 0)
        .select(explode(grams5(col("toks"))).as("gram")).distinct()))

  /** Force the memoized benchmark-gram relation for `d` NOW — the
    * bench harness's untimed pre-stage hook (the `gram` row of
    * [[graft.Bench.staging]]). The
    * gram set is index-like ("build once per eval-suite version,
    * probe every batch"), so its materialization belongs with the
    * trained models' stage_sec, not inside whichever streaming
    * curation query a sweep happens to run first: charging it to q84
    * doubled that query's median in round 11 (3.7 → 8.4 s) on an
    * unchanged stream plan. */
  def stageGrams(s: SparkSession, d: String): Unit = { benchGramsRel(s, d); () }

  /** Evict the memoized gram relations (bench sweeps / long-lived
    * sessions), releasing their materialized storage. */
  def clearMemos(): Unit = {
    import scala.jdk.CollectionConverters._
    gramsMemo.values.asScala.foreach(graft.Materialize.release)
    gramsMemo.clear()
  }

  private[graft] def curationGates(stream: DataFrame, benchGrams: DataFrame): DataFrame =
    stream
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("stop_hits",
        expr(TextAnalysis.hitsSpark(TextAnalysis.stopwords)))
      .withColumn("n_punct",
        expr("length(regexp_replace(text, '[a-z0-9\\\\s]', ''))"))
      .withColumn("quality", round(
        lit(0.4) * least(lit(1.0), col("n_toks").cast("double") / lit(50.0))
          + lit(0.4) * (col("stop_hits").cast("double") /
              col("n_toks").cast("double"))
          + lit(0.2) * (lit(1.0) - col("n_punct").cast("double")
              / length(col("text")).cast("double")), 6))
      .withColumn("g3", grams3(col("toks")))
      .withColumn("frac_dup_3grams", when(size(col("g3")) > 0,
        round(lit(1.0) - size(array_distinct(col("g3"))).cast("double") /
          size(col("g3")).cast("double"), 6)).otherwise(lit(0.0)))
      .withColumn("frac_dup_tokens", when(col("n_toks") > 0,
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
          col("n_toks").cast("double"), 6)).otherwise(lit(0.0)))
      .withColumn("digest", md5(col("text")))
      // cheap scalar gates first so the anti join sees fewer rows
      .where(col("quality") >= 0.5 &&
        !(col("frac_dup_3grams") > 0.1 || col("frac_dup_tokens") > 0.6))
      .withColumn("grams", grams5(col("toks")))
      .join(broadcast(benchGrams),
        array_contains(col("grams"), col("gram")), "left_anti")
      .drop("grams")

  private[graft] def surprisalTermsPlan(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"))
      .select(col("doc_id"), explode(col("toks")).as("term"))

  private[graft] def surprisalTerms(s: SparkSession, docs: DataFrame): DataFrame =
    graft.Materialize.cut(surprisalTermsPlan(s, docs))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Benchmark decontamination: n-gram overlap against the benchmark
    // set. The benchmark shingle relation is DISTINCT + broadcast (an
    // eval suite is KBs against a 100 TB corpus); the train side is
    // scan → explode → broadcast-hash semi-match → partial agg — the
    // corpus never shuffles by shingle, and the left join back for
    // zero-hit docs is on doc_id (co-partitioned with the agg).
    "q63_decontaminate" -> { (s, d) =>
      val g = Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("grams", grams5(col("toks")))
      val bench = g.where(col("doc_id") % BenchmarkMod === 0)
        .select(explode(col("grams")).as("gram")).distinct()
      val train = g.where(col("doc_id") % BenchmarkMod =!= 0)
      val hits = train
        .select(col("doc_id"), explode(col("grams")).as("gram"))
        .join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      train.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    },

    // Bloom-filter decontamination — the form q63 takes when the
    // benchmark gram set is too large to broadcast as strings (a
    // 10^10-gram suite is ~TBs of text but m bits of bloom). The
    // filter is DETERMINISTIC (k positions from the two md5 halves,
    // double hashing h1 + i*h2 mod m; m sized to the benchmark set),
    // so the oracle replicates it bit-for-bit — false positives
    // included; they are part of the operator's contract, not noise.
    // Scale: the benchmark side is eval-suite sized (its distinct +
    // count are KB-scale jobs, as in q63); the bitmap build shuffles
    // only distinct POSITIONS (key space = m bits; the ≤ m/64-row
    // word collect is bounded the same way), and the probe side is
    // pure map work under the one-row bitmap broadcast — NO shuffle
    // by gram anywhere, strictly less data motion than q63's
    // broadcast-string join.
    "q63b_bloom_decontaminate" -> { (s, d) =>
      val session = s
      import session.implicits._
      val g = Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("grams", grams5(col("toks")))
      def hashed(df: DataFrame): DataFrame = df
        .withColumn("h1", expr(Tokens.hexFold("md5(gram)", 8)))
        .withColumn("h2", expr(Tokens.hexFold("substr(md5(gram), 9, 8)", 8)))
      val bench = g.where(col("doc_id") % BenchmarkMod === 0)
        .select(explode(col("grams")).as("gram")).distinct()
      val m = math.max(64L, BloomBitsPerGram * bench.count())
      val words = hashed(bench)
        .select(explode(expr(s"transform(sequence(0, ${BloomK - 1}), " +
          s"i -> (h1 + i * h2) % $m)")).as("p"))
        .distinct()
        .groupBy((col("p") / 64).cast("int").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(p % 64 AS INT)))").as("word"))
        .collect()
      val bm = Array.fill[Long](((m + 63) / 64).toInt)(0L)
      words.foreach(r => bm(r.getInt(0)) = r.getLong(1))
      val bmDf = Seq(Tuple1(bm.toSeq)).toDF("bm")
      val train = g.where(col("doc_id") % BenchmarkMod =!= 0)
      val hit = (0 until BloomK).map { i =>
        expr(s"(element_at(bm, CAST(((h1 + $i * h2) % $m) / 64 AS INT)" +
          s" + 1) & shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(((h1 + $i * h2) % $m) % 64 AS INT))) != 0")
      }.reduce(_ && _)
      val hits = hashed(train
          .select(col("doc_id"), explode(col("grams")).as("gram")))
        .crossJoin(broadcast(bmDf))
        .where(hit)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      train.select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    },

    // Token-budget data mixing: per source, keep the highest-quality
    // documents (q41's score, doc_id tie-break) until half the
    // source's tokens are spent — the budgeted-mixture curation step
    // a pretraining pipeline runs after dedup/filtering. The naive
    // form is a doc-level window per source (a handful of sources at
    // 100 TB = a handful of tasks each sorting terabytes), so this is
    // two-phase: corpus-wide work STOPS at a (source, quality-bucket)
    // token aggregate; the running total, budget, and keep/boundary
    // verdicts are computed on that small materialized relation and
    // broadcast back, deciding every non-boundary doc map-side. Only
    // the single boundary bucket per source — the one the budget
    // crosses inside — gets a doc-level window, over a bucket-sized
    // input. Greedy-prefix equivalence: a doc's prefix sum in
    // (quality DESC, doc_id) order = its bucket's cum_before + its
    // within-bucket prefix, so the verdicts match the direct window
    // form row-for-row (which is exactly what the oracle runs).
    "q94_token_budget_mix" -> { (s, d) =>
      // the quality projection (tokenize + two regex passes) is the
      // query's CPU; the corpus arrives as one file (1–3 scan splits),
      // so spread it across the configured parallelism first (the
      // indexBandRows fan-out move), and MATERIALIZE the narrow
      // 4-column projection once — it feeds both the bucket aggregate
      // and the verdict join, which otherwise re-tokenized the corpus
      // a second time (profiled: 3 × ~0.47 s jobs at 1–3 tasks,
      // 2.5 s wall → 1.2 s)
      val raw = Tables.documents(s, d)
      val nPar = s.conf.get("spark.sql.shuffle.partitions").toInt
      val spread = if (raw.inputFiles.length < nPar)
        raw.repartition(nPar, col("doc_id")) else raw
      val docs = graft.Materialize.cut(spread
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("stop_hits",
          expr(TextAnalysis.hitsSpark(TextAnalysis.stopwords)))
        .withColumn("n_punct",
          expr("length(regexp_replace(text, '[a-z0-9\\\\s]', ''))"))
        .withColumn("quality",
          when(col("n_toks") === 0 || length(col("text")) === 0, lit(0.0))
            .otherwise(round(
              lit(0.4) * least(lit(1.0),
                col("n_toks").cast("double") / lit(50.0)) +
                lit(0.4) * (col("stop_hits").cast("double") /
                  col("n_toks").cast("double")) +
                lit(0.2) * (lit(1.0) - col("n_punct").cast("double") /
                  length(col("text")).cast("double")), 6)))
        .select(col("doc_id"), col("source"), col("n_toks"), col("quality")))
      val buckets = graft.Materialize.cut(
        docs.groupBy(col("source"), col("quality"))
          .agg(sum(col("n_toks")).as("b_toks")))
      val w = Window.partitionBy(col("source")).orderBy(col("quality").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val budgets = buckets.groupBy(col("source"))
        .agg(expr("sum(b_toks) div 2").as("budget"))
      val binfo = buckets
        .withColumn("cum_after", sum(col("b_toks")).over(w))
        .withColumn("cum_before", col("cum_after") - col("b_toks"))
        .join(budgets, Seq("source"))
        .withColumn("full_keep", col("cum_after") <= col("budget"))
        .withColumn("boundary",
          col("cum_before") < col("budget") && col("cum_after") > col("budget"))
        .select(col("source"), col("quality"), col("cum_before"),
          col("budget"), col("full_keep"), col("boundary"))
      val joined = docs.join(broadcast(binfo), Seq("source", "quality"))
      val plain = joined.where(!col("boundary"))
        .select(col("doc_id"), col("source"), col("n_toks"), col("quality"),
          col("full_keep").as("kept"))
      val bw = Window.partitionBy(col("source"), col("quality"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val borderline = joined.where(col("boundary"))
        .withColumn("dcum", sum(col("n_toks")).over(bw))
        .select(col("doc_id"), col("source"), col("n_toks"), col("quality"),
          (col("cum_before") + col("dcum") <= col("budget")).as("kept"))
      plain.union(borderline).orderBy(col("doc_id"))
    },

    // DETERMINISTIC EPOCH SHUFFLE — the reproducible training-order
    // manifest: each epoch's order is the rank of md5(epoch ':'
    // doc_id), so any worker (or a re-run months later) derives the
    // same permutation from the corpus alone — no persisted shuffle
    // files, no RNG state. Planned via GlobalOrder.globalRank with
    // the hash's leading byte as the bucket: md5 is uniform, so the
    // 256 buckets are balanced BY CONSTRUCTION (the no-skew instance
    // of the q124 primitive; the histogram-visible guard still
    // records the observed max). Per epoch the cost is one bounded
    // histogram + one partitioned window — never a global sort
    // through one task. Scale note: epochs are independent; a trainer
    // materializes only the epoch it needs, and the rank is joinable
    // back to any doc payload by doc_id.
    "q126_epoch_shuffle" -> { (s, d) =>
      val keyed = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("epoch", explode(array(lit(1), lit(2))))
        .withColumn("ekey", md5(concat_ws(":",
          col("epoch").cast("string"), col("doc_id").cast("string"))))
        .withColumn("ebucket", expr(Tokens.hexFold("ekey", 2)))
      GlobalOrder.globalRank(keyed, Seq("epoch"), "ebucket",
          Seq(col("ekey"), col("doc_id")), "shuffle_rank",
          "epoch-shuffle-buckets")
        .select(col("epoch"), col("doc_id"), col("shuffle_rank"))
        .orderBy(col("epoch"), col("shuffle_rank"))
    },

    // EPOCH PACK MANIFEST — q126's shuffle composed with
    // concat-then-chunk sequence packing: in each epoch's shuffled
    // order, documents concatenate into a token stream and pack p
    // owns tokens [p·B, (p+1)·B); the manifest assigns each doc to
    // the pack its FIRST token lands in (a doc may overflow into the
    // next pack — that is chunked-concat semantics, the trainer reads
    // on). The running token offset comes from
    // GlobalOrder.globalRunningSum — the WEIGHTED generalization of
    // the q124/q126 primitive (per-bucket token totals prefix-summed
    // on the driver, within-bucket running sum as a partitioned
    // window) — so the global concat order needs no single-partition
    // window and no persisted shuffle state. Deterministic end to
    // end: any worker derives the same manifest from the corpus.
    "q128_epoch_pack" -> { (s, d) =>
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"),
          size(expr(toksExpr)).cast("long").as("n_toks"))
        .withColumn("epoch", explode(array(lit(1), lit(2))))
        .withColumn("ekey", md5(concat_ws(":",
          col("epoch").cast("string"), col("doc_id").cast("string"))))
        .withColumn("ebucket", expr(Tokens.hexFold("ekey", 2)))
      GlobalOrder.globalRunningSum(keyed, Seq("epoch"), "ebucket",
          Seq(col("ekey"), col("doc_id")), "n_toks", "cum_toks",
          "epoch-pack-buckets")
        .withColumn("pack_id", expr(
          s"CAST((cum_toks - n_toks) DIV $EpochPackBudget AS INT)"))
        .select(col("epoch"), col("doc_id"), col("n_toks"),
          col("cum_toks"), col("pack_id"))
        .orderBy(col("epoch"), col("cum_toks"), col("doc_id"))
    },

    // PII scrubbing: deterministic synthetic PII is injected into
    // slices of documents (the corpus itself is clean), then redacted
    // with the same regexes a real pipeline would run — emails,
    // phones, IPv4 addresses, 16-digit card numbers, IBAN-shaped
    // account ids. Map-only; replacement order is fixed and mirrored
    // in the oracle (the patterns are mutually non-overlapping by
    // construction, so order is belt-and-braces, not semantics).
    "q64_pii_scrub" -> { (s, d) =>
      val aug =
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example or call +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .when(col("doc_id") % 7 === 3, concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@web.example")))
        .when(col("doc_id") % 7 === 1, concat(col("text"),
          lit(" client ip 10."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"),
          lit("."), ((col("doc_id") % 250) + 1).cast("string")))
        .when(col("doc_id") % 7 === 5, concat(col("text"),
          lit(" card 4111-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit("-2222-"),
          lpad((col("doc_id") % 9999).cast("string"), 4, "0")))
        .when(col("doc_id") % 7 === 2, concat(col("text"),
          lit(" iban DE"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lpad((col("doc_id") % 1000000).cast("string"), 12, "0")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .withColumn("augmented", aug)
        .select(col("doc_id"),
          regexp_count(col("augmented"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("augmented"), lit(phoneRe)).cast("long").as("n_phones"),
          regexp_count(col("augmented"), lit(ipRe)).cast("long").as("n_ips"),
          regexp_count(col("augmented"), lit(cardRe)).cast("long").as("n_cards"),
          regexp_count(col("augmented"), lit(ibanRe)).cast("long").as("n_ibans"),
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(col("augmented"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"), ipRe, "<IP>"), cardRe, "<CARD>"),
            ibanRe, "<IBAN>").as("scrubbed"))
        .orderBy(col("doc_id"))
    },

    // Repetition metrics: duplicate-token and duplicate-3-gram
    // fractions per document (repetitious documents are the classic
    // LLM-quality filter). Pure column expressions over one scan.
    "q65_repetition" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("g3", grams3(col("toks")))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("frac_dup_tokens", when(col("n_toks") > 0,
          round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
            col("n_toks").cast("double"), 6)).otherwise(lit(0.0)))
        .withColumn("frac_dup_3grams", when(size(col("g3")) > 0,
          round(lit(1.0) - size(array_distinct(col("g3"))).cast("double") /
            size(col("g3")).cast("double"), 6)).otherwise(lit(0.0)))
        .select(col("doc_id"), col("n_toks"),
          col("frac_dup_tokens"), col("frac_dup_3grams"),
          (col("frac_dup_3grams") > 0.1 || col("frac_dup_tokens") > 0.6)
            .as("repetitive"))
        .orderBy(col("doc_id"))
    },

    // Domain mixing: per-source token counts → uniform-target weights
    // (capped at 1) → deterministic per-document keep via the
    // engine-wide md5 byte against floor(weight * 256). The weight
    // table is one row per source — broadcast back to the corpus; the
    // only corpus-wide shuffle is the per-source aggregation itself.
    // The COMPOSED curation pipeline — every filter a C4-style corpus
    // pass applies, as ONE query: quality score + repetition metrics
    // computed map-only in a single corpus scan, benchmark
    // decontamination as a broadcast gram semi-join, exact dedup as a
    // digest groupBy keeping the id-minimal copy, then the conjunction
    // of all gates. This is the "a user runs their whole pipeline on
    // this engine" proof: one scan + two skinny joins, no operator
    // recomputes another's scan. At 100 TB the signal columns ride the
    // scan for free and only (digest, doc_id) and (doc_id, gram-hit)
    // streams ever shuffle.
    "q81_curation_pipeline" -> { (s, d) =>
      val sig = Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("stop_hits", expr(TextAnalysis.hitsSpark(TextAnalysis.stopwords)))
        .withColumn("n_punct",
          expr("length(regexp_replace(text, '[a-z0-9\\\\s]', ''))"))
        .withColumn("quality", round(
          lit(0.4) * least(lit(1.0), col("n_toks").cast("double") / lit(50.0))
            + lit(0.4) * (col("stop_hits").cast("double") / col("n_toks").cast("double"))
            + lit(0.2) * (lit(1.0) - col("n_punct").cast("double")
                / length(col("text")).cast("double")), 6))
        .withColumn("g3", grams3(col("toks")))
        .withColumn("frac_dup_3grams", when(size(col("g3")) > 0,
          round(lit(1.0) - size(array_distinct(col("g3"))).cast("double") /
            size(col("g3")).cast("double"), 6)).otherwise(lit(0.0)))
        .withColumn("frac_dup_tokens", when(col("n_toks") > 0,
          round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
            col("n_toks").cast("double"), 6)).otherwise(lit(0.0)))
        .withColumn("repetitive",
          col("frac_dup_3grams") > 0.1 || col("frac_dup_tokens") > 0.6)
        .withColumn("digest", md5(col("text")))
      val train = sig.where(col("doc_id") % BenchmarkMod =!= 0)
      val benchGrams = sig.where(col("doc_id") % BenchmarkMod === 0)
        .select(explode(grams5(col("toks"))).as("gram")).distinct()
      val contaminated = train
        .select(col("doc_id"), explode(grams5(col("toks"))).as("gram"))
        .join(broadcast(benchGrams), Seq("gram"))
        .select(col("doc_id")).distinct()
      val canonical = train.groupBy(col("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
      train
        .join(canonical, Seq("digest", "doc_id"))
        .join(contaminated.withColumn("hit", lit(true)), Seq("doc_id"), "left")
        .where(col("hit").isNull &&
          col("quality") >= 0.5 && !col("repetitive"))
        .select(col("doc_id"), col("n_toks"), col("quality"),
          col("frac_dup_3grams"))
        .orderBy(col("doc_id"))
    },

    // STREAMING curation — q81's composed pipeline on the ingest
    // firehose: every gate of the batch pass (quality, repetition,
    // benchmark decontamination, exact dedup) applied to a document
    // STREAM in one query. Quality/repetition are per-row column
    // expressions (stateless, identical to q81's); decontamination is
    // an array_intersect against the benchmark gram set shipped as a
    // broadcast literal (an eval suite is KBs by definition — the
    // streaming twin of q63's broadcast semi-join); exact dedup is
    // dropDuplicatesWithinWatermark on the content digest (q78's
    // bounded-state form, delay derived from max(doc_id) for the
    // gate; a production job sets a fixed TTL). Output is keyed by
    // the content DIGEST — the unit a stream can deduplicate on; all
    // gates are content-determined, so the kept set equals the batch
    // pipeline's kept set: streaming ≡ batch for the WHOLE pipeline,
    // proven at the driver's oracle gate, not just for its pieces.
    "q84_stream_curation" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val benchGrams = benchGramsRel(s, d)
      val train = docs.where(col("doc_id") % BenchmarkMod =!= 0)
        .select(col("doc_id"), col("text"))
      val maxRow = train.agg(max(col("doc_id"))).head()
      val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      graft.streaming.Replay.run(s, train, files = 3, stateParts = Some(3),
        stageKey = Some(s"q84:$d")) { stream =>
        curationGates(stream, benchGrams)
          .withColumn("ts",
            timestamp_seconds(lit(1700000000L) + col("doc_id")))
          .withWatermark("ts", s"${maxId + 60} seconds")
          .dropDuplicatesWithinWatermark("digest")
          .select(col("digest"), col("n_toks"), col("quality"),
            col("frac_dup_3grams"))
      }
        // set semantics are the contract (as q78: the delay makes
        // re-emission impossible here; distinct states the invariant)
        .distinct().orderBy(col("digest"))
    },

    // BOUNDED-TTL streaming curation — the form a real firehose runs:
    // q84 derives its watermark delay from max(doc_id) so nothing
    // expires during the replay (exact batch equality, corpus-sized
    // state); here the delay is a FIXED constant independent of the
    // corpus, so dedup state is bounded and the exactness trade
    // becomes observable. The stream models an AT-LEAST-ONCE source:
    // originals land in micro-batches 1..3 (doc_id mod 3), and a
    // deterministic slice (doc_id mod RedeliverMod = RedeliverRem) is
    // RE-DELIVERED in batch 4. Event time is the batch landing slot
    // (base + 1000·batch), so with a 300 s TTL a digest admitted in
    // batch p expires at watermark time and is evicted during the
    // SECOND batch executed with the advanced watermark (eviction is
    // lazy — end-of-batch cleanup): state lives through batches
    // p..p+2. A batch-1 original's re-delivery in batch 4 is
    // therefore RE-ADMITTED (n_emits = 2 — the bounded-state trade),
    // while batch-2/3 originals' re-deliveries still dedup (their
    // state is live or evicted only after batch 4's own cleanup) —
    // which is exactly the lazy-eviction timing the oracle predicts.
    "q84b_stream_curation_ttl" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val benchGrams = benchGramsRel(s, d)
      val train = docs.where(col("doc_id") % BenchmarkMod =!= 0)
        .select(col("doc_id"), col("text"))
      val feed = train
        .withColumn("batch", (col("doc_id") % 3 + 1).cast("int"))
        .unionByName(train
          .where(col("doc_id") % RedeliverMod === RedeliverRem)
          .withColumn("batch", lit(4).cast("int")))
      graft.streaming.Replay.runBatched(s, feed, "batch", batches = 4,
        stateParts = Some(4), stageKey = Some(s"q84b:$d")) { stream =>
        curationGates(stream, benchGrams)
          .withColumn("ts",
            timestamp_seconds(lit(1700000000L) + col("batch") * 1000))
          .withWatermark("ts", s"$TtlSeconds seconds")
          .dropDuplicatesWithinWatermark("digest")
          .select(col("digest"), col("n_toks"), col("quality"),
            col("frac_dup_3grams"))
      }
        // emission MULTIPLICITY is the contract here: a re-admitted
        // digest appears twice in the append output
        .groupBy(col("digest"), col("n_toks"), col("quality"),
          col("frac_dup_3grams"))
        .agg(count(lit(1)).cast("bigint").as("n_emits"))
        .orderBy(col("digest"))
    },

    // ARBITRARY-STATE STREAMING — `transformWithState`, Spark 4's
    // successor to flatMapGroupsWithState (named typed state
    // variables, initial-state seeding, state-v2 RocksDB backend),
    // driving PER-SOURCE TOKEN-BUDGET ADMISSION on the firehose: each
    // source may contribute at most half its total tokens; documents
    // are cut once the source's running arrival-ordered sum crosses
    // the cap (see [[graft.streaming.BudgetState]]). Budgets ride the
    // INITIAL-STATE relation (|sources| rows); per-key state is one
    // Long. The replay's 3 micro-batches split the doc_id range into
    // monotone thirds so arrival order equals doc_id order — which
    // makes the verdict a pure prefix function, oracle-checked
    // against a window-sum SQL formulation.
    "q104_stream_budget" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.BudgetState._
      val docs = Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("n_toks"))
      val maxRow = docs.agg(max(col("doc_id"))).head()
      val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      val feed = docs.withColumn("batch",
        (least(lit(2L), floor(col("doc_id") * 3.0 / (maxId + 1)))
          + 1).cast("int"))
      val budgets = docs.groupBy(col("source"))
        .agg(expr("sum(n_toks) div 2").as("budget"))
        .as[SourceBudget]
      // transformWithState requires the RocksDB state store (state
      // v2); set it for this replay and restore after — runBatched
      // fully consumes the stream before returning, so the restore
      // cannot race the stream thread's conf clone
      val prevStore =
        s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      val out =
        try {
          s.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          graft.streaming.Replay.runBatched(s, feed, "batch", batches = 3,
            stateParts = Some(3), stageKey = Some(s"q104:$d")) { stream =>
            stream.as[DocTokens]
              .groupByKey(_.source)
              .transformWithState(new TokenBudgetProcessor,
                org.apache.spark.sql.streaming.TimeMode.None(),
                org.apache.spark.sql.streaming.OutputMode.Append(),
                budgets.groupByKey(_.source))
              .toDF()
          }
        } finally prevStore match {
          case Some(v) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      out.orderBy(col("doc_id"))
    },

    // CORPUS-FREQUENCY SURPRISAL FILTER (the CCNet/perplexity-filter
    // shape with the corpus's own unigram model standing in for the
    // external LM): per-token negative logprob from corpus-wide term
    // frequencies, averaged per document, and a z-score keep rule —
    // docs whose mean surprisal sits > 2 sigma from the corpus mean
    // are boilerplate (too predictable) or gibberish (too surprising).
    // Determinism: ln is rounded to 6 ONCE per term type (the q47
    // libm-parity move) and carried as DECIMAL(18,6), so every
    // per-document sum is order-independent; mu/sigma come from
    // DECIMAL sums of rounded values, so the keep threshold is
    // bit-identical in both engines. Scale: the (term) join is the
    // one corpus-wide shuffle (a production run broadcasts a top-K
    // vocab with an OOV bucket instead); mu/sigma are one tiny
    // aggregate broadcast back — the keep decision itself is map-only,
    // never a global sort/percentile pass.
    "q82_surprisal_filter" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("toks", expr(toksExpr))
      val terms = surprisalTerms(s, docs)
      val tot = terms.agg(count(lit(1)).as("n_total"))
      val freq = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .withColumn("nlp", round(-log(
          col("cnt").cast("double") / col("n_total").cast("double")), 6)
          .cast("decimal(18,6)"))
        .select(col("term"), col("nlp"))
      val perDoc = terms.join(freq, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("nlp")).as("snlp"))
        .withColumn("s", round(
          col("snlp").cast("double") / col("n_toks").cast("double"), 6))
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("nd"),
        sum(col("s").cast("decimal(18,6)")).cast("double").as("s1"),
        sum(round(col("s") * col("s"), 6).cast("decimal(18,6)"))
          .cast("double").as("s2"))
      docs.select(col("doc_id"), col("lang"))
        .join(perDoc.select(col("doc_id"), col("n_toks"), col("s")),
          Seq("doc_id"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("mu", col("s1") / col("nd"))
        .withColumn("sigma", sqrt(greatest(
          col("s2") / col("nd") - col("mu") * col("mu"), lit(0.0))))
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          col("s").as("avg_surprisal"),
          when(col("s").isNull, lit(false))
            .otherwise(abs(col("s") - col("mu")) <= lit(2.0) * col("sigma"))
            .as("keep"))
        .orderBy(col("doc_id"))
    },

    // BROADCAST-VOCAB surprisal filter — q82's PRODUCTION form (the
    // comment there promises it; this delivers it): the frequency
    // model is capped at the top-[[VocabK]] terms by corpus count
    // (term-asc tiebreak, deterministic in both engines) with the
    // whole tail pooled into ONE OOV bucket, and the capped table is
    // BROADCAST for scoring. The corpus is never shuffled by term at
    // corpus row volume:
    //   - vocab training is groupBy(term) over the term stream —
    //     map-side partial aggregation means the term-keyed exchange
    //     carries (partition x vocab) partially-summed rows, not
    //     corpus tokens;
    //   - top-K is orderBy.limit → TakeOrderedAndProject (per-
    //     partition top-K, no global sort);
    //   - scoring is a BroadcastHashJoin of the term stream against
    //     the K+1-row nlp table — map-only per token — and the only
    //     corpus-scale shuffle left is the per-doc aggregation on the
    //     uniform doc_id key (ScaleShapeSpec asserts no shuffle join
    //     on term anywhere in the plan).
    // Determinism: same DECIMAL(18,6)-rounded-nlp machinery as q82, so
    // sums are order-independent; the OOV nlp comes from the pooled
    // tail count (floored at 1 occurrence so an all-vocab corpus
    // cannot produce ln(0)).
    "q82b_surprisal_vocab" -> { (s, d) =>
      val docs = Tables.documents(s, d).withColumn("toks", expr(toksExpr))
      val terms = surprisalTerms(s, docs)
      val tot = terms.agg(count(lit(1)).as("n_total"))
      val vocab = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term").asc).limit(VocabK)
      val vocabNlp = vocab.crossJoin(broadcast(tot))
        .select(col("term"), round(-log(
          col("cnt").cast("double") / col("n_total").cast("double")), 6)
          .cast("decimal(18,6)").as("nlp"))
      val oov = vocab.agg(sum(col("cnt")).as("v_cnt"))
        .crossJoin(broadcast(tot))
        .select(round(-log(
          greatest(col("n_total") - col("v_cnt"), lit(1L)).cast("double") /
            col("n_total").cast("double")), 6)
          .cast("decimal(18,6)").as("oov_nlp"))
      val perDoc = terms
        .join(broadcast(vocabNlp), Seq("term"), "left")
        .crossJoin(broadcast(oov))
        .withColumn("nlp", coalesce(col("nlp"), col("oov_nlp")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("nlp")).as("snlp"))
        .withColumn("s", round(
          col("snlp").cast("double") / col("n_toks").cast("double"), 6))
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("nd"),
        sum(col("s").cast("decimal(18,6)")).cast("double").as("s1"),
        sum(round(col("s") * col("s"), 6).cast("decimal(18,6)"))
          .cast("double").as("s2"))
      docs.select(col("doc_id"), col("lang"))
        .join(perDoc.select(col("doc_id"), col("n_toks"), col("s")),
          Seq("doc_id"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("mu", col("s1") / col("nd"))
        .withColumn("sigma", sqrt(greatest(
          col("s2") / col("nd") - col("mu") * col("mu"), lit(0.0))))
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          col("s").as("avg_surprisal"),
          when(col("s").isNull, lit(false))
            .otherwise(abs(col("s") - col("mu")) <= lit(2.0) * col("sigma"))
            .as("keep"))
        .orderBy(col("doc_id"))
    },

    // BIGRAM-LM PERPLEXITY FILTER — the full CCNet shape: a LANGUAGE
    // MODEL trained on a REFERENCE corpus (here the doc_id%10==0
    // slice standing in for the curated wiki dump; in production the
    // model ships as an artifact) scores every document by mean
    // negative log-likelihood under per-language add-k-smoothed
    // BIGRAM probabilities, and the filter keeps docs more fluent
    // than their language's mean. This is context-sensitive where
    // q82/q82b are bag-of-words: a doc of common words in improbable
    // ORDER scores badly here and fine there.
    //
    // Model = three tiny relations (bigram counts, context counts,
    // per-lang vocab), all BROADCAST — an n-gram LM is MBs against a
    // 100 TB corpus. Scoring is: one corpus scan → bigram explode
    // (native shingle kernel) → four broadcast joins (vocab×2 for
    // UNK-mapping, counts×2) → per-doc aggregation on the doc_id key
    // the scan was repartitioned by, so the ONLY corpus-volume
    // shuffle is that explicit repartition (ScaleShapeSpec asserts no
    // shuffle join on any model key). Smoothing: p(w2|w1) =
    // (c2 + 0.5) / (c1 + 0.5·V), V = ref vocab + 1 for <unk>; OOV
    // tokens map to <unk> BEFORE lookup, so unseen contexts get the
    // uniform floor rather than ln(0). Determinism: the q82 pattern —
    // ln rounded to 6 per OCCURRENCE of identical double inputs,
    // carried as DECIMAL(18,6) so per-doc and per-lang sums are
    // order-independent; keep threshold = per-lang mean of rounded
    // nll, bit-identical in both engines. A lang absent from the
    // reference slice has no model: its docs emit nll NULL /
    // keep false (the inner join on vocab size states it).
    "q118_lm_perplexity" -> { (s, d) =>
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val docs = Tables.documents(s, d).withColumn("toks", expr(toksExpr))
      val bigr = graft.functions.VectorFunctions.shingles(
        col("toks"), 2, distinct = false)
      val ref = docs.where(pmod(col("doc_id"), lit(10)) === 0)
      val refBi = ref
        .select(col("lang"), explode(bigr).as("bi"))
        .select(col("lang"),
          substring_index(col("bi"), " ", 1).as("w1"),
          substring_index(col("bi"), " ", -1).as("w2"))
      val c2 = refBi.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt2"))
      val c1 = refBi.groupBy(col("lang"), col("w1"))
        .agg(count(lit(1)).as("cnt1"))
      val vocab = ref
        .select(col("lang"), explode(col("toks")).as("term")).distinct()
      val vsize = vocab.groupBy(col("lang"))
        .agg((count(lit(1)) + 1).as("v"))
      val scored = docs
        .repartition(parts, col("doc_id"))
        .select(col("doc_id"), col("lang"), explode(bigr).as("bi"))
        .select(col("doc_id"), col("lang"),
          substring_index(col("bi"), " ", 1).as("rw1"),
          substring_index(col("bi"), " ", -1).as("rw2"))
        .join(broadcast(vocab.select(col("lang"),
          col("term").as("rw1"), lit(1).as("in1"))), Seq("lang", "rw1"), "left")
        .join(broadcast(vocab.select(col("lang"),
          col("term").as("rw2"), lit(1).as("in2"))), Seq("lang", "rw2"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("in1").isNull, lit("<unk>")).otherwise(col("rw1")).as("w1"),
          when(col("in2").isNull, lit("<unk>")).otherwise(col("rw2")).as("w2"))
        .join(broadcast(c2), Seq("lang", "w1", "w2"), "left")
        .join(broadcast(c1), Seq("lang", "w1"), "left")
        .join(broadcast(vsize), Seq("lang"))
        .withColumn("nlp", round(-log(
          (coalesce(col("cnt2"), lit(0L)).cast("double") + lit(0.5)) /
            (coalesce(col("cnt1"), lit(0L)).cast("double")
              + lit(0.5) * col("v").cast("double"))), 6)
          .cast("decimal(18,6)"))
      val perDoc = scored.groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nlp")).as("snlp"))
        .withColumn("nll", round(
          col("snlp").cast("double") / col("n_bigrams").cast("double"), 6))
      val mu = perDoc.groupBy(col("lang")).agg(
        (sum(col("nll").cast("decimal(18,6)")).cast("double") /
          count(lit(1)).cast("double")).as("mu"))
      docs.select(col("doc_id"), col("lang"))
        .join(perDoc.select(col("doc_id"), col("n_bigrams"), col("nll")),
          Seq("doc_id"), "left")
        .join(broadcast(mu), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("nll"),
          when(col("nll").isNull, lit(false))
            .otherwise(col("nll") <= col("mu")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // LEARNED QUALITY CLASSIFIER — multinomial Naive Bayes (the
    // fastText-style quality filter every production curation stack
    // runs after the heuristic gates): heuristic labels on the train
    // slice (doc_id%10≠0, label = q81's quality score ≥ 0.5) train
    // token likelihoods with Laplace smoothing, and EVERY doc is
    // scored by per-class negative log-likelihood (priors smoothed
    // +1/+2 so a one-sided corpus can't produce ln 0); pred_keep =
    // keep-class NLL ≤ drop-class NLL. Training is counts — groupBy
    // term with map-side partials (exchange bounded at partitions ×
    // vocab) plus three scalar aggregates; the model (term → two
    // counts) is MBs and BROADCAST, so scoring is one corpus scan →
    // token explode → broadcast join → doc_id-partitioned agg, the
    // q118 shape. Determinism: ln rounded to 6 per occurrence of
    // identical double inputs, DECIMAL(18,6) sums, one final cast to
    // double — bit-identical across engines, ties break to keep.
    "q119_nb_quality" -> { (s, d) =>
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val docs = Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("stop_hits",
          expr(TextAnalysis.hitsSpark(TextAnalysis.stopwords)))
        .withColumn("n_punct",
          expr("length(regexp_replace(text, '[a-z0-9\\\\s]', ''))"))
        .withColumn("quality", round(
          lit(0.4) * least(lit(1.0), col("n_toks").cast("double") / lit(50.0))
            + lit(0.4) * (col("stop_hits").cast("double") /
                col("n_toks").cast("double"))
            + lit(0.2) * (lit(1.0) - col("n_punct").cast("double")
                / length(col("text")).cast("double")), 6))
        .withColumn("is_train", pmod(col("doc_id"), lit(10)) =!= 0)
        .withColumn("label_heur", when(col("is_train"),
          coalesce(col("quality") >= 0.5, lit(false)))
          .otherwise(lit(null).cast("boolean")))
      val train = docs.where(col("is_train"))
        .withColumn("lab", coalesce(col("quality") >= 0.5, lit(false)))
      val prior = train.agg(
        count(when(col("lab"), 1)).as("nd_keep"),
        count(when(!col("lab"), 1)).as("nd_drop"),
        count(lit(1)).as("nd"))
      val trainToks = train.select(col("lab"), explode(col("toks")).as("term"))
      val termCnt = trainToks.groupBy(col("term")).agg(
        count(when(col("lab"), 1)).as("cnt_keep"),
        count(when(!col("lab"), 1)).as("cnt_drop"))
      val tots = trainToks.agg(
        count(when(col("lab"), 1)).as("tot_keep"),
        count(when(!col("lab"), 1)).as("tot_drop"),
        countDistinct(col("term")).as("v"))
      def nlp(cnt: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column) =
        round(-log((coalesce(cnt, lit(0L)).cast("double") + lit(1.0)) /
          (tot.cast("double") + col("v").cast("double"))), 6)
          .cast("decimal(18,6)")
      val perDoc = docs
        .repartition(parts, col("doc_id"))
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .join(broadcast(termCnt), Seq("term"), "left")
        .crossJoin(broadcast(tots))
        .select(col("doc_id"),
          nlp(col("cnt_keep"), col("tot_keep")).as("nlp_keep"),
          nlp(col("cnt_drop"), col("tot_drop")).as("nlp_drop"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nlp_keep")).as("snk"), sum(col("nlp_drop")).as("snd"))
      def lp(nd: org.apache.spark.sql.Column) =
        round(-log((nd.cast("double") + lit(1.0)) /
          (col("nd").cast("double") + lit(2.0))), 6).cast("decimal(18,6)")
      docs.select(col("doc_id"), col("n_toks"), col("is_train"),
          col("label_heur"))
        .join(perDoc, Seq("doc_id"), "left")
        .crossJoin(broadcast(prior))
        .withColumn("s_keep",
          (coalesce(col("snk"), lit(0)) + lp(col("nd_keep"))).cast("double"))
        .withColumn("s_drop",
          (coalesce(col("snd"), lit(0)) + lp(col("nd_drop"))).cast("double"))
        .select(col("doc_id"), col("n_toks"), col("is_train"),
          col("label_heur"), col("s_keep"), col("s_drop"),
          (col("s_keep") <= col("s_drop")).as("pred_keep"))
        .orderBy(col("doc_id"))
    },

    // DATASET SPLIT — the train/val/test assignment every training
    // pipeline runs last, with the subtlety that makes it a curation
    // op and not a one-liner: the split key is the CONTENT digest,
    // not the doc id, so exact duplicates can never straddle splits
    // (id-keyed splitting leaks duplicated content from train into
    // eval — the classic invisible contamination). Map-only, one
    // scan, deterministic at any parallelism: split byte = first md5
    // byte of the text (the engine-wide uniform hash), thresholds
    // 205/230 of 256 ≈ 80.1 / 9.8 / 10.2%.
    "q85_dataset_split" -> { (s, d) =>
      splitAssign(Tables.documents(s, d)).orderBy(col("doc_id"))
    },

    "q66_domain_mix" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("h", expr(Tokens.mdByteExpr("doc_id")))
      val bySource = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      val totals = bySource.agg(
        sum(col("n_tokens")).as("t_total"),
        count(lit(1)).as("n_sources"))
      val weights = bySource.crossJoin(broadcast(totals))
        .withColumn("weight", least(lit(1.0), round(
          col("t_total").cast("double") / col("n_sources").cast("double") /
            col("n_tokens").cast("double"), 6)))
        .withColumn("threshold", floor(col("weight") * 256).cast("int"))
      val kept = docs.join(broadcast(weights.select(col("source"),
          col("threshold"))), Seq("source"))
        .where(col("h") < col("threshold"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      weights.join(broadcast(kept), Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("weight"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },
  )

  def oracle: Map[String, String] = {
    // shared by q84/q84b: the gate chain through the kept train set
    val curationKeptSql =
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS toks FROM documents),
         |sig AS (
         |  SELECT doc_id, text, toks,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    ${TextAnalysis.hitsSql(TextAnalysis.stopwords)} AS stop_hits,
         |    length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS n_punct,
         |    $grams3Sql AS g3,
         |    $grams5Sql AS grams,
         |    md5(text) AS digest
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, n_toks, grams, digest,
         |    round(0.4 * least(1.0, CAST(n_toks AS DOUBLE) / 50.0)
         |      + 0.4 * (CAST(stop_hits AS DOUBLE) / CAST(n_toks AS DOUBLE))
         |      + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE)),
         |      6) AS quality,
         |    CASE WHEN len(g3) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6)
         |      ELSE 0.0 END AS frac_dup_3grams,
         |    CASE WHEN len(toks) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
         |      ELSE 0.0 END AS frac_dup_tokens
         |  FROM sig),
         |train AS (SELECT * FROM scored WHERE doc_id % $BenchmarkMod <> 0),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM scored
         |          WHERE doc_id % $BenchmarkMod = 0),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM
         |    (SELECT doc_id, unnest(grams) AS gram FROM train) g
         |  JOIN bench USING (gram)),
         |kept AS (
         |  SELECT tr.* FROM train tr
         |  LEFT JOIN contaminated x ON tr.doc_id = x.doc_id
         |  WHERE x.doc_id IS NULL
         |    AND tr.quality >= 0.5
         |    AND NOT (tr.frac_dup_3grams > 0.1 OR tr.frac_dup_tokens > 0.6))""".stripMargin
    Map(
    "q84_stream_curation" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS toks FROM documents),
         |sig AS (
         |  SELECT doc_id, text, toks,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    ${TextAnalysis.hitsSql(TextAnalysis.stopwords)} AS stop_hits,
         |    length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS n_punct,
         |    $grams3Sql AS g3,
         |    $grams5Sql AS grams,
         |    md5(text) AS digest
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, n_toks, grams, digest,
         |    round(0.4 * least(1.0, CAST(n_toks AS DOUBLE) / 50.0)
         |      + 0.4 * (CAST(stop_hits AS DOUBLE) / CAST(n_toks AS DOUBLE))
         |      + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE)),
         |      6) AS quality,
         |    CASE WHEN len(g3) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6)
         |      ELSE 0.0 END AS frac_dup_3grams,
         |    CASE WHEN len(toks) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
         |      ELSE 0.0 END AS frac_dup_tokens
         |  FROM sig),
         |train AS (SELECT * FROM scored WHERE doc_id % $BenchmarkMod <> 0),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM scored
         |          WHERE doc_id % $BenchmarkMod = 0),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM
         |    (SELECT doc_id, unnest(grams) AS gram FROM train) g
         |  JOIN bench USING (gram))
         |SELECT DISTINCT tr.digest, tr.n_toks, tr.quality, tr.frac_dup_3grams
         |FROM train tr
         |LEFT JOIN contaminated x ON tr.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL
         |  AND tr.quality >= 0.5
         |  AND NOT (tr.frac_dup_3grams > 0.1 OR tr.frac_dup_tokens > 0.6)
         |ORDER BY tr.digest""".stripMargin,
    // q84b's analytic model of dropDuplicatesWithinWatermark under the
    // fixed TTL: event time = 1000·batch, TTL = 300 s < spacing, and
    // eviction is lazy (end-of-batch cleanup under the batch's own
    // watermark), so state admitted in batch p is live through batches
    // p..p+2 and a re-delivery is re-admitted only at batch >= p+3.
    // Per digest: o_b = "occurs in batch b" (originals by doc_id mod 3,
    // the re-delivered slice in batch 4); greedy admission chain
    // a_b = o_b AND lastAdmitted <= b-3; n_emits = sum(a_b).
    "q84b_stream_curation_ttl" ->
      s"""$curationKeptSql,
         |ob AS (
         |  SELECT digest, max(n_toks) AS n_toks, max(quality) AS quality,
         |    max(frac_dup_3grams) AS frac_dup_3grams,
         |    bool_or(doc_id % 3 = 0) AS o1,
         |    bool_or(doc_id % 3 = 1) AS o2,
         |    bool_or(doc_id % 3 = 2) AS o3,
         |    bool_or(doc_id % $RedeliverMod = $RedeliverRem) AS o4
         |  FROM kept GROUP BY digest),
         |adm AS (
         |  SELECT *, o1 AS a1, (o2 AND NOT o1) AS a2,
         |    (o3 AND NOT o1 AND NOT o2) AS a3 FROM ob)
         |SELECT digest, n_toks, quality, frac_dup_3grams,
         |  CAST((CASE WHEN a1 THEN 1 ELSE 0 END)
         |    + (CASE WHEN a2 THEN 1 ELSE 0 END)
         |    + (CASE WHEN a3 THEN 1 ELSE 0 END)
         |    + (CASE WHEN o4 AND NOT a2 AND NOT a3 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_emits
         |FROM adm ORDER BY digest""".stripMargin,
    "q82_surprisal_filter" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |terms AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tot AS (SELECT count(*) AS n_total FROM terms),
         |freq AS (SELECT term, CAST(round(-ln(CAST(count(*) AS DOUBLE)
         |    / (SELECT n_total FROM tot)), 6) AS DECIMAL(18,6)) AS nlp
         |  FROM terms GROUP BY term),
         |pd AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |    sum(f.nlp) AS snlp
         |  FROM terms t JOIN freq f USING (term) GROUP BY t.doc_id),
         |r AS (SELECT doc_id, n_toks,
         |    round(CAST(snlp AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS s
         |  FROM pd),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
         |    CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(round(s * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s2
         |  FROM r),
         |z AS (SELECT s1 / nd AS mu,
         |    sqrt(greatest(s2 / nd - (s1 / nd) * (s1 / nd), 0.0)) AS sigma
         |  FROM st)
         |SELECT d.doc_id, d.lang,
         |  CAST(coalesce(r.n_toks, 0) AS BIGINT) AS n_toks,
         |  r.s AS avg_surprisal,
         |  CASE WHEN r.s IS NULL THEN false
         |       ELSE abs(r.s - (SELECT mu FROM z)) <= 2 * (SELECT sigma FROM z)
         |  END AS keep
         |FROM documents d LEFT JOIN r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q82b_surprisal_vocab" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |terms AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tot AS (SELECT count(*) AS n_total FROM terms),
         |cnts AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
         |vocab AS (SELECT term, cnt FROM (
         |    SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rn
         |    FROM cnts) WHERE rn <= $VocabK),
         |vnlp AS (SELECT term, CAST(round(-ln(CAST(cnt AS DOUBLE)
         |    / (SELECT n_total FROM tot)), 6) AS DECIMAL(18,6)) AS nlp
         |  FROM vocab),
         |oov AS (SELECT CAST(round(-ln(
         |    CAST(greatest((SELECT n_total FROM tot) -
         |      (SELECT CAST(sum(cnt) AS BIGINT) FROM vocab), 1) AS DOUBLE)
         |    / (SELECT n_total FROM tot)), 6) AS DECIMAL(18,6)) AS oov_nlp),
         |pd AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |    sum(coalesce(v.nlp, (SELECT oov_nlp FROM oov))) AS snlp
         |  FROM terms t LEFT JOIN vnlp v USING (term) GROUP BY t.doc_id),
         |r AS (SELECT doc_id, n_toks,
         |    round(CAST(snlp AS DOUBLE) / CAST(n_toks AS DOUBLE), 6) AS s
         |  FROM pd),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
         |    CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(round(s * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s2
         |  FROM r),
         |z AS (SELECT s1 / nd AS mu,
         |    sqrt(greatest(s2 / nd - (s1 / nd) * (s1 / nd), 0.0)) AS sigma
         |  FROM st)
         |SELECT d.doc_id, d.lang,
         |  CAST(coalesce(r.n_toks, 0) AS BIGINT) AS n_toks,
         |  r.s AS avg_surprisal,
         |  CASE WHEN r.s IS NULL THEN false
         |       ELSE abs(r.s - (SELECT mu FROM z)) <= 2 * (SELECT sigma FROM z)
         |  END AS keep
         |FROM documents d LEFT JOIN r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q63_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, $grams5Sql AS grams FROM toks),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g
         |          WHERE doc_id % $BenchmarkMod = 0),
         |train_hits AS (
         |  SELECT t.doc_id, count(*) AS n_hits FROM
         |    (SELECT doc_id, unnest(grams) AS gram FROM g
         |     WHERE doc_id % $BenchmarkMod <> 0) t
         |  JOIN bench USING (gram) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  coalesce(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN train_hits h USING (doc_id)
         |WHERE d.doc_id % $BenchmarkMod <> 0
         |ORDER BY d.doc_id""".stripMargin,
    // mirrors q63b bit-for-bit: same md5-half double hashing, same
    // m/k, and hit = ALL k positions in the benchmark position set —
    // the hit decision depends only on the gram, so the oracle
    // decides per DISTINCT train gram (unpivot its k probes, join
    // the position set, HAVING count = k) and joins occurrences back
    "q63b_bloom_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, $grams5Sql AS grams FROM toks),
         |bench AS (
         |  SELECT DISTINCT unnest(grams) AS gram FROM g
         |  WHERE doc_id % $BenchmarkMod = 0),
         |msel AS (
         |  SELECT greatest(64, $BloomBitsPerGram * count(*)) AS m FROM bench),
         |bh AS (
         |  SELECT gram,
         |    ${Tokens.hexFold("md5(gram)", 8)} AS h1,
         |    ${Tokens.hexFold("substr(md5(gram), 9, 8)", 8)} AS h2
         |  FROM bench),
         |pos AS (
         |  SELECT DISTINCT (h1 + t.i * h2) % (SELECT m FROM msel) AS p
         |  FROM bh CROSS JOIN range(0, $BloomK) t(i)),
         |tg AS (SELECT doc_id, unnest(grams) AS gram FROM g
         |       WHERE doc_id % $BenchmarkMod <> 0),
         |th AS (
         |  SELECT gram,
         |    ${Tokens.hexFold("md5(gram)", 8)} AS h1,
         |    ${Tokens.hexFold("substr(md5(gram), 9, 8)", 8)} AS h2
         |  FROM (SELECT DISTINCT gram FROM tg)),
         |ghit AS (
         |  SELECT gram FROM (
         |    SELECT gram, (h1 + t.i * h2) % (SELECT m FROM msel) AS p
         |    FROM th CROSS JOIN range(0, $BloomK) t(i)) tp
         |  JOIN pos USING (p) GROUP BY gram HAVING count(*) = $BloomK),
         |train_hits AS (
         |  SELECT tg.doc_id, count(*) AS n_hits
         |  FROM tg JOIN ghit USING (gram) GROUP BY tg.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  coalesce(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN train_hits h USING (doc_id)
         |WHERE d.doc_id % $BenchmarkMod <> 0
         |ORDER BY d.doc_id""".stripMargin,
    // arrival-ordered per-source cap: kept iff the running token sum
    // including this row (ALL arrivals, kept or not) is within the
    // source's half-total budget — the pure-prefix window form of the
    // transformWithState processor's counter
    "q104_stream_budget" ->
      s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, source,
         |    CAST(len(toks) AS BIGINT) AS n_toks FROM t),
         |b AS (SELECT source, sum(n_toks) // 2 AS budget
         |      FROM m GROUP BY 1),
         |c AS (SELECT doc_id, source, n_toks,
         |    sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM m)
         |SELECT c.doc_id, c.source, c.n_toks,
         |  (c.cum <= b.budget) AS kept
         |FROM c JOIN b USING (source)
         |ORDER BY doc_id""".stripMargin,
    // the direct greedy-prefix window form — the two-phase bucket
    // threshold in the query must match it row-for-row
    "q94_token_budget_mix" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks
         |           FROM documents),
         |m AS (SELECT doc_id, source,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    CASE WHEN len(toks) = 0 OR length(text) = 0 THEN 0.0
         |         ELSE round(
         |           0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
         |           + 0.4 * (CAST(${TextAnalysis.hitsSql(
                      TextAnalysis.stopwords)} AS DOUBLE)
         |               / CAST(len(toks) AS DOUBLE))
         |           + 0.2 * (1.0 - CAST(length(regexp_replace(text,
         |               '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
         |               / CAST(length(text) AS DOUBLE)), 6)
         |    END AS quality
         |  FROM t),
         |w AS (SELECT doc_id, source, n_toks, quality,
         |    sum(n_toks) OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM m),
         |b AS (SELECT source, sum(n_toks) // 2 AS budget
         |      FROM m GROUP BY source)
         |SELECT doc_id, source, n_toks, quality, cum <= budget AS kept
         |FROM w JOIN b USING (source)
         |ORDER BY doc_id""".stripMargin,
    "q64_pii_scrub" ->
      s"""WITH aug AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
         |         CAST(doc_id AS VARCHAR) || '@mail.example or call +1-555-' ||
         |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |       WHEN doc_id % 7 = 3 THEN text || ' reach user' ||
         |         CAST(doc_id AS VARCHAR) || '@web.example'
         |       WHEN doc_id % 7 = 1 THEN text || ' client ip 10.' ||
         |         CAST(doc_id % 256 AS VARCHAR) || '.' ||
         |         CAST(doc_id % 100 AS VARCHAR) || '.' ||
         |         CAST(doc_id % 250 + 1 AS VARCHAR)
         |       WHEN doc_id % 7 = 5 THEN text || ' card 4111-' ||
         |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-2222-' ||
         |         lpad(CAST(doc_id % 9999 AS VARCHAR), 4, '0')
         |       WHEN doc_id % 7 = 2 THEN text || ' iban DE' ||
         |         lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
         |         lpad(CAST(doc_id % 1000000 AS VARCHAR), 12, '0')
         |       ELSE text END AS augmented
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(augmented, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(augmented, '$phoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(augmented, '$ipRe')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(augmented, '$cardRe')) AS BIGINT) AS n_cards,
         |  CAST(len(regexp_extract_all(augmented, '$ibanRe')) AS BIGINT) AS n_ibans,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(augmented, '$emailRe', '<EMAIL>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g'), '$ipRe', '<IP>', 'g'),
         |    '$cardRe', '<CARD>', 'g'), '$ibanRe', '<IBAN>', 'g') AS scrubbed
         |FROM aug ORDER BY doc_id""".stripMargin,
    // the oracle states the semantics with the global per-epoch
    // window the engine's bucketed plan refuses to run
    "q126_epoch_shuffle" ->
      """WITH e AS (SELECT unnest([1, 2]) AS epoch),
        |k AS (SELECT e.epoch, d.doc_id,
        |        md5(CAST(e.epoch AS VARCHAR) || ':' ||
        |            CAST(d.doc_id AS VARCHAR)) AS ekey
        |      FROM e CROSS JOIN documents d)
        |SELECT epoch, doc_id,
        |  row_number() OVER (PARTITION BY epoch ORDER BY ekey, doc_id)
        |    AS shuffle_rank
        |FROM k ORDER BY epoch, shuffle_rank""".stripMargin,
    "q128_epoch_pack" ->
      s"""WITH e AS (SELECT unnest([1, 2]) AS epoch),
         |t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |      FROM documents),
         |k AS (SELECT e.epoch, t.doc_id, t.n_toks,
         |        md5(CAST(e.epoch AS VARCHAR) || ':' ||
         |            CAST(t.doc_id AS VARCHAR)) AS ekey
         |      FROM e CROSS JOIN t),
         |c AS (SELECT epoch, doc_id, n_toks,
         |        CAST(sum(n_toks) OVER (PARTITION BY epoch ORDER BY ekey, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
         |      FROM k)
         |SELECT epoch, doc_id, n_toks, cum_toks,
         |  CAST((cum_toks - n_toks) // $EpochPackBudget AS INT) AS pack_id
         |FROM c ORDER BY epoch, cum_toks, doc_id""".stripMargin,
    "q65_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id, toks, $grams3Sql AS g3 FROM toks),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_toks,
         |  CASE WHEN len(toks) > 0 THEN round(1.0 -
         |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
         |    ELSE 0.0 END AS frac_dup_tokens,
         |  CASE WHEN len(g3) > 0 THEN round(1.0 -
         |    CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6)
         |    ELSE 0.0 END AS frac_dup_3grams
         |  FROM g)
         |SELECT doc_id, n_toks, frac_dup_tokens, frac_dup_3grams,
         |  frac_dup_3grams > 0.1 OR frac_dup_tokens > 0.6 AS repetitive
         |FROM m ORDER BY doc_id""".stripMargin,
    "q81_curation_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS toks FROM documents),
         |sig AS (
         |  SELECT doc_id, text, toks,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    ${TextAnalysis.hitsSql(TextAnalysis.stopwords)} AS stop_hits,
         |    length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS n_punct,
         |    $grams3Sql AS g3,
         |    $grams5Sql AS grams,
         |    md5(text) AS digest
         |  FROM t),
         |scored AS (
         |  SELECT doc_id, n_toks, grams, digest,
         |    round(0.4 * least(1.0, CAST(n_toks AS DOUBLE) / 50.0)
         |      + 0.4 * (CAST(stop_hits AS DOUBLE) / CAST(n_toks AS DOUBLE))
         |      + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE)),
         |      6) AS quality,
         |    CASE WHEN len(g3) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6)
         |      ELSE 0.0 END AS frac_dup_3grams,
         |    CASE WHEN len(toks) > 0 THEN round(1.0 -
         |      CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
         |      ELSE 0.0 END AS frac_dup_tokens
         |  FROM sig),
         |train AS (SELECT * FROM scored WHERE doc_id % $BenchmarkMod <> 0),
         |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM scored
         |          WHERE doc_id % $BenchmarkMod = 0),
         |contaminated AS (
         |  SELECT DISTINCT g.doc_id FROM
         |    (SELECT doc_id, unnest(grams) AS gram FROM train) g
         |  JOIN bench USING (gram)),
         |canonical AS (
         |  SELECT digest, min(doc_id) AS doc_id FROM train GROUP BY digest)
         |SELECT tr.doc_id, tr.n_toks, tr.quality, tr.frac_dup_3grams
         |FROM train tr
         |JOIN canonical c ON tr.digest = c.digest AND tr.doc_id = c.doc_id
         |LEFT JOIN contaminated x ON tr.doc_id = x.doc_id
         |WHERE x.doc_id IS NULL
         |  AND tr.quality >= 0.5
         |  AND NOT (tr.frac_dup_3grams > 0.1 OR tr.frac_dup_tokens > 0.6)
         |ORDER BY tr.doc_id""".stripMargin,
    "q118_lm_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |bt AS (SELECT doc_id, lang,
         |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),
         |      i -> [toks[i], toks[i + 1]]) ELSE [] END AS bis
         |  FROM tk),
         |refbi AS (SELECT lang, unnest(bis) AS bi FROM bt WHERE doc_id % 10 = 0),
         |c2 AS (SELECT lang, bi[1] AS w1, bi[2] AS w2, count(*) AS cnt2
         |  FROM refbi GROUP BY 1, 2, 3),
         |c1 AS (SELECT lang, bi[1] AS w1, count(*) AS cnt1
         |  FROM refbi GROUP BY 1, 2),
         |vocab AS (SELECT DISTINCT lang, unnest(toks) AS term FROM tk
         |  WHERE doc_id % 10 = 0),
         |vs AS (SELECT lang, count(*) + 1 AS v FROM vocab GROUP BY lang),
         |ap AS (SELECT doc_id, lang, unnest(bis) AS bi FROM bt),
         |apu AS (SELECT a.doc_id, a.lang,
         |    CASE WHEN v1.term IS NULL THEN '<unk>' ELSE a.bi[1] END AS w1,
         |    CASE WHEN v2.term IS NULL THEN '<unk>' ELSE a.bi[2] END AS w2
         |  FROM ap a
         |  LEFT JOIN vocab v1 ON v1.lang = a.lang AND v1.term = a.bi[1]
         |  LEFT JOIN vocab v2 ON v2.lang = a.lang AND v2.term = a.bi[2]),
         |sc AS (SELECT a.doc_id, a.lang,
         |    CAST(round(-ln((CAST(coalesce(c2.cnt2, 0) AS DOUBLE) + 0.5)
         |      / (CAST(coalesce(c1.cnt1, 0) AS DOUBLE)
         |         + 0.5 * CAST(vs.v AS DOUBLE))), 6) AS DECIMAL(18,6)) AS nlp
         |  FROM apu a
         |  LEFT JOIN c2 ON c2.lang = a.lang AND c2.w1 = a.w1 AND c2.w2 = a.w2
         |  LEFT JOIN c1 ON c1.lang = a.lang AND c1.w1 = a.w1
         |  JOIN vs ON vs.lang = a.lang),
         |pd AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    round(CAST(sum(nlp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS nll
         |  FROM sc GROUP BY doc_id, lang),
         |mu AS (SELECT lang,
         |    CAST(sum(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS mu
         |  FROM pd GROUP BY lang)
         |SELECT d.doc_id, d.lang,
         |  CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams, pd.nll,
         |  CASE WHEN pd.nll IS NULL THEN false ELSE pd.nll <= mu.mu END AS keep
         |FROM documents d
         |LEFT JOIN pd ON pd.doc_id = d.doc_id
         |LEFT JOIN mu ON mu.lang = d.lang
         |ORDER BY d.doc_id""".stripMargin,
    "q119_nb_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |sig AS (SELECT doc_id, text, toks,
         |    CAST(len(toks) AS BIGINT) AS n_toks,
         |    ${TextAnalysis.hitsSql(TextAnalysis.stopwords)} AS stop_hits,
         |    length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS n_punct
         |  FROM t),
         |q AS (SELECT doc_id, toks, n_toks,
         |    round(0.4 * least(1.0, CAST(n_toks AS DOUBLE) / 50.0)
         |      + 0.4 * (CAST(stop_hits AS DOUBLE) / CAST(n_toks AS DOUBLE))
         |      + 0.2 * (1.0 - CAST(n_punct AS DOUBLE)
         |          / CAST(length(text) AS DOUBLE)), 6) AS quality,
         |    (doc_id % 10 <> 0) AS is_train
         |  FROM sig),
         |lab AS (SELECT doc_id, toks, n_toks, is_train,
         |    CASE WHEN is_train THEN coalesce(quality >= 0.5, false)
         |    END AS label_heur
         |  FROM q),
         |train AS (SELECT * FROM lab WHERE is_train),
         |prior AS (SELECT
         |    count(CASE WHEN label_heur THEN 1 END) AS nd_keep,
         |    count(CASE WHEN NOT label_heur THEN 1 END) AS nd_drop,
         |    count(*) AS nd
         |  FROM train),
         |tt AS (SELECT label_heur AS lab, unnest(toks) AS term FROM train),
         |tc AS (SELECT term,
         |    count(CASE WHEN lab THEN 1 END) AS cnt_keep,
         |    count(CASE WHEN NOT lab THEN 1 END) AS cnt_drop
         |  FROM tt GROUP BY term),
         |tots AS (SELECT
         |    count(CASE WHEN lab THEN 1 END) AS tot_keep,
         |    count(CASE WHEN NOT lab THEN 1 END) AS tot_drop,
         |    count(DISTINCT term) AS v
         |  FROM tt),
         |pd AS (SELECT a.doc_id,
         |    sum(CAST(round(-ln((CAST(coalesce(tc.cnt_keep, 0) AS DOUBLE) + 1.0)
         |      / (CAST(tots.tot_keep AS DOUBLE) + CAST(tots.v AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS snk,
         |    sum(CAST(round(-ln((CAST(coalesce(tc.cnt_drop, 0) AS DOUBLE) + 1.0)
         |      / (CAST(tots.tot_drop AS DOUBLE) + CAST(tots.v AS DOUBLE))), 6)
         |      AS DECIMAL(18,6))) AS snd
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM lab) a
         |  LEFT JOIN tc USING (term) CROSS JOIN tots
         |  GROUP BY a.doc_id),
         |pr AS (SELECT
         |    CAST(round(-ln((CAST(nd_keep AS DOUBLE) + 1.0)
         |      / (CAST(nd AS DOUBLE) + 2.0)), 6) AS DECIMAL(18,6)) AS lp_keep,
         |    CAST(round(-ln((CAST(nd_drop AS DOUBLE) + 1.0)
         |      / (CAST(nd AS DOUBLE) + 2.0)), 6) AS DECIMAL(18,6)) AS lp_drop
         |  FROM prior)
         |SELECT l.doc_id, l.n_toks, l.is_train, l.label_heur,
         |  CAST(coalesce(pd.snk, 0) + pr.lp_keep AS DOUBLE) AS s_keep,
         |  CAST(coalesce(pd.snd, 0) + pr.lp_drop AS DOUBLE) AS s_drop,
         |  (CAST(coalesce(pd.snk, 0) + pr.lp_keep AS DOUBLE)
         |    <= CAST(coalesce(pd.snd, 0) + pr.lp_drop AS DOUBLE)) AS pred_keep
         |FROM lab l LEFT JOIN pd ON pd.doc_id = l.doc_id CROSS JOIN pr
         |ORDER BY l.doc_id""".stripMargin,
    "q85_dataset_split" ->
      s"""SELECT doc_id, md5(text) AS digest,
         |  CASE WHEN ${Tokens.mdByteSql("text")} < 205 THEN 'train'
         |       WHEN ${Tokens.mdByteSql("text")} < 230 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q66_domain_mix" ->
      s"""WITH docs AS (SELECT doc_id, source,
         |    CAST(len($toksSql) AS BIGINT) AS n_toks,
         |    ${Tokens.mdByteSql("doc_id")} AS h
         |  FROM documents),
         |by_source AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |  FROM docs GROUP BY source),
         |totals AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
         |    count(*) AS n_sources FROM by_source),
         |weights AS (SELECT source, n_docs, n_tokens,
         |    least(1.0, round(CAST(t_total AS DOUBLE) / CAST(n_sources AS DOUBLE) /
         |      CAST(n_tokens AS DOUBLE), 6)) AS weight,
         |    CAST(floor(least(1.0, round(CAST(t_total AS DOUBLE) / CAST(n_sources AS DOUBLE) /
         |      CAST(n_tokens AS DOUBLE), 6)) * 256) AS INTEGER) AS threshold
         |  FROM by_source CROSS JOIN totals),
         |kept AS (SELECT d.source, count(*) AS n_kept
         |  FROM docs d JOIN weights w ON d.source = w.source
         |  WHERE d.h < w.threshold GROUP BY d.source)
         |SELECT w.source, w.n_docs, w.n_tokens, w.weight,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM weights w LEFT JOIN kept k ON w.source = k.source
         |ORDER BY w.source""".stripMargin,
  )
  }
}
