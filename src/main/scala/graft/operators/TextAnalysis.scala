package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language identification (token-profile
  * heuristic), quality scoring, token counting (whitespace + BPE-ish
  * regex), and document fingerprinting (content digest + winnowed
  * shingle hash).
  *
  * Everything is a pure column expression over one scan — no UDFs, no
  * shuffle except the final presentation sort: at 100 TB each of
  * these is a map-only pass that runs inside WholeStageCodegen and
  * parallelizes with the input partitioning.
  *
  * The language profiles are deterministic token sets (the synthetic
  * corpus shares one vocabulary across langs, so this demonstrates
  * the operator shape — argmax over per-language evidence scores with
  * a total tie-break — rather than a real linguistic model; a real
  * deployment swaps in character-n-gram profiles, same plan shape).
  */
object TextAnalysis {

  /** Per-language token profiles over the corpus vocabulary. */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "join", "batch", "window", "group"),
    "en" -> Seq("the", "a", "data", "query", "table"),
    "es" -> Seq("value", "part", "line", "row", "scan"),
    "fr" -> Seq("merge", "sort", "filter", "order", "column"),
    "zh" -> Seq("spark", "stream", "vector", "key", "big"))

  /** English-ish stopwords for the quality score. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "value", "data")

  // engine-wide tokenization — shared with the dedup sketches
  private val toksExpr = Tokens.toksExpr
  private val toksSql = Tokens.toksSql

  /** Token budget per packed training sequence (q79): ~54 tokens per
    * synthetic doc -> ~9-10 docs per sequence. */
  val SeqBudget = 512

  /** Count-min sketch geometry (q115): D independent md5 hash rows ×
    * W buckets — the whole sketch is D×W counters regardless of
    * vocabulary size. W is deliberately SMALL relative to the test
    * corpus's vocabulary so bucket collisions (the thing a CMS
    * over-estimates through) actually occur and the oracle checks the
    * collided estimates bit-for-bit; production sizes W = ceil(e/ε)
    * for additive error ε·n, same plan. */
  val CmsD = 4
  val CmsW = 64

  /** Hash-bucket count for the persisted vocabulary-statistics table
    * (q116) — a production deployment sizes this to the vocabulary
    * like the label table's corpus-sized rule. */
  val VocabBuckets = 16

  /** tbucket — a uniform md5 bucket of the term, a PURE FUNCTION of
    * the merge key, so a merge derives its touched partitions from the
    * update rows alone ([[graft.plans.SnapshotTable.mergeCommit]]). */
  private def vocabBucket =
    (expr(Tokens.mdByteExpr("term")) % VocabBuckets).cast("int")

  private val vocabStatsDirs = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** The persisted vocabulary-statistics table behind q116 — q46's
    * aggregate over the RESIDENT corpus (doc_id % 10 != 0),
    * tbucket-partitioned, derived once per (session, dir) and kept as
    * FILES born committed as snapshot v1 (the stageResidentState
    * pattern: in production this table is maintained batch over batch,
    * never re-derived per job). q116 invocations commit on top of
    * byte-copies of it. */
  def stageVocabStats(s: SparkSession, d: String): String =
    vocabStatsDirs.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-vocab-stats")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      graft.plans.SnapshotTable.saveCommit(s, Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) =!= 0)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("collection_freq"),
          countDistinct(col("doc_id")).as("doc_freq"))
        .withColumn("tbucket", vocabBucket)
        .repartition(col("tbucket")),
        s"$dir/vocab", Seq("tbucket"))
      s"$dir/vocab"
    })

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single symbols.
    * Spark SQL string literals eat one level of backslash ('\s' -> 's'),
    * so the Spark-side literal needs the extra escape. */
  private val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private val bpePatternSpark = "[a-z]+|[0-9]+|[^a-z0-9\\\\s]"

  private[operators] def hitsSpark(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"size(filter(toks, t -> array_contains(array($arr), t)))"
  }
  private[operators] def hitsSql(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(toks, t -> list_contains([$arr], t)))"
  }

  /** argmax over the per-language hit columns with a deterministic
    * first-wins tie-break in profile (alphabetical) order — the same
    * generated CASE chain runs in Spark and DuckDB. */
  private def argmaxCase: String = {
    val langs = profiles.map(_._1)
    val arms = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"hits_$l >= hits_$o").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }
    s"CASE ${arms.mkString(" ")} ELSE '??' END"
  }

  /** Merge-table size for the real BPE tokenizer (q42b/q42c). Small
    * because the oracle unrolls one CTE block per merge; the trainer
    * itself is O(merges) passes over the VOCABULARY (not the corpus)
    * at any table size. */
  val BpeMerges = 10

  private val M1 = "\u0001"
  private val M2 = "\u0002"

  /** One trained BPE merge: rank (1-based), the marked pair string
    * searched in sequences, and its marked merged replacement. */
  final case class BpeMerge(rank: Int, pair: String, merged: String) {
    /** Human form of the pair, e.g. "e r". */
    def pairText: String =
      pair.replace(M2 + M1, " ").replace(M1, "").replace(M2, "")
    /** Human form of the merged symbol, e.g. "er". */
    def mergedText: String = merged.replace(M1, "").replace(M2, "")
  }

  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Seq[BpeMerge], DataFrame)]()

  /** Evict memoized BPE models (bench sweeps / long-lived sessions),
    * releasing each model's materialized word table. */
  def clearMemos(): Unit = {
    import scala.jdk.CollectionConverters._
    bpeMemo.values.asScala.foreach { case (_, df) =>
      graft.Materialize.release(df)
    }
    bpeMemo.clear()
  }

  /** REAL byte-pair-encoding training, deterministic and distributed:
    * the corpus is pre-tokenized into words (the q42 regex), the
    * distinct-word table carries corpus frequencies, and each word's
    * symbol sequence is stored as a MARKER-DELIMITED string
    * (<M1>sym<M2> per symbol — markers sit outside the symbol
    * alphabet, which has no whitespace). That representation makes a
    * BPE merge a plain `replace(seq, marked(x,y), marked(xy))`:
    * left-to-right, non-overlapping, and incapable of matching across
    * symbol boundaries — exactly the reference greedy merge
    * semantics — with the identical builtin in Spark and DuckDB.
    *
    * Each of [[BpeMerges]] rounds: count adjacent symbol pairs
    * weighted by word frequency (one explode + groupBy over the
    * vocabulary-sized table, never the corpus), pick the most
    * frequent pair with a LEXICAL tie-break on the marked pair
    * string (binary collation in both engines), apply the merge,
    * and cut lineage. Only the single argmax row comes to the driver
    * per round (the bounded-driver-read pattern of the k-means
    * centroids); the merge table accumulates there — which is where
    * a tokenizer ships from in a real pipeline.
    *
    * Returns (merge table, final per-word sequence table). */
  private[graft] def bpeModel(s: SparkSession, d: String): (Seq[BpeMerge], DataFrame) =
    bpeMemo.computeIfAbsent((s, d), _ => {
      val words = Tables.documents(s, d)
        .select(explode(expr(
          s"regexp_extract_all(lower(text), '$bpePatternSpark', 0)")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      var seqs = graft.Materialize.cut(words.withColumn("seq", expr(
        "array_join(transform(sequence(1, length(word)), " +
          "i -> concat(char(1), substring(word, i, 1), char(2))), '')")))
      val merges = Seq.newBuilder[BpeMerge]
      for (r <- 1 to BpeMerges) {
        val withSyms = seqs.withColumn("syms",
          split(expr("substring(seq, 2, length(seq) - 2)"), M2 + M1))
        // sequence(1, 0) counts DOWN in Spark — guard the 1-symbol case
        val best = withSyms
          .select(col("freq"), explode(when(size(col("syms")) >= 2, expr(
            "transform(sequence(1, size(syms) - 1), j -> concat(" +
              "char(1), element_at(syms, j), char(2), " +
              "char(1), element_at(syms, j + 1), char(2)))"))
            .otherwise(expr("CAST(array() AS array<string>)"))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair").asc)
          .limit(1).head()
        val pair = best.getString(0)
        val m = BpeMerge(r, pair, pair.replace(M2 + M1, ""))
        merges += m
        seqs = graft.Materialize.cut(seqs.withColumn("seq",
          replace(col("seq"), lit(m.pair), lit(m.merged))))
      }
      (merges.result(), seqs)
    })

  /** Per-doc token counts under the trained BPE merges (q42c/q79b):
    * the final per-word sequence table IS the applied tokenizer over
    * the vocabulary; each doc's count is one broadcast join of its
    * word occurrences against it (vocabulary-sized build side). */
  private def bpeDocCounts(s: SparkSession, d: String): DataFrame = {
    val (_, seqs) = bpeModel(s, d)
    val tk = seqs.select(col("word"),
      (length(col("seq")) -
        length(replace(col("seq"), lit(M1), lit("")))).cast("bigint").as("n"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(
        s"regexp_extract_all(lower(text), '$bpePatternSpark', 0)")).as("word"))
      .join(broadcast(tk), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("bigint").as("n_bpe_tokens"))
  }

  /** Fixed-budget sequence packing over any (doc_id, n_toks) frame:
    * assign docs (doc_id order) to training sequences by the global
    * running token count. The running sum uses the zipWithIndex shape
    * (range partition → per-partition sums → broadcast offsets →
    * within-partition cumsum) — global-order semantics with NO
    * single-partition window; the offsets pass collects one sum per
    * partition. At 100 TB this is exactly how a packing job lays out
    * trillions of tokens without funneling them through one task. */
  private def packByBudget(s: SparkSession, toks: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // materialized once so the sums pass and the packing pass read
    // the same partition layout (see q60's numbering note)
    val parts = graft.Materialize.cut(
      toks.repartitionByRange(col("doc_id"))
        .withColumn("pid", spark_partition_id()))
    val sums = parts.groupBy(col("pid")).agg(sum(col("n_toks")).as("psum"))
      .orderBy(col("pid")).as[(Int, Long)].collect()
    var acc = 0L
    val offsets = sums.map { case (pid, ps) =>
      val o = (pid, acc); acc += ps; o
    }.toSeq
    val cumW = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parts.join(broadcast(offsets.toDF("pid", "offset")), Seq("pid"))
      .withColumn("tok_start",
        col("offset") + coalesce(sum(col("n_toks")).over(cumW), lit(0L)))
      .withColumn("seq_id",
        floor(col("tok_start") / lit(SeqBudget.toDouble)))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("seq_id"))
  }

  /** The fixed BM25 query of q48 (and the text leg of q97's hybrid
    * fusion). */
  val Bm25QueryTerms = Seq("spark", "stream", "join")

  /** Okapi BM25 (k1=1.2, b=0.75) of [[Bm25QueryTerms]] against every
    * matching document: (doc_id, bm25, n_matched), unordered — q48
    * adds the presentation top-20; q97's hybrid-retrieval fusion
    * ranks its own top-M. Every factor is a join/aggregate over the
    * token explode — one scan of the corpus; corpus-level stats ride
    * a broadcast. */
  private[graft] def bm25Agg(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
        .agg((sum(col("dl")).cast("double") /
          count(lit(1)).cast("double")).as("avgdl")))
    val tf = toks.where(col("term").isin(Bm25QueryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = toks.where(col("term").isin(Bm25QueryTerms: _*))
      .select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25ScoreFrom(tf, df, stats)
  }

  /** The Okapi scorer over already-built index relations — shared by
    * the fresh path ([[bm25Agg]], which filters the token stream to
    * the query terms BEFORE aggregating) and the persisted-index path
    * ([[graft.plans.Bm25Index.serve]], which reads the full postings
    * table pruned to the query terms at the scan). Identical
    * expressions → identical doubles, so the served scores equal the
    * fresh ones bit for bit. `tf` = (doc_id, term, tf, dl); `df` =
    * (term, df); `stats` = one row (n_docs, avgdl). */
  private[graft] def bm25ScoreFrom(tf: DataFrame, df: DataFrame,
      stats: DataFrame): DataFrame = {
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("score_t",
        col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    scored.groupBy(col("doc_id"))
      .agg(round(sum(col("score_t")), 6).as("bm25"),
        count(lit(1)).as("n_matched"))
  }

  /** The FULL postings relation a persisted BM25 index stores —
    * unfiltered by query: (doc_id, term, tf, dl), one row per distinct
    * doc×term. Works on ANY documents-shaped frame (doc_id, text), so
    * [[graft.plans.Bm25Index]] uses it for both the one-off index
    * build and incremental appends; df and the corpus stats derive
    * from it. */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The trained BPE merge table itself — rank-ordered (pair, merged)
    // rows, the artifact a tokenizer ships. The oracle retrains from
    // scratch in SQL (one unrolled CTE block per merge), so a
    // divergence in pair counts, tie-breaks, or merge application
    // anywhere in training flips this gate.
    "q42b_bpe_merges" -> { (s, d) =>
      val session = s
      import session.implicits._
      bpeModel(s, d)._1
        .map(m => (m.rank, m.pairText, m.mergedText))
        .toDF("merge_rank", "pair", "merged")
        .orderBy(col("merge_rank"))
    },

    // BPE application: per-doc token count under the trained merges.
    // The final per-word sequence table IS the applied tokenizer over
    // the vocabulary; each doc's count is one broadcast join of its
    // word occurrences against that table (vocabulary-sized build
    // side) plus a groupBy — counts feed q79's sequence packing.
    "q42c_bpe_tokenize" -> { (s, d) =>
      bpeDocCounts(s, d).orderBy(col("doc_id"))
    },

    // Language ID: per-language evidence scores + argmax.
    "q40_lang_id" -> { (s, d) =>
      val base = Tables.documents(s, d).withColumn("toks", expr(toksExpr))
      val withHits = profiles.foldLeft(base) { case (df, (l, ws)) =>
        df.withColumn(s"hits_$l", expr(hitsSpark(ws)))
      }
      withHits
        .withColumn("predicted_lang", expr(argmaxCase))
        .withColumn("is_correct", col("predicted_lang") === col("lang"))
        .select((Seq(col("doc_id"), col("lang"), col("predicted_lang"),
          col("is_correct")) ++ profiles.map(p => col(s"hits_${p._1}"))): _*)
        .orderBy(col("doc_id"))
    },

    // Quality scoring: length/stopword/punctuation signals combined
    // into one [0,1] score (all-double arithmetic, rounded).
    "q41_quality" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("stop_hits", expr(hitsSpark(stopwords)))
        .withColumn("n_punct", expr("length(regexp_replace(text, '[a-z0-9\\\\s]', ''))"))
        .withColumn("stop_ratio",
          col("stop_hits").cast("double") / col("n_tokens").cast("double"))
        .withColumn("punct_ratio",
          col("n_punct").cast("double") / length(col("text")).cast("double"))
        .withColumn("len_score", least(lit(1.0),
          col("n_tokens").cast("double") / lit(50.0)))
        .withColumn("quality", round(
          lit(0.4) * col("len_score") + lit(0.4) * col("stop_ratio")
            + lit(0.2) * (lit(1.0) - col("punct_ratio")), 6))
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
          col("punct_ratio"), col("quality"))
        .orderBy(col("doc_id"))
    },

    // Token counting: whitespace tokens + BPE-ish regex pieces.
    "q42_token_count" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_ws_tokens", size(col("toks")))
        .withColumn("n_bpe_pieces",
          size(expr(s"regexp_extract_all(lower(text), '$bpePatternSpark', 0)")))
        .withColumn("n_chars_calc", length(col("text")))
        .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_pieces"),
          col("n_chars_calc"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Fuzzy matching: Levenshtein pairs over DISTINCT part names,
    // blocked by the head noun (classic entity-resolution blocking —
    // the dictionary-dedup pass of a catalog pipeline). Distinct-first
    // keeps the pair space tiny regardless of table size.
    "q44_fuzzy_match" -> { (s, d) =>
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .withColumn("block", split(col("p_name"), " ").getItem(1))
      val a = names.select(col("p_name").as("name_a"), col("block"))
      val b = names.select(col("p_name").as("name_b"), col("block"))
      a.join(b, Seq("block"))
        .where(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .where(col("dist") <= 3)
        .select(col("name_a"), col("name_b"), col("dist"))
        .orderBy(col("name_a"), col("name_b"))
    },

    // Canonicalization: lowercase, strip punctuation, collapse
    // whitespace — the normalization pass that makes exact dedup catch
    // case/punctuation variants. Emits the normalized digest.
    "q45_normalize" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("norm", trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "),
          "\\s+", " ")))
        .select(col("doc_id"), col("norm"), md5(col("norm")).as("norm_md5"))
        .orderBy(col("doc_id"))
    },

    // Corpus vocabulary statistics: per-term collection frequency and
    // document frequency (the wordcount of training pipelines — one
    // explode + one hash aggregation).
    "q46_vocab" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("collection_freq"),
          countDistinct(col("doc_id")).as("doc_freq"))
        .orderBy(col("term"))
    },

    // TF-IDF per (doc, term): tf * ln(N / df), rounded for libm
    // parity. N rides as a broadcast 1-row aggregate, not a driver
    // constant, so the plan stays fully declarative.
    "q47_tfidf" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val terms = docs.withColumn("toks", expr(toksExpr))
        .select(col("doc_id"), explode(col("toks")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = terms.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("term"))
    },

    // BM25 relevance of a fixed query against every document, top-20.
    // Standard Okapi parameters (k1=1.2, b=0.75); every factor is a
    // join/aggregate over the token explode — one scan of the corpus.
    "q48_bm25_search" -> { (s, d) =>
      bm25Agg(s, d)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)
    },

    // Document chunking: fixed-size token windows (20 tokens, stride
    // 15 => 5-token overlap) — the context-window preparation step of
    // an LLM training pipeline. One explode over precomputed chunk
    // starts; chunk text re-materializes via array slice, so the scan
    // stays single-pass and map-only.
    "q49_chunking" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_toks", size(col("toks")))
        .select(col("doc_id"), col("toks"), col("n_toks"),
          explode(expr("sequence(1, greatest(n_toks, 1), 15)")).as("start"))
        .withColumn("chunk_toks", expr("slice(toks, start, 20)"))
        .select(col("doc_id"),
          (floor((col("start") - 1) / 15)).cast("int").as("chunk_idx"),
          col("start"),
          size(col("chunk_toks")).as("chunk_len"),
          concat_ws(" ", col("chunk_toks")).as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // SEQUENCE PACKING — the layout step before an LLM train job:
    // assign the tokenized corpus (doc_id order) to fixed-budget
    // training sequences by the global running token count. The
    // running sum uses the zipWithIndex shape (range partition →
    // per-partition sums → broadcast offsets → within-partition
    // cumsum) — global-order semantics with NO single-partition
    // window; the offsets pass collects one sum per partition. At
    // 100 TB this is exactly how a packing job lays out trillions of
    // tokens without funneling them through one task.
    "q79_sequence_pack" -> { (s, d) =>
      packByBudget(s, Tables.documents(s, d)
        .withColumn("n_toks", size(expr(toksExpr)).cast("long"))
        .select(col("doc_id"), col("n_toks")))
    },

    // The same packing driven by the TRAINED tokenizer: sequence
    // budgets are a property of the model's tokens, not whitespace
    // words, so the production packing job consumes q42c's counts —
    // this is the "counts feed packing" composition end-to-end.
    "q79b_bpe_pack" -> { (s, d) =>
      packByBudget(s, bpeDocCounts(s, d)
        .withColumnRenamed("n_bpe_tokens", "n_toks"))
    },

    // INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — q46's vocabulary
    // statistics as a PERSISTED TABLE updated per arriving batch, the
    // incremental-ETL shape every warehouse needs for additive
    // aggregates: the resident table (built over the resident corpus
    // once, hash-bucket-partitioned by term) absorbs the batch by
    // (1) aggregating ONLY the batch's tokens (collection_freq and
    // doc_freq are additive over disjoint doc sets), (2) a merge join
    // bounded by the BATCH's vocabulary against the partition-PRUNED
    // resident rows, and (3) a copy-on-write merge commit that
    // rewrites only the buckets the batch's terms hash into. The
    // corpus-scale aggregation never re-runs — at 100 TB the increment
    // costs O(batch + touched buckets). Oracle = q46's full recompute
    // over the whole corpus: the path-dependent increment must equal
    // the one-shot aggregate exactly.
    "q116_vocab_increment" -> { (s, d) =>
      import graft.plans.{SnapshotTable, Snapshots}
      val src = stageVocabStats(s, d)
      val staging = graft.Fs.createStagingDir(s, "graft-q116")
      try {
        val tbl = s"$staging/vocab"
        graft.Fs.copyDir(s, src, tbl)
        val batchAgg = Tables.documents(s, d)
          .where(pmod(col("doc_id"), lit(10)) === 0)
          .withColumn("toks", expr(toksExpr))
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("cf_b"), countDistinct(col("doc_id")).as("df_b"))
          .withColumn("tbucket", vocabBucket)
        // resident rows for the batch's terms, partition-pruned to the
        // buckets the batch hashes into (bounded by VocabBuckets)
        val touched = batchAgg.select(col("tbucket")).distinct()
          .collect().map(_.getInt(0)).toSeq
        def current() = SnapshotTable.readAsOf(s, tbl,
          Snapshots.current(s, tbl).get, "term")
        val res = current()
          .where(col("tbucket").isin(touched: _*))
          .select(col("term"), col("collection_freq").as("cf_r"),
            col("doc_freq").as("df_r"))
        val updates = batchAgg.join(res, Seq("term"), "left")
          .select(col("term"),
            (coalesce(col("cf_r"), lit(0L)) + col("cf_b")).as("collection_freq"),
            (coalesce(col("df_r"), lit(0L)) + col("df_b")).as("doc_freq"),
            col("tbucket"))
        SnapshotTable.mergeCommit(s, tbl, Seq("tbucket"), "term", updates)
        graft.Materialize.cut(current()
          .select(col("term"), col("collection_freq"), col("doc_freq")))
          .orderBy(col("term"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // COUNT-MIN SKETCH frequency estimation — the mergeable fixed-size
    // sketch a 100-TB pipeline uses where an exact term-frequency
    // table is unaffordable: the sketch is a D×W count matrix
    // (D=[[CmsD]] hash rows, W=[[CmsW]] buckets), so the build's
    // exchange carries AT MOST D×W distinct keys per task no matter
    // the vocabulary size (map-side partial aggregation collapses each
    // task's token stream to ≤ D×W cells before any shuffle — compare
    // q46, whose shuffle is keyed by the unbounded term space), and
    // estimates are min-over-rows lookups against the BROADCAST
    // sketch. Point queries run for a deterministic ~3% probe
    // vocabulary (md5-byte gate, the q16 idiom) next to their exact
    // counts; the md5 hash family is shared with the oracle, so the
    // sketch — including its collisions — is bit-reproducible and the
    // gate hash-checks est alongside exact (est ≥ exact by
    // construction; equality wherever no bucket collision landed).
    //
    // Shape (r19): ONE tokenize pass feeds a TERM-grain
    // pre-aggregation, so the D md5 hashes are computed once per
    // DISTINCT term instead of once per token occurrence (at sf0.1,
    // 4 md5s × 13.5M occurrences dominated the query; the vocabulary
    // is ~400x smaller), and the sketch cells come from sum(cnt) —
    // identical counts by associativity. The term exchange collapses
    // map-side to each task's distinct-term set (Heaps-law-bounded,
    // the q46 wordcount shape) before shuffling; the D×W bound still
    // holds for the second, cell-grain aggregation, and the probe leg
    // reuses the same materialized term relation instead of
    // re-tokenizing the corpus.
    "q115_cms_freq" -> { (s, d) =>
      val termCounts = graft.Materialize.cut(Tables.documents(s, d)
        .select(explode(expr(toksExpr)).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt")))
      def bucketed(df: DataFrame): DataFrame = {
        val withH = (0 until CmsD).foldLeft(df) { (acc, i) =>
          acc.withColumn(s"h$i", expr(s"md5(concat('cms$i:', term))"))
        }
        withH.select(df.columns.map(col) ++ (0 until CmsD).map(i =>
          expr(s"(${Tokens.hex48(s"h$i")}) % $CmsW").as(s"b$i")): _*)
      }
      val cells = bucketed(termCounts).select(col("cnt"), explode(array(
        (0 until CmsD).map(i => struct(lit(i).as("i"),
          col(s"b$i").as("bucket"))): _*)).as("c"))
        .select(col("c.i").as("i"), col("c.bucket").as("bucket"), col("cnt"))
      val sketch = cells.groupBy(col("i"), col("bucket"))
        .agg(sum(col("cnt")).as("c"))
      val probeExact = termCounts
        .where(expr(Tokens.mdByteExpr("term")) < 128)
        .select(col("term"), col("cnt").as("exact_freq"))
      val probeCells = bucketed(probeExact).select(col("term"),
        explode(array((0 until CmsD).map(i => struct(lit(i).as("i"),
          col(s"b$i").as("bucket"))): _*)).as("c"))
        .select(col("term"), col("c.i").as("i"), col("c.bucket").as("bucket"))
      val est = probeCells.join(broadcast(sketch), Seq("i", "bucket"))
        .groupBy(col("term")).agg(min(col("c")).as("est_freq"))
      probeExact.join(est, Seq("term"))
        .select(col("term"), col("exact_freq"), col("est_freq"))
        .orderBy(col("term"))
    },

    // Fingerprinting: whole-content digest + winnowed min-hash over
    // 5-token shingles (rolling window), both md5-exact vs the oracle.
    "q43_fingerprint" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("content_md5", md5(concat_ws(" ", col("toks"))))
        // native kernels: 5-token shingles (empty below 5 tokens) +
        // min-md5 winnowing (NULL on empty — matching the oracle's
        // empty-range list_min)
        .withColumn("shingle_min", graft.functions.VectorFunctions.minMd5(
          graft.functions.VectorFunctions.shingles(col("toks"), 5, distinct = false)))
        .select(col("doc_id"), col("content_md5"), col("shingle_min"))
        .orderBy(col("doc_id"))
    },

    // GLOBAL CURRICULUM RANK — a total order over the corpus (shortest
    // documents first, the classic curriculum-learning schedule)
    // WITHOUT the single-partition window a naive
    // `row_number() OVER (ORDER BY ...)` plans: Spark's WindowExec
    // with an empty partition spec funnels the whole corpus through
    // ONE task (the exact shape ScaleShapeSpec's global guard bans).
    // Scalable form: (1) bucket rows by the leading sort key — here
    // the difficulty value n_tokens itself, a bounded integer domain;
    // for an unbounded/continuous key use fixed-width ranges of it —
    // (2) ONE bounded driver aggregate (count per bucket, rows =
    // |value domain|) yields exclusive prefix offsets, (3) the
    // within-bucket rank runs as an ordinary PARTITIONED window
    // (parallel across buckets), and global_rank = offset + local
    // rank. The only serial piece is the prefix sum over the bucket
    // histogram — O(buckets) on the driver, never O(rows). Skew: a
    // single hot difficulty value serializes its own bucket; the
    // histogram is driver-visible, so a production run re-splits hot
    // values by tie-key (doc_id) quantiles computed over just the hot
    // buckets — the observed max bucket is recorded via SkewStats so
    // a rehearsal reports the pressure. phase = the 3-way curriculum
    // stage cut from the rank (integer arithmetic, exact both
    // engines).
    "q124_curriculum_rank" -> { (s, d) =>
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), size(expr(toksExpr)).as("n_tokens"))
      // bucket = the difficulty value itself (bounded integer domain —
      // one histogram row per distinct n_tokens value, not per doc)
      val total = math.max(1L, scored.count())
      GlobalOrder.globalRank(scored, Seq.empty, "n_tokens",
          Seq(col("doc_id")), "global_rank", "curriculum-rank-buckets")
        .withColumn("phase",
          expr(s"CAST(((global_rank - 1) * 3) DIV $total AS INT)"))
        .select(col("doc_id"), col("n_tokens"), col("global_rank"),
          col("phase"))
        .orderBy(col("global_rank"))
    },

    // BM25 INDEX TIME TRAVEL — the lexical family's snapshot lifecycle
    // (q109's shape extended per the round-13 advice): the committed-v1
    // index (residents, doc_id % 10 ∈ 1..8 — a pre-staged clone, the
    // takeSnapClone accounting) absorbs an APPEND (% 10 = 9 → v2), a
    // TOMBSTONE DELETE (% 7 = 0 of the v2 population → v3: the
    // tombstones, the negative df-delta segment and the replacement
    // stats row land as new files, ONE commit pins all three), and a
    // COPY-ON-WRITE PURGE (→ v4, row-identical to v3 by construction).
    // Every commit selects exactly the files it landed. The SAME query
    // then serves as-of all four versions: v1 must be blind to
    // everything, v3 must equal a fresh survivors-only computation, v4
    // must equal v3. Oracle = q48's BM25 CTE chain instantiated per
    // version population. Scale: an as-of read is a manifest listing
    // choice — every leg keeps the tbucket file pruning (basePath) and
    // tombstones ride a broadcast anti-join; the purge rewrites only
    // postings files, never re-tokenizes a document.
    "q129_bm25_timetravel" -> { (s, d) =>
      import graft.plans.{Bm25Index, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeBm25SnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, idxDir).get
        val (v2, _) = Bm25Index.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9))
        val v3 = Bm25Index.deleteCommit(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0 &&
            pmod(col("doc_id"), lit(7)) === 0))
        val v4 = Bm25Index.purgeCommit(s, idxDir)
        def leg(v: Int, tag: Int) =
          Bm25Index.serveAsOf(s, idxDir, v, Bm25QueryTerms)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2))
            .unionByName(leg(v3, 3)).unionByName(leg(v4, 4)))
          .select(col("version"), col("doc_id"), col("bm25"),
            col("n_matched"))
          .orderBy(col("version"), col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // UNCOORDINATED BM25 INGEST — OCC WITH RE-DERIVATION (q137's
    // protocol extended to a DERIVED-artifact commit, where the blind
    // append retry is wrong by construction): writers A and B both
    // read base v1; A appends its batch and publishes v2; B lands its
    // postings and df deltas (base-independent — order-independent
    // appends), derives its stats sibling from the STALE v1 totals,
    // loses the publish race, and runs the re-derive loop
    // (Bm25Index.appendCommitRetrying): delete the stale stats
    // sibling, re-read current, re-validate the re-ingest rule against
    // it, recompute the increment against v2's totals, retry — so
    // BOTH batches land with the stats incremented exactly once each
    // (a blind retry would have erased A's increment: a lost update
    // hiding inside a "successful" commit). The query REQUIRES the
    // conflict to have fired exactly once (vacuity-proof) and serves
    // as-of all three versions; the oracle is the q48 BM25 chain per
    // version population — n_docs and avgdl enter every term's
    // weight, so score equality at v3 gates the exactly-once stats
    // invariant, not just the postings union. Scale: conflict
    // detection is one manifest stat; a retry re-derives ONE one-row
    // stats sibling — the landed postings are never re-written.
    "q141_bm25_occ_append" -> { (s, d) =>
      import graft.plans.{Bm25Index, Snapshots}
      val docs = Tables.documents(s, d)
      val staging = takeBm25SnapClone(s, d)
      try {
        val idxDir = s"$staging/idx"
        val v1 = Snapshots.current(s, idxDir).get
        // writer A wins the race
        val (v2, _) = Bm25Index.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 9))
        // writer B publishes against the base it read BEFORE A's
        // commit — the stale-base re-derive path, forced
        val (v3, conflicts) = Bm25Index.appendCommitRetrying(s, idxDir,
          docs.where(pmod(col("doc_id"), lit(10)) === 0),
          expected = Some(v1))
        require(conflicts == 1,
          s"writer B should lose exactly one race then succeed, got " +
            s"$conflicts conflicts")
        require(v3 == v2 + 1, s"expected v${v2 + 1}, committed v$v3")
        def leg(v: Int, tag: Int) =
          Bm25Index.serveAsOf(s, idxDir, v, Bm25QueryTerms)
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2))
            .unionByName(leg(v3, 3)))
          .select(col("version"), col("doc_id"), col("bm25"),
            col("n_matched"))
          .orderBy(col("version"), col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // ROW-LEVEL DELETE FOR THE CORPUS TABLE ITSELF — the erasure path
    // every derived index family already has, applied to the committed
    // documents table (the most common governance operation a training
    // pipeline runs: "forget these doc_ids"): the delete lands as ONE
    // tombstone file inside the manifested tree (v2 — merge-on-read,
    // nothing rewritten, pre-delete files byte-identical), the COW
    // purge rewrites ONLY the files holding tombstoned rows and drops
    // the list (v3 — physical erasure, v3 ≡ v2 rows); residency and
    // double-delete are both enforced loudly, re-ingest of a
    // tombstoned id refuses until purged. Oracle = the documents
    // population per version.
    "q146_table_delete" -> { (s, d) =>
      import graft.plans.SnapshotTable
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val staging = graft.Fs.createStagingDir(s, "graft-tbl-delete")
      try {
        val dir = s"$staging/corpus"
        val v1 = SnapshotTable.saveCommit(s,
          docs.repartition(8, col("doc_id")), dir)
        val v2 = SnapshotTable.deleteCommit(s, dir,
          docs.where(col("doc_id") % 7 === 0).select(col("doc_id")),
          "doc_id")
        val v3 = SnapshotTable.purgeCommit(s, dir, "doc_id")
        def leg(v: Int, tag: Int) =
          SnapshotTable.readAsOf(s, dir, v, "doc_id")
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v2, 2))
            .unionByName(leg(v3, 3)))
          .select(col("version"), col("doc_id"), col("n_chars"))
          .orderBy(col("version"), col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // GENERIC PRUNED SERVE — the FileStats sidecar consulted by the
    // DEFAULT table read path, not a bespoke demo: the committed
    // corpus is clustered by `source`, per-file (doc_id, source)
    // bounds are recorded once, a slice of ids is tombstoned, and the
    // serve goes through SnapshotTable.readAsOfPrunedString — the
    // manifested data-file list shrinks to the source-intersecting
    // files BEFORE any footer opens (string bounds are 16-char
    // truncations, Iceberg-style; unknown files kept conservatively),
    // while the pinned tombstone list still anti-joins merge-on-read.
    // The exact predicate runs on what remains, so the oracle is the
    // plain range SQL minus the deleted ids; the files-opened <
    // files-referenced proof lives in ScaleShapeSpec.
    "q147_pruned_serve" -> { (s, d) =>
      import graft.plans.{SnapshotTable, Snapshots}
      val dir = s"${prunedTableDir(s, d)}/corpus"
      val v = Snapshots.current(s, dir).get
      SnapshotTable.readAsOfPrunedString(s, dir, v, "doc_id",
        "source", "src12", "src14")
        .where(col("source") >= "src12" && col("source") <= "src14")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // MULTI-COLUMN PRUNED SERVE — q147's conjunction form: the corpus
    // layout is (source, doc_id)-range-clustered, so a predicate over
    // BOTH recorded columns intersects the per-column survivor sets
    // and opens strictly fewer files than either single-column prune
    // (proven in ScaleShapeSpec); here the oracle proves the rows —
    // pruning on two columns is still a pure scan-planning
    // optimization, the exact predicate runs on what remains and the
    // pinned tombstones still anti-join.
    "q153_pruned_serve_multi" -> { (s, d) =>
      import graft.plans.{SnapshotTable, Snapshots}
      val dir = s"${prunedTableDir(s, d)}/corpus"
      val v = Snapshots.current(s, dir).get
      SnapshotTable.readAsOfPrunedMulti(s, dir, v, "doc_id",
        longPreds = Seq(("doc_id", 100L, 2000L)),
        stringPreds = Seq(("source", "src12", "src14")))
        .where(col("source") >= "src12" && col("source") <= "src14" &&
          col("doc_id").between(100L, 2000L))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // SCHEMA EVOLUTION for the committed corpus — the remaining
    // lakehouse staple the table layer lacked: a new quality column
    // arrives WITH an ingest batch (the common pipeline shape: a new
    // scorer starts emitting a field), the widening append is refused
    // without the explicit flag (schema drift is an error unless
    // someone said otherwise) and accepted with it; serves of the new
    // version schema-merge so pre-evolution files null-fill the added
    // column, while v1 time travel keeps its OWN schema (the column
    // does not exist there — the schema travels with time travel).
    // Oracle = the whole corpus with quality defined exactly on the
    // evolved batch's rows.
    "q150_schema_evolution" -> { (s, d) =>
      import graft.plans.SnapshotTable
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val staging = graft.Fs.createStagingDir(s, "graft-tbl-evolve")
      try {
        val dir = s"$staging/corpus"
        val v1 = SnapshotTable.saveCommit(s,
          docs.where(pmod(col("doc_id"), lit(10)) =!= 9)
            .repartition(4, col("doc_id")), dir)
        val batch = docs.where(pmod(col("doc_id"), lit(10)) === 9)
          .withColumn("quality", (col("n_chars") * 2).cast("double"))
        // the default contract refuses a widening batch loudly
        val refused =
          try { SnapshotTable.appendCommit(s, dir, batch, "doc_id"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("allowEvolution") }
        require(refused, "widening batch must refuse without the flag")
        val v2 = SnapshotTable.appendCommit(s, dir, batch, "doc_id",
          allowEvolution = true)
        // v1 keeps its own (pre-evolution) schema under time travel
        require(!SnapshotTable.readAsOf(s, dir, v1, "doc_id")
          .columns.contains("quality"),
          "v1 time travel must not grow the evolved column")
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(
          SnapshotTable.readAsOf(s, dir, v2, "doc_id")
            .select(col("doc_id"), col("n_chars"), col("quality"))
            .orderBy(col("doc_id")))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },

    // SMALL-FILE COMPACTION (OPTIMIZE) for the committed corpus — the
    // flat-table twin of q113's band compaction: three ingest batches
    // fragment the table (one small file per appendCommit — the serve
    // scan's per-file open cost grows with ingest history), the COW
    // compaction rewrites the current selection as maxFiles new
    // sibling files and commits the swap, and every version still
    // serves its own file set — v_compacted must be row-identical to
    // v_final (compaction is purely physical). Oracle = the population
    // per version.
    "q151_table_compact" -> { (s, d) =>
      import graft.plans.{SnapshotTable, Snapshots}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      def slice(m: Int) = docs.where(pmod(col("doc_id"), lit(4)) === m)
      val staging = graft.Fs.createStagingDir(s, "graft-tbl-compact")
      try {
        val dir = s"$staging/corpus"
        val v1 = SnapshotTable.saveCommit(s,
          slice(0).repartition(6, col("doc_id")), dir)
        for (m <- 1 to 3)
          SnapshotTable.appendCommit(s, dir, slice(m), "doc_id")
        val v4 = Snapshots.current(s, dir).get
        val before = Snapshots.files(s, dir, v4).size
        val v5 = SnapshotTable.compactCommit(s, dir, maxFiles = 4)
        val after = Snapshots.files(s, dir, v5).size
        require(after == 4 && after < before,
          s"compaction left $after files (before: $before)")
        def leg(v: Int, tag: Int) =
          SnapshotTable.readAsOf(s, dir, v, "doc_id")
            .withColumn("version", lit(tag))
        // materialized before the finally reclaims the staging dir
        graft.Materialize.cut(leg(v1, 1).unionByName(leg(v4, 2))
            .unionByName(leg(v5, 3)))
          .select(col("version"), col("doc_id"), col("n_chars"))
          .orderBy(col("version"), col("doc_id"))
      } finally graft.Fs.deleteRecursively(staging,
        s.sparkContext.hadoopConfiguration)
    },
  )

  private val prunedTableMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Session-scoped committed corpus table for q147, source-clustered
    * (repartitionByRange gives each file a tight source band — the
    * layout string-bound pruning exists for), with one recorded stats
    * segment and a tombstoned id slice; built once per (session,
    * sfDir) — every q147 invocation only SERVES. */
  private def prunedTableDir(s: SparkSession, d: String): String =
    prunedTableMemo.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-tbl-pruned")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val cdir = s"$dir/corpus"
      val v1 = graft.plans.SnapshotTable.saveCommit(s,
        corpus.repartitionByRange(16, col("source"), col("doc_id")), cdir)
      // the table-facing recorder: exempts the tombstone list from
      // the bounds scan, so recording AFTER the deleteCommit below
      // would be just as safe as this before-ordering
      graft.plans.SnapshotTable.recordStats(s, cdir, v1,
        Seq("doc_id", "source"))
      graft.plans.SnapshotTable.deleteCommit(s, cdir,
        corpus.where(pmod(col("doc_id"), lit(11)) === 3)
          .select(col("doc_id")), "doc_id")
      dir
    })

  /** Pristine committed-v1 BM25 snapshot index for q129 — the v1
    * population (doc_id % 10 ∈ 1..8) staged as its own corpus dir,
    * indexed and manifest-committed ONCE per (session, sfDir); q129
    * invocations mutate byte-copies of it (the snapIndexDir pattern
    * from the MinHash family). */
  private val bm25SnapMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private def bm25SnapDir(s: SparkSession, d: String): String =
    bm25SnapMemo.computeIfAbsent((s, d), _ => {
      val dir = graft.Fs.createStagingDir(s, "graft-bm25-snapsrc")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.Fs.deleteRecursively(dir)))
      Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)).between(1, 8))
        .write.parquet(s"$dir/corpus/documents.parquet")
      graft.plans.Bm25Index.save(s, s"$dir/corpus", s"$dir/idx")
      dir
    })

  private val stagedBm25SnapClones = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    java.util.concurrent.ConcurrentLinkedQueue[String]]()

  /** Pre-stage `n` byte-copies of the committed-v1 BM25 snapshot index
    * UNTIMED ([[graft.Bench.staging]], `bm25-snap` row): the initial
    * save, which commits v1, is a shared immutable artifact; what q129
    * demonstrates (and times) is the append/delete/purge commits and
    * the four as-of serves. */
  def stageBm25SnapClones(s: SparkSession, d: String, n: Int): Unit = {
    val src = bm25SnapDir(s, d)
    val q = stagedBm25SnapClones.computeIfAbsent((s, d),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
    for (_ <- q.size until n) {
      val staging = graft.Fs.createStagingDir(s, "graft-bm25-snapclone")
      graft.Fs.copyDir(s, s"$src/idx", s"$staging/idx")
      q.add(staging)
    }
  }

  /** Pop a pre-staged snapshot clone or copy inline (Verify /
    * standalone). The returned root holds `idx/` with manifest v1
    * already committed. */
  private def takeBm25SnapClone(s: SparkSession, d: String): String = {
    val q = stagedBm25SnapClones.get((s, d))
    val pre = if (q == null) null else q.poll()
    if (pre != null) pre
    else {
      val staging = graft.Fs.createStagingDir(s, "graft-bm25-snapclone")
      graft.Fs.copyDir(s, s"${bm25SnapDir(s, d)}/idx",
        s"$staging/idx")
      staging
    }
  }

  /** One q48 BM25 CTE chain per snapshot version, instantiated over
    * that version's document POPULATION predicate and unioned with a
    * version tag — the shared oracle of the as-of lexical queries
    * (q129's four-version lifecycle, q141's two-writer OCC append). */
  private def bm25AsOfLegsSql(legs: Seq[(Int, String)]): String = {
    val termsIn = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    def leg(tag: Int, popWhere: String) =
      s"""SELECT * FROM (
         |WITH pop AS (SELECT * FROM documents WHERE $popWhere),
         |t AS (
         |  SELECT doc_id, len(toks) AS dl, u.term FROM (
         |    SELECT doc_id, $toksSql AS toks FROM pop),
         |    unnest(toks) AS u(term)),
         |dls AS (SELECT doc_id, max(dl) AS dl FROM t GROUP BY 1),
         |stats AS (
         |  SELECT (SELECT count(*) FROM pop) AS n_docs,
         |         (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM dls) AS avgdl),
         |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
         |  FROM t WHERE term IN ($termsIn) GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df
         |  FROM t WHERE term IN ($termsIn) GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id,
         |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (tf * 2.2)
         |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS score_t
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats)
         |SELECT $tag AS version, doc_id, round(sum(score_t), 6) AS bm25,
         |  count(*) AS n_matched
         |FROM scored GROUP BY doc_id)""".stripMargin
    legs.map { case (tag, popWhere) => leg(tag, popWhere) }
      .mkString("\nUNION ALL\n") + "\nORDER BY version, doc_id"
  }

  def oracle: Map[String, String] = {
    val hitCols = profiles.map { case (l, ws) =>
      s"${hitsSql(ws)} AS hits_$l" }.mkString(",\n         ")
    // mirrors bpeModel CTE-for-stage: wd (corpus words) -> wf (vocab
    // freq) -> s0 (marked char sequences, chr(1)/chr(2) markers) ->
    // BpeMerges unrolled rounds of pair-count / lexical-tie argmax /
    // replace-merge. MATERIALIZED is required: s_i is referenced by
    // three relations per round, and DuckDB's default CTE inlining
    // re-expands the whole chain exponentially.
    val bpeIters = (1 to BpeMerges).map { i =>
      val p = i - 1
      s"""p$i AS MATERIALIZED (
         |  SELECT pr AS pair, sum(freq) AS cnt FROM (
         |    SELECT freq, unnest(CASE WHEN len(syms) >= 2
         |      THEN list_transform(range(1, len(syms)),
         |        j -> chr(1) || syms[j] || chr(2) || chr(1) || syms[j+1] || chr(2))
         |      ELSE [] END) AS pr
         |    FROM (SELECT freq, string_split(substr(seq, 2, length(seq) - 2),
         |      chr(2) || chr(1)) AS syms FROM s$p)
         |  ) GROUP BY pr),
         |b$i AS MATERIALIZED (SELECT pair, replace(pair, chr(2) || chr(1), '') AS merged
         |  FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |s$i AS MATERIALIZED (SELECT word, freq,
         |  replace(seq, (SELECT pair FROM b$i), (SELECT merged FROM b$i)) AS seq
         |  FROM s$p)""".stripMargin
    }.mkString(",\n")
    val bpeSqlPrefix =
      s"""WITH wd AS MATERIALIZED (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '$bpePattern')) AS word
         |  FROM documents),
         |wf AS MATERIALIZED (SELECT word, count(*) AS freq FROM wd GROUP BY word),
         |s0 AS MATERIALIZED (SELECT word, freq, array_to_string(list_transform(
         |  range(1, length(word) + 1), i -> chr(1) || substr(word, i, 1) || chr(2)), '') AS seq
         |  FROM wf),
         |$bpeIters""".stripMargin
    val bpeMergesSelect = (1 to BpeMerges).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS merge_rank,
         |  replace(replace(replace(pair, chr(2) || chr(1), ' '), chr(1), ''), chr(2), '') AS pair,
         |  replace(replace(merged, chr(1), ''), chr(2), '') AS merged FROM b$i""".stripMargin
    }.mkString("\nUNION ALL ")
    Map(
      "q40_lang_id" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
           |h AS (SELECT doc_id, lang,
           |         $hitCols
           |  FROM t),
           |p AS (SELECT *, $argmaxCase AS predicted_lang FROM h)
           |SELECT doc_id, lang, predicted_lang,
           |  (predicted_lang = lang) AS is_correct,
           |  ${profiles.map(p => s"hits_${p._1}").mkString(", ")}
           |FROM p ORDER BY doc_id""".stripMargin,
      // the increment must equal the one-shot aggregate over the whole
      // corpus (residents ∪ batch = documents): q46's SQL verbatim
      "q116_vocab_increment" ->
        s"""WITH t AS (
           |  SELECT doc_id, u.term FROM (
           |    SELECT doc_id, $toksSql AS toks FROM documents),
           |    unnest(toks) AS u(term))
           |SELECT term, count(*) AS collection_freq,
           |  count(DISTINCT doc_id) AS doc_freq
           |FROM t GROUP BY term ORDER BY term""".stripMargin,
      "q115_cms_freq" -> {
        val cellLegs = (0 until CmsD).map { i =>
          s"""SELECT $i AS i,
             |  (${Tokens.hex48(s"md5('cms$i:' || term)")}) % $CmsW AS bucket,
             |  count(*) AS c FROM t GROUP BY 1, 2""".stripMargin
        }.mkString("\n  UNION ALL ")
        val probeLegs = (0 until CmsD).map { i =>
          s"""SELECT term, $i AS i,
             |  (${Tokens.hex48(s"md5('cms$i:' || term)")}) % $CmsW AS bucket
             |FROM probe""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (
           |  SELECT u.term FROM (SELECT $toksSql AS toks FROM documents),
           |    unnest(toks) AS u(term)),
           |cells AS (
           |  $cellLegs),
           |probe AS (
           |  SELECT term, count(*) AS exact_freq FROM t
           |  WHERE ${Tokens.mdByteSql("term")} < 128 GROUP BY term),
           |pc AS (
           |  $probeLegs),
           |est AS (
           |  SELECT pc.term, min(c.c) AS est_freq
           |  FROM pc JOIN cells c ON pc.i = c.i AND pc.bucket = c.bucket
           |  GROUP BY pc.term)
           |SELECT p.term, p.exact_freq, e.est_freq
           |FROM probe p JOIN est e ON p.term = e.term
           |ORDER BY p.term""".stripMargin
      },
      "q41_quality" ->
        s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
           |m AS (SELECT doc_id,
           |    len(toks) AS n_tokens,
           |    ${hitsSql(stopwords)} AS stop_hits,
           |    length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS n_punct,
           |    length(text) AS n_chars
           |  FROM t)
           |SELECT doc_id, n_tokens,
           |  CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           |  CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           |  round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
           |    + 0.4 * (CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE))
           |    + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)), 6) AS quality
           |FROM m ORDER BY doc_id""".stripMargin,
      "q42_token_count" ->
        s"""SELECT doc_id,
           |  len($toksSql) AS n_ws_tokens,
           |  len(regexp_extract_all(lower(text), '$bpePattern')) AS n_bpe_pieces,
           |  length(text) AS n_chars_calc, n_chars
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q42b_bpe_merges" ->
        s"""$bpeSqlPrefix
           |SELECT * FROM (${bpeMergesSelect}) ORDER BY merge_rank""".stripMargin,
      "q42c_bpe_tokenize" ->
        s"""$bpeSqlPrefix,
           |tk AS (SELECT word, CAST(length(seq) -
           |    length(replace(seq, chr(1), '')) AS BIGINT) AS n
           |  FROM s$BpeMerges)
           |SELECT wd.doc_id, CAST(sum(tk.n) AS BIGINT) AS n_bpe_tokens
           |FROM wd JOIN tk ON wd.word = tk.word
           |GROUP BY wd.doc_id ORDER BY doc_id""".stripMargin,
      "q79b_bpe_pack" ->
        s"""$bpeSqlPrefix,
           |tk AS (SELECT word, CAST(length(seq) -
           |    length(replace(seq, chr(1), '')) AS BIGINT) AS n
           |  FROM s$BpeMerges),
           |t AS (SELECT wd.doc_id, CAST(sum(tk.n) AS BIGINT) AS n_toks
           |  FROM wd JOIN tk ON wd.word = tk.word GROUP BY wd.doc_id),
           |c AS (
           |  SELECT doc_id, n_toks,
           |    coalesce(sum(n_toks) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
           |  FROM t)
           |SELECT CAST(floor(tok_start / ${SeqBudget.toDouble}) AS BIGINT) AS seq_id,
           |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin,
      "q45_normalize" ->
        """WITH t AS (
          |  SELECT doc_id, trim(regexp_replace(
          |    regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
          |    '\s+', ' ', 'g')) AS norm
          |  FROM documents)
          |SELECT doc_id, norm, md5(norm) AS norm_md5
          |FROM t ORDER BY doc_id""".stripMargin,
      "q46_vocab" ->
        s"""WITH t AS (
           |  SELECT doc_id, u.term FROM (
           |    SELECT doc_id, $toksSql AS toks FROM documents),
           |    unnest(toks) AS u(term))
           |SELECT term, count(*) AS collection_freq,
           |  count(DISTINCT doc_id) AS doc_freq
           |FROM t GROUP BY term ORDER BY term""".stripMargin,
      "q47_tfidf" ->
        s"""WITH t AS (
           |  SELECT doc_id, u.term FROM (
           |    SELECT doc_id, $toksSql AS toks FROM documents),
           |    unnest(toks) AS u(term)),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT tf.doc_id, tf.term AS term, tf.tf, df.df,
           |  round(tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
           |FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
           |ORDER BY tf.doc_id, tf.term""".stripMargin,
      "q79_sequence_pack" ->
        s"""WITH t AS (
           |  SELECT doc_id, len($toksSql) AS n_toks FROM documents),
           |c AS (
           |  SELECT doc_id, n_toks,
           |    coalesce(sum(n_toks) OVER (ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
           |  FROM t)
           |SELECT CAST(floor(tok_start / ${SeqBudget.toDouble}) AS BIGINT) AS seq_id,
           |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM c GROUP BY 1 ORDER BY seq_id""".stripMargin,
      "q49_chunking" ->
        s"""WITH t AS (
           |  SELECT doc_id, $toksSql AS toks FROM documents),
           |st AS (
           |  SELECT doc_id, toks, u.s AS start
           |  FROM t, unnest(range(1, greatest(len(toks), 1) + 1, 15)) AS u(s))
           |SELECT doc_id,
           |  CAST(floor((start - 1) / 15.0) AS INTEGER) AS chunk_idx,
           |  CAST(start AS INTEGER) AS start,
           |  CAST(len(toks[start:start+19]) AS INTEGER) AS chunk_len,
           |  array_to_string(toks[start:start+19], ' ') AS chunk_text
           |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
      "q48_bm25_search" ->
        s"""WITH t AS (
           |  SELECT doc_id, len(toks) AS dl, u.term FROM (
           |    SELECT doc_id, $toksSql AS toks FROM documents),
           |    unnest(toks) AS u(term)),
           |dls AS (SELECT doc_id, max(dl) AS dl FROM t GROUP BY 1),
           |stats AS (
           |  SELECT (SELECT count(*) FROM documents) AS n_docs,
           |         (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM dls) AS avgdl),
           |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
           |  FROM t WHERE term IN ('spark', 'stream', 'join') GROUP BY 1, 2),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df
           |  FROM t WHERE term IN ('spark', 'stream', 'join') GROUP BY 1),
           |scored AS (
           |  SELECT tf.doc_id,
           |    ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
           |      * (tf * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS score_t
           |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats)
           |SELECT doc_id, round(sum(score_t), 6) AS bm25, count(*) AS n_matched
           |FROM scored GROUP BY doc_id
           |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,
      // q129: one q48 CTE chain per snapshot version, instantiated
      // over that version's document population — v1 the initial
      // residents, v2 after the append, v3 after the tombstone delete,
      // v4 after the purge compaction (identical to v3 by
      // construction: compaction is purely physical)
      "q129_bm25_timetravel" -> bm25AsOfLegsSql(Seq(
        1 -> "doc_id % 10 BETWEEN 1 AND 8",
        2 -> "doc_id % 10 <> 0",
        3 -> "doc_id % 10 <> 0 AND doc_id % 7 <> 0",
        4 -> "doc_id % 10 <> 0 AND doc_id % 7 <> 0")),
      // q141: the OCC two-writer append — v1 the residents, v2 after
      // writer A's batch (%10 = 9), v3 after writer B's re-derived
      // retry lands %10 = 0 too (= the whole corpus). Score equality
      // at v3 gates the exactly-once stats invariant: a lost update on
      // n_docs/sum_dl (the blind-retry failure mode) shifts every
      // term's idf/avgdl weight.
      "q141_bm25_occ_append" -> bm25AsOfLegsSql(Seq(
        1 -> "doc_id % 10 BETWEEN 1 AND 8",
        2 -> "doc_id % 10 <> 0",
        3 -> "TRUE")),
      // v1 everything, v2 merge-on-read survivors, v3 post-purge ≡ v2
      // (the purge is purely physical)
      "q146_table_delete" -> {
        def leg(tag: Int, popWhere: String) =
          s"""SELECT $tag AS version, doc_id, n_chars
             |FROM documents WHERE $popWhere""".stripMargin
        Seq(leg(1, "TRUE"), leg(2, "doc_id % 7 <> 0"),
            leg(3, "doc_id % 7 <> 0"))
          .mkString("\nUNION ALL\n") + "\nORDER BY version, doc_id"
      },
      // pruning is a pure scan-planning optimization: the pruned
      // merge-on-read serve + exact predicate must answer exactly the
      // plain range scan minus the tombstoned ids
      "q147_pruned_serve" ->
        """SELECT doc_id, source, n_chars
          |FROM documents
          |WHERE source >= 'src12' AND source <= 'src14'
          |  AND doc_id % 11 <> 3
          |ORDER BY doc_id""".stripMargin,
      // the conjunction form: both predicate columns applied exactly,
      // same tombstone complement
      "q153_pruned_serve_multi" ->
        """SELECT doc_id, source, n_chars
          |FROM documents
          |WHERE source >= 'src12' AND source <= 'src14'
          |  AND doc_id BETWEEN 100 AND 2000
          |  AND doc_id % 11 <> 3
          |ORDER BY doc_id""".stripMargin,
      // the evolved serve: quality exists exactly on the widening
      // batch's rows, null-filled everywhere else
      "q150_schema_evolution" ->
        """SELECT doc_id, n_chars,
          |  CASE WHEN doc_id % 10 = 9
          |       THEN CAST(n_chars * 2 AS DOUBLE) END AS quality
          |FROM documents
          |ORDER BY doc_id""".stripMargin,
      // v1 the first slice, v2 everything, v3 post-compaction ≡ v2
      // (compaction is purely physical)
      "q151_table_compact" -> {
        def leg(tag: Int, popWhere: String) =
          s"""SELECT $tag AS version, doc_id, n_chars
             |FROM documents WHERE $popWhere""".stripMargin
        Seq(leg(1, "doc_id % 4 = 0"), leg(2, "TRUE"), leg(3, "TRUE"))
          .mkString("\nUNION ALL\n") + "\nORDER BY version, doc_id"
      },
      "q44_fuzzy_match" ->
        """WITH names AS (
          |  SELECT DISTINCT p_name,
          |    string_split(p_name, ' ')[2] AS block
          |  FROM part)
          |SELECT a.p_name AS name_a, b.p_name AS name_b,
          |  levenshtein(a.p_name, b.p_name) AS dist
          |FROM names a JOIN names b
          |  ON a.block = b.block AND a.p_name < b.p_name
          |WHERE levenshtein(a.p_name, b.p_name) <= 3
          |ORDER BY name_a, name_b""".stripMargin,
      "q43_fingerprint" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
           |SELECT doc_id,
           |  md5(array_to_string(toks, ' ')) AS content_md5,
           |  list_min(list_transform(range(1, len(toks) - 3),
           |    i -> md5(array_to_string(toks[i:i+4], ' ')))) AS shingle_min
           |FROM t ORDER BY doc_id""".stripMargin,
      // the oracle states the SEMANTICS with the global window the
      // engine's bucketed form deliberately avoids — the comparison is
      // exactly "distributed rank ≡ single-partition rank"
      "q124_curriculum_rank" ->
        s"""WITH t AS (SELECT doc_id, len($toksSql) AS n_tokens FROM documents),
           |r AS (SELECT doc_id, n_tokens,
           |        row_number() OVER (ORDER BY n_tokens, doc_id) AS global_rank,
           |        count(*) OVER () AS total
           |      FROM t)
           |SELECT doc_id, n_tokens, global_rank,
           |  CAST(((global_rank - 1) * 3) // total AS INT) AS phase
           |FROM r ORDER BY global_rank""".stripMargin,
    )
  }
}
