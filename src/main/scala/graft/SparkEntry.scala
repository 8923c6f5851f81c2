package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator module's oracle-checked queries. Each
  * module exposes `queries` (name -> (spark, sfDir) -> DataFrame) and
  * `oracle` (name -> DuckDB SQL over the same parquet tables).
  */
object SparkEntry {
  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
                            Map[String, String])] = Seq(
    (operators.Relational.queries, operators.Relational.oracle),
    (operators.Neel.queries, operators.Neel.oracle),
    (streaming.FanIn.queries, streaming.FanIn.oracle),
    (operators.Dedup.queries, operators.Dedup.oracle),
    (operators.Similarity.queries, operators.Similarity.oracle),
    (operators.TextAnalysis.queries, operators.TextAnalysis.oracle),
    (operators.Temporal.queries, operators.Temporal.oracle),
    (operators.Requests.queries, operators.Requests.oracle),
    (operators.Multimodal.queries, operators.Multimodal.oracle),
    (operators.NeelPipeline.queries, operators.NeelPipeline.oracle),
    (operators.Profile.queries, operators.Profile.oracle),
    (operators.Curation.queries, operators.Curation.oracle),
    (operators.Skew.queries, operators.Skew.oracle),
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The flagship is the full NEEL pipeline: raw tweet JSON →
    * parse → NER/NEL/resolve → analysis-result events. */
  def entry(spark: SparkSession): DataFrame =
    queries("q28_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)

  /** The queries a run covers: with `SPARK_GRAFT_ONLY=q31,q32` (a dev
    * subset) those whose name contains any listed pattern; unset (a
    * full run) every query. */
  def selected: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(v) =>
        val pats = v.split(",").map(_.trim).filter(_.nonEmpty)
        queries.filter { case (n, _) => pats.exists(n.contains) }
      case None => queries
    }

  /** JSON string literal for `s`: escapes backslash, quote and ALL
    * control chars (<0x20) — a tab or CR in an oracle SQL string would
    * otherwise make `oracle_sql.json` unparseable for the DuckDB
    * compare. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
