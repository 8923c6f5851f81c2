package graft
import java.nio.file.{Files, Paths}
import SparkEntry.jsonStr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failures = List.empty[(String, String)]
    SparkEntry.selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        failures ::= (name, String.valueOf(e.getMessage))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // reclaim the replay-output checkpoint blocks the query just
      // consumed (same hygiene as Bench — 139 sequential queries on a
      // small heap otherwise accumulate dead block storage)
      graft.streaming.Replay.releaseOutputs()
    }
    // The driver keys its correctness report by the OUTPUT DIRECTORY name
    // (including the `.parquet` suffix), not the bare query name — round 1's
    // oracle entries were all invisible to it (`err: no_oracle`). Emit each
    // SQL under BOTH keyings, and drop a copy of the file at the repo root,
    // so any lookup convention finds it.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    try Files.writeString(Paths.get("oracle_sql.json"), json)
    catch { case e: Throwable =>
      System.err.println(s"[verify] repo-root oracle_sql.json write failed: ${e.getMessage}")
    }
    // machine-readable failure manifest (the per-query try/catch means
    // exit code 0 even on failures — stderr lines scroll away, a file
    // doesn't)
    val failJson = failures.sortBy(_._1)
      .map { case (n, m) => s"${jsonStr(n)}: ${jsonStr(m)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    spark.stop()
  }
}
