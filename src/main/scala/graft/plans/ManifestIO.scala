package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-fed reads for every committed table and index.
  *
  * Every committed-artifact serve in this engine — the index families
  * and the [[SnapshotTable]]s, the cluster-label and vocabulary state
  * tables included — reads an EXPLICIT manifested file list
  * (`spark.read.option("basePath", dir).parquet(files: _*)`). Spark
  * resolves such a read by re-LISTING the paths — above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default
  * 32) that is a whole distributed Spark job per read ("Listing leaf
  * files and directories for N paths", measured 1.4–1.6 s per
  * 763-file serve leg at sf0.1, one per as-of leg of every lifecycle
  * query) — to discover metadata the manifest layer
  * ALREADY VALIDATED when it committed the files. This is the
  * guide-§6 argument for manifest-backed table formats ("avoid
  * directory listing altogether"), applied to our own manifests.
  *
  * [[read]] therefore stats the file set with ONE driver-side
  * recursive enumeration of the table root (the local-FS fast path in
  * [[graft.Fs.listDataFiles]] walks a 763-file tree in ~10 ms; on a
  * remote store it is one LIST scan instead of N GetFileStatus
  * round-trips or a listing job) and hands the statuses straight to
  * the planner via a pre-populated FileStatusCache
  * ([[org.apache.spark.sql.execution.datasources
  * .GraftManifestReadBridge]]). Partition-column inference (basePath),
  * partition pruning and the scan itself are Spark's own unchanged
  * code paths. The data schema comes from the one footer Spark's
  * inference would read, read on the driver: without mergeSchema a
  * manifest-fed read launches no Spark job at all (Spark's inference
  * ships that single footer read to a one-task job); with mergeSchema
  * Spark's parallel merge job reads every file as before. Data files
  * under a committed table are immutable once visible (every
  * lifecycle here is copy-on-write), which is what makes the
  * enumeration-then-plan handoff safe. */
object ManifestIO {

  /** Scheme-tolerant key for matching enumerated statuses to the
    * caller's path strings (mirrors SnapshotTable.relOf). */
  private def key(p: String): String = new Path(p).toUri.getPath

  /** Read `files` (absolute paths under `basePath`) with semantics
    * identical to `spark.read.option("basePath", basePath)
    * [.option("mergeSchema", "true")].parquet(files: _*)`.
    *
    * The statuses come from the MANIFESTED FILES' OWN PARENT DIRS
    * (one `listStatus` per distinct parent, batched), never from a
    * walk of the whole table tree: a committed table carrying many
    * expired-but-unreclaimed version files would otherwise make every
    * as-of serve pay an enumeration that scales with DEAD files on
    * disk instead of the manifest being read (and a handful-of-files
    * read — Snapshots.readIncremental's single-file schema probe —
    * short-circuits to per-file stats with no listing at all). */
  def read(s: SparkSession, basePath: String, files: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val (fsys, _) = graft.Fs.resolve(basePath, conf)
    val statuses =
      if (files.size <= 4) files.map(fp => fsys.getFileStatus(new Path(fp)))
      else {
        val parents = files.map(fp => new Path(fp).getParent).distinct
        val byPath: Map[String, FileStatus] = parents.iterator
          .flatMap(p => fsys.listStatus(p))
          .map(st => key(st.getPath.toString) -> st).toMap
        files.map { fp =>
          byPath.getOrElse(key(fp), fsys.getFileStatus(new Path(fp)))
        }
      }
    val opts = Map("basePath" -> basePath) ++
      (if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty)
    org.apache.spark.sql.execution.datasources.GraftManifestReadBridge
      .read(s, opts, statuses)
  }
}
