package graft

import org.apache.spark.sql.SparkSession

/** Session-level filesystem wiring shared by every entry point (Bench,
  * Verify, JobProfile, Probe, tests): binds `file://` to the fork-free
  * local filesystem for both Hadoop APIs, so local runs do not fork a
  * process per file create / mkdir / permission stat (see
  * [[graft.fs.FastRawLocalFileSystem]] for the stack-sampled
  * measurement):
  *   - `spark.hadoop.fs.file.impl` → [[graft.fs.FastLocalFileSystem]],
  *     the `FileSystem` API (writers, readers, snapshot commits);
  *   - `spark.hadoop.fs.AbstractFileSystem.file.impl` →
  *     [[graft.fs.FastLocalFs]], the `FileContext` API (streaming offset
  *     and commit logs, state-store checkpoints).
  * Scheme-scoped: any non-local deployment (hdfs://, s3a://) is
  * untouched. */
object SessionFs {
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl",
        classOf[graft.fs.FastLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.fs.FastLocalFs].getName)
}
