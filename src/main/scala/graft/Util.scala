package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Small shared filesystem helpers, written against the Hadoop
  * `FileSystem` API so every maintenance/staging path (compaction,
  * replay staging, the q77 sentinel mtime bump) runs unchanged on
  * file://, hdfs:// or s3a:// — a bare local path resolves through
  * `fs.defaultFS` exactly like Spark's own readers do, so tests on
  * the local FS and a cluster on a real lake exercise the same code.
  */
object Fs {

  /** Resolve the FileSystem owning `path` (scheme-aware). */
  def resolve(path: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  /** RECURSIVE listing of the data files under `dir` with the given
    * suffix — subdirectories are followed, so hive-partitioned
    * layouts (part files nested under key=value dirs) are counted
    * instead of silently summing to zero bytes.
    *
    * The local filesystem takes a java.nio fast path: Hadoop's local
    * adapter materializes permission info by SHELLING OUT per file
    * (~5 ms each — measured 1.5 s for a 256-file index tree vs 0.02 s
    * via nio), which made every manifest commit and storage audit
    * O(files) in process spawns. Callers only consume path/length/
    * mtime, which nio provides without the exec. Remote filesystems
    * (hdfs://, s3a://) keep the FileSystem API path. */
  def listDataFiles(dir: String, conf: Configuration,
      suffix: String = ".parquet"): Seq[FileStatus] = {
    val (fs, p) = resolve(dir, conf)
    if (fs.getScheme == "file") {
      val base = java.nio.file.Paths.get(p.toUri.getPath)
      if (!java.nio.file.Files.isDirectory(base)) Seq.empty
      else {
        val stream = java.nio.file.Files.walk(base)
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala
            .filter(q => q.getFileName.toString.endsWith(suffix) &&
              java.nio.file.Files.isRegularFile(q))
            .map { q =>
              val f = q.toFile
              new FileStatus(f.length, false, 1, 33554432L, f.lastModified,
                new Path("file:" + q.toAbsolutePath))
            }.toVector
        } finally stream.close()
      }
    } else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(suffix)) buf += st
      }
      buf.toSeq
    }
  }

  /** Set a file's modification time (q77's sentinel-last ordering
    * trick). Requires an FS with mutable mtimes — HDFS and local
    * qualify; a pure object store does not, in which case the
    * sentinel must simply be written after a >granularity pause. */
  def setMTime(path: String, conf: Configuration, millis: Long): Unit = {
    val (fs, p) = resolve(path, conf)
    fs.setTimes(p, millis, -1)
  }

  /** Create a unique staging directory for replay/shuffle-file work.
    * Base location comes from `spark.graft.stagingDir` (point it at a
    * shared filesystem on a cluster — executors must reach the staged
    * files); defaults to the driver's java.io.tmpdir, which is only
    * correct in local mode. */
  def createStagingDir(s: org.apache.spark.sql.SparkSession,
      prefix: String): String = {
    val base = s.conf.get("spark.graft.stagingDir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val dir = s"$base/$prefix-${java.util.UUID.randomUUID()}"
    val (fs, p) = resolve(dir, s.sparkContext.hadoopConfiguration)
    require(fs.mkdirs(p), s"could not create staging dir $dir")
    dir
  }

  /** Byte-copy a directory tree (an index clone, a side artifact
    * such as meta / stats / terms / centroids), loudly. */
  def copyDir(s: org.apache.spark.sql.SparkSession, srcDir: String,
      destDir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val (srcFs, srcPath) = resolve(srcDir, conf)
    val (dstFs, dstPath) = resolve(destDir, conf)
    require(org.apache.hadoop.fs.FileUtil.copy(
      srcFs, srcPath, dstFs, dstPath, false, conf),
      s"artifact copy $srcDir -> $destDir failed")
  }

  /** Best-effort recursive delete; failures are swallowed — used only
    * for temp-dir reclamation where a leftover file is preferable to
    * a failed query. */
  def deleteRecursively(dir: String,
      conf: Configuration = new Configuration()): Unit =
    try {
      val (fs, p) = resolve(dir, conf)
      fs.delete(p, true)
      ()
    } catch { case _: Throwable => () }
}
