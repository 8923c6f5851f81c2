package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Filesystem call counters shared by both local-filesystem stacks the
  * engine reaches in a traced run:
  *   - the `FileSystem` API (writers, readers, `Snapshots`, `ManifestIO`)
  *     through [[CountingLocalFileSystem]], the engine's
  *     `FastLocalFileSystem` with counters;
  *   - the `FileContext` API (streaming offset/commit logs and state-store
  *     checkpoints) through [[CountingLocalFs]], which keeps Hadoop's
  *     stock raw local filesystem underneath, as the untraced run does.
  * Counts include the `.crc` sidecar calls the checksum layer makes. */
object FsCounts {
  val create = new AtomicLong
  val rename = new AtomicLong
  val delete = new AtomicLong
  val mkdirs = new AtomicLong
  val list = new AtomicLong
  val status = new AtomicLong

  def total: Long =
    create.get + rename.get + delete.get + mkdirs.get + list.get + status.get

  def snapshot: Map[String, Long] = Map(
    "create" -> create.get, "rename" -> rename.get, "delete" -> delete.get,
    "mkdirs" -> mkdirs.get, "list" -> list.get, "status" -> status.get)
}

private[perfbench] trait Counting extends RawLocalFileSystem {
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.create.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsCounts.create.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FsCounts.create.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounts.rename.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FsCounts.delete.incrementAndGet(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    FsCounts.mkdirs.incrementAndGet(); super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    FsCounts.mkdirs.incrementAndGet(); super.mkdirs(p, permission)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    FsCounts.list.incrementAndGet(); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    FsCounts.status.incrementAndGet(); super.getFileStatus(p)
  }
}

/** `file://` for the `FileSystem` API in traced runs. */
class CountingLocalFileSystem
  extends LocalFileSystem(new graft.fs.FastRawLocalFileSystem with Counting)

/** `file://` for the `FileContext` API in traced runs. */
class CountingLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new CountingRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

class CountingRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem with Counting, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
