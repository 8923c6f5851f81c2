package graft.fs

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem without the per-file process forks.
  *
  * Hadoop's `RawLocalFileSystem` has no JNI (`libhadoop`) in this
  * environment, so every `setPermission` — which fires on EVERY file
  * create and EVERY mkdir, because the committer and the writers pass
  * explicit permissions — forks a `chmod` process, and every
  * permission-carrying `getFileStatus` forks `ls -ld`
  * (`loadPermissionInfo`), and every `getFileLinkStatus` forks
  * `readlink` (`FileUtil.readLink`). A fork of a large JVM costs
  * ~2–10 ms, so a dynamic-partition write that touches 128 partition
  * directories (dirs + data files + .crc files) pays HUNDREDS of forks
  * ≈ 2 s of pure process-spawn per append — stack-sampled on the q110s
  * band append (`Shell.runCommand <- RawLocalFileSystem.setPermission <-
  * LocalFSFileOutputStream.<init>` and `<- mkOneDirWithMode`).
  *
  * Hadoop reaches `file://` through two APIs, and each needs its own
  * binding to this class:
  *   - the `FileSystem` API (writers, readers, `Snapshots`,
  *     `ManifestIO`, staged and swap writes) through
  *     [[FastLocalFileSystem]];
  *   - the `FileContext` API (Structured Streaming offset and commit
  *     logs, state-store deltas, snapshots and checksum sidecars, all
  *     written by Spark's `FileContextBasedCheckpointFileManager`)
  *     through [[FastLocalFs]].
  *
  * This subclass implements the same operations with java.nio calls
  * (one syscall, no fork) — the same local-FS fast-path idea as
  * [[graft.Fs.listDataFiles]]. Semantics are preserved: permissions
  * are still applied (via `Files.setPosixFilePermissions`), statuses
  * still carry real permissions (via `PosixFileAttributes`); special
  * bits (sticky/setuid — unused by any write path here) and symlink
  * statuses fall back to the shell implementation. On a production
  * cluster the native `libhadoop` makes stock Hadoop behave this way
  * already; object stores never fork at all — registering this class
  * for `file://` makes local runs measure the engine, not process-spawn
  * overhead.
  *
  * Registered for both APIs by every session builder
  * ([[graft.SessionFs.configure]]).
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {

  private def nioPath(f: Path): java.nio.file.Path = pathToFile(f).toPath

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits: Int = permission.toShort.toInt & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission) // special bits
    else {
      val set = new java.util.HashSet[PosixFilePermission]()
      import PosixFilePermission._
      val map = Seq(
        OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
        GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
        OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1)
      for ((pp, m) <- map if (bits & m) != 0) set.add(pp)
      try java.nio.file.Files.setPosixFilePermissions(nioPath(p), set)
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
        case e: java.io.IOException =>
          throw new java.io.FileNotFoundException(
            s"setPermission $p: ${e.getMessage}")
      }
    }
  }

  /** Status with the permission materialized from one nio
    * `readAttributes` call — the superclass returns a status whose
    * `getPermission` lazily forks `ls -ld` per file. */
  private def nioStatus(f: Path): FileStatus = {
    val np = nioPath(f)
    val attrs = java.nio.file.Files.readAttributes(np,
      classOf[java.nio.file.attribute.PosixFileAttributes])
    val perms = attrs.permissions()
    import PosixFilePermission._
    val map = Seq(
      OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
      GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
      OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1)
    var bits = 0
    for ((pp, m) <- map if perms.contains(pp)) bits |= m
    new FileStatus(attrs.size(), attrs.isDirectory, 1,
      getDefaultBlockSize(f), attrs.lastModifiedTime().toMillis,
      attrs.lastAccessTime().toMillis, new FsPermission(bits.toShort),
      attrs.owner().getName, attrs.group().getName,
      f.makeQualified(getUri, getWorkingDirectory))
  }

  override def getFileStatus(f: Path): FileStatus =
    try nioStatus(f)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new java.io.FileNotFoundException(s"File $f does not exist")
      case _: UnsupportedOperationException => super.getFileStatus(f)
    }

  /** `AbstractFileSystem.renameInternal` asks for the link status of both
    * ends of every `FileContext` rename. The superclass forks `readlink`
    * (`FileUtil.readLink`) and then returns `getFileStatus`; a path that
    * is not a symlink skips the fork, and only a real symlink takes it. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (java.nio.file.Files.isSymbolicLink(nioPath(f))) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def listStatus(f: Path): Array[FileStatus] = {
    val np = nioPath(f)
    if (!java.nio.file.Files.isDirectory(np)) {
      // files (and missing paths) keep the superclass contract
      super.listStatus(f)
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      val stream = java.nio.file.Files.newDirectoryStream(np)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val child = it.next()
          try out += nioStatus(new Path(f, child.getFileName.toString))
          catch { case _: java.nio.file.NoSuchFileException => () }
        }
      } finally stream.close()
      out.toArray
    }
  }
}

/** `file://` for the `FileSystem` API: the checksummed wrapper over
  * [[FastRawLocalFileSystem]] — byte-identical on-disk behavior to stock
  * `LocalFileSystem` (including .crc sidecars), minus the process forks. */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

/** `file://` for the `FileContext` API, which streaming checkpoints use:
  * the checksummed wrapper over [[FastRawLocalFs]], mirroring stock
  * `org.apache.hadoop.fs.local.LocalFs`, which likewise ignores `uri`
  * (there is only one local filesystem). */
class FastLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new FastRawLocalFs(FsConstants.LOCAL_FS_URI, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

/** `FileContext` binding of [[FastRawLocalFileSystem]], mirroring stock
  * `org.apache.hadoop.fs.local.RawLocalFs`. */
class FastRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FastRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
