package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** `file://` through the `FileContext` API — the one Structured
  * Streaming checkpoints use — is bound to the fork-free
  * [[graft.fs.FastLocalFs]], and that binding is observably the same
  * filesystem as Hadoop's stock `LocalFs`: the same statuses, the same
  * exceptions and the same files on disk, `.crc` sidecars included. */
class FastLocalFsSpec extends SparkSpec {

  private val localUri = new URI("file:///")

  test("the session binds FileContext file:// to FastLocalFs") {
    val fc = FileContext.getFileContext(localUri, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[graft.fs.FastLocalFs])
  }

  /** Runs the same operations under `root` and returns each one's
    * observable outcome, with `root` stripped from paths. */
  private def runScript(fc: FileContext, root: JPath): Seq[String] = {
    val base = new Path(root.toUri)
    def p(name: String) = new Path(base, name)
    def rel(q: Path): String =
      q.toUri.getPath.stripPrefix(base.toUri.getPath.stripSuffix("/"))
    def write(name: String, body: String, perms: Option[Int]): Unit = {
      val opts = perms.map(b => CreateOpts.perms(new FsPermission(b.toShort))).toSeq
      val out = fc.create(p(name), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        opts: _*)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def status(kind: String, name: String)(get: Path => org.apache.hadoop.fs.FileStatus) =
      try {
        val s = get(p(name))
        val target = if (s.isSymlink) rel(s.getSymlink) else "-"
        f"$kind $name perm=${s.getPermission.toShort.toInt}%04o len=${s.getLen} " +
          s"dir=${s.isDirectory} link=${s.isSymlink} target=$target path=${rel(s.getPath)}"
      } catch { case e: Exception => s"$kind $name threw ${e.getClass.getName}" }

    write("a644", "six-four-four", Some(0x1a4))
    write("a600", "six-zero-zero", Some(0x180))
    write("plain", "default permissions", None)
    fc.mkdir(p("d/nested"), FsPermission.getDirDefault, true)
    write("d/nested/in", "inside", Some(0x1a4))
    write("src1", "first", Some(0x1a4))
    write("dst1", "to be replaced", Some(0x180))
    fc.rename(p("src1"), p("dst1"), Options.Rename.OVERWRITE)
    write("src2", "second", Some(0x180))
    fc.rename(p("src2"), p("dst2"), Options.Rename.OVERWRITE)
    Files.createSymbolicLink(root.resolve("link"), root.resolve("a644"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))

    val probes = Seq("a644", "a600", "plain", "d", "d/nested", "dst1", "dst2",
      "link", "dangling", "missing", "src1")
    val statuses = probes.flatMap { r =>
      Seq(status("status", r)(fc.getFileStatus), status("linkStatus", r)(fc.getFileLinkStatus))
    }
    val contents = Seq("dst1", "dst2").map { r =>
      val in = fc.open(p(r))
      try s"read $r ${new String(in.readAllBytes(), "UTF-8")}" finally in.close()
    }
    statuses ++ contents ++ onDisk(root)
  }

  /** Every entry under `root`: relative name, type and permission bits. */
  private def onDisk(root: JPath): Seq[String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { q =>
      val kind =
        if (Files.isSymbolicLink(q)) "link"
        else if (Files.isDirectory(q)) "dir"
        else "file"
      val perms =
        if (kind == "link") "-"
        else PosixFilePermissions.toString(Files.getPosixFilePermissions(q))
      s"disk ${root.relativize(q)} $kind $perms"
    }.toList.sorted
    finally walk.close()
  }

  test("FastLocalFs matches stock LocalFs on create, mkdir, rename and status") {
    val stockFc = FileContext.getFileContext(localUri, new Configuration())
    assert(stockFc.getDefaultFileSystem.getClass.getName ===
      "org.apache.hadoop.fs.local.LocalFs")
    val fastFc = FileContext.getFileContext(localUri, spark.sessionState.newHadoopConf())
    val stockRoot = Files.createTempDirectory("stock-localfs")
    val fastRoot = Files.createTempDirectory("fast-localfs")
    try {
      val stock = runScript(stockFc, stockRoot)
      val fast = runScript(fastFc, fastRoot)
      assert(stock.exists(_.startsWith("disk .a644.crc")), "no .crc sidecars written")
      assert(stock.exists(_.startsWith("disk dangling link")), "no symlink written")
      assert(stock.exists(_.endsWith("threw java.io.FileNotFoundException")))
      assert(fast === stock)
    } finally {
      Seq(stockRoot, fastRoot).foreach(r =>
        org.apache.commons.io.FileUtils.deleteDirectory(r.toFile))
    }
  }

  test("every SparkSession.builder() in src/main goes through SessionFs.configure") {
    // a session built without it silently puts the per-file fork cost
    // back on every write and streaming checkpoint
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"source root $root not found")
    val walk = Files.walk(root)
    val sites = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .flatMap { f =>
        val text = Files.readString(f)
        raw"SparkSession\.builder\(\)".r.findAllMatchIn(text).map { m =>
          (s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}",
            text.substring(0, m.start).endsWith("SessionFs.configure("))
        }
      } finally walk.close()
    assert(sites.nonEmpty, "no SparkSession.builder() found — pattern rot?")
    val bare = sites.collect { case (at, false) => at }
    assert(bare.isEmpty, s"session builders without SessionFs.configure: $bare")
  }
}
