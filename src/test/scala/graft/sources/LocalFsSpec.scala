package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] writes what stock Hadoop writes: the same trees (modes,
  * `.crc` siblings, contents) from the same FileSystem and FileContext
  * calls under umasks 022 and 077, the same rename-over-target, and the
  * same `getFileLinkStatus` answers for a file, a symlink and a dangling
  * symlink.
  */
class LocalFsSpec extends AnyFunSuite {

  private val root = Paths.get(graft.Tmp.root, "localfs-spec")

  private def conf(umask: String, nio: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    // the JVM's cached `file:` instance carries whatever umask it was made with
    c.set("fs.file.impl.disable.cache", "true")
    if (nio) {
      c.set("fs.file.impl", classOf[LocalFs.Checksummed].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Context].getName)
    }
    c
  }

  /** FileSystem (as the sink's committer uses it) and FileContext (as the
    * checkpoint's logs use it) calls, rooted at `dir`.
    */
  private def exercise(dir: JPath, c: Configuration): Unit = {
    val base = new Path(dir.toUri)
    val fs = base.getFileSystem(c)
    val fc = FileContext.getFileContext(base.toUri, c)
    def write(out: java.io.OutputStream, s: String): Unit =
      try out.write(s.getBytes("UTF-8")) finally out.close()

    fs.mkdirs(new Path(base, "a/b/c"))
    write(fs.create(new Path(base, "a/b/c/part-0")), "rows")
    write(fs.create(new Path(base, "a/p"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null), "restricted")
    fs.mkdirs(new Path(base, "d"), new FsPermission("750"))
    fs.mkdirs(new Path(base, "sticky"))
    fs.setPermission(new Path(base, "sticky"), new FsPermission("1777"))
    fs.setPermission(new Path(base, "a/b/c/part-0"), new FsPermission("600"))
    assert(fs.rename(new Path(base, "a/p"), new Path(base, "a/q")))
    write(fs.create(new Path(base, "a/_SUCCESS")), "")

    fc.mkdir(new Path(base, "cp/offsets"), FsPermission.getDirDefault, true)
    def fcWrite(name: String, s: String): Unit =
      write(fc.create(new Path(base, s"cp/offsets/$name"), EnumSet.of(CreateFlag.CREATE)), s)
    fcWrite(".0.tmp", "v1\nbatch 0")
    fcWrite("0", "stale")
    fc.rename(new Path(base, "cp/offsets/.0.tmp"), new Path(base, "cp/offsets/0"),
      Options.Rename.OVERWRITE)
    fc.setPermission(new Path(base, "cp/offsets/0"), new FsPermission("664"))
  }

  /** relative path → (dir?, full mode incl. sticky, contents) */
  private def tree(dir: JPath): Map[String, (Boolean, Int, String)] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      val isDir = Files.isDirectory(p)
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      dir.relativize(p).toString ->
        (isDir, mode, if (isDir) "" else new String(Files.readAllBytes(p), "ISO-8859-1"))
    }.toMap

  for (umask <- Seq("022", "077")) {
    test(s"NIO FileSystem and FileContext write stock Hadoop's tree under umask $umask") {
      val stock = root.resolve(s"u$umask/stock"); val nio = root.resolve(s"u$umask/nio")
      FileUtils.deleteQuietly(root.resolve(s"u$umask").toFile)
      Seq(stock, nio).foreach(Files.createDirectories(_))

      val c = conf(umask, nio = true)
      assert(new Path(nio.toUri).getFileSystem(c).isInstanceOf[LocalFs.Checksummed])
      assert(FileContext.getFileContext(nio.toUri, c).getDefaultFileSystem
        .isInstanceOf[LocalFs.Context])
      exercise(stock, conf(umask, nio = false))
      exercise(nio, c)

      val (s, n) = (tree(stock), tree(nio))
      assert(n == s)
      // the layout the commit path relies on, present on both sides
      Seq("a/b/c/.part-0.crc", "a/.q.crc", "a/_SUCCESS", "a/._SUCCESS.crc",
        "cp/offsets/.0.crc").foreach(f => assert(n.contains(f), f))
      Seq("a/p", "a/.p.crc", "cp/offsets/.0.tmp", "cp/offsets/..0.tmp.crc")
        .foreach(f => assert(!n.contains(f), f))
      // rename(…, OVERWRITE) replaced the existing target
      assert(n("cp/offsets/0")._3 == "v1\nbatch 0")
      val u = Integer.parseInt(umask, 8)
      assert(n("a/b/c")._2 == (0x1ff & ~u) && n("a/b/c/part-0")._2 == 0x180)
      assert(n("sticky")._2 == 0x3ff)
    }
  }

  test("getFileLinkStatus matches Hadoop's for a file, a symlink and a dangling symlink") {
    val dir = root.resolve("links")
    FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
    Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("missing"))

    type View = Either[String, (Boolean, Boolean, Long, String, String, String)]
    def view(st: => FileStatus): View =
      try {
        val s = st
        Right((s.isSymlink, s.isFile, s.getLen, s.getPermission.toString,
          if (s.isSymlink) s.getSymlink.toString else "", s.getPath.toString))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

    val stockFs = new LocalFileSystem(); stockFs.initialize(URI.create("file:///"), conf("022", nio = false))
    val nioFs = new LocalFs.Checksummed; nioFs.initialize(URI.create("file:///"), conf("022", nio = false))
    val stockFc = FileContext.getFileContext(dir.toUri, conf("022", nio = false))
    val nioFc = FileContext.getFileContext(dir.toUri, conf("022", nio = true))
    try {
      for (name <- Seq("target", "link", "dangling", "missing");
           p <- Seq(new Path(dir.resolve(name).toUri), new Path(dir.resolve(name).toString))) {
        assert(view(nioFs.getFileLinkStatus(p)) == view(stockFs.getFileLinkStatus(p)), p)
        assert(view(nioFs.getRawFileSystem.getFileLinkStatus(p)) ==
          view(stockFs.getRawFileSystem.getFileLinkStatus(p)), p)
        assert(view(nioFc.getFileLinkStatus(p)) == view(stockFc.getFileLinkStatus(p)), p)
      }
      assert(view(nioFs.getFileLinkStatus(new Path(dir.resolve("missing").toUri))).isLeft)
    } finally { stockFs.close(); nioFs.close() }
  }
}
