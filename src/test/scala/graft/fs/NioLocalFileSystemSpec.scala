package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** graft's java.nio `file://` file system against Hadoop's stock one:
  * every answer must be the one `RawLocalFileSystem` / `LocalFs` give.
  * Hadoop caches a FileSystem per scheme and user, not per conf, so each
  * side is opened with `FileSystem.newInstance`. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private val root = URI.create("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** (stock, nio) checksummed file systems under one conf. */
  private def both(c: Configuration): (LocalFileSystem, LocalFileSystem) = {
    def open(impl: Class[_ <: FileSystem]) = {
      val own = new Configuration(c)
      own.set("fs.file.impl", impl.getName)
      FileSystem.newInstance(root, own).asInstanceOf[LocalFileSystem]
    }
    val (stock, nio) = (open(classOf[LocalFileSystem]), open(classOf[NioLocalFileSystem]))
    assert(stock.getRaw.getClass == classOf[org.apache.hadoop.fs.RawLocalFileSystem])
    assert(nio.getRaw.getClass == classOf[NioRawLocalFileSystem])
    (stock, nio)
  }

  private def tempDir(): java.nio.file.Path = graft.GraftSession.scratchDir("nio-fs-spec")

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every field a `FileStatus` carries. */
  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isFile, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getPermission.toShort,
      s.getOwner, s.getGroup, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.hasAcl, s.isEncrypted, s.isErasureCoded, s.isSnapshotEnabled)

  private def listed(fs: FileSystem, p: Path): Seq[Seq[Any]] =
    fs.listStatus(p).toSeq.map(fields).sortBy(_.head.toString)

  /** Files and dirs (and their `.crc` files) written through `fs` under
    * `dir`, with default and explicit permissions. */
  private def writeTree(fs: FileSystem, dir: java.nio.file.Path): Unit = {
    val d = new Path(dir.toUri)
    val out = fs.create(new Path(d, "a/b/part-0.parquet"))
    out.write("rows".getBytes(UTF_8))
    out.close()
    fs.create(new Path(d, "c/x.txt"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 25, null)
      .close()
    fs.mkdirs(new Path(d, "e/f"))
    fs.mkdirs(new Path(d, "g"), new FsPermission("750"))
  }

  private def tree(dir: java.nio.file.Path): Seq[(String, Int)] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.map(p => (dir.relativize(p).toString, mode(p))).toSeq.sorted
    } finally s.close()
  }

  for (umask <- Seq("022", "077")) test(s"create and mkdirs leave the stock mode bits under umask $umask") {
    val (stock, nio) = both(conf(umask))
    val (s, n) = (tempDir(), tempDir())
    writeTree(stock, s)
    writeTree(nio, n)
    assert(tree(n) == tree(s))
    assert(tree(n).exists(_._1 == "a/b/.part-0.parquet.crc"), "no checksum file written")
  }

  test("getFileStatus, getFileLinkStatus and listStatus give every stock field") {
    val (stock, nio) = both(conf())
    val d = tempDir()
    writeTree(stock, d)
    Files.setLastModifiedTime(d.resolve("c/x.txt"),
      java.nio.file.attribute.FileTime.fromMillis(1234567890123L))
    val paths = Seq("", "a", "a/b", "a/b/part-0.parquet", "a/b/.part-0.parquet.crc",
      "c/x.txt", "e/f", "g").map(r => new Path(d.resolve(r).toUri))
    for (p <- paths) {
      assert(fields(nio.getRaw.getFileStatus(p)) == fields(stock.getRaw.getFileStatus(p)), p)
      assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), p)
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
      // raw listing shows the .crc files, the checksummed one hides them
      assert(listed(nio.getRaw, p) == listed(stock.getRaw, p), p)
      assert(listed(nio, p) == listed(stock, p), p)
    }
  }

  test("a missing path fails with the stock FileNotFoundException message") {
    val (stock, nio) = both(conf())
    val missing = new Path(tempDir().resolve("nope/none").toUri)
    def message(f: => Any) = intercept[FileNotFoundException](f).getMessage
    for (fs <- Seq((f: LocalFileSystem) => f.getRaw, (f: LocalFileSystem) => f)) {
      assert(message(fs(nio).getFileStatus(missing)) == message(fs(stock).getFileStatus(missing)))
      assert(message(fs(nio).getFileLinkStatus(missing)) == message(fs(stock).getFileLinkStatus(missing)))
      assert(message(fs(nio).listStatus(missing)) == message(fs(stock).listStatus(missing)))
    }
    // a path under a plain file is missing too
    val file = tempDir().resolve("plain")
    Files.write(file, Array[Byte](1))
    val under = new Path(file.resolve("x").toUri)
    assert(message(nio.getRaw.getFileStatus(under)) == message(stock.getRaw.getFileStatus(under)))
  }

  test("symlinks and dangling symlinks keep Hadoop's semantics") {
    val (stock, nio) = both(conf())
    val d = tempDir()
    writeTree(stock, d)
    Files.createSymbolicLink(d.resolve("to-file"), d.resolve("c/x.txt"))
    Files.createSymbolicLink(d.resolve("to-dir"), d.resolve("a"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    def outcome(f: => FileStatus): Either[String, Seq[Any]] =
      try Right(fields(f)) catch { case e: java.io.IOException => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    // Hadoop reads a link with `readlink` on the path's string, so a
    // `file:` path and a bare one answer differently; both must match
    for (name <- Seq("to-file", "to-dir", "dangling");
         p <- Seq(new Path(d.resolve(name).toUri), new Path(d.resolve(name).toString))) {
      assert(outcome(nio.getRaw.getFileStatus(p)) == outcome(stock.getRaw.getFileStatus(p)), p)
      assert(outcome(nio.getRaw.getFileLinkStatus(p)) == outcome(stock.getRaw.getFileLinkStatus(p)), p)
    }
    assert(nio.getRaw.getFileLinkStatus(new Path(d.resolve("dangling").toString)).isSymlink)
    for (name <- Seq("to-file", "to-dir")) {
      val p = new Path(d.resolve(name).toUri)
      assert(listed(nio.getRaw, p) == listed(stock.getRaw, p), name)
    }
  }

  test("FileContext create and rename with OVERWRITE behave as Hadoop's LocalFs") {
    def run(impl: String): (Seq[(String, Int)], String, Class[_]) = {
      val c = conf()
      c.set("fs.AbstractFileSystem.file.impl", impl)
      val afs = AbstractFileSystem.get(root, c)
      assert(afs.getUriDefaultPort == -1)
      val fc = FileContext.getFileContext(afs, c)
      val d = tempDir()
      def write(name: String, text: String): Unit = {
        val out = fc.create(new Path(d.resolve(name).toUri),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(text.getBytes(UTF_8))
        out.close()
      }
      write("commits/.1.tmp", "new")
      write("commits/1", "old")
      val (tmp, dst) = (new Path(d.resolve("commits/.1.tmp").toUri), new Path(d.resolve("commits/1").toUri))
      write("commits/.2.tmp", "other")
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(d.resolve("commits/.2.tmp").toUri), dst, Options.Rename.NONE))
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      (tree(d), new String(Files.readAllBytes(Paths.get(dst.toUri)), UTF_8), afs.getClass)
    }
    val stock = run("org.apache.hadoop.fs.local.LocalFs")
    val nio = run(classOf[NioLocalFs].getName)
    assert(nio._3 == classOf[NioLocalFs])
    assert(nio._2 == "new")
    assert(nio == stock.copy(_3 = classOf[NioLocalFs]))
  }

  test("a sticky bit is set and read as Hadoop does") {
    val (stock, nio) = both(conf())
    val (s, n) = (tempDir(), tempDir())
    for ((fs, d) <- Seq(stock -> s, nio -> n)) {
      val p = new Path(d.resolve("shared").toUri)
      fs.mkdirs(p)
      fs.setPermission(p, new FsPermission(Integer.parseInt("1777", 8).toShort))
    }
    assert(mode(n.resolve("shared")) == Integer.parseInt("1777", 8))
    assert(tree(n) == tree(s))
    val (a, b) = (nio.getFileStatus(new Path(n.resolve("shared").toUri)),
      stock.getFileStatus(new Path(s.resolve("shared").toUri)))
    assert(a.getPermission.getStickyBit && a.getPermission == b.getPermission)
    // clearing it again goes through java.nio
    nio.setPermission(new Path(n.resolve("shared").toUri), new FsPermission("755"))
    assert(mode(n.resolve("shared")) == Integer.parseInt("755", 8))
  }
}
