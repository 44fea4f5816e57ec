package graft.io

import graft.TestSpark
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** [[LocalFs]] writes what Hadoop's stock local filesystems write: the same
  * files, `.crc` sidecars and mode bits, the same link statuses and the
  * same rename semantics. No streaming query runs here. */
class LocalFsSpec extends AnyFunSuite {

  private val Key = "fs.AbstractFileSystem.file.impl"
  private val Root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }
  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff
  private def init[F <: FileSystem](fs: F, c: Configuration): F = { fs.initialize(Root, c); fs }
  private def context(c: Configuration, impl: Class[_]): FileContext = {
    val bound = new Configuration(c)
    bound.set(Key, impl.getName)
    FileContext.getFileContext(Root, bound)
  }

  /** Each entry's mode bits and bytes (directories: none), by relative name. */
  private def snapshot(dir: JPath): Map[String, (Int, Seq[Byte])] = {
    val all = Files.walk(dir)
    try all.toArray.toSeq.map(_.asInstanceOf[JPath]).filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        (mode(p), if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap finally all.close()
  }

  private def writeAll(fs: FileSystem, dir: JPath): Unit = {
    val out = fs.create(new Path(dir.toString, "a/b/data"), true)
    try out.write(Array.tabulate[Byte](3000)(i => (i * 7).toByte)) finally out.close()
    assert(fs.mkdirs(new Path(dir.toString, "m/n"), FsPermission.getDirDefault))
  }

  private def writeAll(fc: FileContext, dir: JPath): Unit = {
    val out = fc.create(new Path(dir.toString, "a/b/data"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    try out.write(Array.tabulate[Byte](3000)(i => (i * 7).toByte)) finally out.close()
    fc.mkdir(new Path(dir.toString, "m/n"), FsPermission.getDirDefault, true)
  }

  test("files, .crc sidecars and directories get stock Hadoop's bytes and mode bits") {
    for (umask <- Seq("022", "077", "002")) {
      val c = conf(umask)
      val stock = Files.createTempDirectory("graft-localfs-stock")
      val forkless = Files.createTempDirectory("graft-localfs-forkless")
      val fs = LocalFs.fileSystem(new Path(forkless.toString), c)
      assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[LocalFs.Raw])
      writeAll(init(new LocalFileSystem(), c), stock)
      writeAll(fs, forkless)
      val want = snapshot(stock)
      assert(want.keySet == Set("a", "a/b", "a/b/data", "a/b/.data.crc", "m", "m/n"))
      assert(snapshot(forkless) == want, s"FileSystem, umask $umask")

      val stockFc = Files.createTempDirectory("graft-localfs-stockfc")
      val forklessFc = Files.createTempDirectory("graft-localfs-forklessfc")
      val fc = context(c, classOf[LocalFs.Checksummed])
      assert(fc.getDefaultFileSystem.isInstanceOf[LocalFs.Checksummed])
      writeAll(context(c, classOf[org.apache.hadoop.fs.local.LocalFs]), stockFc)
      writeAll(fc, forklessFc)
      assert(snapshot(forklessFc) == snapshot(stockFc), s"FileContext, umask $umask")
    }
  }

  test("a sticky bit, and a directory under a set-group-id parent, take Hadoop's own path") {
    val c = conf("022")
    val stock = init(new RawLocalFileSystem(), c)
    val forkless = init(new LocalFs.Raw, c)
    for (fs <- Seq(stock, forkless)) {
      val dir = Files.createTempDirectory("graft-localfs-sticky")
      fs.setPermission(new Path(dir.toString), new FsPermission(octal("1755")))
      assert(mode(dir) == octal("1755"), fs.getClass.getName)
    }
    val modes = Seq(stock, forkless).map { fs =>
      val parent = Files.createTempDirectory("graft-localfs-setgid")
      assert(new ProcessBuilder("chmod", "2775", parent.toString).start().waitFor() == 0)
      assert(fs.mkdirs(new Path(parent.toString, "child"), FsPermission.getDirDefault))
      mode(parent.resolve("child"))
    }
    assert(modes(1) == modes(0))
  }

  test("getFileLinkStatus of a file, a symlink, a dangling one and a missing path is stock Hadoop's") {
    val c = conf("022")
    val stock = init(new RawLocalFileSystem(), c)
    val forkless = init(new LocalFs.Raw, c)
    val dir = Files.createTempDirectory("graft-localfs-links")
    val file = Files.write(dir.resolve("file"), "x".getBytes)
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def summary(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime)
    val symlinks = for {
      name <- Seq("file", "link", "dangling", "missing")
      path <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri))
    } yield {
      def status(fs: FileSystem) = Try(summary(fs.getFileLinkStatus(path))).toEither.left.map(_.getClass)
      val got = status(forkless)
      assert(got == status(stock), path)
      if (name == "missing") assert(got == Left(classOf[FileNotFoundException]))
      got.exists(_._4)
    }
    // Hadoop sees a link only on a scheme-less path: it asks readlink about
    // `new File(path.toString)`
    assert(symlinks == Seq(false, false, true, false, true, false, false, false))
  }

  test("a FileContext rename with OVERWRITE replaces the file and its .crc like stock Hadoop's") {
    val c = conf("022")
    def renamed(fc: FileContext): Map[String, (Int, Seq[Byte])] = {
      val dir = Files.createTempDirectory("graft-localfs-rename")
      def put(name: String, text: String): Path = {
        val p = new Path(dir.toString, name)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(text.getBytes) finally out.close()
        p
      }
      val (src, dst) = (put("src", "new"), put("dst", "old"))
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes()) == "new") finally in.close()
      snapshot(dir)
    }
    val got = renamed(context(c, classOf[LocalFs.Checksummed]))
    assert(got.keySet == Set("dst", ".dst.crc"))
    assert(got == renamed(context(c, classOf[org.apache.hadoop.fs.local.LocalFs])))
  }

  test("bind names the forkless FileContext once and leaves a user's own class alone") {
    val spark = TestSpark.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val before = conf.get(Key)
    try {
      conf.set(Key, classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      assert(LocalFs.bind(spark) eq spark)
      LocalFs.bind(spark)
      assert(conf.get(Key) == classOf[LocalFs.Checksummed].getName)
      conf.set(Key, "org.example.OwnLocalFs")
      LocalFs.bind(spark)
      assert(conf.get(Key) == "org.example.OwnLocalFs")
    } finally conf.set(Key, before)
  }

  test("fileSystem is the forkless one for file: and another scheme's own otherwise") {
    val hadoop = TestSpark.spark.sparkContext.hadoopConfiguration
    for (path <- Seq("/tmp/x", "file:///tmp/x"))
      assert(LocalFs.fileSystem(new Path(path), hadoop).asInstanceOf[LocalFileSystem]
        .getRawFileSystem.isInstanceOf[LocalFs.Raw], path)
    val c = conf("022")
    c.set("fs.flaky.impl", classOf[FlakyRenameFs].getName)
    c.setBoolean("fs.flaky.impl.disable.cache", true)
    assert(LocalFs.fileSystem(new Path("flaky:///tmp/x"), c).isInstanceOf[FlakyRenameFs])
  }
}
