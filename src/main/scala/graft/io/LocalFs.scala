package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import scala.util.Try
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Dataset, SparkSession}

/** How the program touches `file:` paths. Without Hadoop's native library
  * `RawLocalFileSystem` forks a `chmod` for every file or directory it
  * creates and a `readlink` for every link-status probe, several of which
  * each `FileContext` rename makes. Spark's offset and commit logs, every
  * state-store delta or RocksDB upload and [[graft.streaming.TailStore]]'s
  * commit pay for them. [[Raw]] does both in the JVM; the checksummed
  * wrappers over it write the same files, `.crc` sidecars included, as
  * Hadoop's stock `LocalFileSystem` and `LocalFs`.
  *
  * Hadoop caches `FileSystem` by scheme, so `fs.file.impl` cannot be
  * rebound once used: [[fileSystem]] hands out an explicit instance.
  * `FileContext`, which Spark's `CheckpointFileManager` uses, is built
  * afresh from `fs.AbstractFileSystem.file.impl`, which [[bind]] sets.
  */
object LocalFs {

  private val Key = "fs.AbstractFileSystem.file.impl"
  private val Stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName
  private val SetIdBits = 0xc00 // 06000: setuid, setgid

  /** `RawLocalFileSystem` with its `chmod` and `readlink` kept in the JVM. */
  class Raw extends RawLocalFileSystem {

    /** The same (umask-applied) mode bits through `java.nio`. Hadoop's own
      * path takes a sticky bit, a file already carrying a set-id bit (its
      * `chmod` keeps those on directories) and a filesystem without unix
      * modes. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = Try(Files.getAttribute(file, "unix:mode").asInstanceOf[Int]).toOption
      if (perm.getStickyBit || mode.forall(m => (m & SetIdBits) != 0)) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(perm.toString))
    }

    /** Hadoop asks `readlink` about `new File(f.toString)`; when that is not
      * a symlink its answer is the plain status. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `RawLocalFs` over [[Raw]] (its own constructors are
    * package-private). */
  private final class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("Hadoop's own deprecation", "3.4")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** The `FileContext` filesystem [[bind]] names: Hadoop's `LocalFs`
    * (`ChecksumFs` over the raw one) over [[Raw]]. */
  final class Checksummed(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** Names [[Checksummed]] for `file:` on `spark`'s Hadoop conf while the
    * conf still names Hadoop's stock `LocalFs`; a user's own class stays. */
  def bind(spark: SparkSession): SparkSession = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.synchronized { if (conf.get(Key) == Stock) conf.set(Key, classOf[Checksummed].getName) }
    spark
  }

  /** `ds`'s session, bound: where a stateful twin takes its session. */
  def session(ds: Dataset[_]): SparkSession = bind(ds.sparkSession)

  /** A new, uncached `LocalFileSystem` over [[Raw]] for a `file:` path
    * while `fs.file.impl` names no class of its own; the path's own
    * filesystem otherwise. */
  def fileSystem(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file" || conf.get("fs.file.impl") != null) path.getFileSystem(conf)
    else {
      val fs = new LocalFileSystem(new Raw)
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
  }
}
