package graft.streaming

import org.apache.hadoop.fs.Path

/** Test-only local filesystem (the `io/FlakyRenameFs` pattern) for
  * StreamingJob's tail commit, registered under the `flakytail:` scheme
  * by StreamingJobSpec. The Nth rename onto a tail version `v<N>` returns
  * false once (the Hadoop failure convention), and the Nth delete of a
  * tail version throws once (the process stopping after the rename but
  * before the cleanup). Everything else passes through. */
class FlakyTailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flakytail"
  override def getUri: java.net.URI = java.net.URI.create("flakytail:///")
  private def isVersion(p: Path) = p.getName.matches("v\\d+")
  override def rename(src: Path, dst: Path): Boolean =
    if (isVersion(dst) && FlakyTailFs.failRenameAt.decrementAndGet() == 0) false
    else super.rename(src, dst)
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (isVersion(p) && FlakyTailFs.stopAtDeleteAt.decrementAndGet() == 0)
      throw new java.io.IOException(s"stopped before deleting $p")
    else super.delete(p, recursive)
}

object FlakyTailFs {
  /** 1-based index of the version rename to fail once; ≤ 0 disables. */
  val failRenameAt = new java.util.concurrent.atomic.AtomicInteger(0)
  /** 1-based index of the version delete to stop at once; ≤ 0 disables. */
  val stopAtDeleteAt = new java.util.concurrent.atomic.AtomicInteger(0)
}
