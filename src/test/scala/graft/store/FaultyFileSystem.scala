package graft.store

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Local filesystem whose `rename` can be ARMED to fail — returning
  * false, exactly how Hadoop filesystems (and object-store connectors)
  * report rename failure — for renames whose (src, dst) match armed
  * substrings, and whose `open` can be armed to throw for a number of
  * opens of matching paths. Registered under the `faulty://` scheme by
  * [[CommitFaultSpec]] to prove the store's commit protocols lose
  * nothing when a rename fails mid-commit. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (FaultyFileSystem.shouldFail(src.toString, dst.toString)) false
    else super.rename(src, dst)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (FaultyFileSystem.shouldFailOpen(f.toString))
      throw new java.io.IOException(s"injected open failure: $f")
    super.open(f, bufferSize)
  }
}

object FaultyFileSystem {
  /** (srcContains, dstContains): rename fails iff BOTH match. The
    * substrings must be chosen to hit only the commit rename under
    * test — Spark's own job-commit renames (task attempt → staging
    * output) run through this filesystem too. */
  @volatile var failWhen: Option[(String, String)] = None

  def shouldFail(src: String, dst: String): Boolean =
    failWhen.exists { case (s, d) => src.contains(s) && dst.contains(d) }

  def armed[A](srcContains: String, dstContains: String)(body: => A): A = {
    failWhen = Some((srcContains, dstContains))
    try body finally failWhen = None
  }

  @volatile private var openFailWhen: Option[String] = None
  private val openFailures = new AtomicInteger(0)

  def shouldFailOpen(path: String): Boolean =
    openFailWhen.exists(path.contains) &&
      openFailures.getAndUpdate(n => math.max(0, n - 1)) > 0

  /** Inside `body`, the next `times` opens of a path containing
    * `pathContains` throw an IOException. */
  def failingOpens[A](pathContains: String, times: Int)(body: => A): A = {
    openFailures.set(times)
    openFailWhen = Some(pathContains)
    try body finally { openFailWhen = None; openFailures.set(0) }
  }
}
