package graft.store

import java.io.IOException
import java.net.URI
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, Path, RawLocalFileSystem}

/** Local filesystem with HDFS rename semantics whose `rename` can be
  * ARMED to fail — returning false, exactly how Hadoop filesystems (and
  * object-store connectors) report rename failure — for renames whose
  * (src, dst) match armed substrings, and whose `open` can be armed to
  * throw for a number of opens of matching paths. Like HDFS, a file
  * rename onto an existing file returns false and changes nothing
  * (atomically: a hard link, then the source's removal), so the
  * rename-based commit arbiter and the write lock keep their mutual
  * exclusion here; [[FaultyAbstractFileSystem]] supplies the FileContext
  * overwrite-rename. Both are bound to the `faulty://` scheme in the
  * specs' session ([[graft.SparkSpec]]); [[CommitFaultSpec]] uses it to
  * prove the store's commit protocols lose nothing when a rename fails
  * mid-commit. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val (from, to) = (pathToFile(src), pathToFile(dst))
    if (FaultyFileSystem.shouldFail(src.toString, dst.toString)) false
    else if (!from.isFile || to.isDirectory) super.rename(src, dst)
    else try {
      Files.createLink(to.toPath, from.toPath)
      Files.delete(from.toPath)
      true
    } catch {
      case _: FileAlreadyExistsException | _: NoSuchFileException => false
    }
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (FaultyFileSystem.shouldFailOpen(f.toString))
      throw new java.io.IOException(s"injected open failure: $f")
    super.open(f, bufferSize)
  }
}

/** The `faulty` scheme's FileContext binding, with HDFS's atomic
  * rename-with-overwrite (the default implementation deletes the target
  * first): what `SmallFile.replace` falls back to when the plain rename
  * refuses an existing target. Armed renames fail here too. */
class FaultyAbstractFileSystem(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultyFileSystem, conf, "faulty", false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    if (!overwrite) super.renameInternal(src, dst, overwrite)
    else if (FaultyFileSystem.shouldFail(src.toString, dst.toString))
      throw new IOException(s"injected rename failure: $src -> $dst")
    else Files.move(new java.io.File(src.toUri.getPath).toPath,
      new java.io.File(dst.toUri.getPath).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
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
