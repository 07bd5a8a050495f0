package graft.store

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** ATOMIC publish of the small files the store rewrites in place — the
  * table meta (`_graft_meta.json`), the tag map (`_tags.json`), a
  * branch's fork record and the changelog floor marker. Each is read
  * without the write lock, so a truncating `fs.create(p, overwrite =
  * true)` would hand those readers a torn or empty file on
  * progressive-visibility filesystems (file/HDFS), and a crash between
  * truncate and write would leave that state for good. Instead the new
  * body is COMPLETE before it becomes visible:
  *
  *  - object stores: `create(p, overwrite = true)` IS the atomic
  *    replace — the PUT at close is all-or-nothing and readers see
  *    old-object-or-new, never bytes in flight;
  *  - `file`: body to a `.tmp-<kind>-*` sibling, then a kernel-atomic
  *    `Files.move(ATOMIC_MOVE)` replace (a reader holding the old inode
  *    finishes its read untouched); any stale Hadoop `.crc` sibling
  *    from an `fs.create`-written ancestor is removed so checksummed
  *    `fs.open` readers never fail validation;
  *  - HDFS-like: body to a tmp sibling via the FileSystem, then
  *    `rename` (replace-capable connectors succeed atomically) or the
  *    FileContext OVERWRITE rename (namenode-atomic) when the plain
  *    rename refuses an existing target.
  *
  * When NO atomic replace can be performed (rename failed and the
  * scheme has no FileContext binding), the write FAILS LOUDLY with the
  * previous file intact — losing an edit beats destroying the file.
  * Crash debris is a `.tmp-*` sibling; the table root's are reaped by
  * vacuum past the age bound like every other staged temp. */
private[store] object SmallFile {

  /** Replace `p` with `body`. `kind` names the tmp sibling
    * (`.tmp-<kind>-<uuid>`); `what` names the file in errors. */
  def replace(conf: Configuration, p: Path, body: Array[Byte],
              kind: String, what: String): Unit = {
    val fs = p.getFileSystem(conf)
    CommitArbiter.schemeOf(fs) match {
      case s if CommitArbiter.NonAtomicSchemes.contains(s) =>
        val out = fs.create(p, true)
        try out.write(body) finally out.close()
      case "file" =>
        val target = new java.io.File(p.toUri.getPath)
        Option(target.getParentFile).foreach(_.mkdirs())
        val tmp = new java.io.File(target.getParentFile,
          s".tmp-$kind-${UUID.randomUUID()}")
        try {
          val out = new java.io.FileOutputStream(tmp)
          try { out.write(body); out.getFD.sync() } finally out.close()
          java.nio.file.Files.move(tmp.toPath, target.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // raw write bypasses Hadoop's checksum layer; a stale `.crc`
          // from an fs.create-written ancestor would fail fs.open reads
          new java.io.File(target.getParentFile, s".${target.getName}.crc")
            .delete(): Unit
        } finally { tmp.delete(); () }
      case scheme =>
        val tmp = new Path(p.getParent, s".tmp-$kind-${UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try {
          try out.write(body) finally out.close()
          val renamed = fs.rename(tmp, p)
          if (!renamed) {
            if (!fs.exists(p))
              throw new StoreException(
                s"$what publish rename $tmp -> $p failed with no " +
                s"existing target (filesystem error); $what unchanged")
            // HDFS semantics: rename refuses an existing target — the
            // FileContext API exposes the namenode's atomic
            // rename-with-overwrite
            try {
              val fc = org.apache.hadoop.fs.FileContext.getFileContext(
                p.toUri, conf)
              fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            } catch {
              case scala.util.control.NonFatal(e) => throw new StoreException(
                s"cannot atomically replace $what at $p on scheme " +
                s"'$scheme' (plain rename refused an existing target and " +
                s"the FileContext overwrite-rename failed: $e); the " +
                s"PREVIOUS $what is intact — this store never " +
                s"truncate-rewrites the $what file")
            }
          }
        } finally {
          try { if (fs.exists(tmp)) fs.delete(tmp, false): Unit }
          catch { case _: Exception => () }
        }
    }
  }

  /** The whole file as UTF-8, read to EOF of ONE opened stream: with
    * [[replace]] the open resolves either the old or the new body in
    * full; sizing the buffer from a second `getFileStatus` could pair a
    * replaced length with the originally-opened content and parse a
    * truncated prefix. */
  def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }
}
