package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Cross-writer mutual exclusion for table mutations — the guard a
  * SHARED warehouse needs: two jobs appending to the same table would
  * otherwise interleave their staging swaps and meta writes (each step
  * is individually atomic, but the read-merge-swap sequence is not).
  *
  * Protocol: `_graft_lock` in the table dir, taken with
  * create-if-absent (`fs.create(p, overwrite = false)`); the file body
  * records the holder's token, operation, and acquire time. Writers
  * that find the lock held fail fast with the holder's context (no
  * blocking — batch mutators should surface contention, not queue
  * invisibly behind it).
  *
  * ATOMICITY: the create-if-absent goes through the session's
  * [[CommitArbiter]] (`spark.graft.commit.arbiter`). The default
  * `atomic` arbiter rests on the filesystem's own primitives — atomic
  * on HDFS and local (the namenode / kernel arbitrates), CHECK-THEN-PUT
  * on object-store connectors (s3a, gs, abfs, wasb, oss, cos), where
  * two racing writers can BOTH "acquire" and the lock degrades to
  * advisory (acquire logs a loud warning once per scheme). On those
  * stores configure the `conditional` arbiter (If-None-Match puts,
  * S3A >= Hadoop 3.4.2 or an [[AtomicCommit]] shim) — the lock then
  * stays a hard mutex, and [[Manifest.commit]]'s version flip goes
  * through the same arbiter as the backstop. CommitArbiterSpec proves
  * exactly-one-winner under an injected non-atomic filesystem.
  *
  * Liveness is the lock file's MODIFICATION TIME, not its content: a
  * holder's daemon heartbeat bumps the mtime (atomic `setTimes` — no
  * torn content for a concurrent reader to misread) every TTL/3, so
  * the stale TTL can stay tight (15 min) while an hours-long mutation
  * — a 100 TB rebucket — stays protected. A lock whose mtime is older
  * than `staleMs` belongs to a crashed writer and is broken; the
  * delete-then-create race between two breakers resolves by the
  * create's atomicity (exactly one wins, the loser errors). An
  * UNREADABLE lock is judged by the same mtime rule — a fresh torn
  * file is a writer mid-write (fail fast), an old one is crashed
  * garbage (break it).
  *
  * Release deletes the lock ONLY if it still carries the releaser's
  * token, so a writer that stalled past the TTL and lost a takeover
  * cannot delete the new holder's lock; its heartbeat likewise stops
  * the moment it observes a foreign token.
  */
object WriteLock {

  val FileName = "_graft_lock"

  /** Default stale-lock TTL — generous against GC pauses and slow
    * filesystems, tiny against operator response time. The heartbeat
    * (TTL/3) keeps arbitrarily long mutations fresh. */
  val DefaultStaleMs: Long = 15 * 60 * 1000L

  final case class Holder(token: String, op: String, acquiredAtMs: Long)

  /** Runs `body` holding the table's write lock. */
  def withLock[A](spark: SparkSession, tableDir: String, op: String,
                  staleMs: Long = DefaultStaleMs)(body: => A): A =
    withLockWait(spark, tableDir, op, waitMs = 0L, staleMs)(body)

  /** [[withLock]] that POLLS a held lock for up to `waitMs` before
    * giving up (~250 ms backoff), instead of the default fail-fast.
    * For SHORT critical sections only — the optimistic commit path
    * ([[KeyedTable.appendConcurrent]]) holds the lock for a manifest
    * flip, not a write job, so a contending committer is moments from
    * releasing and queueing briefly beats surfacing a spurious
    * conflict. Long mutations keep fail-fast: invisible queueing
    * behind an hours-long rebucket helps nobody. */
  def withLockWait[A](spark: SparkSession, tableDir: String, op: String,
                      waitMs: Long,
                      staleMs: Long = DefaultStaleMs)(body: => A): A = {
    val p = new Path(tableDir, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val arbiter = CommitArbiter.resolve(spark)
    warnIfNonAtomicCreate(arbiter, fs, p)
    val token = UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      try {
        acquire(arbiter, fs, p, token, op, staleMs, retried = false)
        acquired = true
      } catch {
        case e: StoreException
            if waitMs > 0 && System.currentTimeMillis() < deadline &&
               e.getMessage != null &&
               e.getMessage.startsWith("table is write-locked") =>
          Thread.sleep(250L)
      }
    }
    val beat = heartbeat(fs, p, token, staleMs)
    beat.start()
    try body
    finally {
      beat.interrupt()
      release(fs, p, token)
    }
  }

  private val warnedSchemes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def warnIfNonAtomicCreate(arbiter: CommitArbiter, fs: FileSystem,
                                    p: Path): Unit = {
    val scheme = CommitArbiter.schemeOf(fs)
    if (!arbiter.atomicOn(fs) && warnedSchemes.add(scheme))
      System.err.println(
        s"[graft] WARNING: filesystem scheme '$scheme' does not guarantee atomic " +
        s"create-if-absent; the write lock at $p is ADVISORY on this storage — " +
        "two racing writers may both acquire it. Configure " +
        s"${CommitArbiter.Conf}=conditional (If-None-Match puts; S3A on " +
        "Hadoop >= 3.4.2, or an AtomicCommit connector shim) for hard " +
        "mutual exclusion on object stores.")
  }

  private def lockJson(token: String, op: String): String =
    compact(render(JObject(
      "token" -> JString(token) ::
      "op" -> JString(op) ::
      "acquiredAtMs" -> JInt(System.currentTimeMillis()) :: Nil)))

  private def mtimeAge(fs: FileSystem, p: Path): Option[Long] =
    try Some(System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)
    catch { case _: Exception => None }

  /** Create-if-absent of the lock file through the session's
    * [[CommitArbiter]] — content is COMPLETE before the name exists
    * (never a torn lock body), and one-winner arbitration is the
    * arbiter's contract (kernel hardlink on `file` — a bare
    * `fs.create(p, overwrite = false)` would NOT do there: Hadoop's
    * local filesystems implement the no-overwrite flag as
    * exists-then-create, so two racing writers could both "acquire"
    * and silently overwrite each other's manifest commits, the
    * lost-commit shape ConcurrentAppendSpec reproduces; namenode
    * rename on HDFS; conditional PUT under the `conditional`
    * arbiter). */
  private def acquire(arbiter: CommitArbiter, fs: FileSystem, p: Path,
                      token: String, op: String,
                      staleMs: Long, retried: Boolean): Unit = {
    val created =
      arbiter.putIfAbsent(fs, p, lockJson(token, op).getBytes("UTF-8"))
    if (!created) {
      // liveness = mtime age (heartbeat-maintained); a vanished file
      // between the failed create and this check counts as fresh
      // contention — retry once rather than guessing
      val fresh = mtimeAge(fs, p).forall(_ <= staleMs)
      if (fresh) {
        val who = readHolder(fs, p)
          .map(h => s"${h.op} (token ${h.token})")
          .getOrElse("a writer mid-write (lock not yet readable)")
        throw new StoreException(
          s"table is write-locked by $who" +
          mtimeAge(fs, p).fold("")(a => s", last heartbeat ${a} ms ago") +
          "; concurrent mutation rejected — retry after it finishes, or " +
          s"break a crashed writer's lock by deleting $p")
      }
      if (retried)
        throw new StoreException(
          s"could not acquire write lock $p after breaking a stale lock " +
          "(another writer won the re-acquire race)")
      // crashed writer: break the lock; the create above arbitrates
      // the race between concurrent breakers
      fs.delete(p, false)
      acquire(arbiter, fs, p, token, op, staleMs, retried = true)
    }
  }

  /** Daemon thread bumping the lock's mtime every TTL/3 while the
    * mutation runs; stops itself once the lock is gone or carries a
    * foreign token (we were broken as stale — don't fight the new
    * holder). A read that FAILS proves neither: the beat goes ahead and
    * the next one re-reads, or one transient IO error would leave an
    * hours-long mutation's lock to be broken as stale. */
  private def heartbeat(fs: FileSystem, p: Path, token: String,
                        staleMs: Long): Thread = {
    val t = new Thread(() => {
      val interval = math.max(1000L, staleMs / 3)
      var ours = true
      try {
        while (ours && !Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          ours =
            try parse(SmallFile.readUtf8(fs, p)).forall(_.token == token)
            catch {
              case _: java.io.FileNotFoundException => false
              case scala.util.control.NonFatal(_) => true
            }
          if (ours) {
            try fs.setTimes(p, System.currentTimeMillis(), -1)
            catch { case _: Exception => () } // next beat retries
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-${p.getName}")
    t.setDaemon(true)
    t
  }

  private def release(fs: FileSystem, p: Path, token: String): Unit = {
    // only delete a lock that is still OURS — after a stale takeover
    // the file carries the new holder's token and must survive
    if (readHolder(fs, p).exists(_.token == token)) fs.delete(p, false)
  }

  /** The current holder, or None when absent/unreadable. */
  def readHolder(fs: FileSystem, p: Path): Option[Holder] =
    try parse(SmallFile.readUtf8(fs, p))
    catch { case _: Exception => None }

  /** A lock body's holder, or None when it does not parse. */
  private def parse(body: String): Option[Holder] =
    try {
      val j = JsonMethods.parse(body)
      (j \ "token", j \ "op", j \ "acquiredAtMs") match {
        case (JString(t), JString(o), JInt(a)) => Some(Holder(t, o, a.toLong))
        case _ => None
      }
    } catch { case _: Exception => None }
}
