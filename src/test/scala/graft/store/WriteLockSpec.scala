package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Contract specs for the cross-writer mutual-exclusion lock. */
class WriteLockSpec extends SparkSpec {

  import spark.implicits._

  private def freshWarehouse(): String =
    Files.createTempDirectory("graft-lock-wh").toString

  private def sampleDf = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

  private def lockPath(wh: String, table: String) =
    new Path(KeyedTable.tableDir(wh, table), WriteLock.FileName)

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a held lock rejects a second writer with the holder's context") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val e = intercept[StoreException] {
      WriteLock.withLock(spark, KeyedTable.tableDir(wh, "t"), "append-outer") {
        KeyedTable.toSql(sampleDf.withColumn("id", $"id" + 10), wh, "t",
          pk = Seq("id"), how = WriteMode.Append)
      }
    }
    assert(e.getMessage.contains("write-locked"))
    assert(e.getMessage.contains("append-outer"), "reports who holds it")
  }

  test("the lock releases after success and after failure") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val lp = lockPath(wh, "t")
    assert(!hadoopFs(lp).exists(lp), "released after create")
    intercept[StoreException] { // CreateOnly on an existing table fails...
      KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    }
    assert(!hadoopFs(lp).exists(lp), "...and still releases the lock")
  }

  test("a stale lock (old mtime) is broken and the write proceeds") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val lp = lockPath(wh, "t")
    val f = hadoopFs(lp)
    // fabricate a crashed writer's leftover: no heartbeat since epoch 1
    val out = f.create(lp, false)
    out.write(s"""{"token":"dead","op":"append","acquiredAtMs":1}""".getBytes("UTF-8"))
    out.close()
    f.setTimes(lp, 1L, -1L)
    KeyedTable.toSql(sampleDf.withColumn("id", $"id" + 10), wh, "t",
      pk = Seq("id"), how = WriteMode.Append)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 4,
      "append went through over the stale lock")
    assert(!f.exists(lp), "the breaker's own lock released afterwards")
  }

  test("an unreadable lock is judged by mtime: old breaks, fresh holds") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val lp = lockPath(wh, "t")
    val f = hadoopFs(lp)
    def torn(): Unit = {
      val out = f.create(lp, false)
      out.write("{half a js".getBytes("UTF-8"))
      out.close()
    }
    // fresh torn file = a writer mid-write -> contention, fail fast
    torn()
    val e = intercept[StoreException] {
      KeyedTable.toSql(sampleDf.withColumn("id", $"id" + 10), wh, "t",
        pk = Seq("id"), how = WriteMode.Append)
    }
    assert(e.getMessage.contains("write-locked"))
    // the same file aged past the TTL = crashed mid-write -> break it
    f.setTimes(lp, 1L, -1L)
    KeyedTable.toSql(sampleDf.withColumn("id", $"id" + 10), wh, "t",
      pk = Seq("id"), how = WriteMode.Append)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 4)
  }

  test("heartbeat outlives the TTL: a slow writer is not broken") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val dir = KeyedTable.tableDir(wh, "t")
    // TTL 3s, mutation 5s: without the heartbeat (TTL/3 = 1s beats)
    // the second writer would break the lock mid-mutation
    WriteLock.withLock(spark, dir, "slow-writer", staleMs = 3000) {
      Thread.sleep(5000)
      val e = intercept[StoreException] {
        WriteLock.withLock(spark, dir, "impatient", staleMs = 3000) {
          fail("must not enter")
        }
      }
      assert(e.getMessage.contains("write-locked"), e.getMessage)
    }
  }

  test("one failed heartbeat read does not end the heartbeat") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val dir = s"${freshWarehouse()}/t"
    // TTL 3s, mutation 5s, beats at 1s, 2s, ...: the first beat's read
    // fails. A heartbeat that stopped there would leave the lock's
    // mtime at the acquire, 5s old — past the TTL — when the second
    // writer tries, and it would break the lock of a live mutation.
    // The holder reaches the lock through `faulty://` (its reads fail
    // on demand); the second writer through the plain local path,
    // whose create-if-absent is the atomic one
    WriteLock.withLock(spark, s"faulty://$dir", "slow-writer", staleMs = 3000) {
      FaultyFileSystem.failingOpens(WriteLock.FileName, times = 1) {
        Thread.sleep(5000)
      }
      val e = intercept[StoreException] {
        WriteLock.withLock(spark, dir, "impatient", staleMs = 3000) {
          fail("must not enter")
        }
      }
      assert(e.getMessage.contains("write-locked"), e.getMessage)
    }
  }

  test("release never deletes a lock it lost to a takeover") {
    val wh = freshWarehouse()
    val dir = KeyedTable.tableDir(wh, "t")
    val lp = new Path(dir, WriteLock.FileName)
    val f = hadoopFs(lp)
    WriteLock.withLock(spark, dir, "slow-writer") {
      // simulate a TTL takeover while the slow writer is still inside:
      // the lock file now carries ANOTHER writer's token
      f.delete(lp, false)
      val out = f.create(lp, false)
      out.write(s"""{"token":"winner","op":"append","acquiredAtMs":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
      out.close()
    }
    val holder = WriteLock.readHolder(f, lp)
    assert(holder.exists(_.token == "winner"),
      "the takeover winner's lock must survive the loser's release")
    f.delete(lp, false)
  }

  test("drop takes the lock: cannot drop out from under an active writer") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    WriteLock.withLock(spark, KeyedTable.tableDir(wh, "t"), "writer") {
      intercept[StoreException] { Catalog.dropTable(spark, wh, "t") }
    }
    Catalog.dropTable(spark, wh, "t")
    assert(!TableMeta.exists(spark, KeyedTable.tableDir(wh, "t")))
  }

  test("acquire is truly atomic under same-JVM thread races") {
    // Hadoop's local create(overwrite = false) is exists-then-create —
    // the pre-fix lock let two racing threads both "acquire" and then
    // silently lose a manifest commit (POSIX rename overwrites). This
    // drives 8 threads through a deliberately racy read-sleep-write
    // critical section: any double-acquire loses an increment.
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val dir = KeyedTable.tableDir(wh, "t")
    @volatile var counter = 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to 8).map { _ =>
        Future {
          (1 to 5).foreach { _ =>
            WriteLock.withLockWait(spark, dir, "race", waitMs = 60000L) {
              val seen = counter
              Thread.sleep(2)
              counter = seen + 1
            }
          }
        }
      }
      Await.result(Future.sequence(fs), 3.minutes)
    } finally pool.shutdown()
    assert(counter == 40, s"lost ${40 - counter} increments to a double-acquire")
  }

  test("maintenance stages OUTSIDE the lock: a no-op compact never " +
      "touches it; a rebucket's flip waits, then fails loudly") {
    val wh = freshWarehouse()
    KeyedTable.toSql(sampleDf, wh, "t", pk = Seq("id"))
    val dir = KeyedTable.tableDir(wh, "t")
    WriteLock.withLock(spark, dir, "other") {
      // the optimistic-maintenance contract (round 18): the decision
      // and the rewrite run unlocked — a nothing-crowded compact
      // completes with ZERO lock traffic even while a writer holds it
      assert(KeyedTable.compact(spark, wh, "t") == 0)
      // a rebucket stages its shuffle unlocked but cannot FLIP while
      // the lock is held: the brief commit wait expires loudly with
      // the holder's context, the table unchanged
      intercept[StoreException] {
        KeyedTable.rebucket(spark, wh, "t", 8, commitWaitMs = 400L)
      }
    }
    // and the flip lands once the lock is free
    KeyedTable.rebucket(spark, wh, "t", 8)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 2)
  }
}
