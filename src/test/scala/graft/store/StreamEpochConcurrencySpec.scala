package graft.store

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec
import graft.TempDirs

/** The OPTIMISTIC stream-epoch commit (the appendConcurrent protocol
  * applied to [[KeyedTable.commitStreamEpoch]]): validation jobs run
  * against the epoch-start snapshot outside the write lock, the locked
  * section re-validates only what its window added and holds for the
  * flip. Interleavings are made deterministic with
  * [[KeyedTable.CommitSeam]], which fires exactly
  * between the two phases. */
class StreamEpochConcurrencySpec extends SparkSpec with BeforeAndAfterEach {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-sepoch")

  private def df(rows: (Long, String)*): DataFrame = rows.toDF("id", "name")

  private def values(t: String): Map[Long, String] =
    KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Stage an epoch the way the sink's executors do: per-bucket parquet
    * under `.staging-stream-<qid>/epoch=<n>` with the store's own
    * bucket hash, plus the commit-message file list. */
  private def stageEpoch(t: String, rows: DataFrame, buckets: Int,
                         queryId: String, epochId: Long)
      : (String, Set[String]) = {
    val tblDir = KeyedTable.tableDir(wh, t)
    val staging = s"$tblDir/.staging-stream-$queryId/epoch=$epochId"
    rows.withColumn("pb_bucket",
        pmod(xxhash64(col("id")), lit(buckets.toLong)).cast("int"))
      .repartition(1).write.partitionBy("pb_bucket").parquet(staging)
    val p = new Path(staging)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = f.listStatus(p).filter(_.isDirectory).flatMap { d =>
      f.listStatus(d.getPath)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
    }.toSet
    (staging, files)
  }

  private def commitEpoch(t: String, staging: String, files: Set[String],
                          queryId: String, epochId: Long, buckets: Int,
                          upsert: Boolean = false): Unit =
    KeyedTable.commitStreamEpoch(spark, KeyedTable.tableDir(wh, t),
      KeyedTable.dataDir(wh, t), queryId, epochId, staging, buckets,
      files, upsertMode = upsert)

  /** No staging debris: the per-QUERY `.staging-stream-<qid>` root is
    * expected to persist across epochs (the live sink keeps staging
    * future epochs under it) but must be EMPTY after a commit; every
    * other `.staging-*` (changelog, dv, append) must be gone. */
  private def noStagingLeft(t: String): Unit = {
    val dir = new Path(KeyedTable.tableDir(wh, t))
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagers = f.listStatus(dir)
      .filter(_.getPath.getName.startsWith(".staging-"))
    val (roots, others) =
      stagers.partition(_.getPath.getName.startsWith(".staging-stream-q"))
    assert(others.isEmpty,
      s"staging left behind: ${others.map(_.getPath.getName).mkString(", ")}")
    roots.foreach { r =>
      val inside = f.listStatus(r.getPath)
      assert(inside.isEmpty,
        s"epoch staging left under ${r.getPath.getName}: " +
        inside.map(_.getPath.getName).mkString(", "))
    }
  }

  override def afterEach(): Unit = {
    KeyedTable.CommitSeam("stream") = () => ()
    super.afterEach()
  }

  test("epoch commit QUEUES behind a held write lock instead of failing") {
    val t = "t_ep_queue"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t, pk = Seq("id"),
      buckets = 4)
    val (staging, files) = stageEpoch(t, df((100L, "s")), 4, "q_queue", 0L)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val holder = Future {
        WriteLock.withLock(spark, KeyedTable.tableDir(wh, t), "spec-holder") {
          held.countDown()
          release.await(30, TimeUnit.SECONDS)
        }
      }
      assert(held.await(30, TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      val committer = Future {
        commitEpoch(t, staging, files, "q_queue", 0L, 4)
      }
      Thread.sleep(1500)
      release.countDown()
      Await.result(committer, 2.minutes)
      Await.result(holder, 1.minute)
      // it WAITED for the holder (fail-fast would have thrown instantly)
      assert((System.nanoTime() - t0) / 1e6 >= 1400,
        "the epoch commit should have queued behind the held lock")
    } finally pool.shutdown()
    assert(values(t).keySet == Set(1L, 2L, 100L))
    noStagingLeft(t)
  }

  test("a clashing PK committed inside the stage->commit window is caught") {
    val t = "t_ep_clash"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t, pk = Seq("id"),
      buckets = 4)
    KeyedTable.CommitSeam("stream") = () =>
      KeyedTable.toSql(df((50L, "theirs")), wh, t, pk = Seq("id"),
        how = WriteMode.Append)
    val (staging, files) = stageEpoch(t, df((50L, "mine")), 4, "q_clash", 0L)
    val e = intercept[StoreException] {
      commitEpoch(t, staging, files, "q_clash", 0L, 4)
    }
    assert(e.getMessage.contains("concurrent mutation"))
    // interferer's row stands; the aborted epoch left nothing
    assert(values(t) == Map(1L -> "a", 2L -> "b", 50L -> "theirs"))
    noStagingLeft(t)
  }

  test("disjoint rows landing inside the window pass the re-check") {
    val t = "t_ep_disjoint"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 4)
    KeyedTable.CommitSeam("stream") = () =>
      KeyedTable.appendConcurrent(df((60L, "batch")), wh, t)
    val (staging, files) = stageEpoch(t, df((70L, "sink")), 4, "q_disj", 0L)
    commitEpoch(t, staging, files, "q_disj", 0L, 4)
    assert(values(t) == Map(1L -> "a", 60L -> "batch", 70L -> "sink"))
    // the ledger advanced exactly once
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    assert(m.streams == Map("q_disj" -> 0L))
    noStagingLeft(t)
  }

  test("upsert epoch re-derives tombstones against the commit-time snapshot") {
    val t = "t_ep_redo"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t, pk = Seq("id"),
      buckets = 4)
    // the interferer REWRITES key 1's bucket (CoW upsert) after the
    // epoch derived its DVs against the start snapshot — without the
    // in-lock re-derivation the epoch's post-image would duplicate the
    // interferer's live row
    KeyedTable.CommitSeam("stream") = () =>
      KeyedTable.toSql(df((1L, "mid")), wh, t, pk = Seq("id"),
        how = WriteMode.Upsert)
    val (staging, files) = stageEpoch(t, df((1L, "sink")), 4, "q_redo", 0L)
    commitEpoch(t, staging, files, "q_redo", 0L, 4, upsert = true)
    val all = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(all == Seq((1L, "sink"), (2L, "b")),
      s"expected exactly one live row per PK, got $all")
    noStagingLeft(t)
  }

  test("changelog enabled inside the window still lands the epoch's batch") {
    val t = "t_ep_cl"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 4)
    KeyedTable.CommitSeam("stream") = () =>
      KeyedTable.setChangelog(spark, wh, t, enabled = true)
    val (staging, files) = stageEpoch(t, df((5L, "s")), 4, "q_cl", 0L)
    commitEpoch(t, staging, files, "q_cl", 0L, 4)
    val cl = KeyedTable.readChangelog(spark, wh, t).collect()
    assert(cl.length == 1 && cl(0).getAs[Long]("id") == 5L &&
      cl(0).getAs[String]("op") == "insert")
    noStagingLeft(t)
  }

  private val catN = new java.util.concurrent.atomic.AtomicLong()
  private def withCat[A](body: String => A): A = {
    val cat = s"graft_sepoch${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("t$streams exposes the ledger; drop_stream_ledger retires an entry") {
    val t = "t_ep_ledger"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 4)
    Seq(("qa", 0L, 300L), ("qa", 1L, 301L), ("qb", 7L, 302L)).foreach {
      case (q, e, k) =>
        val (staging, files) = stageEpoch(t, df((k, s"$q-$e")), 4, q, e)
        commitEpoch(t, staging, files, q, e, 4)
    }
    withCat { cat =>
      def ledger(): Set[(String, Long)] =
        spark.sql(s"SELECT query_id, epoch_id FROM $cat.`$t" + "$streams`")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(ledger() == Set(("qa", 1L), ("qb", 7L)))
      // drop a retired query's entry through SQL CALL
      val dropped = spark.sql(
        s"CALL $cat.system.drop_stream_ledger('$t', 'qa')").collect()
      assert(dropped.length == 1 && dropped(0).getBoolean(0))
      assert(ledger() == Set(("qb", 7L)))
      // unknown query: false, no commit
      val v = Manifest.current(spark, KeyedTable.tableDir(wh, t)).version
      val again = spark.sql(
        s"CALL $cat.system.drop_stream_ledger('$t', 'qa')").collect()
      assert(!again(0).getBoolean(0))
      assert(Manifest.current(spark,
        KeyedTable.tableDir(wh, t)).version == v)
      // round trip: the query can re-commit — its ledger re-creates
      // (this is also the documented hazard: a replayed epoch of a
      // DROPPED query re-applies, which is why the CALL is only for
      // queries that never run again)
      val (staging, files) = stageEpoch(t, df((400L, "qa-back")), 4, "qa", 5L)
      commitEpoch(t, staging, files, "qa", 5L, 4)
      assert(ledger() == Set(("qa", 5L), ("qb", 7L)))
      // the data survived every metadata flip
      assert(values(t).keySet == Set(1L, 300L, 301L, 302L, 400L))
    }
  }

  test("vacuum never reaps live sink staging; retired roots reap after drop") {
    val t = "t_ep_vac"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 4)
    val (staging, files) = stageEpoch(t, df((2L, "s")), 4, "qlive", 0L)
    commitEpoch(t, staging, files, "qlive", 0L, 4)
    val dir = new java.io.File(KeyedTable.tableDir(wh, t))
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    // a mid-epoch staged file of the LIVE query (ledger entry held):
    // a zero-age vacuum must not touch it, at any mtime
    val live = new java.io.File(dir, ".staging-stream-qlive/epoch=1")
    live.mkdirs()
    val liveFile = new java.io.File(live, "part-0.parquet")
    assert(liveFile.createNewFile())
    new java.io.File(dir, ".staging-stream-qlive").setLastModified(old)
    // a FIRST-epoch root of a new query (no ledger entry yet, fresh
    // mtime): protected by the unlocked-stager age floor
    new java.io.File(dir, ".staging-stream-qfirst").mkdirs()
    // an optimistic append mid-stage: same floor
    new java.io.File(dir, ".staging-append-deadbeef").mkdirs()
    // a long-dead query that never got a ledger entry: reapable once old
    val deadRoot = new java.io.File(dir, ".staging-stream-qdead")
    deadRoot.mkdirs()
    deadRoot.setLastModified(old)
    KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L): Unit
    assert(liveFile.exists(), "live sink staging reaped by zero-age vacuum")
    assert(new java.io.File(dir, ".staging-stream-qfirst").exists())
    assert(new java.io.File(dir, ".staging-append-deadbeef").exists())
    assert(!deadRoot.exists(), "dead unledgered stream root should reap")
    // retiring the ledger releases the root to vacuum (once past age)
    assert(KeyedTable.dropStreamLedger(spark, wh, t, "qlive"))
    new java.io.File(dir, ".staging-stream-qlive").setLastModified(old)
    KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L): Unit
    assert(!liveFile.exists() &&
      !new java.io.File(dir, ".staging-stream-qlive").exists())
    // the table itself is untouched throughout
    assert(values(t) == Map(1L -> "a", 2L -> "s"))
  }

  test("sink epochs and concurrent batch appends interleave safely") {
    val t = "t_ep_race"
    KeyedTable.toSql(df((0L, "base")), wh, t, pk = Seq("id"), buckets = 4)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val epochs = Future {
        (0 until 4).foreach { e =>
          val (staging, files) = stageEpoch(t,
            df((1000L + e, s"sink$e")), 4, "q_race", e.toLong)
          commitEpoch(t, staging, files, "q_race", e.toLong, 4)
        }
      }
      val appenders = (1 to 3).map { w =>
        Future {
          (0 until 3).foreach { i =>
            KeyedTable.appendConcurrent(
              df((100L * w + i, s"w$w-$i")), wh, t)
          }
        }
      }
      Await.result(Future.sequence(epochs +: appenders), 3.minutes)
    } finally pool.shutdown()
    val got = values(t).keySet
    val want = Set(0L) ++ (0 until 4).map(1000L + _) ++
      (for { w <- 1 to 3; i <- 0 until 3 } yield 100L * w + i)
    assert(got == want, s"missing: ${want -- got}; extra: ${got -- want}")
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    assert(m.streams == Map("q_race" -> 3L))
    noStagingLeft(t)
  }
}
