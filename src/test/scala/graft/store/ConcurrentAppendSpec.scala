package graft.store

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

import graft.SparkSpec
import graft.TempDirs

/** Gates for deterministic interleaving: a frame whose pipeline calls
  * [[ConcurrentAppendGates.hold]] blocks its FIRST job (signalling
  * `entered`) until the test opens `gate` — so the test can run an
  * interfering mutation strictly between an optimistic append's
  * snapshot-at-start and its commit. Local-mode same-JVM statics. */
object ConcurrentAppendGates {
  @volatile var entered: CountDownLatch = _
  @volatile var gate: CountDownLatch = _
  def reset(): Unit = { entered = new CountDownLatch(1); gate = new CountDownLatch(1) }
  def hold(x: Long): Long = {
    entered.countDown()
    gate.await(60, TimeUnit.SECONDS)
    x
  }
}

/** Optimistic append (#11ad): staging outside the write lock, conflict
  * re-validation + manifest flip inside a brief one. Disjoint
  * concurrent appends all commit; conflicting interleavings abort with
  * [[ConcurrentWriteException]], the table unchanged and staging
  * cleaned. */
class ConcurrentAppendSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-capp")

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  private def ids(d: DataFrame): Seq[Long] =
    d.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def slowDf(rows: (Long, String)*): DataFrame = {
    val holdUdf = udf(ConcurrentAppendGates.hold _)
    df(rows: _*).withColumn("id", holdUdf(col("id")))
  }

  private def noStagingLeft(t: String): Unit = {
    val dir = new Path(KeyedTable.tableDir(wh, t))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith(".staging-"))
    assert(leftovers.isEmpty,
      s"staging left behind: ${leftovers.map(_.getPath.getName).mkString(", ")}")
  }

  test("disjoint concurrent appends all commit; changelog batches stay distinct") {
    val t = "t_capp_disjoint"
    KeyedTable.toSql(df((0L, "base")), wh, t, pk = Seq("id"), buckets = 4)
    // a capturing upsert flips the table-property CDC on — every later
    // append must log a batch, including the optimistic ones
    KeyedTable.toSql(df((0L, "base2")), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert, changelog = true)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map { r =>
        Future {
          KeyedTable.appendConcurrent(
            df((10L * r until 10L * r + 5L).map(i => (i, s"w$r")): _*),
            wh, t)
        }
      }
      Await.result(Future.sequence(futures), 3.minutes)
    } finally pool.shutdown()
    val expected = 0L +: (1 to 4).flatMap(r => 10L * r until 10L * r + 5L)
    assert(ids(KeyedTable.readSql(spark, wh, t)) == expected.sorted)
    // 1 upsert batch + 4 append batches, all distinct, 5 rows each
    val cl = KeyedTable.readChangelog(spark, wh, t)
    val batches = cl.groupBy("batch").count().collect()
      .map(r => r.getAs[Number]("batch").longValue -> r.getLong(1)).toMap
    assert(batches.size == 5)
    assert(batches.count(_._2 == 5L) == 4) // the four appends
    noStagingLeft(t)
  }

  test("PK overlap with a mutation committed mid-flight is caught at commit") {
    val t = "t_capp_overlap"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t,
      pk = Seq("id"), buckets = 4)
    ConcurrentAppendGates.reset()
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val appender = Future {
        KeyedTable.appendConcurrent(slowDf((10L, "mine"), (11L, "mine")),
          wh, t)
      }
      assert(ConcurrentAppendGates.entered.await(30, TimeUnit.SECONDS))
      // lands between the appender's snapshot-at-start and its commit
      KeyedTable.toSql(df((10L, "theirs")), wh, t,
        pk = Seq("id"), how = WriteMode.Append)
      ConcurrentAppendGates.gate.countDown()
      val e = intercept[ConcurrentWriteException] {
        Await.result(appender, 2.minutes)
      }
      assert(e.getMessage.contains("concurrent mutation"))
    } finally pool.shutdown()
    // interferer's row landed; the aborted append left nothing
    assert(ids(KeyedTable.readSql(spark, wh, t)) == Seq(1L, 2L, 10L))
    noStagingLeft(t)
  }

  test("a mid-flight rebucket aborts the commit cleanly; retry succeeds") {
    val t = "t_capp_rebucket"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t,
      pk = Seq("id"), buckets = 2)
    ConcurrentAppendGates.reset()
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val appender = Future {
        KeyedTable.appendConcurrent(slowDf((3L, "c")), wh, t)
      }
      assert(ConcurrentAppendGates.entered.await(30, TimeUnit.SECONDS))
      KeyedTable.rebucket(spark, wh, t, 4)
      ConcurrentAppendGates.gate.countDown()
      val e = intercept[ConcurrentWriteException] {
        Await.result(appender, 2.minutes)
      }
      assert(e.getMessage.contains("bucket count changed"))
    } finally pool.shutdown()
    assert(ids(KeyedTable.readSql(spark, wh, t)) == Seq(1L, 2L))
    noStagingLeft(t)
    // the retry sees the new layout and commits
    KeyedTable.appendConcurrent(df((3L, "c")), wh, t)
    assert(ids(KeyedTable.readSql(spark, wh, t)) == Seq(1L, 2L, 3L))
  }

  test("pre-existing PK overlap fails the unlocked pre-check") {
    val t = "t_capp_pre"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    val e = intercept[StoreException] {
      KeyedTable.appendConcurrent(df((1L, "dup")), wh, t)
    }
    assert(e.getMessage.contains("overwrite existing PKs"))
    noStagingLeft(t)
  }

  test("auto-index tables reserve disjoint id ranges under concurrency") {
    val t = "t_capp_auto"
    import spark.implicits._
    KeyedTable.toSql(Seq("seed").toDF("name"), wh, t, autoIndex = true,
      buckets = 4)
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 3).map { r =>
        Future {
          KeyedTable.appendConcurrent(
            (0 until 10).map(i => s"w$r-$i").toDF("name"), wh, t)
        }
      }
      Await.result(Future.sequence(futures), 3.minutes)
    } finally pool.shutdown()
    val read = KeyedTable.readSql(spark, wh, t)
    val allIds = read.select(Names.AutoIndex).collect().map(_.getLong(0))
    assert(allIds.length == 31)
    assert(allIds.distinct.length == 31, "auto-index ids must never collide")
    noStagingLeft(t)
  }

  test("a changelog enabled mid-flight still captures the append's batch") {
    val t = "t_capp_cdc_race"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    ConcurrentAppendGates.reset()
    val pool = Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // the appender snapshots meta BEFORE the hold: wantChangelog=false
      val appender = Future {
        KeyedTable.appendConcurrent(slowDf((10L, "mine"), (11L, "mine")),
          wh, t)
      }
      assert(ConcurrentAppendGates.entered.await(30, TimeUnit.SECONDS))
      // a concurrent capturing upsert flips the table property ON while
      // the append is staging without changelog images
      KeyedTable.toSql(df((2L, "b")), wh, t, pk = Seq("id"),
        how = WriteMode.Upsert, changelog = true)
      ConcurrentAppendGates.gate.countDown()
      Await.result(appender, 2.minutes)
    } finally pool.shutdown()
    assert(ids(KeyedTable.readSql(spark, wh, t)) == Seq(1L, 2L, 10L, 11L))
    // the commit-time re-check staged the append's insert images: the
    // CDC invariant (every mutation on a capturing table logs a batch)
    // holds even though the append began before capture was enabled
    val cl = KeyedTable.readChangelog(spark, wh, t)
      .select(col("id"), col("op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cl == Set((2L, "insert"), (10L, "insert"), (11L, "insert")),
      s"got $cl")
    noStagingLeft(t)
  }
}
