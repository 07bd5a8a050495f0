package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, TempDirs}

/** Idempotent batch appends (the Delta txnAppId/txnVersion model): a
  * `txn = (appId, version)` token rides the manifest `streams` ledger
  * in the same atomic flip as the data, so a retried ingest job whose
  * first attempt committed becomes a NO-OP instead of a PK-overlap
  * failure. Tokens share the streaming-sink ledger namespace
  * (`t$streams`, `drop_stream_ledger`). */
class IdempotentAppendSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-txn")

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  private def ids(t: String): Seq[Long] =
    KeyedTable.readSql(spark, wh, t).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq

  private def version(t: String): Long =
    Manifest.current(spark, KeyedTable.tableDir(wh, t)).version

  test("a replayed txn append is a no-op: no new version, no duplicates, no error") {
    val t = "t_txn_replay"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.toSql(df((2L, "b"), (3L, "c")), wh, t,
      how = WriteMode.Append, txn = Some(("job", 1L)))
    assert(ids(t) == Seq(1L, 2L, 3L))
    val v1 = version(t)
    // the retry: same token, same rows — WITHOUT the token this would
    // fail loudly on PK overlap; with it, nothing happens at all
    KeyedTable.toSql(df((2L, "b"), (3L, "c")), wh, t,
      how = WriteMode.Append, txn = Some(("job", 1L)))
    assert(ids(t) == Seq(1L, 2L, 3L))
    assert(version(t) == v1)
    // the token is the authority, not the rows: a replay with DIFFERENT
    // rows still no-ops (the orchestrator's version says it already ran)
    KeyedTable.toSql(df((9L, "z")), wh, t,
      how = WriteMode.Append, txn = Some(("job", 1L)))
    assert(ids(t) == Seq(1L, 2L, 3L))
    // a LOWER version no-ops too (monotonic high-water mark) ...
    KeyedTable.toSql(df((9L, "z")), wh, t,
      how = WriteMode.Append, txn = Some(("job", 0L)))
    assert(ids(t) == Seq(1L, 2L, 3L))
    // ... and the next version lands
    KeyedTable.toSql(df((4L, "d")), wh, t,
      how = WriteMode.Append, txn = Some(("job", 2L)))
    assert(ids(t) == Seq(1L, 2L, 3L, 4L))
    assert(Manifest.current(spark, KeyedTable.tableDir(wh, t))
      .streams == Map("job" -> 2L))
  }

  test("a creating how=Append records the token on v0; the retry no-ops") {
    val t = "t_txn_create"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"),
      how = WriteMode.Append, buckets = 2, txn = Some(("boot", 7L)))
    assert(ids(t) == Seq(1L))
    assert(Manifest.current(spark, KeyedTable.tableDir(wh, t))
      .streams == Map("boot" -> 7L))
    val v0 = version(t)
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"),
      how = WriteMode.Append, txn = Some(("boot", 7L)))
    assert(ids(t) == Seq(1L) && version(t) == v0)
  }

  test("guards: empty appId, non-append modes") {
    val t = "t_txn_guard"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    val e1 = intercept[StoreException](
      KeyedTable.toSql(df((2L, "b")), wh, t,
        how = WriteMode.Append, txn = Some(("", 1L))))
    assert(e1.getMessage.contains("non-empty"))
    val e2 = intercept[StoreException](
      KeyedTable.toSql(df((1L, "a2")), wh, t,
        how = WriteMode.Upsert, txn = Some(("job", 1L))))
    assert(e2.getMessage.contains("append-retry"))
    assert(ids(t) == Seq(1L))
  }

  test("a replayed txn append on a CDC table logs NO duplicate batch") {
    val t = "t_txn_cdc"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    KeyedTable.toSql(df((2L, "b")), wh, t,
      how = WriteMode.Append, txn = Some(("etl", 1L)))
    def batches(): Long =
      KeyedTable.readChangelog(spark, wh, t)
        .select("batch").distinct().count()
    val n1 = batches()
    KeyedTable.toSql(df((2L, "b")), wh, t,
      how = WriteMode.Append, txn = Some(("etl", 1L)))
    assert(batches() == n1, "replay must not log a changelog batch")
  }

  test("appendConcurrent honors the token: replay no-ops, staging cleaned") {
    val t = "t_txn_conc"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.appendConcurrent(df((2L, "b")), wh, t,
      txn = Some(("stream-lite", 5L)))
    assert(ids(t) == Seq(1L, 2L))
    val v1 = version(t)
    KeyedTable.appendConcurrent(df((2L, "b")), wh, t,
      txn = Some(("stream-lite", 5L)))
    assert(ids(t) == Seq(1L, 2L) && version(t) == v1)
    val dir = new Path(KeyedTable.tableDir(wh, t))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(dir)
      .filter(_.getPath.getName.startsWith(".staging-"))
    assert(leftovers.isEmpty,
      s"staging left behind: ${leftovers.map(_.getPath.getName).mkString(", ")}")
    KeyedTable.appendConcurrent(df((3L, "c")), wh, t,
      txn = Some(("stream-lite", 6L)))
    assert(ids(t) == Seq(1L, 2L, 3L))
  }

  test("racing attempts with one token commit exactly once (locked re-check)") {
    val t = "t_txn_race"
    KeyedTable.toSql(df((0L, "base")), wh, t, pk = Seq("id"), buckets = 2)
    val rows = df((1L, "x"), (2L, "y"))
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try KeyedTable.appendConcurrent(rows, wh, t, txn = Some(("race", 1L)))
        catch { case _: ConcurrentWriteException => () } // losing is fine
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // exactly one attempt's rows landed — never zero, never doubled
    assert(ids(t) == Seq(0L, 1L, 2L))
    assert(Manifest.current(spark, KeyedTable.tableDir(wh, t))
      .streams == Map("race" -> 1L))
  }

  test("the token surfaces in t$streams and retires via dropStreamLedger") {
    val t = "t_txn_meta"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.toSql(df((2L, "b")), wh, t,
      how = WriteMode.Append, txn = Some(("nightly", 3L)))
    val cat = "graft_txn_meta"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val rows = spark.sql(s"SELECT * FROM $cat.`$t$$streams`")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(rows == Seq(("nightly", 3L)), rows.toString)
      KeyedTable.dropStreamLedger(spark, wh, t, "nightly")
      // after retiring, the SAME token lands again (fresh job lineage)
      KeyedTable.toSql(df((3L, "c")), wh, t,
        how = WriteMode.Append, txn = Some(("nightly", 1L)))
      assert(ids(t) == Seq(1L, 2L, 3L))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }
}
