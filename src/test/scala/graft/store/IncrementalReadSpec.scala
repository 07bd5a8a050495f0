package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.TempDirs

/** Incremental snapshot reads (#11ac): `readIncremental(since)` returns
  * exactly the rows added by append-only commits after `since`, from
  * the manifest file diff alone — and refuses non-additive windows
  * (rewrites would repeat surviving rows) loudly. */
class IncrementalReadSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-incr")

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  private def ids(d: DataFrame): Seq[Long] =
    d.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("append-only window yields exactly the new rows") {
    val t = "t_incr"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t,
      pk = Seq("id"), buckets = 4) // v0
    KeyedTable.toSql(df((3L, "c"), (4L, "d")), wh, t,
      pk = Seq("id"), how = WriteMode.Append) // v1
    KeyedTable.toSql(df((5L, "e")), wh, t,
      pk = Seq("id"), how = WriteMode.Append) // v2
    assert(ids(KeyedTable.readIncremental(spark, wh, t, 0L)) == Seq(3L, 4L, 5L))
    assert(ids(KeyedTable.readIncremental(spark, wh, t, 1L)) == Seq(5L))
    assert(ids(KeyedTable.readIncremental(spark, wh, t, 0L,
      toVersion = Some(1L))) == Seq(3L, 4L))
    // empty window = empty frame, with the table schema
    val none = KeyedTable.readIncremental(spark, wh, t, 2L)
    assert(none.columns.toSeq == Seq("id", "name"))
    assert(none.count() == 0L)
  }

  test("a poll-cursor loop over appends sees each batch once") {
    val t = "t_incr_poll"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2)
    var cursor = Manifest.current(spark,
      KeyedTable.tableDir(wh, t)).version
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (batch <- Seq(Seq(2L, 3L), Seq(4L), Seq(5L, 6L))) {
      KeyedTable.toSql(df(batch.map(i => (i, s"n$i")): _*), wh, t,
        pk = Seq("id"), how = WriteMode.Append)
      val cur = Manifest.current(spark, KeyedTable.tableDir(wh, t)).version
      seen ++= ids(KeyedTable.readIncremental(spark, wh, t, cursor,
        toVersion = Some(cur)))
      cursor = cur
    }
    assert(seen.sorted.toSeq == Seq(2L, 3L, 4L, 5L, 6L))
  }

  test("non-additive windows are refused with guidance") {
    val t = "t_incr_rw"
    KeyedTable.toSql(df((1L, "a"), (2L, "b"), (3L, "c")), wh, t,
      pk = Seq("id"), buckets = 2) // v0
    KeyedTable.toSql(df((2L, "B")), wh, t,
      pk = Seq("id"), how = WriteMode.Upsert) // v1 rewrites a bucket
    val e = intercept[StoreException] {
      KeyedTable.readIncremental(spark, wh, t, 0L)
    }
    assert(e.getMessage.contains("not append-only"))
    assert(e.getMessage.contains("readChangelog"))
    // append after the rewrite: the window v1..v2 IS additive again
    KeyedTable.toSql(df((4L, "d")), wh, t,
      pk = Seq("id"), how = WriteMode.Append) // v2
    assert(ids(KeyedTable.readIncremental(spark, wh, t, 1L)) == Seq(4L))
  }

  test("bucket-count change (rebucket) is refused") {
    val t = "t_incr_rb"
    KeyedTable.toSql(df((1L, "a"), (2L, "b")), wh, t,
      pk = Seq("id"), buckets = 2) // v0
    KeyedTable.rebucket(spark, wh, t, 4) // v1
    val e = intercept[StoreException] {
      KeyedTable.readIncremental(spark, wh, t, 0L)
    }
    assert(e.getMessage.contains("bucket count changed"))
  }

  test("delete is refused (files leave the snapshot)") {
    val t = "t_incr_del"
    KeyedTable.toSql(df((1L, "a"), (2L, "b"), (3L, "c")), wh, t,
      pk = Seq("id"), buckets = 2) // v0
    KeyedTable.delete(spark, wh, t, col("id") === 2L) // v1
    val e = intercept[StoreException] {
      KeyedTable.readIncremental(spark, wh, t, 0L)
    }
    assert(e.getMessage.contains("not append-only"))
  }

  test("backwards window and expired snapshots fail loudly") {
    val t = "t_incr_bad"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2) // v0
    KeyedTable.toSql(df((2L, "b")), wh, t,
      pk = Seq("id"), how = WriteMode.Append) // v1
    val e = intercept[StoreException] {
      KeyedTable.readIncremental(spark, wh, t, 1L, toVersion = Some(0L))
    }
    assert(e.getMessage.contains("backwards"))
    intercept[StoreException] {
      KeyedTable.readIncremental(spark, wh, t, 7L)
    }
  }

  test("schema evolution mid-window: old-batch columns read as NULL") {
    val t = "t_incr_evolve"
    KeyedTable.toSql(df((1L, "a")), wh, t, pk = Seq("id"), buckets = 2) // v0
    import spark.implicits._
    KeyedTable.toSql(Seq((2L, "b", 9.9)).toDF("id", "name", "score"),
      wh, t, pk = Seq("id"), how = WriteMode.Append,
      addNewColumns = true) // v1 evolves
    val inc = KeyedTable.readIncremental(spark, wh, t, 0L)
    assert(inc.columns.toSeq == Seq("id", "name", "score"))
    val r = inc.collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(2L))
    assert(r.head.getDouble(2) == 9.9)
  }
}
