package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.TempDirs

/** Snapshot restore (#11ae): a metadata-only rollback commit — the
  * target version's exact file set becomes the new current snapshot,
  * history is preserved, vacuum keeps the restored files live, and the
  * CDC log stays exact across the restore. */
class RestoreSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-restore")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
    (4L, "d", 4.0))

  private def values(d: DataFrame): Set[(Long, String, Double)] =
    d.select("id", "name", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("restore undoes upsert+delete, survives vacuum(0), keeps history") {
    val t = "t_restore"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 4) // v0
    KeyedTable.toSql(df((2L, "B", 20.0), (5L, "e", 5.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Upsert) // v1
    KeyedTable.delete(spark, wh, t, col("id") === 1L) // v2
    val v = KeyedTable.restoreSnapshot(spark, wh, t, version = Some(0L))
    assert(v == 3L)
    assert(values(KeyedTable.readSql(spark, wh, t)) == base.toSet)
    // the rolled-back versions stay time-travelable (history preserved)
    assert(values(KeyedTable.readSql(spark, wh, t, asOfVersion = Some(2L)))
      == Set((2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0), (5L, "e", 5.0)))
    // an aggressive vacuum after the restore must not harm the restored
    // state: the restore commit re-pins v0's files via union-liveness
    KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L)
    assert(values(KeyedTable.readSql(spark, wh, t)) == base.toSet)
  }

  test("restore by tag, and a no-op restore to the current version") {
    val t = "t_restore_tag"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 4) // v0
    KeyedTable.tagSnapshot(spark, wh, t, "cut")
    KeyedTable.toSql(df((1L, "A", 10.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Upsert) // v1
    assert(KeyedTable.restoreSnapshot(spark, wh, t, tag = Some("cut")) == 2L)
    assert(values(KeyedTable.readSql(spark, wh, t)) == base.toSet)
    // restoring to where we already are commits nothing
    assert(KeyedTable.restoreSnapshot(spark, wh, t, version = Some(2L)) == 2L)
    assert(Manifest.versions(spark, wh + s"/$t").max == 2L)
  }

  test("restore CDC: one exact insert/update/delete diff batch") {
    val t = "t_restore_cdc"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 4) // v0
    // v1: update id=2, insert id=5; changelog on (table property set)
    KeyedTable.toSql(df((2L, "B", 20.0), (5L, "e", 5.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Upsert, changelog = true)
    // v2: delete id=3 (captured via the table property)
    KeyedTable.delete(spark, wh, t, col("id") === 3L)
    val before = KeyedTable.readChangelog(spark, wh, t)
      .agg(org.apache.spark.sql.functions.max("batch")).head()
      .getAs[Number](0).longValue()
    KeyedTable.restoreSnapshot(spark, wh, t, version = Some(0L)) // v3
    val batch = KeyedTable.readChangelog(spark, wh, t, sinceBatch = before + 1)
    val ops = batch.select("id", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // the diff current→v0: id=2 reverts (update), id=5 leaves (delete),
    // id=3 returns (insert); untouched identical rows emit NOTHING
    assert(ops == Set((2L, "update"), (5L, "delete"), (3L, "insert")))
    val img = batch.filter(col("id") === 2L).head()
    assert(img.getAs[String]("old_name") == "B" &&
      img.getAs[String]("new_name") == "b")
    assert(img.getAs[Double]("old_v") == 20.0 &&
      img.getAs[Double]("new_v") == 2.0)
    // a consumer folding the log (from its v0 snapshot horizon — CDC
    // capture began at v1) lands exactly on the restored state
    import org.apache.spark.sql.functions.{count, lit, sum}
    val folded = graft.operators.CdcConsumer.applyGroupedAgg(
      df(base: _*).groupBy("name").agg(count(lit(1)).as("n"), sum("v").as("s")),
      KeyedTable.readChangelog(spark, wh, t),
      groupCol = "name", countCol = "n", sumCol = "s", valueCol = "v")
    val want = KeyedTable.readSql(spark, wh, t).groupBy("name")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    assert(folded.collect().toSet == want.collect().toSet)
  }

  test("restore across a rebucket commits the old layout consistently") {
    val t = "t_restore_rebucket"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 2) // v0
    KeyedTable.rebucket(spark, wh, t, newBuckets = 8) // v1
    assert(KeyedTable.restoreSnapshot(spark, wh, t, version = Some(0L)) == 2L)
    assert(values(KeyedTable.readSql(spark, wh, t)) == base.toSet)
    assert(Manifest.current(spark, wh + s"/$t").buckets == 2)
    // the restored layout keeps working as a write target
    KeyedTable.toSql(df((6L, "f", 6.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Append)
    assert(values(KeyedTable.readSql(spark, wh, t))
      == base.toSet + ((6L, "f", 6.0)))
  }

  test("validation: exactly one selector, unknown version named") {
    val t = "t_restore_valid"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 2)
    val both = intercept[StoreException] {
      KeyedTable.restoreSnapshot(spark, wh, t,
        version = Some(0L), tag = Some("x"))
    }
    assert(both.getMessage.contains("exactly one"))
    val neither = intercept[StoreException] {
      KeyedTable.restoreSnapshot(spark, wh, t)
    }
    assert(neither.getMessage.contains("exactly one"))
    intercept[StoreException] {
      KeyedTable.restoreSnapshot(spark, wh, t, version = Some(99L))
    }
  }
}
