package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempDirs}

/** Bucket-level optimistic concurrency for MERGE feeds —
  * [[KeyedTable.mergeConcurrent]]: mixed insert/update/delete feeds
  * stage their full-outer merge outside the lock; disjoint-bucket
  * writers interleave, overlapping ones abort-and-retry. */
class MergeConcurrentSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-mrgc")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal")
  }

  private def feed(rows: (Long, String, Double, Boolean)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal", "is_del")
  }

  private def layout(t: String): Map[Long, Int] = {
    spark.read.parquet(KeyedTable.dataDir(wh, t))
      .select(col("id"), col(KeyedTable.BucketCol))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def fixture(t: String): (Seq[Long], Seq[Long]) = {
    val rows = (1L to 40L).map(i => (i, s"n$i", i * 1.0))
    KeyedTable.toSql(df(rows: _*), wh, t, pk = Seq("id"), buckets = 4)
    val byBucket = layout(t).groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    val buckets = byBucket.keys.toSeq.sorted
    assert(buckets.size >= 2, s"fixture needs >= 2 populated buckets, got $byBucket")
    (byBucket(buckets.head).sorted, byBucket(buckets(1)).sorted)
  }

  test("a mixed feed merges through a disjoint-bucket interferer; " +
      "stats report inserts/updates/deletes exactly") {
    val t = "t_mrgc_disjoint"
    val (keysA, keysB) = fixture(t)
    // feed on A's buckets: delete keysA(0), update keysA(1), insert 1000
    val theFeed = feed(
      (keysA(0), "x", 0.0, true),
      (keysA(1), "UPD", 5.0, false),
      (1000L, "NEW", 1.0, false))
    KeyedTable.CommitSeam("merge") = () =>
      KeyedTable.toSql(df(keysB.map(k => (k, s"B$k", 2.0)): _*),
        wh, t, how = WriteMode.Upsert)
    val stats =
      try KeyedTable.mergeConcurrent(theFeed, wh, t, deleteWhen = col("is_del"))
      finally KeyedTable.CommitSeam("merge") = () => ()
    assert(stats == ((1L, 1L, 1L)), s"got $stats")
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(!got.contains(keysA(0)), "tombstoned row must be gone")
    assert(got(keysA(1)) == "UPD")
    assert(got(1000L) == "NEW")
    keysB.foreach(k => assert(got(k) == s"B$k", "interferer's rows survive"))
    // 1000L may land in any bucket — if it shares a bucket with keysB's
    // the window would have aborted; reaching here proves disjointness
    // held for this fixture. Row count: 40 - 1 deleted + 1 inserted.
    assert(got.size == 40)
  }

  test("overlapping touched buckets abort; nothing from the feed lands") {
    val t = "t_mrgc_overlap"
    val (keysA, _) = fixture(t)
    KeyedTable.CommitSeam("merge") = () =>
      KeyedTable.toSql(df((keysA(1), "WIN", 9.0)), wh, t,
        how = WriteMode.Upsert)
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.mergeConcurrent(
          feed((keysA(0), "x", 0.0, true), (keysA(2), "LOSE", 1.0, false)),
          wh, t, deleteWhen = col("is_del"))
      } finally KeyedTable.CommitSeam("merge") = () => ()
    assert(e.getMessage.contains("retry the merge"), e.getMessage)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(got.contains(keysA(0)), "aborted delete must not land")
    assert(got(keysA(2)) == s"n${keysA(2)}", "aborted update must not land")
    assert(got(keysA(1)) == "WIN")
  }

  test("CDC tables log classified merge images from the optimistic path") {
    val t = "t_mrgc_cdc"
    val (keysA, _) = fixture(t)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    KeyedTable.mergeConcurrent(
      feed((keysA(0), "x", 0.0, true), (keysA(1), "U", 5.0, false),
        (2000L, "I", 1.0, false)),
      wh, t, deleteWhen = col("is_del")): Unit
    val log = KeyedTable.readChangelog(spark, wh, t)
    assert(log.filter("op = 'delete'").count() == 1)
    assert(log.filter("op = 'update'").count() == 1)
    assert(log.filter("op = 'insert'").count() == 1)
    // delete post-image NULL; update carries both images
    assert(log.filter("op = 'delete'").select("new_name")
      .collect().head.isNullAt(0))
  }

  test("a CHECK added mid-stage also gates unmatched-tombstone INSERTS " +
      "under deleteOnlyMatched") {
    val t = "t_mrgc_check"
    fixture(t): Unit
    // key 5000 is absent: under deleteOnlyMatched its tombstone is an
    // INSERT candidate (SQL MERGE semantics) — the commit-time check
    // sweep must include it, not filter all tombstones out
    val theFeed = feed((5000L, "BAD", -50.0, true))
    KeyedTable.CommitSeam("merge") = () =>
      KeyedTable.addCheckConstraint(spark, wh, t, "bal_pos", "bal >= 0")
    val e =
      try intercept[StoreException] {
        KeyedTable.mergeConcurrent(theFeed, wh, t,
          deleteWhen = col("is_del"), deleteOnlyMatched = true): Unit
      } finally KeyedTable.CommitSeam("merge") = () => ()
    assert(e.getMessage.contains("check constraint"), e.getMessage)
    assert(KeyedTable.readSql(spark, wh, t)
      .filter(col("id") === 5000L).count() == 0,
      "the violating insert must not land")
  }
}
