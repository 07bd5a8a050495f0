package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempDirs}

/** Bucket-level optimistic concurrency for upserts: two writers with
  * DISJOINT touched-bucket sets both commit; an overlapping set aborts
  * with [[ConcurrentWriteException]] and leaves the table unchanged.
  * The interleave is deterministic via
  * [[KeyedTable.CommitSeam]]: the hook lands the
  * interfering mutation between the optimistic upsert's unlocked
  * stage and its locked commit. */
class UpsertConcurrentSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-upsc")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal")
  }

  /** key -> bucket, read straight off the bucket-partitioned layout. */
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

  test("disjoint-bucket writers BOTH commit through the window") {
    val t = "t_upsc_disjoint"
    val (keysA, keysB) = fixture(t)
    // while A is staged-but-uncommitted, B (disjoint buckets) commits
    KeyedTable.CommitSeam("upsert") = () =>
      KeyedTable.toSql(df(keysB.map(k => (k, s"B$k", 2000.0)): _*),
        wh, t, how = WriteMode.Upsert)
    try KeyedTable.upsertConcurrent(
      df(keysA.map(k => (k, s"A$k", 1000.0)): _*), wh, t)
    finally KeyedTable.CommitSeam("upsert") = () => ()
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    keysA.foreach(k => assert(got(k) == s"A$k", s"A's update on $k must survive"))
    keysB.foreach(k => assert(got(k) == s"B$k", s"B's update on $k must survive"))
    assert(got.size == 40)
  }

  test("overlapping touched buckets abort with ConcurrentWriteException; " +
      "the loser's staged work never lands") {
    val t = "t_upsc_overlap"
    val (keysA, _) = fixture(t)
    // interferer writes to the SAME bucket set (same keys): A's staged
    // merge now reads a stale pre-image and must abort
    KeyedTable.CommitSeam("upsert") = () =>
      KeyedTable.toSql(df(keysA.map(k => (k, s"WIN$k", 2000.0)): _*),
        wh, t, how = WriteMode.Upsert)
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.upsertConcurrent(
          df(keysA.map(k => (k, s"LOSE$k", 1000.0)): _*), wh, t)
      } finally KeyedTable.CommitSeam("upsert") = () => ()
    assert(e.getMessage.contains("retry the upsert"), e.getMessage)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    keysA.foreach(k => assert(got(k) == s"WIN$k",
      "the committed writer's rows must stand; the aborted one's must not"))
    // the retry then succeeds against the fresh snapshot
    KeyedTable.upsertConcurrent(
      df(keysA.map(k => (k, s"RETRY$k", 3000.0)): _*), wh, t)
    val after = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    keysA.foreach(k => assert(after(k) == s"RETRY$k"))
  }

  test("a concurrent rebucket aborts the staged upsert") {
    val t = "t_upsc_rebucket"
    val (keysA, _) = fixture(t)
    KeyedTable.CommitSeam("upsert") = () =>
      KeyedTable.rebucket(spark, wh, t, 8)
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.upsertConcurrent(
          df(keysA.map(k => (k, s"X$k", 1.0)): _*), wh, t)
      } finally KeyedTable.CommitSeam("upsert") = () => ()
    assert(e.getMessage.contains("bucket count changed"), e.getMessage)
  }

  test("partial-column semantics hold on the optimistic path") {
    val t = "t_upsc_partial"
    val (keysA, _) = fixture(t)
    import spark.implicits._
    // only (id, bal) incoming: name must keep its stored value
    KeyedTable.upsertConcurrent(
      keysA.map(k => (k, 777.0)).toDF("id", "bal"), wh, t)
    val got = KeyedTable.readSql(spark, wh, t)
      .filter(col("id").isin(keysA: _*)).collect()
    got.foreach { r =>
      assert(r.getAs[Double]("bal") == 777.0)
      assert(r.getAs[String]("name") == s"n${r.getAs[Long]("id")}",
        "absent columns keep stored values")
    }
  }

  test("CDC tables log a classified batch from the optimistic path") {
    val t = "t_upsc_cdc"
    val (keysA, _) = fixture(t)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    val updates = keysA.take(2).map(k => (k, s"U$k", 9.0))
    val inserts = Seq((1000L, "new", 1.0))
    KeyedTable.upsertConcurrent(df(updates ++ inserts: _*), wh, t)
    val log = KeyedTable.readChangelog(spark, wh, t)
    assert(log.filter("op = 'update'").count() == 2)
    assert(log.filter("op = 'insert'").count() == 1)
    assert(log.filter("op = 'insert'").select("new_name")
      .collect().head.getString(0) == "new")
  }
}
