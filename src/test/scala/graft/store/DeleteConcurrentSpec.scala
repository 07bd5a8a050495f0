package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempDirs}

/** Bucket-level optimistic concurrency for predicate deletes —
  * [[KeyedTable.deleteConcurrent]]: disjoint-bucket writers interleave
  * with the staged delete; overlapping ones (and schema changes, whose
  * old-schema bucket rewrite must not publish) abort with
  * [[ConcurrentWriteException]] leaving the table unchanged. The
  * interleave is deterministic via
  * [[KeyedTable.CommitSeam]]. */
class DeleteConcurrentSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-delc")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal")
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

  test("a disjoint-bucket upsert lands mid-window; the staged delete " +
      "still commits, and both effects survive") {
    val t = "t_delc_disjoint"
    val (keysA, keysB) = fixture(t)
    KeyedTable.CommitSeam("delete") = () =>
      KeyedTable.toSql(df(keysB.map(k => (k, s"B$k", 2000.0)): _*),
        wh, t, how = WriteMode.Upsert)
    val n =
      try KeyedTable.deleteConcurrent(spark, wh, t,
        col("id").isin(keysA: _*))
      finally KeyedTable.CommitSeam("delete") = () => ()
    assert(n == keysA.size)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    keysA.foreach(k => assert(!got.contains(k), s"$k must be deleted"))
    keysB.foreach(k => assert(got(k) == s"B$k", s"B's update on $k must survive"))
    assert(got.size == 40 - keysA.size)
  }

  test("an overlapping-bucket mutation aborts the staged delete; " +
      "nothing is deleted; the retry succeeds") {
    val t = "t_delc_overlap"
    val (keysA, _) = fixture(t)
    KeyedTable.CommitSeam("delete") = () =>
      KeyedTable.toSql(df((keysA.head, "WIN", 9.0)), wh, t,
        how = WriteMode.Upsert)
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.deleteConcurrent(spark, wh, t, col("id").isin(keysA: _*))
      } finally KeyedTable.CommitSeam("delete") = () => ()
    assert(e.getMessage.contains("retry the delete"), e.getMessage)
    val ids = KeyedTable.readSql(spark, wh, t).collect()
      .map(_.getAs[Long]("id")).toSet
    keysA.foreach(k => assert(ids.contains(k), "aborted delete must not land"))
    assert(KeyedTable.deleteConcurrent(spark, wh, t,
      col("id").isin(keysA: _*)) == keysA.size)
    keysA.foreach(k => assert(!KeyedTable.readSql(spark, wh, t).collect()
      .map(_.getAs[Long]("id")).toSet.contains(k)))
  }

  test("the merge-on-read path stages positions through the same window") {
    val t = "t_delc_mor"
    val (keysA, keysB) = fixture(t)
    // tiny delete, explicit MoR: positions staged unlocked; a disjoint
    // writer lands mid-window; the DV commit still publishes
    KeyedTable.CommitSeam("delete") = () =>
      KeyedTable.toSql(df(keysB.map(k => (k, s"B$k", 7.0)): _*),
        wh, t, how = WriteMode.Upsert)
    val n =
      try KeyedTable.deleteConcurrent(spark, wh, t,
        col("id") === keysA.head, mode = DeleteMode.MergeOnRead)
      finally KeyedTable.CommitSeam("delete") = () => ()
    assert(n == 1)
    val back = KeyedTable.readSql(spark, wh, t).collect()
    assert(!back.map(_.getAs[Long]("id")).contains(keysA.head))
    assert(back.length == 39)
    // and a SAME-bucket interferer aborts the MoR positions (ordinals
    // are only valid against the exact files they indexed)
    KeyedTable.CommitSeam("delete") = () =>
      KeyedTable.toSql(df((keysA(1), "WIN", 1.0)), wh, t,
        how = WriteMode.Upsert)
    try intercept[ConcurrentWriteException] {
      KeyedTable.deleteConcurrent(spark, wh, t,
        col("id") === keysA(2), mode = DeleteMode.MergeOnRead)
    } finally KeyedTable.CommitSeam("delete") = () => ()
  }

  test("a schema change mid-window aborts the old-schema bucket rewrite") {
    val t = "t_delc_schema"
    val (keysA, _) = fixture(t)
    KeyedTable.CommitSeam("delete") = () =>
      KeyedTable.addColumns(spark, wh, t,
        Seq(org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType)))
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.deleteConcurrent(spark, wh, t, col("id").isin(keysA: _*))
      } finally KeyedTable.CommitSeam("delete") = () => ()
    assert(e.getMessage.contains("schema changed"), e.getMessage)
  }

  test("CDC tables log delete images from the optimistic path") {
    val t = "t_delc_cdc"
    val (keysA, _) = fixture(t)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    val n = KeyedTable.deleteConcurrent(spark, wh, t,
      col("id") === keysA.head || col("id") === keysA(1))
    assert(n == 2)
    val log = KeyedTable.readChangelog(spark, wh, t)
    assert(log.filter("op = 'delete'").count() == 2)
    assert(log.filter("op = 'delete'").select("old_name").collect()
      .map(_.getString(0)).toSet == Set(s"n${keysA.head}", s"n${keysA(1)}"))
  }
}
