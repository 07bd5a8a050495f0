package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkSpec, TempDirs}

/** Bucket-level optimistic concurrency for predicate UPDATEs —
  * [[KeyedTable.updateConcurrent]]: the staged matched-bucket rewrite
  * (or MoR positions + post-images) commits through a disjoint-bucket
  * interferer and aborts on an overlapping one. */
class UpdateConcurrentSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-updc")

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

  test("a disjoint-bucket upsert lands mid-window; the staged update " +
      "still commits; SET reads CURRENT values") {
    val t = "t_updc_disjoint"
    val (keysA, keysB) = fixture(t)
    KeyedTable.CommitSeam("update") = () =>
      KeyedTable.toSql(df(keysB.map(k => (k, s"B$k", 2000.0)): _*),
        wh, t, how = WriteMode.Upsert)
    val n =
      try KeyedTable.updateConcurrent(spark, wh, t,
        col("id").isin(keysA: _*),
        Map("bal" -> (col("bal") + 1000.0), "name" -> lit("UPD")))
      finally KeyedTable.CommitSeam("update") = () => ()
    assert(n == keysA.size)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => (r.getAs[Long]("id"),
        (r.getAs[String]("name"), r.getAs[Double]("bal")))).toMap
    keysA.foreach(k => assert(got(k) == (("UPD", k + 1000.0)),
      s"update on $k must land with bal derived from the current value"))
    keysB.foreach(k => assert(got(k) == ((s"B$k", 2000.0)),
      "interferer's rows survive"))
  }

  test("an overlapping-bucket mutation aborts; nothing lands; " +
      "the retry succeeds; MoR positions share the window") {
    val t = "t_updc_overlap"
    val (keysA, _) = fixture(t)
    KeyedTable.CommitSeam("update") = () =>
      KeyedTable.toSql(df((keysA(1), "WIN", 9.0)), wh, t,
        how = WriteMode.Upsert)
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.updateConcurrent(spark, wh, t,
          col("id") === keysA(0), Map("name" -> lit("LOSE")),
          mode = DeleteMode.MergeOnRead)
      } finally KeyedTable.CommitSeam("update") = () => ()
    assert(e.getMessage.contains("retry the update"), e.getMessage)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(got(keysA(0)) == s"n${keysA(0)}", "aborted update must not land")
    assert(got(keysA(1)) == "WIN")
    // retry (MoR) succeeds against the fresh snapshot
    assert(KeyedTable.updateConcurrent(spark, wh, t,
      col("id") === keysA(0), Map("name" -> lit("RETRY")),
      mode = DeleteMode.MergeOnRead) == 1)
    assert(KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name"))
      .toMap.apply(keysA(0)) == "RETRY")
  }

  test("CDC tables log update/unchanged images from the optimistic path; " +
      "PK SET refuses") {
    val t = "t_updc_cdc"
    val (keysA, _) = fixture(t)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    // bal doubles (changed) for keysA(0); set-to-same (unchanged) shape
    assert(KeyedTable.updateConcurrent(spark, wh, t,
      col("id") === keysA(0) || col("id") === keysA(1),
      Map("bal" -> (col("bal") * 2))) == 2)
    val log = KeyedTable.readChangelog(spark, wh, t)
    assert(log.filter("op = 'update'").count() == 2)
    assert(log.filter("op = 'update'").select("old_bal", "new_bal")
      .collect().forall(r => r.getDouble(1) == r.getDouble(0) * 2))
    intercept[StoreException] {
      KeyedTable.updateConcurrent(spark, wh, t, lit(true),
        Map("id" -> lit(99L)))
    }
  }

  test("a CHECK registered while the update staged gates the " +
      "post-images at commit") {
    val t = "t_updc_check"
    val (keysA, _) = fixture(t)
    // checks live in TableMeta — no manifest flip, no schema change —
    // so only the commit-time re-enforcement can catch this
    KeyedTable.CommitSeam("update") = () =>
      KeyedTable.addCheckConstraint(spark, wh, t, "bal_cap",
        "bal <= 100000")
    val e =
      try intercept[StoreException] {
        KeyedTable.updateConcurrent(spark, wh, t,
          col("id").isin(keysA: _*),
          Map("bal" -> (col("bal") + 1000000.0)))
      } finally KeyedTable.CommitSeam("update") = () => ()
    assert(e.getMessage.contains("check constraint"), e.getMessage)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
    keysA.foreach(k => assert(got(k) == k * 1.0,
      "the violating update must not land"))
  }
}
