package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SURVEY.md §2 #11e: rebucket rewrites the table under a new bucket
  * count without changing its logical contents. */
class RebucketSpec extends SparkSpec {

  import spark.implicits._

  private def freshWh() =
    Files.createTempDirectory("graft-spec-rebucket").toString

  test("rebucket preserves rows, relocates them to the new hash layout, updates meta") {
    val wh = freshWh()
    val df = (1L to 200L).map(i => (i, s"name$i", i * 2.0)).toDF("id", "name", "v")
    KeyedTable.toSql(df, wh, "t", pk = Seq("id"), how = WriteMode.CreateOnly, buckets = 4)

    KeyedTable.rebucket(spark, wh, "t", newBuckets = 16)

    assert(Manifest.current(spark, s"$wh/t").buckets == 16)
    val back = KeyedTable.readSql(spark, wh, "t")
    assert(back.count() == 200)
    assert(back.select("id", "name", "v").exceptAll(df).isEmpty)
    // physical layout: after vacuum reclaims the old-layout files, every
    // remaining row's file partition matches the new hash
    KeyedTable.vacuum(spark, wh, "t", olderThanMs = 0L): Unit
    val raw = spark.read.parquet(s"$wh/t/data")
    val misplaced = raw.filter(
      col(KeyedTable.BucketCol) =!=
        pmod(xxhash64(col("id")), lit(16L)).cast("int")).count()
    assert(misplaced == 0)
    val bucketsSeen = raw.select(KeyedTable.BucketCol).distinct().count()
    assert(bucketsSeen > 4) // the data really spread into the wider layout
  }

  test("rebucket aligns mismatched tables for the storage-partitioned PK join") {
    val wh = freshWh()
    val left = (1L to 300L).map(i => (i, s"l$i")).toDF("id", "lv")
    val right = (1L to 300L).filter(_ % 2 == 0).map(i => (i, s"r$i")).toDF("id", "rv")
    KeyedTable.toSql(left, wh, "l", pk = Seq("id"), how = WriteMode.CreateOnly, buckets = 8)
    KeyedTable.toSql(right, wh, "r", pk = Seq("id"), how = WriteMode.CreateOnly, buckets = 4)
    // mismatched counts are rejected...
    intercept[IllegalArgumentException](PkJoin.pkJoin(spark, wh, "l", "r"))
    // ...and rebucket is the documented fix
    KeyedTable.rebucket(spark, wh, "r", newBuckets = 8)
    val joined = PkJoin.pkJoin(spark, wh, "l", "r")
    assert(joined.count() == 150)
    // the SPJ contract holds on the rebucketed layout: no exchange
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
  }

  test("rebucket to the same count is a no-op; writes after rebucket keep working") {
    val wh = freshWh()
    val df = (1L to 50L).map(i => (i, i.toString)).toDF("id", "s")
    KeyedTable.toSql(df, wh, "t", pk = Seq("id"), how = WriteMode.CreateOnly, buckets = 4)
    KeyedTable.rebucket(spark, wh, "t", newBuckets = 4) // no-op
    assert(Manifest.current(spark, s"$wh/t").buckets == 4)

    KeyedTable.rebucket(spark, wh, "t", newBuckets = 8)
    // upsert against the rebucketed table routes by the NEW hash
    val upd = Seq((1L, "updated"), (51L, "new")).toDF("id", "s")
    KeyedTable.toSql(upd, wh, "t", pk = Seq("id"), how = WriteMode.Upsert)
    val back = KeyedTable.readSql(spark, wh, "t").as[(Long, String)].collect().toMap
    assert(back.size == 51)
    assert(back(1L) == "updated" && back(51L) == "new")
  }
}
