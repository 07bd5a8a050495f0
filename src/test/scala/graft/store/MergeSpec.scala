package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** #11x MERGE: one commit applies a change feed's inserts, updates, and
  * tombstoned deletes against the PK — the `MERGE INTO` triple — with
  * one changelog batch carrying the exact images. */
class MergeSpec extends SparkSpec {

  import spark.implicits._

  private def wh(): String = Files.createTempDirectory("graft-spec-mrg-").toString

  test("one feed: insert + update + delete + absent-tombstone no-op; stats") {
    val w = wh()
    KeyedTable.toSql(
      (1L to 10L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "x"),
      w, "t", pk = Seq("k"))
    // feed: k=11 insert, k=1 update, k=2/k=3 delete, k=99 absent delete
    val feed = Seq(
      (11L, "NEW", 11.0, false),
      (1L, "UPD", -1.0, false),
      (2L, "ignored", 0.0, true),
      (3L, "ignored", 0.0, true),
      (99L, "ignored", 0.0, true)).toDF("k", "v", "x", "is_del")
    val (ins, upd, del) = KeyedTable.merge(feed, w, "t",
      deleteWhen = col("is_del"))
    assert((ins, upd, del) == ((1L, 1L, 2L)))
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.keySet == ((4L to 10L).toSet + 1L + 11L))
    assert(rows(1L) == "UPD" && rows(11L) == "NEW")
  }

  test("deleteWhen may reference feed-only columns; they never reach the table") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "x"),
      w, "t", pk = Seq("k"))
    val feed = Seq((1L, 0.0, "delete"), (3L, 3.0, "upsert"))
      .toDF("k", "x", "op")
    val (ins, upd, del) = KeyedTable.merge(feed, w, "t",
      deleteWhen = col("op") === "delete")
    assert((ins, upd, del) == ((1L, 0L, 1L)))
    val out = KeyedTable.readSql(spark, w, "t")
    assert(!out.columns.contains("op"), "feed-only column leaked into the table")
    assert(out.select("k").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("NULL tombstone predicate means FALSE (the row upserts)") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("k", "x"), w, "t", pk = Seq("k"))
    val feed = Seq((1L, 10.0, Option.empty[Boolean])).toDF("k", "x", "is_del")
    val (_, upd, del) = KeyedTable.merge(feed, w, "t",
      deleteWhen = col("is_del"))
    assert(upd == 1L && del == 0L)
    assert(KeyedTable.readSql(spark, w, "t").head().getDouble(1) == 10.0)
  }

  test("a bucket whose rows all tombstone leaves the snapshot") {
    val w = wh()
    KeyedTable.toSql((1L to 50L).map(i => (i, i * 1.0)).toDF("k", "x"),
      w, "t", pk = Seq("k"), buckets = 4)
    // tombstone EVERY key of bucket 0 (the store's own hash)
    val b0 = (1L to 50L).filter { k =>
      Seq(k).toDF("k").select(pmod(xxhash64(col("k")), lit(4L)).cast("int"))
        .head().getInt(0) == 0
    }
    assert(b0.nonEmpty, "fixture: bucket 0 has no keys")
    val feed = b0.map(k => (k, 0.0, true)).toDF("k", "x", "is_del")
    val (_, _, del) = KeyedTable.merge(feed, w, "t",
      deleteWhen = col("is_del"))
    assert(del == b0.size.toLong)
    assert(Manifest.current(spark, s"$w/t").files.getOrElse(0, Nil).isEmpty,
      "emptied bucket still referenced by the new snapshot")
    assert(KeyedTable.readSql(spark, w, "t").count() == 50L - b0.size)
  }

  test("CDC: one batch with delete/insert/update/unchanged images; fold ≡ recompute") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    val feed = Seq(
      (2L, "b", 0.0, true),     // delete
      (4L, "c", 40.0, false),   // insert
      (1L, "a", 11.0, false),   // update
      (3L, "a", 30.0, false),   // unchanged
      (9L, "z", 0.0, true))     // absent tombstone → NO log row
      .toDF("k", "g", "v", "is_del")
    KeyedTable.merge(feed, w, "t", deleteWhen = col("is_del"),
      changelog = true)
    val log = KeyedTable.readChangelog(spark, w, "t")
      .select(col("batch").cast("long"), col("k"), col("op"), col("new_v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)))).toSet
    assert(log == Set(
      (0L, 2L, "delete", None),
      (0L, 4L, "insert", Some(40.0)),
      (0L, 1L, "update", Some(11.0)),
      (0L, 3L, "unchanged", Some(30.0))), s"got $log")
    // the fold over the batch reproduces a recompute of the aggregate
    val derived = graft.operators.CdcConsumer.applyGroupedAgg(
        Seq(("a", 2L, BigDecimal("40.0000")), ("b", 1L, BigDecimal("20.0000")))
          .toDF("g", "n", "s")
          .select(col("g"), col("n"), col("s").cast("decimal(18,4)").as("s")),
        KeyedTable.readChangelog(spark, w, "t"), "g", "n", "s", "v")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getDecimal(2)).map(_.doubleValue))).toSet
    val recomputed = KeyedTable.readSql(spark, w, "t")
      .groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,4)")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getDecimal(2)).map(_.doubleValue))).toSet
    assert(derived == recomputed, s"derived $derived != recompute $recomputed")
  }

  test("duplicate feed keys are rejected; merge on autoIndex/missing tables errors") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("k", "x"), w, "t", pk = Seq("k"))
    intercept[StoreException](KeyedTable.merge(
      Seq((1L, 1.0, false), (1L, 2.0, false)).toDF("k", "x", "is_del"),
      w, "t", deleteWhen = col("is_del")))
    intercept[StoreException](KeyedTable.merge(
      Seq((1L, 1.0, false)).toDF("k", "x", "is_del"),
      w, "missing", deleteWhen = col("is_del")))
    KeyedTable.toSql(Seq(Tuple1(1.0)).toDF("x"), w, "t_auto", autoIndex = true)
    intercept[StoreException](KeyedTable.merge(
      Seq((1.0, false)).toDF("x", "is_del"),
      w, "t_auto", deleteWhen = col("is_del")))
  }
}
