package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** #11w predicate update: SET expressions over current values applied to
  * matching rows only, rewriting only the buckets that hold a match,
  * with exact CDC images when capture is on. */
class UpdateSpec extends SparkSpec {

  import spark.implicits._

  private def wh(): String = Files.createTempDirectory("graft-spec-upd-").toString

  test("SET expressions see current values; only matches change; count returned") {
    val w = wh()
    KeyedTable.toSql(
      (1L to 100L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "x"),
      w, "t", pk = Seq("k"))
    val n = KeyedTable.update(spark, w, "t", col("k") % 10 === 0,
      Map("x" -> (col("x") * 2 + 1), "v" -> concat(col("v"), lit("!"))))
    assert(n == 10L)
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == 100)
    rows.foreach { case (k, v, x) =>
      if (k % 10 == 0) { assert(v == s"v$k!"); assert(x == k * 2.0 + 1) }
      else { assert(v == s"v$k"); assert(x == k * 1.0) }
    }
  }

  test("NULL predicate rows are not matches and survive unchanged") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, Some(5.0)), (2L, None), (3L, Some(-1.0))).toDF("k", "x"),
      w, "t", pk = Seq("k"))
    // x > 0 is NULL for k=2 — not a match, row must survive unchanged
    assert(KeyedTable.update(spark, w, "t", col("x") > 0,
      Map("x" -> lit(0.0))) == 1L)
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows == Map(1L -> Some(0.0), 2L -> None, 3L -> Some(-1.0)))
  }

  test("PK and unknown SET columns are rejected; zero matches commit nothing") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("k", "x"), w, "t", pk = Seq("k"))
    intercept[StoreException](
      KeyedTable.update(spark, w, "t", lit(true), Map("k" -> lit(2L))))
    intercept[StoreException](
      KeyedTable.update(spark, w, "t", lit(true), Map("nope" -> lit(1))))
    val v0 = Manifest.current(spark, s"$w/t").version
    assert(KeyedTable.update(spark, w, "t", col("x") > 100,
      Map("x" -> lit(0.0))) == 0L)
    // no match → no new snapshot
    assert(Manifest.current(spark, s"$w/t").version == v0)
  }

  test("only buckets holding matches are rewritten") {
    val w = wh()
    KeyedTable.toSql(
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "x"),
      w, "t", pk = Seq("k"), buckets = 8)
    val before = Manifest.current(spark, s"$w/t")
    // pin the predicate to keys of ONE bucket (whatever bucket k=7 is
    // in, by the store's own hash)
    val target = Seq(7L).toDF("k")
      .select(pmod(xxhash64(col("k")), lit(8L)).cast("int"))
      .head().getInt(0)
    KeyedTable.update(spark, w, "t", col("k") === 7L, Map("x" -> lit(-7.0)))
    val after = Manifest.current(spark, s"$w/t")
    (0 until 8).foreach { b =>
      val (fb, fa) = (before.files.getOrElse(b, Nil).map(_.name),
        after.files.getOrElse(b, Nil).map(_.name))
      if (b == target) assert(fb != fa, s"matched bucket $b not rewritten")
      else assert(fb == fa, s"untouched bucket $b was rewritten")
    }
  }

  test("CDC: update logs exact before/after images; table property applies") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    assert(KeyedTable.update(spark, w, "t", col("g") === "a",
      Map("v" -> (col("v") + 5.0)), changelog = true) == 2L)
    val log = KeyedTable.readChangelog(spark, w, "t")
      .select("k", "op", "old_v", "new_v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(log == Set((1L, "update", 10.0, 15.0), (3L, "update", 30.0, 35.0)),
      s"got $log")
    // a SET that produces the same value logs `unchanged`, and the
    // table property captures without the per-call flag
    assert(KeyedTable.update(spark, w, "t", col("k") === 2L,
      Map("v" -> lit(20.0))) == 1L)
    val b1 = KeyedTable.readChangelog(spark, w, "t", sinceBatch = 1L)
      .select("k", "op").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(b1 == Set((2L, "unchanged")), s"got $b1")
  }
}
