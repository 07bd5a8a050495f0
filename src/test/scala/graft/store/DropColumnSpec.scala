package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** #11aa metadata-only column drop: the column leaves the logical
  * schema with zero data IO, later writes align to the reduced schema,
  * and re-adding the name is blocked until a full rewrite has replaced
  * every file that still holds the old physical values. */
class DropColumnSpec extends SparkSpec {

  import spark.implicits._

  private def wh(): String = Files.createTempDirectory("graft-spec-drop-").toString

  test("drop removes the column from reads; other values intact; writes align") {
    val w = wh()
    KeyedTable.toSql(
      (1L to 20L).map(i => (i, s"v$i", i * 1.0, s"extra$i"))
        .toDF("k", "v", "x", "junk"),
      w, "t", pk = Seq("k"))
    val before = Manifest.current(spark, s"$w/t").version
    KeyedTable.dropColumns(spark, w, "t", Seq("junk"))
    // metadata-only: no new snapshot, no rewrite
    assert(Manifest.current(spark, s"$w/t").version == before)
    val out = KeyedTable.readSql(spark, w, "t")
    assert(out.columns.toSeq == Seq("k", "v", "x"))
    assert(out.count() == 20L)
    // a later upsert aligns to the reduced schema
    KeyedTable.toSql(Seq((1L, "V1", -1.0)).toDF("k", "v", "x"),
      w, "t", pk = Seq("k"), how = WriteMode.Upsert)
    assert(KeyedTable.readSql(spark, w, "t")
      .filter(col("k") === 1L).head().getString(1) == "V1")
  }

  test("PK and unknown columns cannot drop; stats columns are pruned") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 1.0, 2.0)).toDF("k", "x", "y"),
      w, "t", pk = Seq("k"))
    KeyedTable.setStatsColumns(spark, w, "t", Seq("x", "y"))
    intercept[StoreException](KeyedTable.dropColumns(spark, w, "t", Seq("k")))
    intercept[StoreException](KeyedTable.dropColumns(spark, w, "t", Seq("zz")))
    KeyedTable.dropColumns(spark, w, "t", Seq("y"))
    assert(TableMeta.read(spark, s"$w/t").statsCols == Seq("x"))
  }

  test("re-adding a dropped name is blocked until a full rewrite") {
    val w = wh()
    KeyedTable.toSql(
      (1L to 10L).map(i => (i, i * 1.0, s"old$i")).toDF("k", "x", "tag"),
      w, "t", pk = Seq("k"), buckets = 2)
    KeyedTable.dropColumns(spark, w, "t", Seq("tag"))
    // the old physical values are still in live files — re-adding the
    // name would resurrect them instead of reading NULL
    val err = intercept[StoreException](
      KeyedTable.toSql(Seq((1L, 1.0, "new1")).toDF("k", "x", "tag"),
        w, "t", pk = Seq("k"), how = WriteMode.Upsert, addNewColumns = true))
    assert(err.getMessage.contains("dropped"), err.getMessage)
    // a full rewrite replaces every live file with the current schema
    // (a same-count rebucket early-returns without rewriting — the
    // guard must survive that, so force a real rewrite)
    KeyedTable.rebucket(spark, w, "t", 3)
    assert(TableMeta.read(spark, s"$w/t").dropped.isEmpty)
    // …after which the name evolves back cleanly: old rows read NULL
    KeyedTable.toSql(Seq((1L, 1.0, "new1")).toDF("k", "x", "tag"),
      w, "t", pk = Seq("k"), how = WriteMode.Upsert, addNewColumns = true)
    val tags = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(tags(1L) == Some("new1"))
    assert((2L to 10L).forall(tags(_).isEmpty),
      "pre-drop values resurrected after re-add")
  }
}
