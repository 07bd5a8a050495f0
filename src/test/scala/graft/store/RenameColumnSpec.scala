package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, TempDirs}

/** `ALTER TABLE … RENAME COLUMN` — metadata-only via the
  * logical→physical name map ([[TableMeta.renames]]): not one data byte
  * moves, and the INVARIANT every test here re-checks is that live
  * parquet files NEVER carry a renamed column's logical name — a missed
  * translation at any write site would surface as the logical name in a
  * file (and as silent NULLs on the next read). */
class RenameColumnSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-rename")
  private val catN = new AtomicLong(0)

  private def df(rows: (Long, String, Double)*): DataFrame =
    rows.toDF("id", "name", "v")

  private def rowsOf(t: String): Seq[(Long, String, Double)] =
    KeyedTable.readSql(spark, wh, t).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[Double](2)))
      .sortBy(_._1).toSeq

  /** THE invariant: the raw data files carry only PHYSICAL names. */
  private def assertPhysOnly(t: String, logical: String, phys: String): Unit = {
    val cols = spark.read.parquet(KeyedTable.dataDir(wh, t))
      .schema.fieldNames.toSet
    assert(cols.contains(phys), s"physical $phys missing from files: $cols")
    assert(!cols.contains(logical),
      s"files carry the LOGICAL name $logical — a write site missed " +
      s"the toPhys translation: $cols")
  }

  test("rename is metadata-only: old rows read under the new name, " +
      "every mutation verb keeps writing the physical name") {
    val t = "t_rn_verbs"
    KeyedTable.toSql(df((1L to 20L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    KeyedTable.renameColumn(spark, wh, t, "v", "score")
    val dir = KeyedTable.tableDir(wh, t)
    assert(TableMeta.read(spark, dir).renames == Map("score" -> "v"))
    assert(KeyedTable.readSql(spark, wh, t).columns.toSeq ==
      Seq("id", "name", "score"))
    assert(rowsOf(t) == (1L to 20L).map(i => (i, s"n$i", i * 1.0)))

    // append + upsert (full and PARTIAL on the renamed column)
    KeyedTable.toSql(Seq((21L, "n21", 21.0)).toDF("id", "name", "score"),
      wh, t, pk = Seq("id"), how = WriteMode.Append)
    KeyedTable.toSql(Seq((1L, 100.0)).toDF("id", "score"),
      wh, t, pk = Seq("id"), how = WriteMode.Upsert)
    // update SET on the renamed column; predicate over it too
    KeyedTable.update(spark, wh, t, col("score") === 2.0,
      Map("score" -> org.apache.spark.sql.functions.lit(200.0)))
    // predicate delete referencing the renamed column
    KeyedTable.delete(spark, wh, t, col("score") === 3.0)
    // merge: update one, insert one, tombstone one
    KeyedTable.merge(
      Seq((4L, "n4", 400.0, false), (22L, "n22", 22.0, false),
        (5L, "n5", 0.0, true)).toDF("id", "name", "score", "del"),
      wh, t, deleteWhen = col("del"))
    val got = rowsOf(t).map { case (i, _, s) => i -> s }.toMap
    assert(got(1L) == 100.0 && got(2L) == 200.0 && got(4L) == 400.0)
    assert(!got.contains(3L) && !got.contains(5L))
    assert(got(21L) == 21.0 && got(22L) == 22.0)
    assertPhysOnly(t, "score", "v")

    // layout maintenance keeps the physical name too
    KeyedTable.compact(spark, wh, t, minFiles = 1)
    KeyedTable.zorderCompact(spark, wh, t, Seq("score", "id"))
    KeyedTable.rebucket(spark, wh, t, 2)
    assert(rowsOf(t).map { case (i, _, s) => i -> s }.toMap.apply(1L) == 100.0)
    assertPhysOnly(t, "score", "v")

    // rename BACK: the map empties, new files may use the name again
    KeyedTable.renameColumn(spark, wh, t, "score", "v")
    assert(TableMeta.read(spark, dir).renames.isEmpty)
    assert(KeyedTable.readSql(spark, wh, t).columns.contains("v"))
  }

  test("chained rename a->b->c keeps resolving the original bytes; " +
      "time travel shows CURRENT names over old files") {
    val t = "t_rn_chain"
    KeyedTable.toSql(df((1L, "a", 1.5), (2L, "b", 2.5)), wh, t,
      pk = Seq("id"), buckets = 2)
    val v0 = Manifest.current(spark, KeyedTable.tableDir(wh, t)).version
    KeyedTable.renameColumn(spark, wh, t, "v", "score")
    KeyedTable.renameColumn(spark, wh, t, "score", "rating")
    val meta = TableMeta.read(spark, KeyedTable.tableDir(wh, t))
    assert(meta.renames == Map("rating" -> "v")) // chain collapses
    assert(rowsOf(t) == Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    // time travel to the pre-rename snapshot reads the same bytes
    // under the CURRENT logical names (physical names never moved)
    val tt = KeyedTable.readSql(spark, wh, t, asOfVersion = Some(v0))
    assert(tt.columns.contains("rating"))
    assert(tt.select("rating").as[Double].collect().sorted.toSeq ==
      Seq(1.5, 2.5))
  }

  test("refusals: PK, existing/dropped/physical-name targets, CHECK " +
      "references, unclean names; resurrection guards understand " +
      "physical names") {
    val t = "t_rn_refuse"
    KeyedTable.toSql(df((1L, "a", 1.0)), wh, t, pk = Seq("id"), buckets = 2)
    def refuse(msg: String)(body: => Unit): Unit = {
      val e = intercept[StoreException](body)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    refuse("primary-key")(KeyedTable.renameColumn(spark, wh, t, "id", "k"))
    refuse("not in table schema")(
      KeyedTable.renameColumn(spark, wh, t, "zzz", "k"))
    refuse("already in the table schema")(
      KeyedTable.renameColumn(spark, wh, t, "v", "name"))
    refuse("bad column name")(
      KeyedTable.renameColumn(spark, wh, t, "v", "Bad Name"))
    KeyedTable.dropColumns(spark, wh, t, Seq("name"))
    refuse("was dropped")(KeyedTable.renameColumn(spark, wh, t, "v", "name"))
    KeyedTable.addCheckConstraint(spark, wh, t, "v_pos", "v >= 0")
    refuse("CHECK constraint")(
      KeyedTable.renameColumn(spark, wh, t, "v", "w"))
    KeyedTable.dropCheckConstraint(spark, wh, t, "v_pos")
    KeyedTable.renameColumn(spark, wh, t, "v", "w")
    // 'v' is now a PHYSICAL name in live files: adding it back refuses
    refuse("physical name")(KeyedTable.addColumns(spark, wh, t,
      Seq(org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType))))
    // renaming another column ONTO it refuses too
    KeyedTable.addColumns(spark, wh, t,
      Seq(org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType)))
    refuse("physical name")(KeyedTable.renameColumn(spark, wh, t, "x", "v"))
    // dropping the RENAMED column tombstones its PHYSICAL name; the
    // display name is free to reuse immediately
    KeyedTable.dropColumns(spark, wh, t, Seq("w"))
    val meta = TableMeta.read(spark, KeyedTable.tableDir(wh, t))
    assert(meta.dropped.contains("v") && !meta.dropped.contains("w"))
    assert(meta.renames.isEmpty)
    KeyedTable.addColumns(spark, wh, t,
      Seq(org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.DoubleType))) // display name reusable
    refuse("was dropped")(KeyedTable.addColumns(spark, wh, t,
      Seq(org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType))))
  }

  test("SQL surface: ALTER RENAME, filtered reads (pushdown over the " +
      "renamed column), SQL UPDATE/MERGE/DELETE, MoR mutations") {
    val t = "t_rn_sql"
    KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    val cat = s"graft_rn${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"ALTER TABLE $cat.$t RENAME COLUMN v TO score")
      // DSv2 read with a pushed filter over the renamed column
      val hit = spark.sql(
        s"SELECT id, score FROM $cat.$t WHERE score > 38.5")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(hit == Seq((39L, 39.0), (40L, 40.0)))
      spark.sql(s"UPDATE $cat.$t SET score = score * 10 WHERE id <= 2")
      spark.sql(s"DELETE FROM $cat.$t WHERE id = 40")
      spark.sql(s"""MERGE INTO $cat.$t tgt
        USING (SELECT 3L AS id, 'M' AS name, 333.0 AS score,
                      CAST(NULL AS INT) AS ${KeyedTable.BucketCol}) src
        ON tgt.id = src.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      // MoR delete writes DV sidecars, data files untouched
      KeyedTable.delete(spark, wh, t, col("id") === 4L,
        mode = DeleteMode.MergeOnRead)
      val got = KeyedTable.readSql(spark, wh, t).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
      assert(got(1L) == 10.0 && got(2L) == 20.0 && got(3L) == 333.0)
      assert(!got.contains(4L) && !got.contains(40L))
      assertPhysOnly(t, "score", "v")
      // footer aggregate pushdown resolves the physical chunk
      val mx = spark.sql(s"SELECT max(id), count(score) FROM $cat.$t")
        .collect().head
      assert(mx.getLong(0) == 39L && mx.getLong(1) == 38L)
      // the CALL surface lowers onto the same primitive
      spark.sql(
        s"CALL $cat.system.rename_column('$t', 'score', 'rating')")
      assert(KeyedTable.readSql(spark, wh, t).columns.contains("rating"))
      assertPhysOnly(t, "rating", "v")
      // SHOW TBLPROPERTIES surfaces where the bytes live
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.$t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("renamed_columns").contains("rating<-v"), props)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("stats columns follow the rename: file-skip keeps pruning via " +
      "the physical stat key") {
    val t = "t_rn_stats"
    KeyedTable.toSql(df((1L to 10L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.setStatsColumns(spark, wh, t, Seq("v"))
    // post-registration files carry v-bounds
    KeyedTable.toSql((11L to 30L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v"), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    KeyedTable.renameColumn(spark, wh, t, "v", "score")
    val meta = TableMeta.read(spark, KeyedTable.tableDir(wh, t))
    assert(meta.statsCols == Seq("score"))
    // reads + new appends keep recording/pruning under the phys key
    KeyedTable.toSql(Seq((31L, "n31", 31.0)).toDF("id", "name", "score"),
      wh, t, pk = Seq("id"), how = WriteMode.Append)
    val hit = KeyedTableSource.read(spark, wh, t)
      .filter(col("score") >= 30.0).select("id")
      .as[Long].collect().sorted.toSeq
    assert(hit == Seq(30L, 31L))
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    // stat entries for files written both before and after the rename
    // are keyed by the PHYSICAL name
    val extras = m.files.values.flatten.flatMap(_.extra.keys).toSet
    assert(extras == Set("v"), s"stat keys: $extras")
  }

  test("changelog and optimistic verbs on a renamed table; streaming " +
      "sink stages physical names") {
    val t = "t_rn_cdc"
    KeyedTable.toSql(df((1L to 8L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    KeyedTable.renameColumn(spark, wh, t, "v", "score")
    KeyedTable.appendConcurrent(
      Seq((9L, "n9", 9.0)).toDF("id", "name", "score"), wh, t)
    KeyedTable.upsertConcurrent(
      Seq((1L, 100.0)).toDF("id", "score"), wh, t)
    KeyedTable.updateConcurrent(spark, wh, t, col("id") === 2L,
      Map("score" -> org.apache.spark.sql.functions.lit(200.0)))
    KeyedTable.deleteConcurrent(spark, wh, t, col("id") === 3L)
    val got = rowsOf(t).map { case (i, _, s) => i -> s }.toMap
    assert(got(1L) == 100.0 && got(2L) == 200.0 && !got.contains(3L))
    assert(got(9L) == 9.0)
    assertPhysOnly(t, "score", "v")
    // post-rename changelog batches carry the NEW logical names
    val cl = KeyedTable.readChangelog(spark, wh, t)
    assert(cl.columns.contains("new_score"))

    // streaming sink: executors stage under the PHYSICAL name
    val cat = s"graft_rn${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val src = Files.createTempDirectory("graft-rn-src-").toString
      (20L to 24L).map(i => (i, s"n$i", i * 1.0))
        .toDF("id", "name", "score")
        .coalesce(1).write.mode("overwrite").parquet(src)
      val ck = Files.createTempDirectory("graft-rn-ck-").toString
      val q = spark.readStream
        .schema(KeyedTable.readSql(spark, wh, t).schema)
        .parquet(src)
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.$t")
      q.awaitTermination()
      val after = rowsOf(t).map { case (i, _, s) => i -> s }.toMap
      assert((20L to 24L).forall(i => after(i) == i * 1.0))
      assertPhysOnly(t, "score", "v")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }
}
