package graft.store

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.TempDirs

/** SQL metadata tables (#11ah): `t$history` / `t$tags` / `t$files`
  * resolve through the catalog against the base table's manifests. */
class MetaTablesSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-metatables")
  private val catN = new java.util.concurrent.atomic.AtomicLong()

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private def withCat[A](body: String => A): A = {
    val cat = s"graft_metaspec${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("history, tags, and files read from manifests through SQL") {
    val t = "t_meta"
    KeyedTable.toSql(df((1L, "a", 1.0), (2L, "b", 2.0)), wh, t,
      pk = Seq("id"), buckets = 2) // v0
    KeyedTable.tagSnapshot(spark, wh, t, "cut")
    KeyedTable.toSql(df((3L, "c", 3.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Append) // v1
    withCat { cat =>
      val hist = spark.sql(s"SELECT version, n_rows FROM $cat.`$t" + "$history`")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hist == Set((0L, 2L), (1L, 3L)))
      // commit metadata: operation name + wall-clock ride in the manifest
      val ops = spark.sql(
        s"SELECT version, op, ts_ms FROM $cat.`$t" + "$history`")
        .collect().map(r => (r.getLong(0), r.getString(1), r.get(2))).toSeq
        .sortBy(_._1)
      assert(ops.map(o => (o._1, o._2)) == Seq((0L, "create"), (1L, "append")))
      assert(ops.forall(_._3 != null))
      val tags = spark.sql(s"SELECT tag, version FROM $cat.`$t" + "$tags`")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(tags == Seq(("cut", 0L)))
      // current snapshot's live files: per-file rows sum to the table
      val files = spark.sql(s"SELECT bucket, rows FROM $cat.`$t" + "$files`")
      assert(files.collect().map(_.getLong(1)).sum == 3L)
      // the file count agrees with the manifest
      val mf = Manifest.current(spark, wh + s"/$t")
      assert(files.count() == mf.files.valuesIterator.map(_.size).sum)
      // registered CHECK constraints surface as (name, predicate) rows
      KeyedTable.addCheckConstraint(spark, wh, t, "v_pos", "v >= 0")
      val checks = spark.sql(s"SELECT name, predicate FROM $cat.`$t" + "$checks`")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(checks == Seq(("v_pos", "v >= 0")))
    }
  }

  test("unknown $kind and missing base fail as missing tables; read-only") {
    val t = "t_meta_neg"
    KeyedTable.toSql(df((1L, "a", 1.0)), wh, t, pk = Seq("id"), buckets = 2)
    withCat { cat =>
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM $cat.`$t" + "$bogus`").collect()
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM $cat.`nope" + "$history`").collect()
      }
      // metadata tables accept no writes
      intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.`$t" + "$tags` VALUES ('x', 0)")
      }
    }
  }

  test("a REAL table whose name matches the $-pattern wins over the view") {
    // the store's own toSql rejects `$` in names, but an
    // externally-materialized table dir can carry one — the synthetic
    // metadata view must not make such a table unreadable through SQL
    val t = "t_meta_shadow"
    KeyedTable.toSql(df((1L, "a", 1.0), (2L, "b", 2.0)), wh, t,
      pk = Seq("id"), buckets = 2)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(wh, t)
    val dst = new org.apache.hadoop.fs.Path(wh, t + "$history")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    withCat { cat =>
      // resolves to the REAL copied table (data columns), not the
      // synthetic history view of base `t_meta_shadow`
      val rows = spark.sql(
        s"SELECT id, name, v FROM $cat.`$t" + "$history`")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(rows == Set((1L, "a", 1.0), (2L, "b", 2.0)), s"got $rows")
    }
  }

  test("t$buckets surfaces the per-bucket layout-health report " +
       "(files, rows, row groups, bytes, DV pressure) through SQL") {
    val t = "t_meta_buckets"
    KeyedTable.toSql(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, "d", 4.0)), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.toSql(df((5L, "e", 5.0), (6L, "f", 6.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Append)
    import org.apache.spark.sql.functions.col
    val deleted = KeyedTable.delete(spark, wh, t, col("id") === 2L,
      mode = DeleteMode.MergeOnRead)
    assert(deleted == 1L)
    val m = Manifest.current(spark, s"$wh/$t")
    assert(m.dvs.nonEmpty, "fixture must actually have delete vectors")
    withCat { cat =>
      val rows = spark.sql(
        s"SELECT bucket, n_files, n_rows, n_row_groups, bytes, dv_files, " +
        s"dv_rows FROM $cat.`$t" + "$buckets` ORDER BY bucket")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))
      // ALWAYS one row per bucket (empty buckets report zeros)
      assert(rows.map(_._1).toSeq == (0 until m.buckets))
      // file counts and bytes agree with the manifest, per bucket
      rows.foreach { case (b, nf, _, ng, bytes, dvf, dvr) =>
        val fls = m.files.getOrElse(b, Nil)
        assert(nf == fls.size.toLong)
        assert(bytes == fls.map(_.len).sum)
        assert(ng >= nf) // every file has at least one row group
        assert(dvf == m.dvs.getOrElse(b, Nil).size.toLong)
        assert(dvr == m.dvs.getOrElse(b, Nil).flatMap(_.rows).sum)
      }
      // data rows (pre-mask) sum to 6; live rows = n_rows - dv_rows = 5
      assert(rows.map(_._3).sum == 6L)
      assert(rows.map(r => r._3 - r._7).sum ==
        KeyedTable.readSql(spark, wh, t).count())
      // the row the dashboard would act on: the DV'd bucket shows
      // tombstone pressure
      assert(rows.map(_._7).sum == 1L)
    }
  }

  test("t$changelog lists surviving CDC batches with the expiry floor") {
    val t = "t_meta_cl"
    KeyedTable.toSql(df((1L, "a", 1.0)), wh, t, pk = Seq("id"))
    withCat { cat =>
      // no changelog yet: empty, not an error
      assert(spark.sql(s"SELECT * FROM $cat.`$t" + "$changelog`")
        .count() == 0)
      KeyedTable.setChangelog(spark, wh, t, enabled = true)
      KeyedTable.toSql(df((2L, "b", 2.0)), wh, t, how = WriteMode.Append) // 0
      KeyedTable.toSql(df((3L, "c", 3.0)), wh, t, how = WriteMode.Append) // 1
      KeyedTable.toSql(df((4L, "d", 4.0)), wh, t, how = WriteMode.Append) // 2
      val before = spark.sql(
        s"SELECT batch, n_files, bytes, floor FROM $cat.`$t" + "$changelog`")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(before.map(_._1).toSeq.sorted == Seq(0L, 1L, 2L))
      assert(before.forall(r => r._2 >= 1 && r._3 > 0 && r._4 == 0L))
      assert(KeyedTable.expireChangelog(spark, wh, t,
        beforeBatch = Some(2L)) == 2)
      val after = spark.sql(
        s"SELECT batch, floor FROM $cat.`$t" + "$changelog`")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(after.toSeq == Seq((2L, 2L)), s"got ${after.toSeq}")
    }
  }
}
