package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL `UPDATE` and `MERGE INTO` lowered onto the store's own
  * update/merge primitives by graft.plans.GraftSqlDmlRule — the DML
  * matrix completes: SELECT (+ time travel), INSERT, DELETE, UPDATE,
  * MERGE, all through one commit protocol. */
class SqlUpdateMergeSpec extends SparkSpec {

  import spark.implicits._

  private val catN = new java.util.concurrent.atomic.AtomicLong()

  private def withCatalog[A](w: String)(f: String => A): A = {
    val cat = s"graft_dml${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    try f(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  private def wh(): String = Files.createTempDirectory("graft-spec-sqldml-").toString

  test("UPDATE with WHERE and expressions over current values") {
    val w = wh()
    KeyedTable.toSql(
      (1L to 20L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "v", "x"),
      w, "t", pk = Seq("k"))
    withCatalog(w) { cat =>
      spark.sql(s"UPDATE $cat.t SET x = x * 2 + 1, v = concat(v, '!') WHERE k % 4 = 0")
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    rows.foreach { case (k, v, x) =>
      if (k % 4 == 0) { assert(v == s"v$k!" && x == k * 2.0 + 1) }
      else { assert(v == s"v$k" && x == k * 1.0) }
    }
  }

  test("UPDATE without WHERE touches every row; SET on the PK is rejected") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "x"),
      w, "t", pk = Seq("k"))
    withCatalog(w) { cat =>
      spark.sql(s"UPDATE $cat.t SET x = 0.0")
      assert(KeyedTable.readSql(spark, w, "t")
        .select("x").as[Double].collect().toSet == Set(0.0))
      intercept[Exception](spark.sql(s"UPDATE $cat.t SET k = 99"))
    }
  }

  test("MERGE INTO: the CDC-apply shape (DELETE first, UPDATE SET *, INSERT *)") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // feed: delete k=2, update k=1, insert k=4; k=9 satisfies the
    // DELETE condition but is UNMATCHED — a matched clause cannot
    // apply to it, so the unconditional INSERT does (standard SQL;
    // Spark/Delta/Iceberg agree)
    Seq((2L, "x", 0.0, true), (1L, "A", 11.0, false),
        (4L, "d", 40.0, false), (9L, "z", 0.0, true))
      .toDF("k", "g", "v", "is_del")
      .createOrReplaceTempView("dml_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_feed AS s ON t.k = s.k
        WHEN MATCHED AND s.is_del THEN DELETE
        WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "A", 11.0), (3L, "c", 30.0), (4L, "d", 40.0),
      (9L, "z", 0.0)), s"got $rows")
  }

  test("MERGE INTO with star actions against a table-shaped source") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // SET * / INSERT * expand against the table's SQL shape, which
    // includes the synthetic pb_bucket column — a star source carries a
    // NULL slot for it (same contract as positional INSERT INTO); the
    // store derives the real bucket itself
    Seq((1L, "A", 11.0), (5L, "e", 50.0)).toDF("k", "g", "v")
      .withColumn("pb_bucket", lit(null).cast("int"))
      .createOrReplaceTempView("dml_star_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_star_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "A", 11.0), (2L, "b", 20.0), (5L, "e", 50.0)),
      s"got $rows")
  }

  test("MERGE semantics guards: non-PK join and update-before-delete are rejected") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, "a", 1.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    Seq((1L, "a", 2.0, false)).toDF("k", "g", "v", "is_del")
      .createOrReplaceTempView("dml_bad_feed")
    withCatalog(w) { cat =>
      // join on a non-key column: the store merges by PK only
      intercept[Exception](spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_bad_feed AS s ON t.g = s.g
        WHEN MATCHED THEN UPDATE SET v = s.v
      """))
      // UPDATE clause ordered before DELETE: SQL first-clause-wins would
      // disagree with tombstone priority — refused, not misplanned
      intercept[Exception](spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_bad_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN MATCHED AND s.is_del THEN DELETE
      """))
    }
    // the guards fired during planning: nothing changed
    assert(KeyedTable.readSql(spark, w, "t").head().getDouble(2) == 1.0)
  }

  test("MERGE with only WHEN MATCHED UPDATE leaves unmatched source rows alone") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // k=1 matches (update), k=7 does not (SQL: no INSERT clause = no action)
    Seq((1L, "A", 11.0), (7L, "q", 70.0)).toDF("k", "g", "v")
      .createOrReplaceTempView("dml_updonly_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_updonly_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "A", 11.0), (2L, "b", 20.0)), s"got $rows")
  }

  test("MERGE with only WHEN NOT MATCHED INSERT leaves matched rows alone") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // k=1 matches (SQL: no UPDATE clause = no action), k=7 inserts
    Seq((1L, "X", 99.0), (7L, "q", 70.0)).toDF("k", "g", "v")
      .createOrReplaceTempView("dml_insonly_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_insonly_feed AS s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", 10.0), (2L, "b", 20.0), (7L, "q", 70.0)),
      s"got $rows")
  }

  test("delete-only MERGE removes only matched rows the condition selects") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // k=2 matched+selected (delete), k=3 matched+unselected (no action),
    // k=9 unmatched (no action — never a phantom all-NULL insert)
    Seq((2L, true), (3L, false), (9L, true)).toDF("k", "is_del")
      .createOrReplaceTempView("dml_delonly_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_delonly_feed AS s ON t.k = s.k
        WHEN MATCHED AND s.is_del THEN DELETE
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", 10.0), (3L, "c", 30.0)), s"got $rows")
  }

  test("DELETE+INSERT MERGE: matched rows delete-or-keep, unmatched insert") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // k=2 matched+del (delete), k=1 matched, not del (NO update clause:
    // values must NOT overwrite), k=7 unmatched (insert)
    Seq((2L, "x", 0.0, true), (1L, "X", 99.0, false), (7L, "q", 70.0, false))
      .toDF("k", "g", "v", "is_del")
      .createOrReplaceTempView("dml_delins_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_delins_feed AS s ON t.k = s.k
        WHEN MATCHED AND s.is_del THEN DELETE
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "a", 10.0), (7L, "q", 70.0)), s"got $rows")
  }

  test("duplicate ON conjuncts binding one key to different sources are rejected") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, "a", 1.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    Seq((1L, 2L, "a", 2.0, false)).toDF("k", "k2", "g", "v", "is_del")
      .createOrReplaceTempView("dml_dupkey_feed")
    withCatalog(w) { cat =>
      val e = intercept[Exception](spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_dupkey_feed AS s
        ON t.k = s.k AND t.k = s.k2
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
      """))
      assert(e.getMessage.contains("multiple different source expressions"))
    }
    assert(KeyedTable.readSql(spark, w, "t").head().getDouble(2) == 1.0)
  }

  test("conditional WHEN MATCHED UPDATE: matched rows failing the condition keep") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // k=1 matched+selected (update), k=2 matched+unselected (keep),
    // k=7 unmatched (insert)
    Seq((1L, "A", 11.0, true), (2L, "X", 99.0, false), (7L, "q", 70.0, true))
      .toDF("k", "g", "v", "sel")
      .createOrReplaceTempView("dml_condupd_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_condupd_feed AS s ON t.k = s.k
        WHEN MATCHED AND s.sel THEN UPDATE SET g = s.g, v = s.v
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "A", 11.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (7L, "q", 70.0)), s"got $rows")
  }

  test("conditional WHEN NOT MATCHED INSERT: unmatched rows failing it drop") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, "a", 10.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // k=1 matched (update), k=7 unmatched+selected (insert), k=8
    // unmatched+unselected (no action)
    Seq((1L, "A", 11.0, true), (7L, "q", 70.0, true), (8L, "r", 80.0, false))
      .toDF("k", "g", "v", "sel")
      .createOrReplaceTempView("dml_condins_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_condins_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
        WHEN NOT MATCHED AND s.sel THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "A", 11.0), (7L, "q", 70.0)), s"got $rows")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE: full-snapshot sync in one MERGE") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // snapshot: k=1 updated, k=5 new; k=2,3,4 absent → deleted, except
    // the BY SOURCE condition protects v >= 40
    Seq((1L, "A", 11.0), (5L, "e", 50.0)).toDF("k", "g", "v")
      .createOrReplaceTempView("dml_sync_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_sync_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
        WHEN NOT MATCHED BY SOURCE AND t.v < 40 THEN DELETE
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "A", 11.0), (4L, "d", 40.0), (5L, "e", 50.0)),
      s"got $rows")
  }

  test("WHEN NOT MATCHED BY SOURCE THEN UPDATE marks stale target rows") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "live", 10.0), (2L, "live", 20.0), (3L, "live", 30.0))
        .toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    Seq((1L, "live", 11.0)).toDF("k", "g", "v")
      .createOrReplaceTempView("dml_stale_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_stale_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET g = 'stale', v = t.v * 0.5
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "live", 11.0), (2L, "stale", 10.0),
      (3L, "stale", 15.0)), s"got $rows")
  }

  test("a BY-SOURCE-only MERGE prunes target rows absent from the source") {
    val w = wh()
    KeyedTable.toSql(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    // the keep-list: rows 1 and 3; row 2 is absent => deleted
    Seq((1L, 0), (3L, 0)).toDF("k", "pad")
      .createOrReplaceTempView("dml_bsonly_feed")
    withCatalog(w) { cat =>
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_bsonly_feed AS s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE THEN DELETE
      """)
    }
    val rows = KeyedTable.readSql(spark, w, "t")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 3L), s"got $rows")
  }

  test("BY SOURCE guards: source references and unfed columns are rejected") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, "a", 1.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    Seq((1L, "a", 2.0)).toDF("k", "g", "v")
      .createOrReplaceTempView("dml_bs_bad_feed")
    withCatalog(w) { cat =>
      // a BY SOURCE condition has no source row to reference
      val e1 = intercept[Exception](spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_bs_bad_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE
      """))
      assert(e1.getMessage.contains("BY SOURCE") ||
        e1.getMessage.contains("cannot be resolved")) // analyzer may catch first
      // assigning a column the matched clause does not carry: the feed
      // has no slot for it
      val e2 = intercept[Exception](spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_bs_bad_feed AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET g = 'x'
      """))
      assert(e2.getMessage.contains("do not carry"), e2.getMessage)
    }
    assert(KeyedTable.readSql(spark, w, "t").head().getDouble(2) == 1.0)
  }

  test("SQL UPDATE and MERGE capture CDC under the table property") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"),
      w, "t", pk = Seq("k"))
    // enable capture, then run both statements WITHOUT any flag
    KeyedTable.toSql(Seq((3L, 30.0)).toDF("k", "v"),
      w, "t", pk = Seq("k"), how = WriteMode.Upsert, changelog = true)
    Seq((2L, 0.0, true), (4L, 40.0, false)).toDF("k", "v", "is_del")
      .createOrReplaceTempView("dml_cdc_feed")
    withCatalog(w) { cat =>
      spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k = 1")
      spark.sql(s"""
        MERGE INTO $cat.t AS t USING dml_cdc_feed AS s ON t.k = s.k
        WHEN MATCHED AND s.is_del THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
      """)
    }
    val log = KeyedTable.readChangelog(spark, w, "t")
      .select(col("batch").cast("long"), col("k"), col("op")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(log == Set(
      (0L, 3L, "insert"),   // the enabling upsert
      (1L, 1L, "update"),   // SQL UPDATE
      (2L, 2L, "delete"), (2L, 4L, "insert")), // SQL MERGE, one batch
      s"got $log")
  }

  test("merge with expectedVersion refuses to commit past a newer snapshot") {
    val w = wh()
    KeyedTable.toSql(Seq((1L, "a", 1.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"))
    val pinned = Some(Manifest.current(spark,
      KeyedTable.tableDir(w, "t")).version)
    // a commit lands between the (hypothetical) routing read and merge
    KeyedTable.toSql(Seq((2L, "b", 2.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"), how = WriteMode.Append)
    val feed = Seq((1L, "A", 9.0, false)).toDF("k", "g", "v", "is_del")
    intercept[ConcurrentWriteException] {
      KeyedTable.merge(feed, w, "t", deleteWhen = col("is_del"),
        expectedVersion = pinned)
    }
    // the table is unchanged by the refused merge; a re-pinned retry lands
    assert(KeyedTable.readSql(spark, w, "t")
      .filter(col("k") === 1L).head().getDouble(2) == 1.0)
    KeyedTable.merge(feed, w, "t", deleteWhen = col("is_del"),
      expectedVersion = Some(Manifest.current(spark,
        KeyedTable.tableDir(w, "t")).version))
    assert(KeyedTable.readSql(spark, w, "t")
      .filter(col("k") === 1L).head().getDouble(2) == 9.0)
  }
}
