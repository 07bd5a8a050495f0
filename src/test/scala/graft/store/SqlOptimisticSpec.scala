package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempDirs}

/** `TBLPROPERTIES('commit_mode'='optimistic')` — table-property
  * routing of SQL DML onto the bucket-level optimistic twins: a
  * Spark-SQL-only writer (the common case for orchestrated pipelines)
  * gets the same multi-writer behavior as the programmatic API. The
  * manifest's per-commit `op` string is the routing witness:
  * `updateConcurrent` / `deleteConcurrent` / `mergeConcurrent` /
  * `appendConcurrent` vs the locked `update` / `delete` /
  * `upsert(merge)` / `append`. */
class SqlOptimisticSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-sqlopt")
  private val catN = new java.util.concurrent.atomic.AtomicLong()

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal")
  }

  private def withCat[A](body: String => A): A = {
    val cat = s"graft_sqlopt${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try body(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  private def currentOp(t: String): Option[String] =
    Manifest.current(spark, KeyedTable.tableDir(wh, t)).op

  test("SET/UNSET TBLPROPERTIES('commit_mode') routes every SQL DML " +
      "verb onto the optimistic twins and back") {
    val t = "t_sqlopt_route"
    KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    withCat { cat =>
      // locked by default
      spark.sql(s"UPDATE $cat.$t SET bal = bal + 1 WHERE id <= 10")
      assert(currentOp(t).contains("update"))
      spark.sql(
        s"ALTER TABLE $cat.$t SET TBLPROPERTIES('commit_mode'='optimistic')")
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.$t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props("commit_mode") == "optimistic")
      spark.sql(s"UPDATE $cat.$t SET bal = bal + 1 WHERE id <= 10")
      assert(currentOp(t).contains("updateConcurrent"))
      spark.sql(s"INSERT INTO $cat.$t VALUES (100, 'ins', 5.0, NULL)")
      assert(currentOp(t).contains("appendConcurrent"))
      spark.sql(s"DELETE FROM $cat.$t WHERE id = 100")
      assert(currentOp(t).exists(_.startsWith("deleteConcurrent")))
      spark.sql(s"""MERGE INTO $cat.$t tgt
        USING (SELECT 7L AS id, 'M' AS name, 9.0 AS bal,
                      CAST(NULL AS INT) AS ${KeyedTable.BucketCol}) src
        ON tgt.id = src.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(currentOp(t).contains("mergeConcurrent"))
      // back to locked
      spark.sql(s"ALTER TABLE $cat.$t UNSET TBLPROPERTIES('commit_mode')")
      spark.sql(s"UPDATE $cat.$t SET bal = bal + 1 WHERE id <= 10")
      assert(currentOp(t).contains("update"))
      // content stayed coherent through the mode flips
      val got = KeyedTable.readSql(spark, wh, t).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
      assert(got(7L) == 9.0 + 1.0) // merge post-image + final update
      assert(got(20L) == 20.0)
      assert(!got.contains(100L))
    }
  }

  test("two SQL UPDATEs on disjoint buckets race: the staged one " +
      "commits through the interferer's window") {
    val t = "t_sqlopt_race"
    KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    val byBucket = spark.read.parquet(KeyedTable.dataDir(wh, t))
      .select(col("id"), col(KeyedTable.BucketCol))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val keysA = byBucket(byBucket.keys.min)
    val keysB = byBucket(byBucket.keys.max)
    withCat { cat =>
      spark.sql(
        s"ALTER TABLE $cat.$t SET TBLPROPERTIES('commit_mode'='optimistic')")
      // while A's SQL UPDATE is staged-but-uncommitted, B's commits
      // (fire-once guard: B's statement re-enters updateConcurrent and
      // would otherwise re-trigger this same global hook forever)
      var fired = false
      KeyedTable.UpdateConcurrentHooks.betweenPhases = () =>
        if (!fired) {
          fired = true
          spark.sql(s"UPDATE $cat.$t SET bal = -2.0 " +
            s"WHERE id IN (${keysB.mkString(",")})")
        }
      try spark.sql(s"UPDATE $cat.$t SET bal = -1.0 " +
        s"WHERE id IN (${keysA.mkString(",")})")
      finally KeyedTable.UpdateConcurrentHooks.betweenPhases = () => ()
      val got = KeyedTable.readSql(spark, wh, t).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
      keysA.foreach(k => assert(got(k) == -1.0, s"A's update on $k"))
      keysB.foreach(k => assert(got(k) == -2.0, s"B's update on $k"))
    }
  }

  private def causeChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("an overlapping-bucket conflict AUTO-RETRIES inside the " +
      "statement: one interference, three verb entries, no caller loop") {
    val t = "t_sqlopt_autoretry"
    KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    withCat { cat =>
      spark.sql(
        s"ALTER TABLE $cat.$t SET TBLPROPERTIES('commit_mode'='optimistic')")
      val entries = new java.util.concurrent.atomic.AtomicInteger(0)
      var fired = false
      KeyedTable.UpdateConcurrentHooks.betweenPhases = () => {
        entries.incrementAndGet()
        if (!fired) {
          fired = true
          // SAME keys → every staged bucket moves → the statement's
          // first flip conflicts and must retry INTERNALLY
          spark.sql(s"UPDATE $cat.$t SET bal = bal + 1000 WHERE id <= 40")
        }
      }
      try spark.sql(s"UPDATE $cat.$t SET bal = bal + 1 WHERE id <= 40")
      finally KeyedTable.UpdateConcurrentHooks.betweenPhases = () => ()
      // attempt 1 + the interferer + attempt 2 — the retry happened
      // inside the statement, and attempt 2 re-read the fresh state
      assert(entries.get() == 3, s"verb entries: ${entries.get()}")
      val got = KeyedTable.readSql(spark, wh, t).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
      (1L to 40L).foreach(i => assert(got(i) == i + 1001.0, s"key $i"))
    }
  }

  test("retry exhaustion surfaces ConcurrentWriteException naming the " +
      "dial; a bogus maxRetries value refuses loudly") {
    val t = "t_sqlopt_exhaust"
    KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    withCat { cat =>
      spark.sql(
        s"ALTER TABLE $cat.$t SET TBLPROPERTIES('commit_mode'='optimistic')")
      spark.conf.set(KeyedTable.SqlMaxRetriesConf, "1")
      // interfere on EVERY attempt of the statement under test (the
      // guard keeps the interferer's own verb entry from recursing)
      val inHook = new java.util.concurrent.atomic.AtomicBoolean(false)
      KeyedTable.UpdateConcurrentHooks.betweenPhases = () =>
        if (inHook.compareAndSet(false, true))
          try spark.sql(
            s"UPDATE $cat.$t SET bal = bal + 1000 WHERE id <= 40"): Unit
          finally inHook.set(false)
      try {
        val e = intercept[Exception] {
          spark.sql(s"UPDATE $cat.$t SET bal = bal + 1 WHERE id <= 40")
        }
        assert(causeChain(e).exists(x =>
          x.isInstanceOf[ConcurrentWriteException] &&
          x.getMessage.contains(KeyedTable.SqlMaxRetriesConf)), e.toString)
      } finally {
        KeyedTable.UpdateConcurrentHooks.betweenPhases = () => ()
        spark.conf.unset(KeyedTable.SqlMaxRetriesConf)
      }
      spark.conf.set(KeyedTable.SqlMaxRetriesConf, "many")
      try {
        val e2 = intercept[Exception] {
          spark.sql(s"UPDATE $cat.$t SET bal = bal + 1 WHERE id <= 40")
        }
        assert(causeChain(e2).exists(x => x.getMessage != null &&
          x.getMessage.contains("positive integer")), e2.toString)
      } finally spark.conf.unset(KeyedTable.SqlMaxRetriesConf)
    }
  }

  test("optimistic BY SOURCE merge is write-serializable by default (a " +
      "racing insert into an untouched bucket survives the sync); the " +
      "strict dial restores the locked contract via re-pinned retry") {
    // probe the key→bucket map on a twin (same pk hash + bucket count)
    KeyedTable.toSql(df((1L to 200L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, "t_sqlopt_probe", pk = Seq("id"), buckets = 4)
    val bucketOf = spark.read
      .parquet(KeyedTable.dataDir(wh, "t_sqlopt_probe"))
      .select(col("id"), col(KeyedTable.BucketCol))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val keep = (1L to 200L).filter(bucketOf(_) != 3).take(12)
    val ghost = (1L to 200L).find(bucketOf(_) == 3).get
    assert(keep.nonEmpty)

    def run(name: String, strict: Boolean): Map[Long, Double] = withCat {
      cat =>
        KeyedTable.toSql(df(keep.map(i => (i, s"n$i", i * 1.0)): _*),
          wh, name, pk = Seq("id"), buckets = 4)
        spark.sql(s"ALTER TABLE $cat.$name " +
          "SET TBLPROPERTIES('commit_mode'='optimistic')")
        // feed = EVERY current key (no BY-SOURCE rows at plan time) —
        // touched buckets exclude the ghost's
        df(keep.map(i => (i, s"n$i", i + 0.5)): _*)
          .createOrReplaceTempView(s"${name}_feed")
        if (strict)
          spark.conf.set(graft.plans.GraftSqlDml.BySourceStrictConf, "true")
        var fired = false
        KeyedTable.MergeConcurrentHooks.betweenPhases = () =>
          if (!fired) {
            fired = true
            // lands in bucket 3 — untouched by the staged merge
            spark.sql(s"INSERT INTO $cat.$name " +
              s"VALUES ($ghost, 'ghost', -1.0, NULL)")
          }
        try spark.sql(s"""
          MERGE INTO $cat.$name AS t USING ${name}_feed AS s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET bal = s.bal
          WHEN NOT MATCHED BY SOURCE THEN DELETE
        """)
        finally {
          KeyedTable.MergeConcurrentHooks.betweenPhases = () => ()
          if (strict)
            spark.conf.unset(graft.plans.GraftSqlDml.BySourceStrictConf)
        }
        KeyedTable.readSql(spark, wh, name).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
    }

    // default: write-serializable — the ghost was not in the pinned
    // routing set and its bucket window never moved for the merge, so
    // the full-snapshot sync did NOT delete it (the documented anomaly)
    val relaxed = run("t_sqlopt_ws", strict = false)
    assert(relaxed.get(ghost).contains(-1.0), s"got $relaxed")
    keep.foreach(i => assert(relaxed(i) == i + 0.5))

    // strict: ANY version movement aborts the flip; the statement's
    // auto-retry re-pins routing, sees the ghost, and the sync deletes
    // it — the locked path's strict-serializable outcome
    val strictGot = run("t_sqlopt_strict", strict = true)
    assert(!strictGot.contains(ghost), s"got $strictGot")
    keep.foreach(i => assert(strictGot(i) == i + 0.5))

    // bogus dial value refuses loudly
    spark.conf.set(graft.plans.GraftSqlDml.BySourceStrictConf, "yolo")
    try {
      val e = intercept[Exception] {
        graft.plans.GraftSqlDml.bySourceStrict(spark)
      }
      assert(e.getMessage.contains("true/false"))
    } finally spark.conf.unset(graft.plans.GraftSqlDml.BySourceStrictConf)
  }

  test("CREATE TABLE accepts commit_mode; bad values refuse loudly") {
    withCat { cat =>
      spark.sql(s"""CREATE TABLE $cat.t_sqlopt_create (k BIGINT, v STRING)
        TBLPROPERTIES('primary_key'='k', 'buckets'='2',
                      'commit_mode'='optimistic')""")
      spark.sql(s"INSERT INTO $cat.t_sqlopt_create VALUES (1, 'a', NULL)")
      assert(currentOp("t_sqlopt_create").contains("appendConcurrent"))
      val e = intercept[Exception] {
        KeyedTable.setCommitMode(spark, wh, "t_sqlopt_create", "yolo")
      }
      assert(e.getMessage.contains("commit_mode"), e.getMessage)
      // all-or-nothing CREATE: a bogus commit_mode fails BEFORE the
      // table exists (same contract as the other property validations)
      val e2 = intercept[Exception] {
        spark.sql(s"""CREATE TABLE $cat.t_sqlopt_badmode (k BIGINT)
          TBLPROPERTIES('primary_key'='k', 'commit_mode'='yolo')""")
      }
      assert(e2.getMessage.contains("commit_mode"), e2.getMessage)
      assert(!TableMeta.exists(spark,
        KeyedTable.tableDir(wh, "t_sqlopt_badmode")))
    }
  }

  test("auto-index tables keep SQL INSERT on the locked path (id " +
      "assignment arbitrates under the lock)") {
    withCat { cat =>
      spark.sql(s"""CREATE TABLE $cat.t_sqlopt_auto (v STRING)
        TBLPROPERTIES('auto_index'='true', 'commit_mode'='optimistic')""")
      spark.sql(s"INSERT INTO $cat.t_sqlopt_auto VALUES (NULL, 'a', NULL)")
      assert(currentOp("t_sqlopt_auto").exists(!_.contains("Concurrent")))
      assert(KeyedTable.readSql(spark, wh, "t_sqlopt_auto").count() == 1)
    }
  }
}
