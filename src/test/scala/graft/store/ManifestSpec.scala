package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.TempDirs

/** Snapshot semantics of the manifest layer: lock-free readers racing
  * any mutation observe a complete snapshot (old or new, never a
  * partial table), old snapshots stay readable until vacuum expires
  * them (time travel), and a table without a manifest fails loudly. */
class ManifestSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-manifest")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private def ids(d: DataFrame): Seq[Long] =
    d.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
    (4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0))

  test("reader racing an upsert sees the OLD snapshot, never a partial one") {
    val t = "t_race"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 4)
    // the reader plans BEFORE the mutation commits: its file list is the
    // version-0 snapshot — exactly the in-flight-read-during-swap race
    // the old dir-swap protocol could tear
    val before = KeyedTable.readSql(spark, wh, t)
    val beforeV2 = KeyedTableSource.read(spark, wh, t)
    KeyedTable.toSql(df((2L, "B", 20.0), (7L, "g", 7.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Upsert)
    // the pre-commit readers still resolve completely — all 6 old rows,
    // old values, no missing bucket (superseded files await vacuum)
    assert(ids(before) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(before.filter(col("id") === 2L).head().getString(1) == "b")
    assert(ids(beforeV2) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // a fresh reader sees the new snapshot
    val after = KeyedTable.readSql(spark, wh, t)
    assert(ids(after) == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(after.filter(col("id") === 2L).head().getString(1) == "B")
  }

  test("reader racing a rebucket keeps its complete old-layout snapshot") {
    val t = "t_race_rebucket"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 4)
    val before = KeyedTable.readSql(spark, wh, t)
    KeyedTable.rebucket(spark, wh, t, 8)
    assert(ids(before) == Seq(1L, 2L, 3L, 4L, 5L, 6L)) // old layout, whole
    val after = KeyedTable.readSql(spark, wh, t)
    assert(ids(after) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // pruned point lookup agrees with the new count
    assert(ids(KeyedTable.readSql(spark, wh, t,
      lowest = Seq(5L), highest = Seq(5L))) == Seq(5L))
  }

  test("time travel: asOfVersion reads the table as it stood at each commit") {
    val t = "t_travel"
    KeyedTable.toSql(df(base.take(3): _*), wh, t, pk = Seq("id"))     // v0
    KeyedTable.toSql(df((4L, "d", 4.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Append)                                          // v1
    KeyedTable.toSql(df((1L, "A", 10.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert)                                          // v2
    KeyedTable.delete(spark, wh, t, col("id") === 2L): Unit            // v3
    assert(Manifest.versions(spark, s"$wh/$t") == Seq(0L, 1L, 2L, 3L))
    assert(ids(KeyedTable.readSql(spark, wh, t, asOfVersion = Some(0L))) ==
      Seq(1L, 2L, 3L))
    assert(ids(KeyedTable.readSql(spark, wh, t, asOfVersion = Some(1L))) ==
      Seq(1L, 2L, 3L, 4L))
    val v2 = KeyedTable.readSql(spark, wh, t, asOfVersion = Some(2L))
    assert(ids(v2) == Seq(1L, 2L, 3L, 4L))
    assert(v2.filter(col("id") === 1L).head().getString(1) == "A")
    assert(ids(KeyedTable.readSql(spark, wh, t)) == Seq(1L, 3L, 4L))
    val e = intercept[StoreException] {
      KeyedTable.readSql(spark, wh, t, asOfVersion = Some(9L))
    }
    assert(e.getMessage.contains("available: 0, 1, 2, 3"))
  }

  test("vacuum expires superseded files and snapshots; current stays whole") {
    val t = "t_vacuum"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.toSql(df((1L, "A", 10.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert)
    KeyedTable.toSql(df((2L, "B", 20.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert)
    val removed = KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L)
    assert(removed > 0) // superseded bucket files + manifests v0, v1
    assert(Manifest.versions(spark, s"$wh/$t") == Seq(2L))
    val cur = KeyedTable.readSql(spark, wh, t)
    assert(ids(cur) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(cur.filter(col("id") === 1L).head().getString(1) == "A")
    // every file on disk is referenced: a second vacuum removes nothing
    assert(KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L) == 0)
    intercept[StoreException] {
      KeyedTable.readSql(spark, wh, t, asOfVersion = Some(0L))
    }
  }

  test("vacuum reaps manifest-commit temp files, even with no committed manifest") {
    val t = "t_vacuum_tmp"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 2)
    val mdir = Manifest.dir(s"$wh/$t")
    val f = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between Manifest.commit's create and rename leaves this;
    // by construction it is never referenced once the commit returns
    val orphan = new Path(mdir, ".tmp-deadbeef")
    f.create(orphan, false).close()
    assert(KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L) >= 1)
    assert(!f.exists(orphan), "vacuum left the manifest temp file")
    // the current manifest survives; the table still reads whole
    assert(ids(KeyedTable.readSql(spark, wh, t)) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // the failed-FIRST-commit shape: a table dir with a temp but NO
    // committed v*.json (the expiry loop never runs for these)
    val t2dir = s"$wh/t_vacuum_tmp_nofirst"
    f.mkdirs(new Path(t2dir))
    TableMeta.write(spark, t2dir,
      TableMeta(Seq("id"), autoIndex = false,
        KeyedTable.readSql(spark, wh, t).schema))
    val m2 = Manifest.dir(t2dir)
    f.mkdirs(m2)
    val orphan2 = new Path(m2, ".tmp-cafe")
    f.create(orphan2, false).close()
    assert(KeyedTable.vacuum(spark, wh, "t_vacuum_tmp_nofirst",
      olderThanMs = 0L) >= 1)
    assert(!f.exists(orphan2),
      "vacuum skipped the temp file of a never-committed first manifest")
    // publish temps of every ref, not only the base `_manifests/`: the
    // changelog floor's, a branch's fork record's, manifests' and
    // changelog floor's, and a table-root meta temp
    Branches.create(spark, wh, t, "b")
    val brDir = new Path(s"$wh/$t/${Branches.DirName}/b")
    val crashed = Seq(
      new Path(s"$wh/$t/${KeyedTable.ChangelogDir}", ".tmp-floor-dead"),
      new Path(brDir, ".tmp-fork-dead"),
      new Path(Manifest.dir(brDir.toString), ".tmp-beef"),
      new Path(brDir, s"${KeyedTable.ChangelogDir}/.tmp-floor-beef"),
      new Path(s"$wh/$t", ".tmp-meta-dead"))
    val hourMs = 3600L * 1000
    val twoHoursAgo = System.currentTimeMillis() - 2 * hourMs
    crashed.foreach { tmp =>
      f.create(tmp, false).close()
      f.setTimes(tmp, twoHoursAgo, twoHoursAgo)
    }
    // one publish in flight: younger than the age bound
    val fresh = new Path(brDir, ".tmp-fork-live")
    f.create(fresh, false).close()
    assert(KeyedTable.vacuum(spark, wh, t, olderThanMs = hourMs,
      dryRun = true) == crashed.size)
    assert(crashed.forall(f.exists), "a dry run deleted a temp")
    assert(KeyedTable.vacuum(spark, wh, t, olderThanMs = hourMs) ==
      crashed.size)
    crashed.foreach(tmp => assert(!f.exists(tmp), s"vacuum left $tmp"))
    assert(f.exists(fresh), "vacuum reaped a temp younger than the bound")
    assert(ids(KeyedTable.readSql(spark, wh, s"$t@b")) ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("vacuum keeps files referenced by ANY surviving manifest, not just the current") {
    val t = "t_vacuum_travel"
    KeyedTable.toSql(df(base.take(3): _*), wh, t, pk = Seq("id"), buckets = 2) // v0
    KeyedTable.toSql(df((1L, "A", 10.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert)                                                   // v1
    // age ALL data files far past the cutoff while the manifests stay
    // young: supersession time, not file creation time, must decide —
    // v0's files are superseded by v1 but v0 itself is unexpired
    val f = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    val data = new Path(s"$wh/$t/data")
    f.listStatus(data).filter(_.isDirectory).foreach { d =>
      f.listStatus(d.getPath).foreach(st => f.setTimes(st.getPath, old, old))
    }
    assert(KeyedTable.vacuum(spark, wh, t, olderThanMs = 24L * 3600 * 1000) == 0)
    // both snapshots still read whole
    assert(ids(KeyedTable.readSql(spark, wh, t, asOfVersion = Some(0L))) ==
      Seq(1L, 2L, 3L))
    assert(KeyedTable.readSql(spark, wh, t, asOfVersion = Some(0L))
      .filter(col("id") === 1L).head().getString(1) == "a")
    assert(KeyedTable.readSql(spark, wh, t)
      .filter(col("id") === 1L).head().getString(1) == "A")
  }

  test("a table without a manifest fails every entry point and commits nothing") {
    val t = "t_no_manifest"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 2)
    val dir = s"$wh/$t"
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] =
      f.listStatus(new Path(dir, "data")).filter(_.isDirectory)
        .flatMap(d => f.listStatus(d.getPath).map(_.getPath.toString)).toSet
    val filesBefore = dataFiles()
    val metaBefore = TableMeta.read(spark, dir)
    f.delete(Manifest.dir(dir), true)
    Manifest.invalidate(dir)
    val cat = "graft_mspec_nomf"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // the StoreException itself, or the one a Spark layer wrapped
    def storeError(what: String)(body: => Any): String = {
      val e = intercept[Throwable](body)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .collectFirst { case s: StoreException => s.getMessage }
        .getOrElse(fail(s"$what failed without a StoreException: $e"))
    }
    val one = df((7L, "g", 7.0))
    val messages = Seq(
      "readSql" -> storeError("readSql")(
        KeyedTable.readSql(spark, wh, t).collect()),
      "KeyedTableSource.read" -> storeError("KeyedTableSource.read")(
        KeyedTableSource.read(spark, wh, t).collect()),
      "SQL SELECT" -> storeError("SQL SELECT")(
        spark.sql(s"SELECT * FROM $cat.$t").collect()),
      "toSql append" -> storeError("toSql append")(
        KeyedTable.toSql(one, wh, t, pk = Seq("id"), how = WriteMode.Append)),
      "appendConcurrent" -> storeError("appendConcurrent")(
        KeyedTable.appendConcurrent(one, wh, t)),
      "upsertConcurrent" -> storeError("upsertConcurrent")(
        KeyedTable.upsertConcurrent(one, wh, t)),
      "update" -> storeError("update")(
        KeyedTable.update(spark, wh, t, col("id") === 1L,
          Map("v" -> lit(0.0)))),
      "compact" -> storeError("compact")(
        KeyedTable.compact(spark, wh, t, minFiles = 1)),
      "compactIfNeeded" -> storeError("compactIfNeeded")(
        KeyedTable.compactIfNeeded(spark, wh, t, maxFilesPerBucket = 0)),
      "zorderCompact" -> storeError("zorderCompact")(
        KeyedTable.zorderCompact(spark, wh, t, Seq("id", "v"))),
      "rebucket" -> storeError("rebucket")(
        KeyedTable.rebucket(spark, wh, t, 4)),
      "Branches.create" -> storeError("Branches.create")(
        Branches.create(spark, wh, t, "b1")),
      "restoreSnapshot" -> storeError("restoreSnapshot")(
        KeyedTable.restoreSnapshot(spark, wh, t, version = Some(0L))))
    val expected = messages.head._2
    assert(expected.contains("has no manifest snapshot") &&
      expected.contains(t), expected)
    messages.foreach { case (what, m) =>
      assert(m == expected, s"$what failed with a different error: $m")
    }
    // nothing committed: no manifest, no staging, no branch, the same
    // data files and meta
    assert(Manifest.versions(spark, dir).isEmpty)
    assert(!f.listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith(".staging-")))
    assert(Branches.branchDirs(spark, dir).isEmpty)
    assert(dataFiles() == filesBefore)
    assert(TableMeta.read(spark, dir) == metaBefore)
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF resolve snapshots") {
    val t = "t_sql_travel"
    KeyedTable.toSql(df(base.take(3): _*), wh, t, pk = Seq("id"))      // v0
    KeyedTable.toSql(df((1L, "A", 10.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert)                                           // v1
    val cat = "graft_mspec_tt"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val v0 = spark.sql(s"SELECT name FROM $cat.$t VERSION AS OF 0 WHERE id = 1")
        .head().getString(0)
      assert(v0 == "a")
      val cur = spark.sql(s"SELECT name FROM $cat.$t WHERE id = 1")
        .head().getString(0)
      assert(cur == "A")
      // a far-future instant resolves to the newest snapshot
      val ts = spark.sql(
        s"SELECT name FROM $cat.$t TIMESTAMP AS OF '2999-01-01' WHERE id = 1")
        .head().getString(0)
      assert(ts == "A")
      // an instant before any commit fails loudly
      val e = intercept[Exception] {
        spark.sql(
          s"SELECT * FROM $cat.$t TIMESTAMP AS OF '1990-01-01'").collect()
      }
      assert(e.getMessage.contains("no snapshot") ||
        Option(e.getCause).exists(_.getMessage.contains("no snapshot")))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("scan planning reads the manifest, not the dirty directory") {
    val t = "t_dirty_dir"
    KeyedTable.toSql(df(base: _*), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.toSql(df((1L, "A", 10.0)), wh, t, pk = Seq("id"),
      how = WriteMode.Upsert)
    // the bucket dirs now hold live AND superseded files; every read
    // path must count each row exactly once
    assert(KeyedTable.readSql(spark, wh, t).count() == 6L)
    assert(KeyedTableSource.read(spark, wh, t).count() == 6L)
    val stats = KeyedTable.bucketStats(spark, wh, t)
      .agg(org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0)
    assert(stats == 6L)
  }
}
