package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The crash-safety contract of the manifest commit protocol
  * (KeyedTable.flip + Manifest.commit): Hadoop renames report
  * failure by RETURNING FALSE, and a false return at any point — moving
  * a staged file in, or flipping the manifest — must never lose a row:
  * the current snapshot stays live and complete, the mutation aborts
  * loudly. Verified by running real mutations on a [[FaultyFileSystem]]
  * armed to fail exactly the rename under test. */
class CommitFaultSpec extends SparkSpec {

  private lazy val wh: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val local = Files.createTempDirectory("graft-fault").toString
    s"faulty://$local"
  }

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private def rowsOf(table: String): Seq[(Long, String, Double)] =
    KeyedTable.readSql(spark, wh, table).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  private val base = Seq(1L -> ("a", 1.0), 2L -> ("b", 2.0), 3L -> ("c", 3.0),
    4L -> ("d", 4.0), 5L -> ("e", 5.0), 6L -> ("f", 6.0))
    .map { case (i, (n, v)) => (i, n, v) }

  private def freshTable(name: String): String = {
    KeyedTable.toSql(df(base: _*), wh, name, pk = Seq("id"), buckets = 4)
    name
  }

  private def version(table: String): Long =
    Manifest.current(spark, s"$wh/$table").version

  test("upsert: staged-file move fails -> snapshot unchanged, no row lost") {
    val t = freshTable("t_move_fail")
    val v0 = version(t)
    val up = df((2L, "B", 20.0), (7L, "g", 7.0))
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.toSql(up, wh, t, pk = Seq("id"), how = WriteMode.Upsert)
      }
    }
    assert(e.getMessage.contains("could not move staged file"))
    assert(e.getMessage.contains("current snapshot unchanged"))
    assert(version(t) == v0)      // no new snapshot committed
    assert(rowsOf(t) == base)     // live table byte-for-byte intact
    // not poisoned: the same upsert succeeds once renames work again
    KeyedTable.toSql(up, wh, t, pk = Seq("id"), how = WriteMode.Upsert)
    assert(version(t) == v0 + 1)
    assert(rowsOf(t) == Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0),
      (4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0), (7L, "g", 7.0)))
  }

  test("upsert: manifest flip fails -> moved-in files rolled back, table whole") {
    val t = freshTable("t_flip_fail")
    val v0 = version(t)
    val e = intercept[StoreException] {
      FaultyFileSystem.armed("/_manifests/.tmp-", "/_manifests/v") {
        KeyedTable.toSql(df((1L, "X", 9.9)), wh, t,
          pk = Seq("id"), how = WriteMode.Upsert)
      }
    }
    assert(e.getMessage.contains("could not commit manifest"))
    assert(version(t) == v0)
    assert(rowsOf(t) == base)
    KeyedTable.toSql(df((1L, "X", 9.9)), wh, t,
      pk = Seq("id"), how = WriteMode.Upsert)
    assert(rowsOf(t) == (1L, "X", 9.9) +: base.drop(1))
  }

  test("append: staged-file move fails -> nothing appended") {
    val t = freshTable("t_append_fail")
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.toSql(df((7L, "g", 7.0)), wh, t,
          pk = Seq("id"), how = WriteMode.Append)
      }
    }
    assert(e.getMessage.contains("commit aborted"))
    assert(rowsOf(t) == base)
    KeyedTable.toSql(df((7L, "g", 7.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Append)
    assert(rowsOf(t) == base :+ (7L, "g", 7.0))
  }

  test("compact: move fails -> every file still live and readable") {
    val t = "t_compact_fail"
    KeyedTable.toSql(df(base.take(3): _*), wh, t, pk = Seq("id"), buckets = 2)
    base.drop(3).foreach { r =>
      KeyedTable.toSql(df(r), wh, t, pk = Seq("id"), how = WriteMode.Append)
    }
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.compact(spark, wh, t, minFiles = 2)
      }
    }
    assert(e.getMessage.contains("current snapshot unchanged"))
    assert(rowsOf(t) == base)
    assert(KeyedTable.compact(spark, wh, t, minFiles = 2) > 0)
    assert(rowsOf(t) == base)
  }

  test("delete: move fails -> nothing deleted") {
    import org.apache.spark.sql.functions.col
    val t = freshTable("t_delete_fail")
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.delete(spark, wh, t, col("id") <= 2L)
      }
    }
    assert(e.getMessage.contains("current snapshot unchanged"))
    assert(rowsOf(t) == base)
    assert(KeyedTable.delete(spark, wh, t, col("id") <= 2L) == 2L)
    assert(rowsOf(t) == base.drop(2))
  }

  test("zorder and rebucket: move fails -> table intact, then succeed clean") {
    val t = freshTable("t_maint_fail")
    intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.zorderCompact(spark, wh, t, Seq("id", "v"))
      }
    }
    assert(rowsOf(t) == base)
    intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.rebucket(spark, wh, t, 8)
      }
    }
    assert(rowsOf(t) == base)
    KeyedTable.zorderCompact(spark, wh, t, Seq("id", "v"))
    KeyedTable.rebucket(spark, wh, t, 8)
    assert(rowsOf(t) == base)
    // point lookup agrees with the new bucket count
    assert(KeyedTable.readSql(spark, wh, t, lowest = Seq(3L), highest = Seq(3L))
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("fastForward: manifest flip fails -> base unpublished, branch whole, retry clean") {
    val t = freshTable("t_ff_fault")
    val fork = Branches.create(spark, wh, t, "stage")
    KeyedTable.toSql(df((7L, "g", 7.0)), wh, s"$t@stage",
      pk = Seq("id"), how = WriteMode.Append)
    // arm exactly the BASE manifest flip (tmp -> v<N>.json under the
    // base _manifests dir, not the branch's)
    intercept[StoreException] {
      FaultyFileSystem.armed(s"/$t/_manifests/.tmp-",
          s"/$t/_manifests/v") {
        Branches.fastForward(spark, wh, t, "stage")
      }
    }
    // nothing published: base at the fork point, branch head intact
    assert(rowsOf(t) == base)
    assert(version(t) == fork)
    assert(KeyedTable.readSql(spark, wh, s"$t@stage").count() == 7L)
    // the retry publishes cleanly (fork record untouched by the abort)
    assert(Branches.fastForward(spark, wh, t, "stage") == fork + 1)
    assert(rowsOf(t).map(_._1) == (1L to 7L))
  }

  /** Everything a failed flip must leave as it was: the manifest
    * (version, files, delete vectors), every file in the bucket dirs
    * (no moved-in leftover) and the rows. */
  private def commitState(table: String)
      : (Long, Map[Int, Seq[ManifestFile]], Map[Int, Seq[ManifestFile]],
         Set[String], Seq[(Long, String, Double)]) = {
    import org.apache.hadoop.fs.Path
    val m = Manifest.current(spark, s"$wh/$table")
    val data = new Path(s"$wh/$table/data")
    val f = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = f.listStatus(data).filter(_.isDirectory).flatMap { d =>
      f.listStatus(d.getPath).map(st => s"${d.getPath.getName}/${st.getPath.getName}")
    }.toSet
    (m.version, m.files, m.dvs, onDisk, rowsOf(table))
  }

  /** A merge-on-read commit moves its post-image files in first, then
    * its delete-vector sidecars: fail the first sidecar rename (staged
    * `part-*` -> live `<commit>-dv-part-*`; the staging dir names
    * contain `-dv-` too, so the pattern pins the sidecar's live name). */
  private def dvMoveFails(table: String)(mutation: => Any): Unit = {
    val before = commitState(table)
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "-dv-part-")(mutation)
    }
    assert(e.getMessage.contains("could not move staged file"), e.getMessage)
    assert(e.getMessage.contains("commit aborted, current snapshot unchanged"))
    assert(commitState(table) == before)
  }

  test("MoR update: DV move fails after the post-images moved -> " +
       "snapshot, files and rows unchanged, retry lands") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = freshTable("t_mor_update_fail")
    def run() = KeyedTable.update(spark, wh, t, col("id") <= 2L,
      Map("v" -> lit(0.5)), mode = DeleteMode.MergeOnRead)
    dvMoveFails(t)(run())
    assert(run() == 2L)
    assert(Manifest.current(spark, s"$wh/$t").dvs.nonEmpty)
    assert(rowsOf(t) == Seq((1L, "a", 0.5), (2L, "b", 0.5)) ++ base.drop(2))
  }

  test("MoR merge: DV move fails after the post-images moved -> " +
       "snapshot, files and rows unchanged, retry lands") {
    import org.apache.spark.sql.functions.col
    val t = freshTable("t_mor_merge_fail")
    def run() = KeyedTable.merge(df((2L, "B", 20.0), (3L, "x", 0.0),
        (7L, "g", 7.0)), wh, t, col("id") === 3L,
      mode = DeleteMode.MergeOnRead)
    dvMoveFails(t)(run())
    assert(run() == ((1L, 1L, 1L)))
    assert(Manifest.current(spark, s"$wh/$t").dvs.nonEmpty)
    assert(rowsOf(t) == Seq((1L, "a", 1.0), (2L, "B", 20.0), (4L, "d", 4.0),
      (5L, "e", 5.0), (6L, "f", 6.0), (7L, "g", 7.0)))
  }

  test("stream epoch: data move fails -> ledger and table unchanged, " +
       "the replay commits the epoch exactly once") {
    val t = freshTable("t_stream_fail")
    val tblDir = KeyedTable.tableDir(wh, t)
    // each attempt (and each replay) stages the epoch afresh
    def commitEpoch(): Unit = SinkEpoch.commit(spark, wh, t,
      df((7L, "g", 7.0), (8L, "h", 8.0)), 4, "q", 0L)
    val before = commitState(t)
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-stream-", "/data/pb_bucket=") {
        commitEpoch()
      }
    }
    assert(e.getMessage.contains("could not move staged file"), e.getMessage)
    assert(commitState(t) == before)
    assert(!Manifest.current(spark, tblDir).streams.contains("q"))
    commitEpoch()
    val landed = Manifest.current(spark, tblDir)
    assert(landed.version == before._1 + 1 && landed.streams("q") == 0L)
    assert(rowsOf(t) == base ++ Seq((7L, "g", 7.0), (8L, "h", 8.0)))
    // a second replay of the committed epoch is a no-op
    commitEpoch()
    assert(Manifest.current(spark, tblDir).version == landed.version)
    assert(rowsOf(t) == base ++ Seq((7L, "g", 7.0), (8L, "h", 8.0)))
  }

  test("failed commits leave only vacuumable leftovers, never live-data gaps") {
    val t = freshTable("t_leftovers")
    intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "/data/pb_bucket=") {
        KeyedTable.toSql(df((3L, "Z", 0.0)), wh, t,
          pk = Seq("id"), how = WriteMode.Upsert)
      }
    }
    assert(rowsOf(t) == base)
    KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L): Unit
    assert(rowsOf(t) == base)
  }

  test("meta publish rename fails -> OLD meta intact and readable, the " +
       "edit aborts loudly, no truncated/partial meta ever exists") {
    val t = freshTable("t_meta_fail")
    val dir = s"$wh/$t"
    val before = TableMeta.read(spark, dir)
    assert(before.statsCols.isEmpty)
    // arm exactly the meta publish rename (.tmp-meta-* -> _graft_meta.json);
    // on this scheme the FileContext overwrite fallback has no binding
    // either, so the write must abort with the previous meta untouched
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".tmp-meta-", TableMeta.FileName) {
        KeyedTable.setStatsColumns(spark, wh, t, Seq("v"))
      }
    }
    assert(e.getMessage.contains("PREVIOUS metadata is intact"), e.getMessage)
    // the old meta is byte-complete: a fresh parse sees the pre-edit state
    assert(TableMeta.read(spark, dir).statsCols.isEmpty)
    assert(rowsOf(t) == base) // and the table still reads end-to-end
    // no staged-temp debris left behind by the aborted publish
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith(".tmp-meta-")))
    // not poisoned: the same edit succeeds once renames work again
    KeyedTable.setStatsColumns(spark, wh, t, Seq("v"))
    assert(TableMeta.read(spark, dir).statsCols == Seq("v"))
  }

  test("meta publish: tmp-stage write fails -> old meta untouched " +
       "(the truncate-in-place shape is structurally gone)") {
    val t = freshTable("t_meta_stage_fail")
    val dir = s"$wh/$t"
    val metaPath = TableMeta.path(dir)
    val f = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytesBefore = f.getFileStatus(metaPath).getLen
    // even while a (failing) edit is in flight, the live meta file is
    // never opened for write: its length/content cannot regress
    intercept[StoreException] {
      FaultyFileSystem.armed(".tmp-meta-", TableMeta.FileName) {
        KeyedTable.setChangelog(spark, wh, t, enabled = true)
      }
    }
    assert(f.getFileStatus(metaPath).getLen == bytesBefore)
    assert(!TableMeta.read(spark, dir).changelog)
  }

  /** Arms the publish rename of the small file at `target` (tmp sibling
    * `.tmp-<kind>-*` -> target), runs `edit`, and checks the atomic
    * replace contract: the edit throws, the old file is byte-intact,
    * and no tmp sibling is left behind. */
  private def failedPublishLeavesOldFile(target: org.apache.hadoop.fs.Path,
                                         kind: String)(edit: => Any): Unit = {
    val f = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(): Seq[Byte] = {
      val in = f.open(target)
      try in.readAllBytes().toSeq finally in.close()
    }
    val before = bytes()
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(s".tmp-$kind-", target.getName)(edit)
    }
    assert(e.getMessage.contains("is intact"), e.getMessage)
    assert(bytes() == before, s"$target changed by a failed publish")
    assert(!f.listStatus(target.getParent)
      .exists(_.getPath.getName.startsWith(s".tmp-$kind-")))
  }

  test("changelog floor publish fails -> old floor intact, nothing reaped") {
    import org.apache.hadoop.fs.Path
    val t = freshTable("t_floor_fail")
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    (7L to 10L).foreach { i =>
      KeyedTable.toSql(df((i, "n", i * 1.0)), wh, t,
        pk = Seq("id"), how = WriteMode.Append)   // batches 0..3
    }
    assert(KeyedTable.expireChangelog(spark, wh, t, beforeBatch = Some(1L)) == 1)
    val floor = new Path(s"$wh/$t/${KeyedTable.ChangelogDir}/_floor.json")
    failedPublishLeavesOldFile(floor, "floor") {
      KeyedTable.expireChangelog(spark, wh, t, beforeBatch = Some(3L))
    }
    assert(KeyedTable.changelogFloor(spark, wh, t) == 1L)
    // the floor write precedes every delete: batches 1..3 all survive
    assert(KeyedTable.readChangelog(spark, wh, t, sinceBatch = 1)
      .selectExpr("cast(batch as long)").distinct().count() == 3L)
    assert(KeyedTable.expireChangelog(spark, wh, t, beforeBatch = Some(3L)) == 2)
    assert(KeyedTable.changelogFloor(spark, wh, t) == 3L)
  }

  test("branch fork record publish fails -> old record intact and readable") {
    import org.apache.hadoop.fs.Path
    val t = freshTable("t_ffrec_fail")
    val fork = Branches.create(spark, wh, t, "stage")
    KeyedTable.toSql(df((7L, "g", 7.0)), wh, s"$t@stage",
      pk = Seq("id"), how = WriteMode.Append)
    val record = new Path(s"$wh/$t/${Branches.DirName}/stage/_fork")
    // the fork record is rewritten last by a publish
    failedPublishLeavesOldFile(record, "fork") {
      Branches.fastForward(spark, wh, t, "stage")
    }
    assert(Branches.list(spark, wh, t).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("stage" -> fork))
  }

  test("tags publish fails -> old tags intact, tagged snapshot still resolves") {
    import org.apache.hadoop.fs.Path
    val t = freshTable("t_tags_fail")
    KeyedTable.tagSnapshot(spark, wh, t, "v0")
    KeyedTable.toSql(df((7L, "g", 7.0)), wh, t,
      pk = Seq("id"), how = WriteMode.Append)
    failedPublishLeavesOldFile(new Path(s"$wh/$t/${Tags.FileName}"), "tags") {
      KeyedTable.tagSnapshot(spark, wh, t, "v1")
    }
    assert(Tags.read(spark, s"$wh/$t") == Map("v0" -> 0L))
    assert(KeyedTable.readSql(spark, wh, t, asOfTag = Some("v0")).count() ==
      base.size.toLong)
    KeyedTable.tagSnapshot(spark, wh, t, "v1")
    assert(Tags.read(spark, s"$wh/$t") == Map("v0" -> 0L, "v1" -> 1L))
  }
}
