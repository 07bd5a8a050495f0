package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read DELETE VECTORS: a small predicate delete commits
  * positional tombstone sidecars in the manifest instead of rewriting
  * matched buckets — write cost ∝ |matches| — and every read surface
  * (readSql, the DSv2 scan + SQL, time travel, streaming's initial
  * batch) applies the mask exactly; rewriting commits materialize it. */
class DeleteVectorSpec extends SparkSpec {

  import spark.implicits._

  private def wh(): String = Files.createTempDirectory("graft-dv-").toString

  private def mk(w: String, t: String, n: Long = 200L, buckets: Int = 4): Unit =
    KeyedTable.toSql(
      (1L to n).map(i => (i, s"v$i", i * 1.0)).toDF("k", "g", "v"),
      w, t, pk = Seq("k"), buckets = buckets)

  private def manifest(w: String, t: String): Manifest =
    Manifest.current(spark, KeyedTable.tableDir(w, t))

  private def keysOf(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("a small delete commits DVs, rewrites nothing, and reads back exactly") {
    val w = wh(); mk(w, "t")
    val before = manifest(w, "t")
    val dataFiles = before.files.view.mapValues(_.map(_.name)).toMap
    val deleted = KeyedTable.delete(spark, w, "t", col("k") % 17 === 0)
    assert(deleted == 200 / 17)
    val after = manifest(w, "t")
    // merge-on-read: identical data files, tombstones in the manifest
    assert(after.files.view.mapValues(_.map(_.name)).toMap == dataFiles,
      "MoR delete must not rewrite any data file")
    assert(after.dvs.nonEmpty && after.dvRows.contains(deleted))
    val want = (1L to 200L).filterNot(_ % 17 == 0)
    assert(keysOf(KeyedTable.readSql(spark, w, "t")) == want)        // v1 path
    assert(keysOf(KeyedTableSource.read(spark, w, "t")) == want)     // DSv2 path
    // live-row arithmetic in history: data rows minus DV positions
    val h = KeyedTable.history(spark, w, "t").orderBy(desc("version")).head()
    assert(h.getLong(4) == want.size.toLong, s"history n_rows ${h.getLong(4)}")
  }

  test("a 1-row delete in a crowded bucket moves kilobytes, not the bucket") {
    val w = wh()
    // one bucket, plenty of rows: the CoW cost this avoids is ~the bucket
    KeyedTable.toSql((1L to 20000L).map(i => (i, s"payload-$i", i * 1.0))
      .toDF("k", "g", "v"), w, "big", pk = Seq("k"), buckets = 1)
    val before = manifest(w, "big")
    assert(KeyedTable.delete(spark, w, "big", col("k") === 12345L) == 1L)
    val after = manifest(w, "big")
    assert(after.files == before.files, "no data file may move")
    val dvBytes = after.dvs.valuesIterator.flatten.map(_.len).sum
    assert(dvBytes > 0 && dvBytes < 16384,
      s"a 1-row DV sidecar should be tiny, got $dvBytes bytes")
    assert(KeyedTable.readSql(spark, w, "big").count() == 19999L)
  }

  test("repeated MoR deletes stack; positions never double-tombstone") {
    val w = wh(); mk(w, "t")
    assert(KeyedTable.delete(spark, w, "t", col("k") <= 10L) == 10L)
    // overlapping predicate: the 10 already-dead rows must not match again
    assert(KeyedTable.delete(spark, w, "t", col("k") <= 20L) == 10L)
    val m = manifest(w, "t")
    assert(m.dvRows.contains(20L))
    assert(keysOf(KeyedTable.readSql(spark, w, "t")) == (21L to 200L))
  }

  test("auto mode goes copy-on-write for bulk deletes") {
    val w = wh(); mk(w, "t")
    // 50% matched: rewriting shrinks the table; no tombstone stacking
    KeyedTable.delete(spark, w, "t", col("k") % 2 === 0)
    val m = manifest(w, "t")
    assert(m.dvs.isEmpty, "bulk delete must materialize, not stack DVs")
    assert(keysOf(KeyedTable.readSql(spark, w, "t")) ==
      (1L to 200L).filter(_ % 2 == 1))
  }

  test("rewriting commits materialize DVs; a deleted key can come back") {
    val w = wh(); mk(w, "t")
    KeyedTable.delete(spark, w, "t", col("k") === 5L,
      mode = DeleteMode.MergeOnRead)
    assert(manifest(w, "t").dvs.nonEmpty)
    // append the key back: lands in a NEW file the DV does not name
    KeyedTable.toSql(Seq((5L, "reborn", 5.5)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"), how = WriteMode.Append)
    val r = KeyedTable.readSql(spark, w, "t").filter(col("k") === 5L).collect()
    assert(r.length == 1 && r.head.getString(1) == "reborn")
    // an upsert rewriting the key's bucket reads through the mask and
    // DROPS the bucket's DVs — the rewrite IS the materialization
    KeyedTable.toSql(Seq((6L, "six", 6.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"), how = WriteMode.Upsert)
    val m = manifest(w, "t")
    val bucketOf5 = m.files.keySet.filter(b => m.dvs.contains(b))
    assert(KeyedTable.readSql(spark, w, "t").count() == 200L)
  }

  test("SQL: DELETE routes MoR; count/filters/time travel stay exact") {
    val w = wh(); mk(w, "t")
    val cat = s"graft_dvcat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    try {
      // the predicate must translate to source Filters (canDeleteWhere)
      spark.sql(s"DELETE FROM $cat.t WHERE k > 20 AND k <= 38")
      assert(manifest(w, "t").dvs.nonEmpty, "small SQL DELETE should be MoR")
      val wantN = (1L to 200L).count(k => !(k > 20 && k <= 38)).toLong
      // count(*): footer-agg pushdown must decline over a DV'd snapshot
      assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == wantN)
      assert(spark.sql(s"SELECT min(k), max(v) FROM $cat.t").head().getLong(0) == 1L)
      // predicate over the masked scan (pushed filters + mask compose)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE k <= 25")
        .head().getLong(0) == 20L)
      // time travel to the pre-delete snapshot sees every row
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 0")
        .head().getLong(0) == 200L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  test("restore across a MoR delete brings the rows back; re-restore re-deletes") {
    val w = wh(); mk(w, "t")
    KeyedTable.delete(spark, w, "t", col("k") <= 30L,
      mode = DeleteMode.MergeOnRead) // v1
    assert(KeyedTable.readSql(spark, w, "t").count() == 170L)
    KeyedTable.restoreSnapshot(spark, w, "t", version = Some(0L)) // v2
    assert(KeyedTable.readSql(spark, w, "t").count() == 200L)
    KeyedTable.restoreSnapshot(spark, w, "t", version = Some(1L)) // v3: DVs travel
    assert(KeyedTable.readSql(spark, w, "t").count() == 170L)
    assert(manifest(w, "t").dvRows.contains(30L))
  }

  test("compactIfNeeded materializes DV-heavy buckets; vacuum reaps the sidecars") {
    val w = wh(); mk(w, "t", buckets = 2)
    KeyedTable.delete(spark, w, "t", col("k") % 3 === 0,
      mode = DeleteMode.MergeOnRead)
    assert(manifest(w, "t").dvs.nonEmpty)
    // a third of every bucket is dead — past the 20% policy bound
    val rewritten = KeyedTable.compactIfNeeded(spark, w, "t",
      maxFilesPerBucket = 100)
    assert(rewritten.nonEmpty)
    val m = manifest(w, "t")
    assert(m.dvs.isEmpty, "compaction must clear the materialized DVs")
    assert(KeyedTable.readSql(spark, w, "t").count() ==
      (1L to 200L).count(_ % 3 != 0).toLong)
    // the superseded sidecars are referenced only by expired snapshots
    KeyedTable.vacuum(spark, w, "t", olderThanMs = 0L)
    val f = new org.apache.hadoop.fs.Path(s"$w/t/data")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftovers = f.listStatus(new org.apache.hadoop.fs.Path(s"$w/t/data"))
      .filter(_.isDirectory).flatMap(d => f.listStatus(d.getPath))
      .map(_.getPath.getName).filter(_.contains("-dv-"))
    assert(leftovers.isEmpty, s"vacuum left DV sidecars: ${leftovers.toSeq}")
  }

  test("incremental read and streaming refuse windows with DV changes; initial batch masks") {
    val w = wh(); mk(w, "t")
    KeyedTable.toSql(Seq((201L, "new", 201.0)).toDF("k", "g", "v"),
      w, "t", pk = Seq("k"), how = WriteMode.Append) // v1
    KeyedTable.delete(spark, w, "t", col("k") === 7L,
      mode = DeleteMode.MergeOnRead) // v2
    // append-only window (0,1] is fine
    assert(KeyedTable.readIncremental(spark, w, "t", 0L, Some(1L)).count() == 1L)
    // a window crossing the MoR delete is not append-only
    val e = intercept[StoreException](
      KeyedTable.readIncremental(spark, w, "t", 1L, Some(2L)).count())
    assert(e.getMessage.contains("delete vectors"))
    // streaming initial batch over the DV'd head applies the mask
    val q = KeyedTableStream.readStream(spark, w, "t")
      .writeStream.format("memory").queryName("dv_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dv-ck-").toString)
      .start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT k FROM dv_stream").as[Long].collect().sorted
    assert(got.length == 200 && !got.contains(7L))
  }

  test("DV commit fault: rename fails -> snapshot unchanged, rows intact, retry lands") {
    // prefix must not contain "-dv-": every rename dst under the
    // warehouse would match the armed pattern below
    val w0 = Files.createTempDirectory("graft-morfault-").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    val w = s"faulty://$w0"
    mk(w, "t")
    val v0 = manifest(w, "t").version
    val e = intercept[StoreException] {
      FaultyFileSystem.armed(".staging-", "-dv-") {
        KeyedTable.delete(spark, w, "t", col("k") === 3L,
          mode = DeleteMode.MergeOnRead)
      }
    }
    assert(e.getMessage.contains("current snapshot unchanged"))
    assert(manifest(w, "t").version == v0)
    assert(manifest(w, "t").dvs.isEmpty)
    assert(KeyedTable.readSql(spark, w, "t").count() == 200L)
    // not poisoned: the same delete lands once renames work again
    assert(KeyedTable.delete(spark, w, "t", col("k") === 3L,
      mode = DeleteMode.MergeOnRead) == 1L)
    assert(KeyedTable.readSql(spark, w, "t").count() == 199L)
  }

  test("CDC: a MoR delete logs the same pre-image batch as CoW") {
    val w = wh(); mk(w, "t")
    KeyedTable.delete(spark, w, "t", col("k") <= 3L, changelog = true,
      mode = DeleteMode.MergeOnRead)
    val log = KeyedTable.readChangelog(spark, w, "t")
      .select("k", "op").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(log == Seq((1L, "delete"), (2L, "delete"), (3L, "delete")))
  }

  test("storage-partitioned PK join is undisturbed by a DV'd side") {
    val w = wh(); mk(w, "a"); mk(w, "b")
    KeyedTable.delete(spark, w, "a", col("k") % 13 === 0,
      mode = DeleteMode.MergeOnRead)
    val joined = PkJoin.pkJoin(spark, w, "a", "b")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"PK join over a DV'd table must stay shuffle-free:\n$plan")
    assert(joined.count() == (1L to 200L).count(_ % 13 != 0).toLong)
  }

  test("scan planning does ZERO sidecar IO; masks load on the executor") {
    val w = wh(); mk(w, "t")
    assert(KeyedTable.delete(spark, w, "t", col("k") % 9 === 0,
      mode = DeleteMode.MergeOnRead) == 200L / 9)
    val m = manifest(w, "t")
    val data = new org.apache.hadoop.fs.Path(
      KeyedTable.tableDir(w, "t"), "data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvPaths = m.dvs.toSeq.flatMap { case (b, fls) =>
      fls.map(f => new org.apache.hadoop.fs.Path(data,
        s"${KeyedTable.BucketCol}=$b/${f.name}"))
    }
    assert(dvPaths.nonEmpty)
    // hide every sidecar: if the driver tried to read DV CONTENT while
    // planning (resolving partitions), planning would throw right here
    dvPaths.foreach { p =>
      assert(fs.rename(p, p.suffix(".hidden")), s"could not hide $p")
    }
    try {
      val df = KeyedTableSource.read(spark, w, "t")
      // forces BatchScanExec partition planning (planInputPartitions)
      // without running a job — must succeed with sidecars unreadable
      assert(df.queryExecution.toRdd.getNumPartitions == 4)
      // and the masked EXECUTION must fail loudly (each task loads its
      // own bucket's masks — proving the read path truly consumes the
      // sidecars rather than silently skipping the mask)
      intercept[Exception] { df.count() }
    } finally dvPaths.foreach { p =>
      assert(fs.rename(p.suffix(".hidden"), p), s"could not restore $p")
    }
    val want = (1L to 200L).filterNot(_ % 9 == 0)
    assert(keysOf(KeyedTableSource.read(spark, w, "t")) == want)
  }
}
