package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempDirs}

/** Format-4 SEGMENTED manifests (the Iceberg manifest-list move):
  * past `spark.graft.manifest.segmentThreshold` total entries, each
  * bucket's file+DV inventory lives in an immutable
  * `_manifests/seg-*.json` and the versioned list holds only the
  * references. A commit reuses untouched buckets' segments VERBATIM,
  * so commit metadata cost is ∝ touched buckets — not O(live files),
  * which at 100 TB (millions of live files) would make the driver's
  * full-inventory re-serialization the dominant commit latency. */
class ManifestSegmentSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-seg")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal")
  }

  private def withThreshold[A](n: Int)(body: => A): A = {
    spark.conf.set(Manifest.SegmentThresholdConf, n.toString)
    try body
    finally spark.conf.unset(Manifest.SegmentThresholdConf)
  }

  private def segFiles(t: String): Set[String] = {
    val mdir = Manifest.dir(KeyedTable.tableDir(wh, t))
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(mdir).map(_.getPath.getName)
      .filter(n => n.startsWith("seg-") && n.endsWith(".json")).toSet
  }

  private def listBytes(t: String, version: Long): Long = {
    val p = new Path(Manifest.dir(KeyedTable.tableDir(wh, t)),
      Manifest.versionName(version))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
  }

  test("a one-bucket commit on a segmented chain writes exactly one " +
      "new segment; untouched buckets reuse verbatim") {
    withThreshold(1) {
      val t = "t_seg_reuse"
      KeyedTable.toSql(df((1L to 80L).map(i => (i, s"n$i", i * 1.0)): _*),
        wh, t, pk = Seq("id"), buckets = 8)
      val dir = KeyedTable.tableDir(wh, t)
      val v0 = Manifest.current(spark, dir)
      assert(v0.segs.nonEmpty, "threshold 1 must segment from creation")
      assert(v0.files.keySet == v0.segs.keySet)
      // upsert ONE bucket's keys: find a populated bucket via layout
      val byBucket = spark.read.parquet(KeyedTable.dataDir(wh, t))
        .select(col("id"), col(KeyedTable.BucketCol))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
        .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val touched = byBucket.keys.min
      val before = segFiles(t)
      KeyedTable.toSql(df(byBucket(touched).map(k => (k, "UPD", 9.0)): _*),
        wh, t, how = WriteMode.Upsert)
      val v1 = Manifest.current(spark, dir)
      assert(v1.version == v0.version + 1)
      // every untouched bucket's segment reference is IDENTICAL
      (v0.segs.keySet - touched).foreach { b =>
        assert(v1.segs(b) == v0.segs(b),
          s"untouched bucket $b must reuse its segment verbatim")
      }
      assert(v1.segs(touched) != v0.segs(touched))
      // exactly ONE new segment file appeared
      assert((segFiles(t) -- before).size == 1,
        "a one-bucket commit writes one segment")
      // and the list itself is small — references, not inventories
      assert(listBytes(t, v1.version) < 1024,
        s"the v1 list must hold references only, got ${listBytes(t, v1.version)}B")
      // content round-trips through the segmented read path
      val got = KeyedTable.readSql(spark, wh, t).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
      byBucket(touched).foreach(k => assert(got(k) == "UPD"))
      assert(got.size == 80)
    }
  }

  test("commit metadata bytes scale with TOUCHED buckets, not live " +
      "files: growing the table leaves the one-bucket commit flat") {
    withThreshold(1) {
      val t = "t_seg_scale"
      KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
        wh, t, pk = Seq("id"), buckets = 4)
      val dir = KeyedTable.tableDir(wh, t)
      def newMetaBytes(body: => Unit): Long = {
        val mdir = Manifest.dir(dir)
        val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def snap(): Map[String, Long] =
          fs.listStatus(mdir).map(st => st.getPath.getName -> st.getLen).toMap
        val before = snap()
        body
        snap().filterNot { case (n, _) => before.contains(n) }.values.sum
      }
      // probe fresh keys' buckets (same hash + bucket count => same
      // mapping as the fixture table)
      KeyedTable.toSql(df((41L to 2000L).map(i => (i, s"p$i", 1.0)): _*),
        wh, s"${t}_probe", pk = Seq("id"), buckets = 4)
      val freshByBucket = spark.read
        .parquet(KeyedTable.dataDir(wh, s"${t}_probe"))
        .select(col("id"), col(KeyedTable.BucketCol))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
        .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
      val hot = freshByBucket.keys.min
      val hotKeys = freshByBucket(hot)
      val coldKeys = (freshByBucket - hot).values.flatten.toSeq.sorted
      assert(hotKeys.size >= 2 && coldKeys.size >= 400)
      // one-key append into the hot bucket while the table is SMALL
      val small = newMetaBytes {
        KeyedTable.toSql(df((hotKeys(0), "a", 1.0)), wh, t,
          how = WriteMode.Append)
      }
      // ~10x the live-file count — all of it in OTHER buckets
      coldKeys.take(400).grouped(40).foreach { ks =>
        KeyedTable.toSql(df(ks.map(i => (i, s"x$i", 1.0)): _*), wh, t,
          how = WriteMode.Append)
      }
      // the same one-key hot-bucket append while the table is 10x BIGGER
      val big = newMetaBytes {
        KeyedTable.toSql(df((hotKeys(1), "b", 1.0)), wh, t,
          how = WriteMode.Append)
      }
      assert(big <= small * 2,
        s"commit metadata must scale with the TOUCHED bucket, not the " +
        s"table: small=$small B, big=$big B")
    }
  }

  test("segmented snapshots time-travel, carry DVs, and fail loudly " +
      "through the no-loader fromJson") {
    withThreshold(1) {
      val t = "t_seg_tt"
      KeyedTable.toSql(df((1L to 30L).map(i => (i, s"n$i", i * 1.0)): _*),
        wh, t, pk = Seq("id"), buckets = 2) // v0
      KeyedTable.delete(spark, wh, t, col("id") === 7L,
        mode = DeleteMode.MergeOnRead) // v1: DV rides a segment
      val dir = KeyedTable.tableDir(wh, t)
      val v1 = Manifest.current(spark, dir)
      assert(v1.dvs.nonEmpty, "the MoR delete must land as a DV")
      assert(v1.segs.nonEmpty)
      assert(KeyedTable.readSql(spark, wh, t).count() == 29)
      assert(KeyedTable.readSql(spark, wh, t, asOfVersion = Some(0L))
        .count() == 30, "time travel through a segmented chain")
      // the loaderless fromJson refuses a segmented list
      val p = new Path(Manifest.dir(dir), Manifest.versionName(v1.version))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val body = try {
        val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(b); new String(b, "UTF-8")
      } finally in.close()
      val e = intercept[StoreException](Manifest.fromJson(body))
      assert(e.getMessage.contains("segment loader"), e.getMessage)
    }
  }

  test("vacuum reaps segments only when no surviving snapshot " +
      "references them") {
    withThreshold(1) {
      val t = "t_seg_vac"
      KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
        wh, t, pk = Seq("id"), buckets = 2) // v0
      KeyedTable.toSql(df((1L, "U1", 0.0)), wh, t,
        how = WriteMode.Upsert) // v1: one bucket re-segments
      KeyedTable.toSql(df((2L, "U2", 0.0)), wh, t,
        how = WriteMode.Upsert) // v2
      val before = segFiles(t)
      assert(before.size >= 3, s"fixture needs superseded segments: $before")
      // dry run predicts the real reap exactly, segments included
      val predicted = KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L,
        dryRun = true)
      val real = KeyedTable.vacuum(spark, wh, t, olderThanMs = 0L)
      assert(real == predicted, s"dry=$predicted real=$real")
      val after = segFiles(t)
      val dir = KeyedTable.tableDir(wh, t)
      val head = Manifest.current(spark, dir)
      assert(head.segs.values.toSet subsetOf after,
        "every referenced segment survives")
      assert(after == head.segs.values.toSet,
        s"only referenced segments survive: $after vs ${head.segs}")
      assert(KeyedTable.readSql(spark, wh, t).count() == 40)
    }
  }

  test("below the threshold tables stay inline; crossing it flips the " +
      "chain and it stays segmented") {
    withThreshold(6) {
      val t = "t_seg_flip"
      KeyedTable.toSql(df((1L to 8L).map(i => (i, s"n$i", i * 1.0)): _*),
        wh, t, pk = Seq("id"), buckets = 2) // 2 files: inline
      val dir = KeyedTable.tableDir(wh, t)
      assert(Manifest.current(spark, dir).segs.isEmpty)
      // additive appends push the entry count past the threshold
      (1 to 3).foreach { r =>
        KeyedTable.toSql(df((100L * r to 100L * r + 7)
          .map(i => (i, s"a$i", 1.0)): _*), wh, t, how = WriteMode.Append)
      }
      val head = Manifest.current(spark, dir)
      assert(head.segs.nonEmpty, "past the threshold the chain segments")
      // and a tiny follow-up commit stays segmented (reuse needs it)
      KeyedTable.toSql(df((5000L, "z", 1.0)), wh, t, how = WriteMode.Append)
      assert(Manifest.current(spark, dir).segs.nonEmpty)
      assert(KeyedTable.readSql(spark, wh, t).count() == 8 + 24 + 1)
    }
  }
}
