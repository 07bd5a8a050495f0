package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, TempDirs}

/** Optimistic LAYOUT MAINTENANCE (compact / compactIfNeeded /
  * zorderCompact / rebucket): the rewrite job stages OUTSIDE the write
  * lock against the snapshot-at-start; a brief locked flip re-validates
  * the touched buckets' file/DV window and commits. On conflict the
  * MAINTENANCE re-stages ([[KeyedTable.retrying]]) — ingest
  * writers never wait behind a maintenance job and never abort for it.
  * Interleaves are deterministic via [[KeyedTable.CommitSeam]]:
  * the hook lands the interfering (or provably disjoint) mutation
  * between the unlocked stage and the locked flip. */
class MaintenanceConcurrencySpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-maint")

  private def df(rows: (Long, Double, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "bal", "grp")
  }

  private def row(k: Long): (Long, Double, Long) = (k, k * 1.0, k % 7)

  /** key -> bucket, read straight off the bucket-partitioned layout. */
  private def layout(t: String): Map[Long, Int] =
    spark.read.parquet(KeyedTable.dataDir(wh, t))
      .select(col("id"), col(KeyedTable.BucketCol))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** A 4-bucket table over keys 1..40 plus the per-bucket key map. */
  private def fixture(t: String): Map[Int, Seq[Long]] = {
    KeyedTable.toSql(df((1L to 40L).map(row): _*), wh, t,
      pk = Seq("id"), buckets = 4)
    val m = layout(t).groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    assert(m.size >= 2, s"fixture needs >= 2 populated buckets, got $m")
    m
  }

  /** Install `hook` as the commit seam of every maintenance verb. */
  private def seam(hook: () => Unit): Unit =
    Seq("compact", "zorder", "rebucket").foreach(KeyedTable.CommitSeam(_) = hook)

  /** Install a hook that fires `body` only on the FIRST interleave and
    * run `job`; returns how many times the window was entered (1 = no
    * retry, 2 = one conflict-driven re-stage). */
  private def withHook(body: => Unit)(job: => Unit): Int = {
    var fired = 0
    seam { () =>
      fired += 1
      if (fired == 1) body
    }
    try job finally seam(() => ())
    fired
  }

  test("zorderCompact commits through a DISJOINT new-bucket ingest " +
      "(both land, no retry)") {
    val t = "t_maint_z_disjoint"
    val byBucket = fixture(t)
    // empty one bucket entirely: its files leave the snapshot, so a
    // later ingest of those keys touches a bucket zorder does NOT
    val freed = byBucket.keys.min
    val freedKeys = byBucket(freed)
    KeyedTable.delete(spark, wh, t,
      col("id").isin(freedKeys: _*), mode = DeleteMode.CopyOnWrite)
    val entered = withHook {
      KeyedTable.upsertConcurrent(df(freedKeys.map(row): _*), wh, t)
    } {
      KeyedTable.zorderCompact(spark, wh, t, Seq("bal", "grp"))
    }
    assert(entered == 1,
      "a new-bucket ingest is outside the zorder window: no retry")
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id")).sorted
    assert(got.toSeq == (1L to 40L), "both the ingest and the zorder landed")
  }

  test("zorderCompact re-stages on an OVERLAPPING ingest; both land") {
    val t = "t_maint_z_overlap"
    val byBucket = fixture(t)
    val hot = byBucket(byBucket.keys.max)
    val entered = withHook {
      KeyedTable.upsertConcurrent(
        df(hot.map(k => (k, 9999.0, k % 7)): _*), wh, t)
    } {
      KeyedTable.zorderCompact(spark, wh, t, Seq("bal", "grp"))
    }
    assert(entered == 2, "an overlapping ingest must force ONE re-stage")
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
    hot.foreach(k => assert(got(k) == 9999.0,
      "the ingest's rows survive the maintenance rewrite"))
    assert(got.size == 40)
    // the zorder DID commit (as the latest rewrite op in the chain)
    val dir = KeyedTable.tableDir(wh, t)
    assert(Manifest.current(spark, dir).op.contains("zorder"))
  }

  test("compactIfNeeded commits through a disjoint ingest and " +
      "re-stages on an overlapping one") {
    val t = "t_maint_c"
    val byBucket = fixture(t)
    val crowdedB = byBucket.keys.min
    val quietB = byBucket.keys.max
    // probe bucket assignments for FRESH keys (same pk hash + bucket
    // count => same mapping), so appends can crowd exactly one bucket
    KeyedTable.toSql(df((41L to 200L).map(row): _*), wh, s"${t}_probe",
      pk = Seq("id"), buckets = 4)
    val fresh = layout(s"${t}_probe").filter(_._2 == crowdedB)
      .keys.toSeq.sorted
    assert(fresh.size >= 14, s"probe found too few keys for $crowdedB")
    // breach ONLY crowdedB: three additive appends of same-bucket keys
    fresh.take(6).grouped(2).foreach { ks =>
      KeyedTable.toSql(df(ks.map(row): _*), wh, t, how = WriteMode.Append)
    }
    // disjoint: ingest into quietB while the compact of crowdedB stages
    val entered1 = withHook {
      KeyedTable.upsertConcurrent(
        df(byBucket(quietB).map(k => (k, -1.0, k % 7)): _*), wh, t)
    } {
      val done = KeyedTable.compactIfNeeded(spark, wh, t,
        maxFilesPerBucket = 1, minAvgRowsPerFile = 0)
      assert(done.contains(crowdedB), s"policy must fire on $crowdedB: $done")
      assert(!done.contains(quietB))
    }
    assert(entered1 == 1, "disjoint-bucket ingest: no retry")
    // overlap: breach again, then a same-bucket APPEND mid-stage (an
    // append leaves the bucket crowded, so the retry must re-stage —
    // an upsert would compact it as a side effect and the retry would
    // correctly decide no-op, which is also fine but not a re-stage)
    fresh.slice(6, 12).grouped(2).foreach { ks =>
      KeyedTable.toSql(df(ks.map(row): _*), wh, t, how = WriteMode.Append)
    }
    val entered2 = withHook {
      KeyedTable.toSql(df(fresh.slice(12, 14).map(row): _*), wh, t,
        how = WriteMode.Append)
    } {
      KeyedTable.compactIfNeeded(spark, wh, t, maxFilesPerBucket = 1): Unit
    }
    assert(entered2 == 2, "same-bucket ingest must force ONE re-stage")
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
    fresh.take(14).foreach(k => assert(got(k) == k * 1.0,
      "every ingested row survives the policy rewrite"))
    byBucket(quietB).foreach(k => assert(got(k) == -1.0))
    assert(got.size == 40 + 14)
    // the re-staged compact landed: the crowded bucket is one file now
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    assert(m.files(crowdedB).size == 1,
      s"crowded bucket must end compacted, got ${m.files(crowdedB)}")
  }

  test("rebucket re-stages on ANY concurrent commit; the ingest never " +
      "waits or aborts") {
    val t = "t_maint_rb"
    fixture(t): Unit
    val entered = withHook {
      KeyedTable.toSql(df(row(1000L)), wh, t, how = WriteMode.Append)
    } {
      KeyedTable.rebucket(spark, wh, t, 8)
    }
    assert(entered == 2, "any commit in the window must force a re-stage")
    val dir = KeyedTable.tableDir(wh, t)
    assert(Manifest.current(spark, dir).buckets == 8)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(_.getAs[Long]("id")).sorted
    assert(got.toSeq == ((1L to 40L) :+ 1000L),
      "the hooked append survives the rebucket")
  }

  test("maintenance gives up loudly after bounded attempts on a " +
      "too-hot table") {
    val t = "t_maint_hot"
    val byBucket = fixture(t)
    val hot = byBucket(byBucket.keys.min)
    var n = 0
    // EVERY window entry lands a conflicting commit: retries exhaust
    seam { () =>
      n += 1
      KeyedTable.toSql(df(hot.map(k => (k, n * 1.0, k % 7)): _*),
        wh, t, how = WriteMode.Upsert)
    }
    val e =
      try intercept[ConcurrentWriteException] {
        KeyedTable.rebucket(spark, wh, t, 8)
      } finally seam(() => ())
    assert(e.getMessage.contains("gave up after"), e.getMessage)
    // every INGEST commit stands; the table layout is simply unchanged
    val dir = KeyedTable.tableDir(wh, t)
    assert(Manifest.current(spark, dir).buckets == 4)
    val got = KeyedTable.readSql(spark, wh, t).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("bal")).toMap
    hot.foreach(k => assert(got(k) == n * 1.0))
  }
}
