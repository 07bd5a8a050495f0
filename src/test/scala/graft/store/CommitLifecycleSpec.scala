package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkSpec, TempDirs}

/** The lifecycle every committer shares through [[KeyedTable.commit]],
  * on a changelog-enabled table: a successful commit leaves no staging
  * behind (a sink's per-query `.staging-stream-<queryId>` root stays,
  * empty) and lands exactly one changelog batch per row-verb or stream
  * commit and none per layout rewrite; an abort forced through the one
  * seam ([[KeyedTable.CommitSeam]]) leaves the version, the file set and
  * the batch count as they were, and no staging. */
class CommitLifecycleSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-lifecycle")

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "bal")
  }

  private def fixture(t: String): Unit = {
    KeyedTable.toSql(df((1L to 40L).map(i => (i, s"n$i", i * 1.0)): _*),
      wh, t, pk = Seq("id"), buckets = 4)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
  }

  /** (version, live files, changelog batches) of `t`. */
  private def state(t: String): (Long, Map[Int, Set[String]], Int) = {
    val dir = KeyedTable.tableDir(wh, t)
    val m = Manifest.current(spark, dir)
    (m.version, m.files.map { case (b, fls) => b -> fls.map(_.name).toSet },
      KeyedTable.changelogBatchStats(spark, dir).size)
  }

  /** Every `.staging-*` entry of `t` left behind, or a file inside a
    * sink's per-query root. */
  private def stagingLeft(t: String): Seq[String] = {
    val dir = new Path(KeyedTable.tableDir(wh, t))
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(".staging-"))
      .flatMap { p =>
        if (p.getName.startsWith(".staging-stream-q"))
          f.listStatus(p).toSeq.map(x => s"${p.getName}/${x.getPath.getName}")
        else Seq(p.getName)
      }
  }

  /** The eight committers, each as (seam verb, expected batches, one
    * optimistic commit of `t`); `n` keeps each call's new keys fresh. */
  private def committers(t: String, n: Int): Seq[(String, Int, () => Unit)] = {
    val k = 1000L * n
    Seq(
      ("append", 1, () => KeyedTable.appendConcurrent(
        df((k + 1, "a", 1.0), (k + 2, "b", 2.0)), wh, t)),
      ("upsert", 1, () => KeyedTable.upsertConcurrent(
        df((3L, "u", 30.0), (k + 3, "c", 3.0)), wh, t)),
      ("merge", 1, () => KeyedTable.mergeConcurrent(
        df((4L, "m", 40.0), (5L, "x", 0.0)), wh, t,
        deleteWhen = col("name") === "x"): Unit),
      ("update", 1, () => KeyedTable.updateConcurrent(spark, wh, t,
        col("id") === 6L, Map("bal" -> lit(60.0))): Unit),
      ("delete", 1, () => KeyedTable.deleteConcurrent(spark, wh, t,
        col("id") === 7L): Unit),
      ("stream", 1, () => SinkEpoch.commit(spark, wh, t,
        df((k + 4, "s", 4.0)), Manifest.current(spark,
          KeyedTable.tableDir(wh, t)).buckets, s"qlife$n", 0L)),
      ("compact", 0, () =>
        assert(KeyedTable.compact(spark, wh, t, minFiles = 1) > 0)),
      ("zorder", 0, () => KeyedTable.zorderCompact(spark, wh, t,
        Seq("id", "bal"))),
      ("rebucket", 0, () => KeyedTable.rebucket(spark, wh, t,
        Manifest.current(spark, KeyedTable.tableDir(wh, t)).buckets * 2)))
  }

  test("a successful commit leaves no staging and lands one changelog " +
      "batch per row-verb or stream commit, none per layout rewrite") {
    val t = "t_life_ok"
    fixture(t)
    committers(t, 1).foreach { case (verb, batches, run) =>
      val (v0, _, b0) = state(t)
      run()
      val (v1, _, b1) = state(t)
      assert(v1 == v0 + 1, s"$verb: version $v0 -> $v1")
      assert(b1 - b0 == batches, s"$verb: changelog batches $b0 -> $b1")
      assert(stagingLeft(t).isEmpty, s"$verb left ${stagingLeft(t)}")
    }
  }

  test("an abort forced through the seam leaves the version, the file " +
      "set, the changelog and the staging as they were") {
    val t = "t_life_abort"
    fixture(t)
    committers(t, 2).foreach { case (verb, _, run) =>
      val before = state(t)
      KeyedTable.CommitSeam(verb) = () =>
        throw new IllegalStateException(s"forced abort of $verb")
      val e =
        try intercept[IllegalStateException](run())
        finally KeyedTable.CommitSeam(verb) = () => ()
      assert(e.getMessage == s"forced abort of $verb", e)
      assert(state(t) == before, s"$verb changed the table")
      assert(stagingLeft(t).isEmpty, s"$verb left ${stagingLeft(t)}")
    }
  }
}
