package graft.store

import org.apache.spark.JobCounter.jobsRunBy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkSpec, TempDirs}

/** Pins the Spark jobs each oltp-shaped store verb runs — the count is
  * the plan's shape as the scheduler sees it (one job per action, per
  * adaptive query stage and per staging write), so a refactor of the
  * commit path that keeps every count keeps the verbs' plans. Shapes: a
  * 2,000-row, 32-bucket table; upserts of 100 rows (50 stored keys, 50
  * new), appends of 100 new keys, deletes of 5 stored keys (merge-on-read
  * under `Auto`), locked and optimistic, a compact of the buckets the
  * appends crowded, and the CDC forms of upsert, update and delete. */
class JobsPerVerbSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-jobs")

  private def rows(keys: Seq[Long], salt: Double): DataFrame =
    keys.map(k => (k, s"n${k % 7}", k * salt)).toDF("id", "name", "v")

  private def create(t: String, cdc: Boolean): Unit = {
    KeyedTable.toSql(rows(1L to 2000L, 1.0), wh, t, pk = Seq("id"), buckets = 32)
    if (cdc) KeyedTable.setChangelog(spark, wh, t, enabled = true)
  }

  /** The counts measured on the code before the staged formats moved
    * into one classifier and two stagers. */
  private val Expected = Map(
    "upsert locked" -> 8, "upsert optimistic" -> 8,
    "append locked" -> 10, "append optimistic" -> 10,
    "delete locked" -> 3, "delete optimistic" -> 3,
    "compact" -> 2,
    "cdc upsert" -> 10, "cdc update" -> 7, "cdc delete" -> 4)

  test("every oltp verb shape runs the pinned number of jobs") {
    def jobs(what: String)(body: => Any): (String, Int, Seq[String]) = {
      val (_, js) = jobsRunBy(spark.sparkContext)(body)
      (what, js.size, js.map(_.description))
    }
    create("t", cdc = false)
    create("c", cdc = true)
    val got = Seq(
      jobs("upsert locked")(KeyedTable.toSql(rows((1951L to 2050L), 2.0), wh, "t",
        how = WriteMode.Upsert)),
      jobs("upsert optimistic")(KeyedTable.upsertConcurrent(
        rows((2001L to 2100L), 3.0), wh, "t")),
      jobs("append locked")(KeyedTable.toSql(rows(3001L to 3100L, 1.0), wh, "t",
        how = WriteMode.Append)),
      jobs("append optimistic")(KeyedTable.appendConcurrent(
        rows(4001L to 4100L, 1.0), wh, "t")),
      jobs("delete locked")(KeyedTable.delete(spark, wh, "t",
        col("id").isin(3L, 30L, 300L, 1000L, 1500L))),
      jobs("delete optimistic")(KeyedTable.deleteConcurrent(spark, wh, "t",
        col("id").isin(4L, 40L, 400L, 1100L, 1600L))),
      jobs("compact")(KeyedTable.compact(spark, wh, "t", minFiles = 2)),
      jobs("cdc upsert")(KeyedTable.toSql(rows((1951L to 2050L), 2.0), wh, "c",
        how = WriteMode.Upsert)),
      jobs("cdc update")(KeyedTable.update(spark, wh, "c",
        col("id").isin(5L, 50L, 500L, 1200L, 1700L),
        Map("v" -> (col("v") + lit(1.0))))),
      jobs("cdc delete")(KeyedTable.delete(spark, wh, "c",
        col("id").isin(6L, 60L, 600L, 1300L, 1800L))))
    val counts = got.map { case (w, n, _) => w -> n }.toMap
    assert(counts == Expected, got.map { case (w, n, ds) =>
      s"$w: $n ${ds.mkString("[", "; ", "]")}" }.mkString("\n", "\n", ""))
  }
}
