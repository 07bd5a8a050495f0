package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
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

  test("a 5-key delete plans only the files of its keys' buckets") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    create("p", cdc = false)
    val keys = Seq(7L, 70L, 700L, 1170L, 1700L)
    val meta = TableMeta.read(spark, KeyedTable.tableDir(wh, "p"))
    val buckets = keys.map(k => KeyedTable.bucketOfKey(spark, meta, 32, Seq(k))).toSet
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(KeyedTable.delete(spark, wh, "p", col("id").isin(keys: _*)) == 5L)
      JobCounter.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    object Plans extends AdaptiveSparkPlanHelper
    // every store scan of the verb — the probe first — plans files of
    // the keys' buckets only, and the probe plans each of those buckets
    val scanned: Seq[Set[Int]] = plans.asScala.toSeq.flatMap { qe =>
      Plans.collect(qe.executedPlan) { case b: BatchScanExec => b }
    }.collect { case b if b.scan.isInstanceOf[KeyedScan] =>
      b.inputPartitions.flatMap {
        case p: KeyedFilePartition => p.files.toSeq
        case p => fail(s"not a store partition: $p")
      }.map(_.toPath.getParent.getName.stripPrefix("pb_bucket=").toInt).toSet
    }
    assert(scanned.nonEmpty)
    assert(scanned.head == buckets, s"probe planned ${scanned.head}, keys in $buckets")
    assert(scanned.forall(_.subsetOf(buckets)), scanned)
  }
}
