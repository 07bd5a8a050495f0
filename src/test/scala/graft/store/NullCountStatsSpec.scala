package graft.store

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.TempDirs

/** Per-file NULL counts in the manifest statistics (the Iceberg
  * column-metrics third number): every commit records each new file's
  * null count per registered stats column from the same single footer
  * read as min/max, and the DSv2 scan file-skips on pushed
  * `IS NULL` / `IS NOT NULL` — including the all-null-file case, which
  * min/max bounds can NEVER prune (an all-null chunk has no bounds).
  * Spark pushes `IsNotNull(c)` alongside every comparison on `c`, so
  * the all-null skip fires for ordinary range predicates too. */
class NullCountStatsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-nullstats")

  test("manifest JSON round-trips null counts (with and without bounds)") {
    val mixed = ManifestFile("a.parquet", 10L, Some(5L),
      Some(ColStats(1L, 9L)),
      Map("price" -> ColStats(0.5, 2.5)), Map("price" -> 2L))
    // all-null stat column: a null count but NO bounds entry
    val allNull = ManifestFile("b.parquet", 10L, Some(4L), None,
      Map.empty, Map("price" -> 4L))
    val legacy = ManifestFile("c.parquet", 10L, Some(3L))
    val m = Manifest(3L, 2,
      Map(0 -> Seq(mixed), 1 -> Seq(allNull, legacy)))
    assert(Manifest.fromJson(m.toJson) == m)
    // pruning math
    assert(mixed.mayMatchNull("price", wantNull = true))   // 2 of 5 null
    assert(mixed.mayMatchNull("price", wantNull = false))
    assert(allNull.mayMatchNull("price", wantNull = true))
    assert(!allNull.mayMatchNull("price", wantNull = false)) // ALL null
    val noNulls = mixed.copy(nulls = Map("price" -> 0L))
    assert(!noNulls.mayMatchNull("price", wantNull = true))
    assert(legacy.mayMatchNull("price", wantNull = true))  // unknown → kept
    assert(legacy.mayMatchNull("price", wantNull = false))
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.collect {
      case p: KeyedFilePartition => p.files.length
    }.sum

  test("commits record per-file null counts; IS NULL / IS NOT NULL / " +
       "range predicates file-skip on them") {
    val t = "t_null_stats"
    def mixedSlice(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, if (i % 2 == 0) Some(i * 10.0) else None))
      .toDF("id", "v")
    // create (pre-registration: its files carry no counts — always kept)
    KeyedTable.toSql(mixedSlice(1, 100), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.setStatsColumns(spark, wh, t, Seq("v"))
    // append A: v ALL NULL — files get a count == rows and NO bounds
    KeyedTable.toSql(
      (101L to 200L).map(i => (i, None: Option[Double])).toDF("id", "v"),
      wh, t, pk = Seq("id"), how = WriteMode.Append)
    // append B: v never null — files get a count of 0
    KeyedTable.toSql(
      (201L to 300L).map(i => (i, Some(i * 10.0))).toDF("id", "v"),
      wh, t, pk = Seq("id"), how = WriteMode.Append)
    // append C: mixed — count strictly between 0 and rows
    KeyedTable.toSql(mixedSlice(301, 400), wh, t, pk = Seq("id"),
      how = WriteMode.Append)

    val m = Manifest.current(spark, s"$wh/$t")
    val all = m.files.values.flatten.toSeq
    val counted = all.filter(_.nulls.contains("v"))
    assert(counted.nonEmpty, s"no file recorded null counts: $all")
    val allNullFiles = counted.filter(f => f.rows.contains(f.nulls("v")))
    val noNullFiles = counted.filter(_.nulls("v") == 0L)
    assert(allNullFiles.nonEmpty, s"append A produced no all-null file: $all")
    assert(noNullFiles.nonEmpty, s"append B produced no zero-null file: $all")
    // the all-null files must carry NO bounds for v (nothing to bound)
    assert(allNullFiles.forall(!_.extra.contains("v")))

    val total = all.size
    // IS NOT NULL skips the all-null files (bounds never could)
    val notNull = KeyedTableSource.read(spark, wh, t)
      .filter(col("v").isNotNull)
    assert(plannedFiles(notNull) <= total - allNullFiles.size,
      s"IS NOT NULL planned ${plannedFiles(notNull)} of $total files")
    assert(notNull.count() ==
      50 /* create evens */ + 100 /* B */ + 50 /* C evens */)
    // IS NULL skips the zero-null files
    val isNull = KeyedTableSource.read(spark, wh, t)
      .filter(col("v").isNull)
    assert(plannedFiles(isNull) <= total - noNullFiles.size,
      s"IS NULL planned ${plannedFiles(isNull)} of $total files")
    assert(isNull.count() == 50 + 100 + 50)
    // a range predicate carries an implicit IsNotNull push — the
    // all-null files are skipped even though they have no bounds
    val range = KeyedTableSource.read(spark, wh, t)
      .filter(col("v") >= 0.0)
    assert(plannedFiles(range) <= total - allNullFiles.size,
      s"range predicate planned ${plannedFiles(range)} of $total files")
    assert(range.count() == 200L)
  }

  test("null counts survive compaction and ride the optimistic paths") {
    val t = "t_null_compact"
    KeyedTable.toSql(
      (1L to 50L).map(i => (i, Some(i * 1.0))).toDF("id", "v"),
      wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.setStatsColumns(spark, wh, t, Seq("v"))
    KeyedTable.appendConcurrent(
      (51L to 100L).map(i => (i, None: Option[Double])).toDF("id", "v"),
      wh, t): Unit
    val before = Manifest.current(spark, s"$wh/$t")
      .files.values.flatten.toSeq
    assert(before.exists(f => f.nulls.get("v").exists(n => n > 0L)),
      s"optimistic append recorded no null count: $before")
    assert(KeyedTable.compact(spark, wh, t, minFiles = 2) > 0,
      "compaction must actually rewrite the crowded buckets")
    val after = Manifest.current(spark, s"$wh/$t")
      .files.values.flatten.toSeq
    // the rewrite's files re-record counts (create's rows joined in, so
    // the merged files are mixed: 0 < count < rows)
    assert(after.forall(_.nulls.contains("v")), s"post-compact: $after")
    assert(after.map(_.nulls("v")).sum == 50L)
    assert(KeyedTable.readSql(spark, wh, t).filter(col("v").isNull)
      .count() == 50L)
  }
}
