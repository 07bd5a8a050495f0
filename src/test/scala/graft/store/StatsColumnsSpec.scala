package graft.store

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.TempDirs

/** #11z per-column manifest statistics: registered extra columns get
  * per-file min/max recorded at every commit (same single footer read),
  * and the DSv2 scan file-skips on pushed predicates over them — the
  * Iceberg per-column-metrics model extended past the leading PK. */
class StatsColumnsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-statscols")

  test("manifest JSON round-trips extra column stats (leading present or absent)") {
    val full = ManifestFile("a.parquet", 10L, Some(5L),
      Some(ColStats(1L, 9L)),
      Map("price" -> ColStats(0.5, 2.5), "name" -> ColStats("a", "z")))
    val noLead = ManifestFile("b.parquet", 10L, Some(5L), None,
      Map("price" -> ColStats(1.0, 2.0)))
    val m = Manifest(3L, 2, Map(0 -> Seq(full), 1 -> Seq(noLead)))
    assert(Manifest.fromJson(m.toJson) == m)
    // pruning math on the extras
    assert(full.mayOverlapOn("price", Some(2.0), None))
    assert(!full.mayOverlapOn("price", Some(3.0), None))
    assert(full.mayOverlapOn("missing", Some(99.0), None)) // unknown → kept
  }

  test("setStatsColumns validates; appends then record stats and scans file-skip") {
    val t = "t_extra_stats"
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, i * 10.0, s"n$i")).toDF("id", "price", "name")
    KeyedTable.toSql(slice(1, 100), wh, t, pk = Seq("id"), buckets = 2)
    intercept[StoreException](
      KeyedTable.setStatsColumns(spark, wh, t, Seq("nope")))
    KeyedTable.setStatsColumns(spark, wh, t, Seq("price", "id"))
    // leading PK silently dropped (already tracked)
    assert(TableMeta.read(spark, s"$wh/$t").statsCols == Seq("price"))
    KeyedTable.toSql(slice(101, 200), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    KeyedTable.toSql(slice(201, 300), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    val m = Manifest.current(spark, s"$wh/$t")
    val all = m.files.values.flatten.toSeq
    // files from the two post-registration appends carry price stats;
    // the create's files (pre-registration) legitimately do not
    val withExtra = all.filter(_.extra.contains("price"))
    assert(withExtra.nonEmpty, s"no file recorded price stats: $all")
    withExtra.foreach { f =>
      val s = f.extra("price")
      assert(s.min.asInstanceOf[Double] >= 1010.0 &&
        s.max.asInstanceOf[Double] <= 3000.0, s"bad price stats $s")
    }
    // a price range only the THIRD append satisfies: the scan must plan
    // fewer files than the snapshot holds (create's stat-less files stay)
    val total = all.size
    val df = KeyedTableSource.read(spark, wh, t)
      .filter(col("price") >= 2010.0)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val planned = scans.head.inputPartitions.collect {
      case p: KeyedFilePartition => p.files.length
    }.sum
    assert(planned < total,
      s"scan planned all $total files despite the pushed price bound")
    assert(df.select("id").as[Long].collect().sorted.toSeq == (201L to 300L))
  }

  test("a prefix predicate (LIKE 'x%') file-skips on string stats") {
    val t = "t_prefix_stats"
    def slice(tag: String, lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"$tag$i")).toDF("id", "name")
    KeyedTable.toSql(slice("aa", 1, 50), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.setStatsColumns(spark, wh, t, Seq("name"))
    // three appends with disjoint name prefixes -> disjoint string stats
    KeyedTable.toSql(slice("bb", 101, 150), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    KeyedTable.toSql(slice("cc", 201, 250), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    KeyedTable.toSql(slice("dd", 301, 350), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    val total = Manifest.current(spark, s"$wh/$t")
      .files.values.flatten.size
    val df = KeyedTableSource.read(spark, wh, t)
      .filter(col("name").startsWith("cc"))
    val planned = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.collect {
      case p: KeyedFilePartition => p.files.length
    }.sum
    assert(planned < total,
      s"prefix predicate planned all $total files (no stat skip)")
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      (201L to 250L))
  }

  test("zorderCompact auto-registers its clustering columns") {
    val t = "t_zstats"
    KeyedTable.toSql(
      (1L to 200L).map(i => (i, i % 17 * 1.0, (i * 31 % 19) * 1.0))
        .toDF("id", "x", "y"),
      wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.zorderCompact(spark, wh, t, Seq("x", "y"))
    assert(TableMeta.read(spark, s"$wh/$t").statsCols.toSet == Set("x", "y"))
    val m = Manifest.current(spark, s"$wh/$t")
    val all = m.files.values.flatten.toSeq
    assert(all.nonEmpty &&
      all.forall(f => f.extra.contains("x") && f.extra.contains("y")),
      s"zorder rewrite files missing clustered-column stats: $all")
    // content unchanged by the layout rewrite
    assert(KeyedTable.readSql(spark, wh, t).count() == 200L)
  }
}
