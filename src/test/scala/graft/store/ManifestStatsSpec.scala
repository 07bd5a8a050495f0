package graft.store

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.TempDirs

/** File-skipping statistics in the manifest: every commit records each
  * new file's leading-PK min/max, and range reads (v1 readSql and the
  * DSv2 scan's pushed bounds) drop files that cannot overlap — the
  * Iceberg-style planning-time prune that makes a narrow range read on
  * an append-accumulated table touch only its deltas' files. */
class ManifestStatsSpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-mstats")

  private def build(t: String): String = {
    import spark.implicits._
    def slice(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"name$i")).toDF("id", "name")
    KeyedTable.toSql(slice(1L, 100L), wh, t, pk = Seq("id"), buckets = 2)
    KeyedTable.toSql(slice(101L, 200L), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    KeyedTable.toSql(slice(201L, 300L), wh, t, pk = Seq("id"),
      how = WriteMode.Append)
    t
  }

  test("append commits record leading-PK stats; overlap math prunes files") {
    val t = build("t_stats")
    val m = Manifest.current(spark, s"$wh/$t")
    val all = m.files.values.flatten.toSeq
    // every commit — create included — records rows and leading-PK
    // stats per file from one footer read
    assert(all.forall(_.rows.isDefined), s"missing row counts: $all")
    assert(all.flatMap(_.rows).sum == 300L)
    val withStats = all.flatMap(_.stats)
    assert(withStats.size == all.size, s"missing stats: $all")
    assert(withStats.forall { s =>
      val mn = s.min.asInstanceOf[Long]; val mx = s.max.asInstanceOf[Long]
      mn >= 1L && mx <= 300L && mn <= mx
    })
    // stats survive the JSON round trip bit-for-bit
    assert(Manifest.fromJson(m.toJson) == m)
    // a [250, 300] range keeps the 201..300 delta's files and drops the
    // 101..200 delta's
    val kept = all.filter(_.mayOverlap(Some(250L), Some(300L)))
    assert(kept.size < all.size,
      s"no file was pruned: kept ${kept.size} of ${all.size}")
    assert(all.filter(_.stats.isDefined).exists(f => !kept.contains(f)))
  }

  test("string stats order by unsigned UTF-8 bytes, not Java UTF-16") {
    // U+1F600 encodes as a UTF-16 surrogate pair starting 0xD83D, which
    // Java's String order puts BELOW U+FFFD — but its UTF-8 bytes (F0…)
    // sort above (EF…), which is how parquet stats and Spark compare
    val emoji = new String(Character.toChars(0x1F600))
    val fffd = "�"
    assert(emoji < fffd)                       // Java order (the trap)
    assert(Manifest.utf8Le(fffd, emoji))       // byte order (the truth)
    assert(!Manifest.utf8Le(emoji, fffd))
    // a file spanning [fffd, emoji] in byte order must stay live for
    // the literal U+F000 lower bound below: in UTF-16 order that bound
    // sits ABOVE the file's max (0xF000 > 0xD83D surrogate) and the
    // file would be wrongly pruned; in UTF-8 byte order
    // (EF 80 80 < F0 9F 98 80) it is correctly inside the span
    val f = ManifestFile("p.parquet", 1L, Some(1L),
      Some(ColStats(fffd, emoji)))
    assert(f.mayOverlap(Some(""), None))
    assert(f.mayOverlap(None, Some(fffd)))
    assert(!f.mayOverlap(None, Some("a")))     // genuinely below min
  }

  test("pushed In-list over strings derives bounds in UTF-8 byte order") {
    import spark.implicits._
    // U+1F600 < U+F000… in Java/UTF-16 order but > in UTF-8 byte order:
    // sorting the In-values with `<` would derive [lo, hi] = [emoji,
    // U+F000x], an INVERTED span under the utf8Le order mayOverlap
    // compares with — every file would be pruned and the read would
    // silently return nothing. Bound derivation must sort in the same
    // order the stats comparison uses.
    val emoji = new String(Character.toChars(0x1F600))
    val other = "\uF000x" // U+F000 + x (explicit escape)
    val t = "t_in_utf8"
    KeyedTable.toSql(
      Seq((emoji, 1L), (other, 2L), ("a", 3L)).toDF("k", "v"),
      wh, t, pk = Seq("k"), buckets = 1)
    val out = KeyedTableSource.read(spark, wh, t)
      .filter(col("k").isin(emoji, other))
      .select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L),
      s"In-list bound derivation pruned matching files: got $out")
  }

  test("readSql range read over pruned files returns exactly the range") {
    val t = build("t_stats_read")
    val out = KeyedTable.readSql(spark, wh, t,
        lowest = Seq(250L), highest = Seq(300L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == (250L to 300L))
    // bounds that no file can hold return empty, not an error
    assert(KeyedTable.readSql(spark, wh, t,
      lowest = Seq(5000L), highest = Seq(6000L)).count() == 0L)
  }

  test("COUNT(*) answers from manifest row counts as a zero-IO local scan") {
    import org.apache.spark.sql.functions.{count, lit}
    val t = build("t_rowcount")
    val df = KeyedTableSource.read(spark, wh, t).agg(count(lit(1)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("manifest row counts") ||
      plan.contains("LocalTableScan"), s"not a local scan:\n$plan")
    assert(df.head().getLong(0) == 300L)
  }

  test("DSv2 scan file-skips on pushed leading-PK bounds") {
    val t = build("t_stats_v2")
    val total = Manifest.current(spark, s"$wh/$t")
      .files.values.map(_.size).sum
    val df = KeyedTableSource.read(spark, wh, t).filter(col("id") >= 250L)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    val planned = scans.head.inputPartitions.collect {
      case p: KeyedFilePartition => p.files.length
    }.sum
    assert(planned < total,
      s"scan planned all $total files despite the pushed bound")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (250L to 300L))
  }
}
