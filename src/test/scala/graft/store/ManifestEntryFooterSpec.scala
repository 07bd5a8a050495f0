package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.TempDirs

/** Every manifest entry equals its file's footer, whichever verb
  * committed it: one table goes through create, append, upsert, merge,
  * update and delete (copy-on-write and merge-on-read), compact,
  * zorder, rebucket and a stream append and a stream upsert epoch, and
  * after each step every live data file and delete-vector sidecar is
  * re-read here, independently of the store's own footer code. The
  * entry's `rows`, leading-PK bounds, extra-column bounds and NULL
  * counts must match the footer for the column set its commit tracked:
  * the PK alone for the create's files (no stats columns yet), the PK
  * plus the registered stats columns for every later file, nothing but
  * the position count for a DV. */
class ManifestEntryFooterSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-entryfooter")

  private def df(rows: (Long, String, Option[Double])*): DataFrame =
    rows.toDF("id", "name", "v")

  private def rows(lo: Long, hi: Long, tag: String): DataFrame =
    df((lo to hi).map(i =>
      (i, s"$tag$i", if (i % 3 == 0) None else Some(i * 1.5))): _*)

  /** (rows, per-column bounds, per-column NULL counts) of one footer,
    * normalized to the manifest's Long / Double / String domain; a
    * column missing a bound or a count in any block has none. */
  private def footerOf(p: Path, cols: Seq[String])
      : (Long, Map[String, ColStats], Map[String, Long]) = {
    def norm(v: Any): Any = v match {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
      case d: java.lang.Double => d.doubleValue()
      case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Double, y: Double) => x < y
      case (x: String, y: String) => x < y // the test data is ASCII
    }
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      def chunks(c: String) = blocks.map(_.getColumns.asScala
        .find(_.getPath.toDotString == c).map(_.getStatistics).orNull)
      val bounds = cols.flatMap { c =>
        val ss = chunks(c)
        if (ss.exists(s => s == null || !s.hasNonNullValue)) None
        else {
          val mins = ss.map(s => norm(s.genericGetMin))
          val maxs = ss.map(s => norm(s.genericGetMax))
          Some(c -> ColStats(mins.reduce((a, b) => if (lt(b, a)) b else a),
            maxs.reduce((a, b) => if (lt(a, b)) b else a)))
        }
      }.toMap
      val nulls = cols.drop(1).flatMap { c =>
        val ss = chunks(c)
        if (ss.exists(s => s == null || !s.isNumNullsSet)) None
        else Some(c -> ss.map(_.getNumNulls).sum)
      }.toMap
      (blocks.map(_.getRowCount).sum, bounds, nulls)
    } finally reader.close()
  }

  /** Checks every live entry of `t`'s current manifest against its
    * footer; `createFiles` are the create's files (PK stats only). */
  private def entriesMatchFooters(t: String, createFiles: Set[String],
                                  step: String): Unit = {
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    val stats = TableMeta.read(spark, KeyedTable.tableDir(wh, t)).statsCols
    val data = KeyedTable.dataDir(wh, t)
    m.files.foreach { case (b, fls) =>
      fls.foreach { e =>
        val cols = "id" +: (if (createFiles(e.name)) Nil else stats)
        val (n, bounds, nulls) =
          footerOf(new Path(s"$data/pb_bucket=$b/${e.name}"), cols)
        val what = s"$step: data file $b/${e.name}"
        assert(e.rows.contains(n), what)
        assert(e.stats == bounds.get("id"), what)
        assert(e.extra == bounds - "id", what)
        assert(e.nulls == nulls, what)
      }
    }
    m.dvs.foreach { case (b, fls) =>
      fls.foreach { e =>
        val (n, _, _) = footerOf(new Path(s"$data/pb_bucket=$b/${e.name}"), Nil)
        val what = s"$step: DV $b/${e.name}"
        assert(e.rows.contains(n), what)
        assert(e.stats.isEmpty && e.extra.isEmpty && e.nulls.isEmpty, what)
      }
    }
  }

  test("every verb's manifest entries equal their files' footers") {
    val t = "t_entries"
    val mor = DeleteMode.MergeOnRead
    val cow = DeleteMode.CopyOnWrite
    KeyedTable.toSql(rows(1, 40, "a"), wh, t, pk = Seq("id"), buckets = 4)
    val createFiles = Manifest.current(spark, KeyedTable.tableDir(wh, t))
      .files.valuesIterator.flatten.map(_.name).toSet
    entriesMatchFooters(t, createFiles, "create")
    KeyedTable.setStatsColumns(spark, wh, t, Seq("name", "v"))
    val steps: Seq[(String, () => Any)] = Seq(
      "append" -> (() => KeyedTable.toSql(rows(41, 60, "b"), wh, t,
        pk = Seq("id"), how = WriteMode.Append)),
      "upsert" -> (() => KeyedTable.toSql(rows(35, 70, "c"), wh, t,
        pk = Seq("id"), how = WriteMode.Upsert)),
      "merge cow" -> (() => KeyedTable.merge(rows(1, 8, "d"), wh, t,
        col("id") === 2L, mode = cow)),
      "merge mor" -> (() => KeyedTable.merge(rows(60, 75, "e"), wh, t,
        col("id") === 61L, mode = mor)),
      "update cow" -> (() => KeyedTable.update(spark, wh, t,
        col("id") <= 12L, Map("name" -> lit("u")), mode = cow)),
      "update mor" -> (() => KeyedTable.update(spark, wh, t,
        col("id") === 20L, Map("v" -> lit(null).cast("double")), mode = mor)),
      "delete cow" -> (() => KeyedTable.delete(spark, wh, t,
        col("id").between(25L, 28L), mode = cow)),
      "delete mor" -> (() => KeyedTable.delete(spark, wh, t,
        col("id") === 50L, mode = mor)),
      "compact" -> (() => KeyedTable.compact(spark, wh, t, minFiles = 2)),
      "zorder" -> (() => KeyedTable.zorderCompact(spark, wh, t,
        Seq("id", "v"))),
      "rebucket" -> (() => KeyedTable.rebucket(spark, wh, t, 8)),
      "stream append" -> (() => SinkEpoch.commit(spark, wh, t,
        rows(100, 110, "s"), 8, "q", 0L)),
      "stream upsert" -> (() => SinkEpoch.commit(spark, wh, t,
        rows(105, 115, "t"), 8, "q", 1L, upsert = true)))
    steps.foreach { case (step, run) =>
      run()
      entriesMatchFooters(t, createFiles, step)
    }
    // the merge-on-read steps did leave sidecars to check
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    assert(m.dvs.nonEmpty, "the stream upsert tombstoned no position")
    assert(KeyedTable.readSql(spark, wh, t).count() ==
      (1L to 115L).count(i => i != 2L && i != 61L && i != 50L &&
        !(25L to 28L).contains(i) && !(76L to 99L).contains(i)).toLong)
  }
}
