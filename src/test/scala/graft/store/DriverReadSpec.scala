package graft.store

import scala.util.Random

import org.apache.spark.JobCounter.jobsRunBy
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.{SparkSpec, TempDirs}

/** readSql's small reads are served on the driver: the read is planned
  * as the Spark path plans it, then read in this JVM through the scan's
  * own reader factory. These specs hold the served reads to the Spark
  * path's results (the `KeyedTableSource` frame filtered by the same
  * bounds) across PK types, bound types, delete vectors, schema
  * evolution, renames and time travel, and pin that a served point read
  * runs no Spark job and compiles no class. */
class DriverReadSpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-driver-read")

  private val epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val day0 = java.time.LocalDate.of(2024, 1, 1)

  /** The stored value of key `k` in a PK column of type `t`. */
  private def keyOf(t: String, k: Int): Any = t match {
    case "byte" => k.toByte
    case "short" => k.toShort
    case "int" => k
    case "long" => k.toLong
    case "string" => f"k$k%04d"
    case "timestamp" => new java.sql.Timestamp(epoch + k * 3600000L)
    case "date" => java.sql.Date.valueOf(day0.plusDays(k))
  }

  private def sqlType(t: String): DataType = t match {
    case "byte" => ByteType
    case "short" => ShortType
    case "int" => IntegerType
    case "long" => LongType
    case "string" => StringType
    case "timestamp" => TimestampType
    case "date" => DateType
  }

  /** A bound for key `k` on a PK column of type `t`, of a randomly
    * picked type readSql accepts there (cross-typed where allowed). */
  private def boundOf(t: String, k: Int, rng: Random): Any = t match {
    case "byte" | "short" | "int" | "long" =>
      val fits = Seq[Any](k.toLong, k) ++
        (if (k.isValidShort) Seq(k.toShort) else Nil) ++
        (if (k.isValidByte) Seq(k.toByte) else Nil)
      fits(rng.nextInt(fits.size))
    case "timestamp" =>
      val ts = new java.sql.Timestamp(epoch + k * 3600000L)
      if (rng.nextBoolean()) ts else ts.toInstant
    case "date" =>
      if (rng.nextBoolean()) day0.plusDays(k) else java.sql.Date.valueOf(day0.plusDays(k))
    case _ => keyOf(t, k)
  }

  private def tableDir(t: String): String = KeyedTable.tableDir(wh, t)

  /** The Spark path: the table's `KeyedTableSource` frame (at `version`
    * when given) filtered by the bounds, projected as readSql projects. */
  private def sparkPath(t: String, lo: Seq[Any], hi: Seq[Any],
                        version: Option[Long]): DataFrame = {
    val meta = TableMeta.read(spark, tableDir(t))
    val bounds: Seq[Column] =
      lo.zipWithIndex.collect { case (v, i) if v != null => col(meta.pk(i)) >= lit(v) } ++
      hi.zipWithIndex.collect { case (v, i) if v != null => col(meta.pk(i)) <= lit(v) }
    val base = version match {
      case Some(v) => KeyedTableSource.readAt(spark, wh, t, v)
      case None => KeyedTableSource.read(spark, wh, t)
    }
    bounds.foldLeft(base)(_ filter _)
      .select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  private def counts(rows: Array[Row]): Map[Row, Int] =
    rows.groupBy(identity).view.mapValues(_.length).toMap

  /** readSql over [lo, hi] equals the Spark path, schema included;
    * returns whether the driver served it. */
  private def check(t: String, lo: Seq[Any], hi: Seq[Any],
                    asOfVersion: Option[Long] = None,
                    asOfTag: Option[String] = None): Boolean = {
    val got = KeyedTable.readSql(spark, wh, t, lowest = lo, highest = hi,
      asOfVersion = asOfVersion, asOfTag = asOfTag)
    val version = asOfVersion.orElse(asOfTag.map(KeyedTable.resolveTag(spark, tableDir(t), _)))
    val want = sparkPath(t, lo, hi, version)
    val what = s"$t [$lo, $hi] version=$asOfVersion tag=$asOfTag"
    assert(got.schema == want.schema, what)
    assert(counts(got.collect()) == counts(want.collect()), what)
    got.queryExecution.logical.isInstanceOf[LocalRelation]
  }

  private val pkTypes = Seq("byte", "short", "int", "long", "string", "timestamp", "date")

  test("every read the driver serves equals the Spark path's (seeded)") {
    val rng = new Random(20261021L)
    val n = 120
    var served = 0
    for (t <- pkTypes) {
      val name = s"pk_$t"
      val rows = (1 to n).map(k => Row(keyOf(t, k), s"v$k", k * 1.5))
      val schema = StructType(Seq(StructField("k", sqlType(t), nullable = false),
        StructField("name", StringType), StructField("score", DoubleType)))
      KeyedTable.toSql(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema), wh, name, pk = Seq("k"), buckets = 8)
      val v0 = Manifest.current(spark, tableDir(name)).version
      KeyedTable.tagSnapshot(spark, wh, name, "before"): Unit
      // delete vectors over several buckets: every 9th key
      val dead = (1 to n).filter(_ % 9 == 0).map(keyOf(t, _))
      assert(KeyedTable.delete(spark, wh, name, col("k").isin(dead: _*),
        mode = DeleteMode.MergeOnRead) == dead.size)
      assert(Manifest.current(spark, tableDir(name)).dvs.nonEmpty)
      // point reads, present, deleted and absent keys, with cross-typed
      // bounds: each pins one bucket, whose one file the driver reads
      for (_ <- 1 to 12) {
        val k = rng.nextInt(n + 10) + 1
        val b = boundOf(t, k, rng)
        assert(check(name, Seq(b), Seq(b)), s"$name point $k not served")
        served += 1
      }
      for (k <- Seq(9, 18)) {
        assert(check(name, Seq(keyOf(t, k)), Seq(keyOf(t, k))))
        assert(check(name, Seq(keyOf(t, k)), Seq(keyOf(t, k)), asOfVersion = Some(v0)))
        assert(check(name, Seq(keyOf(t, k)), Seq(keyOf(t, k)), asOfTag = Some("before")))
      }
      // narrow ranges and one-sided bounds: whichever path runs, the
      // rows are the Spark path's
      for (_ <- 1 to 4) {
        val lo = rng.nextInt(n) + 1
        val hi = lo + rng.nextInt(4)
        check(name, Seq(boundOf(t, lo, rng)), Seq(boundOf(t, hi, rng)))
      }
      check(name, Seq(null), Seq(boundOf(t, 5, rng)))
    }
    assert(served >= 12 * pkTypes.size)
  }

  test("served reads: composite PKs, a skipped dimension, empty buckets") {
    val rng = new Random(7L)
    val rows = for (i <- 1 to 60; g <- 1 to 3) yield (i.toLong, g, s"r$i-$g", i * g * 0.5)
    val df = rows.toDF("k1", "k2", "name", "score")
    KeyedTable.toSql(df, wh, "multi", pk = Seq("k1", "k2"), buckets = 8)
    // one bucket: a read with a skipped dimension plans one file
    KeyedTable.toSql(df, wh, "multi1", pk = Seq("k1", "k2"), buckets = 1)
    KeyedTable.delete(spark, wh, "multi1", col("k2") === 2 && col("k1") % 5 === 0L,
      mode = DeleteMode.MergeOnRead): Unit
    for (_ <- 1 to 10) {
      val k1 = (rng.nextInt(64) + 1).toLong
      val k2 = rng.nextInt(4) + 1
      val b2: Any = if (rng.nextBoolean()) k2 else k2.toLong
      assert(check("multi", Seq(k1, b2), Seq(k1, b2)), s"multi ($k1, $k2) not served")
      assert(check("multi1", Seq(k1, null), Seq(k1, null)), s"multi1 ($k1, _) not served")
      assert(check("multi1", Seq(null, k2), Seq(null, k2)), s"multi1 (_, $k2) not served")
    }
    // an unbounded read stays lazy (count keeps its footer answer)
    assert(!check("multi1", Nil, Nil))
    // a one-file read past the byte bound keeps the Spark path
    KeyedTable.toSql(spark.range(1L, 40001L).select(col("id").as("k"),
        org.apache.spark.sql.functions.sha2(col("id").cast("string"), 256).as("h")),
      wh, "fat", pk = Seq("k"), buckets = 1)
    assert(Manifest.current(spark, tableDir("fat")).files.values.flatten.map(_.len).sum >
      KeyedScan.DriverReadMaxBytes)
    assert(!check("fat", Seq(5L), Seq(5L)))
    // a sparse table: a key whose bucket holds no file reads empty
    KeyedTable.toSql(Seq(1L, 2L, 3L).map(k => (k, k * 2.0)).toDF("k", "v"), wh, "sparse",
      pk = Seq("k"), buckets = 8)
    val meta = TableMeta.read(spark, tableDir("sparse"))
    val used = Manifest.current(spark, tableDir("sparse")).files.collect {
      case (b, fls) if fls.nonEmpty => b
    }.toSet
    val lonely = (4L to 200L).find(k =>
      !used(KeyedTable.bucketOfKey(spark, meta, 8, Seq(k)))).get
    assert(check("sparse", Seq(lonely), Seq(lonely)))
    assert(KeyedTable.readSql(spark, wh, "sparse", Seq(lonely), Seq(lonely)).isEmpty)
  }

  test("served reads: an evolved schema, a renamed column and a branch") {
    val df = (1L to 100L).map(k => (k, s"v$k", k * 1.5)).toDF("k", "name", "score")
    KeyedTable.toSql(df, wh, "evo", pk = Seq("k"), buckets = 8)
    KeyedTable.delete(spark, wh, "evo", col("k") % 11 === 0L,
      mode = DeleteMode.MergeOnRead): Unit
    KeyedTable.renameColumn(spark, wh, "evo", "name", "label")
    KeyedTable.toSql(Seq((201L, "v201", 1.0, "new")).toDF("k", "label", "score", "extra"),
      wh, "evo", pk = Seq("k"), how = WriteMode.Append, addNewColumns = true)
    for (k <- Seq(5L, 22L, 77L, 201L, 300L))
      assert(check("evo", Seq(k), Seq(k)), s"evo $k not served")
    val old = KeyedTable.readSql(spark, wh, "evo", Seq(5L), Seq(5L)).head()
    assert(old.getAs[String]("label") == "v5" && old.isNullAt(old.fieldIndex("extra")))
    assert(KeyedTable.readSql(spark, wh, "evo", Seq(201L), Seq(201L))
      .head().getAs[String]("extra") == "new")
    // a branch: its own upsert, its base untouched
    Branches.create(spark, wh, "evo", "br")
    KeyedTable.toSql(Seq((5L, "b5", 9.0, "br")).toDF("k", "label", "score", "extra"),
      wh, "evo@br", pk = Seq("k"), how = WriteMode.Upsert)
    assert(check("evo@br", Seq(5L), Seq(5L)))
    assert(KeyedTable.readSql(spark, wh, "evo@br", Seq(5L), Seq(5L))
      .head().getAs[String]("label") == "b5")
    assert(KeyedTable.readSql(spark, wh, "evo", Seq(5L), Seq(5L))
      .head().getAs[String]("label") == "v5")
  }

  test("served point reads run no Spark job and compile no class") {
    val df = (1L to 2000L).map(k => (k, s"v${k % 13}", k * 0.25)).toDF("k", "name", "score")
    KeyedTable.toSql(df, wh, "pin", pk = Seq("k"), buckets = 16)
    KeyedTable.delete(spark, wh, "pin", col("k") % 97 === 0L,
      mode = DeleteMode.MergeOnRead): Unit
    def read(k: Long): Array[Row] =
      KeyedTable.readSql(spark, wh, "pin", Seq(k), Seq(k)).collect()
    // warm-up: clean and masked buckets, present and absent keys
    for (k <- Seq(1L, 97L, 98L, 194L, 2500L)) read(k)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val keys = (1 to 50).map(i => 100L + i * 37L)
    val (got, jobs) = jobsRunBy(spark.sparkContext)(keys.map(read))
    assert(jobs.isEmpty, s"point reads ran $jobs")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "point reads compiled new classes")
    assert(got.zip(keys).forall { case (rows, k) =>
      if (k % 97 == 0) rows.isEmpty else rows.map(_.getLong(0)).toSeq == Seq(k) })
  }
}
