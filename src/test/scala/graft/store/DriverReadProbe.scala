package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.TempDirs

/** Crossover probe for [[KeyedScan.DriverReadMaxBytes]]: times a
  * one-file read on the driver and through Spark at several file sizes.
  *
  * Each size is a one-bucket table of the oltp benchmark's `orders` shape
  * (so every read plans one file in one partition). Per size it times
  * four shapes on both paths, median of `reps` after `warm` warm-ups:
  *  - `point`: a point read and `collect()` (one row returned; parquet
  *    skips the pages the pushed key rules out);
  *  - `full`: the whole file read and `collect()`;
  *  - `full_count`: the whole file read and `count()` — the served path
  *    materialises every row, Spark answers from the manifest's row
  *    counts (footer-aggregate pushdown);
  *  - `point_dv`: a point read after a merge-on-read delete of 1% of
  *    the rows (masked files read row-based and unfiltered).
  * The Spark path is readSql's lazy frame; the driver path is the same
  * frame served by [[KeyedTableSource.onDriver]] with no size cap.
  *
  * Run: `sbt "Test/runMain graft.store.DriverReadProbe"`; prints one JSON
  * object. `local[4]`, like the benchmark's JVM. */
object DriverReadProbe {

  def main(args: Array[String]): Unit = {
    val rowCounts = Seq(2000L, 16000L, 64000L, 256000L, 1000000L)
    val (warm, reps) = (3, 9)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wh = TempDirs.tempDir("graft-driver-read-probe")

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def time(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def ms(body: => Any): Double = {
      (1 to warm).foreach(_ => body)
      median((1 to reps).map(_ => time(body)))
    }

    val rows = rowCounts.map { n =>
      val t = s"orders_$n"
      val src = spark.range(1L, n + 1).select(
        col("id").as("o_orderkey"),
        (col("id") * 7919L % 150000L).as("o_custkey"),
        lit("O").as("o_orderstatus"),
        (col("id") % 49900000L / 100.0 + 1000.0).as("o_totalprice"),
        (lit(788918400L) + col("id") % 2404L * 86400L).cast("timestamp").as("o_orderdate"),
        lit("3-MEDIUM").as("o_orderpriority"))
      KeyedTable.toSql(src, wh, t, pk = Seq("o_orderkey"), buckets = 1)
      val dir = KeyedTable.tableDir(wh, t)
      val bytes = Manifest.current(spark, dir).files.values.flatten.map(_.len).sum
      def frame(lo: Option[Long]): DataFrame = {
        val meta = TableMeta.read(spark, dir)
        lo.foldLeft(KeyedTableSource.read(spark, wh, t))((df, k) =>
          df.filter(col("o_orderkey") >= lit(k)).filter(col("o_orderkey") <= lit(k)))
          .select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
      }
      def served(lo: Option[Long]): DataFrame =
        KeyedTableSource.onDriver(spark, frame(lo), Long.MaxValue)
          .getOrElse(sys.error(s"$t: not servable"))
      var key = 0L
      def nextKey(): Option[Long] = { key = key % n + 7919L; Some(key % n + 1) }
      def shape(name: String): Seq[(String, Double)] = {
        def run(df: Option[Long] => DataFrame): Any = name match {
          case "full" => df(None).collect()
          case "full_count" => df(None).count()
          case _ => df(nextKey()).collect()
        }
        val spark_ = ms(run(frame))
        val driver = ms(run(served))
        Seq(s"${name}_spark_ms" -> spark_, s"${name}_driver_ms" -> driver)
      }
      val clean = shape("point") ++ shape("full") ++ shape("full_count")
      KeyedTable.delete(spark, wh, t, col("o_orderkey") % 100L === 0L,
        mode = DeleteMode.MergeOnRead): Unit
      val masked = shape("point_dv")
      val fields = (Seq("rows" -> n.toDouble, "file_bytes" -> bytes.toDouble) ++
        clean ++ masked).map { case (k, v) =>
          val s = if (v == math.rint(v)) v.toLong.toString else f"$v%.2f"
          s""""$k": $s"""
        }
      println(s"[probe] $t ${fields.mkString(", ")}")
      fields.mkString("{", ", ", "}")
    }
    println(s"""{"warm": $warm, "reps": $reps, "sizes": [${rows.mkString(", ")}]}""")
    spark.stop()
  }
}
