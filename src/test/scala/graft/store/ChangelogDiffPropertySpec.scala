package graft.store

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.{SparkSpec, TempDirs}

/** The changelog equals the snapshot diff, verb by verb. Seeded random
  * histories on a CDC table run every committing verb — append, full
  * and partial upsert, merge (tombstones, `deleteOnlyMatched`) in both
  * modes, update and delete copy-on-write and merge-on-read, both sink
  * modes — with one `addColumns` halfway. After each commit of version
  * v, its batch must:
  *  1. minus its `unchanged` rows, equal `diffImages(v-1, v)` as a set of
  *     (pk, op, old_*, new_*) rows;
  *  2. carry equal old and new values on every non-PK column of an
  *     `unchanged` row (so on the verb's compared columns);
  *  3. have the layout (pk…, op, old_<c>, new_<c>, …) in table-schema
  *     order, with the table's types. */
class ChangelogDiffPropertySpec extends SparkSpec {

  private lazy val wh: String = TempDirs.tempDir("graft-cldiff")

  private val Buckets = 4

  private def dir(t: String): String = KeyedTable.tableDir(wh, t)

  private def version(t: String): Long = Manifest.current(spark, dir(t)).version

  private def batches(t: String): Seq[Long] = {
    val root = new Path(dir(t), KeyedTable.ChangelogDir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Nil
    else f.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
      .toSeq.sorted
  }

  /** `diffImages(from, to)`, restoring the two session confs it sets. */
  private def diff(t: String, meta: TableMeta, from: Long, to: Long): DataFrame = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      val out = KeyedTable.diffImages(spark, wh, t, meta,
        Manifest.at(spark, dir(t), from), Manifest.at(spark, dir(t), to))
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Run `op` and check its batch against the diff of its commit. */
  private def checked(t: String, what: String)(op: => Any): Unit = {
    val (v0, b0) = (version(t), batches(t))
    op
    val (v1, b1) = (version(t), batches(t))
    if (v1 == v0) assert(b1 == b0, s"$what: no commit but a new batch")
    else {
      assert(v1 == v0 + 1, s"$what: one commit")
      assert(b1.size == b0.size + 1, s"$what: one batch per commit")
      val meta = TableMeta.read(spark, dir(t))
      val batch = spark.read.parquet(
        s"${dir(t)}/${KeyedTable.ChangelogDir}/batch=${b1.last}")
      val nonPk = meta.schema.fieldNames.filterNot(meta.pk.contains).toSeq
      // 3. the batch layout
      val want = meta.pk.map(c => c -> meta.schema(c).dataType) ++
        (("op" -> (StringType: DataType)) +: nonPk.flatMap { c =>
          Seq(s"old_$c" -> meta.schema(c).dataType,
            s"new_$c" -> meta.schema(c).dataType)
        })
      assert(batch.schema.fields.map(f => f.name -> f.dataType).toSeq == want,
        s"$what: batch schema ${batch.schema.simpleString}")
      // 2. an unchanged row changed nothing
      val unchanged = batch.filter(col("op") === "unchanged")
      val moved = nonPk.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
        .reduceOption(_ || _).getOrElse(lit(false))
      assert(unchanged.filter(moved).isEmpty,
        s"$what: an unchanged row has different old and new values")
      // 1. the batch minus unchanged rows is the snapshot diff
      val got = rowSet(batch.filter(col("op") =!= "unchanged"))
      val diffed = rowSet(diff(t, meta, v0, v1).select(batch.columns.map(col).toIndexedSeq: _*))
      assert(got == diffed, s"$what: changelog ${got -- diffed} vs diff ${diffed -- got}")
    }
  }

  private val Verbs = Seq("append", "upsert", "upsertPartial", "mergeCow",
    "mergeCowOnlyMatched", "mergeMor", "mergeMorOnlyMatched", "updateCow",
    "updateMor", "deleteCow", "deleteMor", "sinkAppend", "sinkUpsert")

  for (seed <- Seq(11L, 12L, 13L)) test(s"changelog equals the snapshot diff, seed $seed") {
    val rnd = new Random(seed)
    val t = s"t_cl_$seed"
    def schema: StructType = TableMeta.read(spark, dir(t)).schema
    def live: Map[Long, Row] =
      KeyedTable.readSql(spark, wh, t).collect().map(r => r.getLong(0) -> r).toMap
    var nextKey = 100L
    def fresh(n: Int): Seq[Long] = (0 until n).map { _ => nextKey += 1; nextKey }
    def pick(n: Int): Seq[Long] = rnd.shuffle(live.keys.toVector).take(n)
    def value(dt: DataType): Any =
      if (rnd.nextInt(6) == 0) null
      else dt match {
        case StringType => s"n${rnd.nextInt(3)}"
        case DoubleType => rnd.nextInt(3).toDouble
        case LongType => rnd.nextInt(3).toLong
      }
    def randomRow(k: Long, s: StructType): Row =
      Row.fromSeq(k +: s.fields.toSeq.tail.map(f => value(f.dataType)))
    def frame(rows: Seq[Row], s: StructType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
    /** Changed, repeated (unchanged) and new rows over the full schema. */
    def upsertRows: Seq[Row] = {
      val lv = live
      val keys = rnd.shuffle(lv.keys.toVector).take(5)
      keys.take(3).map(randomRow(_, schema)) ++ keys.drop(3).map(lv) ++
        fresh(2).map(randomRow(_, schema))
    }
    def sink(upsert: Boolean, rows: Seq[Row]): Unit =
      SinkEpoch.commit(spark, wh, t, frame(rows, schema), Buckets,
        if (upsert) "q-upsert" else "q-append", version(t), upsert)
    def merge(mode: DeleteMode, onlyMatched: Boolean): Unit = {
      val s = schema.add("is_del", BooleanType)
      val lv = live
      val keys = rnd.shuffle(lv.keys.toVector).take(5)
      val feed = keys.take(2).map(k => Row.fromSeq(randomRow(k, schema).toSeq :+ false)) ++
        keys.slice(2, 3).map(k => Row.fromSeq(lv(k).toSeq :+ false)) ++
        keys.drop(3).map(k => Row.fromSeq(randomRow(k, schema).toSeq :+ true)) ++
        fresh(1).map(k => Row.fromSeq(randomRow(k, schema).toSeq :+ true)) ++
        fresh(1).map(k => Row.fromSeq(randomRow(k, schema).toSeq :+ false))
      val del: Column = col("is_del")
      if (mode == DeleteMode.CopyOnWrite && rnd.nextBoolean())
        KeyedTable.mergeConcurrent(frame(feed, s), wh, t, deleteWhen = del,
          deleteOnlyMatched = onlyMatched)
      else KeyedTable.merge(frame(feed, s), wh, t, deleteWhen = del,
        deleteOnlyMatched = onlyMatched, mode = mode)
    }
    def update(mode: DeleteMode): Unit = {
      val where = col("id").isin(pick(3): _*)
      // `v + 0` leaves some matched rows unchanged
      val set = Map("v" -> (col("v") + lit(rnd.nextInt(2).toDouble)))
      if (rnd.nextBoolean()) KeyedTable.update(spark, wh, t, where, set, mode = mode)
      else KeyedTable.updateConcurrent(spark, wh, t, where, set, mode = mode)
    }
    def delete(mode: DeleteMode): Unit = {
      val where = col("id").isin(pick(2): _*)
      if (rnd.nextBoolean()) KeyedTable.delete(spark, wh, t, where, mode = mode)
      else KeyedTable.deleteConcurrent(spark, wh, t, where, mode = mode)
    }

    val s0 = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("name", StringType), StructField("v", DoubleType)))
    KeyedTable.toSql(frame((1L to 40L).map(randomRow(_, s0)), s0), wh, t,
      pk = Seq("id"), buckets = Buckets)
    KeyedTable.setChangelog(spark, wh, t, enabled = true)
    val history = rnd.shuffle(Verbs)
    val (first, second) = history.splitAt(history.size / 2)
    (first ++ ("addColumns" +: second)).foreach { verb =>
      checked(t, s"seed $seed $verb") {
        verb match {
          case "append" =>
            val df = frame(fresh(4).map(randomRow(_, schema)), schema)
            if (rnd.nextBoolean())
              KeyedTable.toSql(df, wh, t, how = WriteMode.Append)
            else KeyedTable.appendConcurrent(df, wh, t)
          case "upsert" =>
            val df = frame(upsertRows, schema)
            if (rnd.nextBoolean())
              KeyedTable.toSql(df, wh, t, how = WriteMode.Upsert)
            else KeyedTable.upsertConcurrent(df, wh, t)
          case "upsertPartial" =>
            val c = schema.fields.tail(rnd.nextInt(schema.size - 1))
            val s = StructType(Seq(schema.fields.head, c))
            val lv = live
            val keys = rnd.shuffle(lv.keys.toVector).take(4)
            val rows = keys.take(2).map(k => Row(k, value(c.dataType))) ++
              keys.drop(2).map(k => Row(k, lv(k).get(schema.fieldIndex(c.name)))) ++
              fresh(1).map(k => Row(k, value(c.dataType)))
            KeyedTable.toSql(frame(rows, s), wh, t, how = WriteMode.Upsert)
          case "mergeCow" => merge(DeleteMode.CopyOnWrite, onlyMatched = false)
          case "mergeCowOnlyMatched" => merge(DeleteMode.CopyOnWrite, onlyMatched = true)
          case "mergeMor" => merge(DeleteMode.MergeOnRead, onlyMatched = false)
          case "mergeMorOnlyMatched" => merge(DeleteMode.MergeOnRead, onlyMatched = true)
          case "updateCow" => update(DeleteMode.CopyOnWrite)
          case "updateMor" => update(DeleteMode.MergeOnRead)
          case "deleteCow" => delete(DeleteMode.CopyOnWrite)
          case "deleteMor" => delete(DeleteMode.MergeOnRead)
          case "sinkAppend" => sink(upsert = false, fresh(3).map(randomRow(_, schema)))
          case "sinkUpsert" => sink(upsert = true, upsertRows)
          case "addColumns" =>
            KeyedTable.addColumns(spark, wh, t, Seq(StructField("w", LongType)))
        }
      }
    }
  }
}
