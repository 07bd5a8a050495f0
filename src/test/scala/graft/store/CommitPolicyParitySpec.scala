package graft.store

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.{SparkSpec, TempDirs}

/** Every row verb has one body run under two commit policies: its
  * locked entry (`toSql`, `merge`, `update`, `delete`) holds the write
  * lock from pin to flip, its `*Concurrent` entry stages unlocked and
  * locks only the flip. Uncontended, both must commit the same table:
  * each case runs the verb through both entries on two identical copies
  * and compares the rows, the changelog (batch numbers aside), the
  * manifest's live rows per bucket, the return value and the history,
  * whose operation names differ only by the `Concurrent` suffix. */
class CommitPolicyParitySpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-parity")

  private val base = (1L to 40L).map(i => (i, s"n$i", i * 1.5))

  private def rows(rs: Seq[(Long, String, Double)]): DataFrame =
    rs.toDF("id", "name", "v")

  private def feed(rs: (Long, String, Double, Boolean)*): DataFrame =
    rs.toDF("id", "name", "v", "is_del")

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def liveRowsPerBucket(t: String): Map[Int, Long] = {
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, t))
    m.files.keys.map { b =>
      b -> (m.files(b).flatMap(_.rows).sum -
        m.dvs.getOrElse(b, Nil).flatMap(_.rows).sum)
    }.filter(_._2 > 0).toMap
  }

  /** The locked merge has always recorded its commits as `upsert`. */
  private def historyOps(t: String): Seq[String] =
    KeyedTable.history(spark, wh, t).orderBy("version").collect()
      .map(_.getAs[String]("op").stripSuffix("Concurrent"))
      .map(op => if (op == "merge") "upsert" else op).toSeq

  private var n = 0

  /** Run `locked` and `optimistic` on two copies of a fresh table and
    * compare everything both policies must agree on. */
  private def parity(create: String => Unit)(locked: String => Any)
                    (optimistic: String => Any): Unit = {
    n += 1
    val (l, o) = (s"l$n", s"o$n")
    create(l)
    create(o)
    val rl = locked(l)
    val ro = optimistic(o)
    assert(rl == ro, "return values")
    assert(sorted(KeyedTable.readSql(spark, wh, l)) ==
      sorted(KeyedTable.readSql(spark, wh, o)), "rows")
    def changes(t: String): Option[Seq[String]] =
      Try(KeyedTable.readChangelog(spark, wh, t)).toOption
        .map(c => sorted(c.drop("batch")))
    assert(changes(l) == changes(o), "changelog")
    assert(liveRowsPerBucket(l) == liveRowsPerBucket(o), "live rows per bucket")
    assert(historyOps(l) == historyOps(o), "history")
    def cdcArmed(t: String) =
      TableMeta.read(spark, KeyedTable.tableDir(wh, t)).changelog
    assert(cdcArmed(l) == cdcArmed(o), "table-property CDC")
  }

  private def keyed(t: String): Unit =
    KeyedTable.toSql(rows(base), wh, t, pk = Seq("id"), buckets = 4)

  for (cdc <- Seq(false, true)) {
    val tag = if (cdc) " (CDC)" else ""

    test(s"append: plain$tag") {
      val more = rows((41L to 60L).map(i => (i, s"m$i", i * 2.0)))
      parity(keyed)(KeyedTable.toSql(more, wh, _, pk = Seq("id"),
        how = WriteMode.Append, changelog = cdc))(
        KeyedTable.appendConcurrent(more, wh, _, changelog = cdc))
    }

    test(s"append: auto-index$tag") {
      val more = Seq(("x", 1.0), ("y", 2.0), ("z", 3.0)).toDF("name", "v")
      parity(t => KeyedTable.toSql(base.map(r => (r._2, r._3)).toDF("name", "v"),
        wh, t, autoIndex = true, buckets = 4))(
        KeyedTable.toSql(more, wh, _, how = WriteMode.Append, changelog = cdc))(
        KeyedTable.appendConcurrent(more, wh, _, changelog = cdc))
    }

    test(s"upsert: full rows$tag") {
      val up = rows((30L to 50L).map(i => (i, s"u$i", -i.toDouble)))
      parity(keyed)(KeyedTable.toSql(up, wh, _, pk = Seq("id"),
        how = WriteMode.Upsert, changelog = cdc))(
        KeyedTable.upsertConcurrent(up, wh, _, changelog = cdc))
    }

    test(s"upsert: partial columns$tag") {
      val up = Seq((10L, "p10"), (11L, "n11"), (70L, "p70")).toDF("id", "name")
      parity(keyed)(KeyedTable.toSql(up, wh, _, pk = Seq("id"),
        how = WriteMode.Upsert, changelog = cdc))(
        KeyedTable.upsertConcurrent(up, wh, _, changelog = cdc))
    }

    for (mode <- Seq(DeleteMode.CopyOnWrite, DeleteMode.MergeOnRead);
         onlyMatched <- Seq(false, true)) {
      test(s"merge: $mode, deleteOnlyMatched=$onlyMatched$tag") {
        // updates, a changed-nothing update, deletes, an insert and an
        // unmatched tombstone (a no-op, or an insert when onlyMatched)
        val f = feed((3L, "u3", 30.0, false), (4L, "n4", 6.0, false),
          (5L, "n5", 0.0, true), (17L, "x", 0.0, true),
          (80L, "i80", 8.0, false), (81L, "t81", 8.1, true))
        val del: Column = col("is_del")
        parity(keyed)(KeyedTable.merge(f, wh, _, deleteWhen = del,
          changelog = cdc, deleteOnlyMatched = onlyMatched, mode = mode))(
          KeyedTable.mergeConcurrent(f, wh, _, deleteWhen = del,
            changelog = cdc, deleteOnlyMatched = onlyMatched))
      }
    }

    for (mode <- Seq(DeleteMode.CopyOnWrite, DeleteMode.MergeOnRead)) {
      test(s"update: $mode$tag") {
        val where = col("id") % 7 === 0
        val set = Map("v" -> (col("v") * 10), "name" -> lit("seven"))
        parity(keyed)(KeyedTable.update(spark, wh, _, where, set,
          changelog = cdc, mode = mode))(
          KeyedTable.updateConcurrent(spark, wh, _, where, set,
            changelog = cdc, mode = mode))
      }

      test(s"delete: $mode$tag") {
        val where = col("id") <= 3L || col("id") === 20L
        parity(keyed)(KeyedTable.delete(spark, wh, _, where,
          changelog = cdc, mode = mode))(
          KeyedTable.deleteConcurrent(spark, wh, _, where,
            changelog = cdc, mode = mode))
      }
    }
  }

  test("delete: no match with changelog = true arms CDC on both") {
    val where = col("id") > 1000L
    parity(keyed)(KeyedTable.delete(spark, wh, _, where, changelog = true))(
      KeyedTable.deleteConcurrent(spark, wh, _, where, changelog = true))
  }
}
