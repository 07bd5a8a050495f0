package graft.store

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.TempDirs

/** Property check for [[KeyedTable.snapshotDiff]]: across a RANDOM
  * mutation history (upserts, appends, deletes over a small key
  * domain) and random version pairs, the manifest-pruned diff must
  * equal the brute-force comparison of the two time-traveled reads —
  * for every (from, to) pair, not just adjacent versions. A fixed
  * seed keeps failures reproducible. */
class SnapshotDiffPropertySpec extends SparkSpec {

  import spark.implicits._

  private lazy val wh: String = TempDirs.tempDir("graft-diffprop")

  private def bruteDiff(t: String, from: Long, to: Long)
      : Set[(Long, String)] = {
    def snap(v: Long): Map[Long, (String, Double)] =
      KeyedTable.readSql(spark, wh, t, asOfVersion = Some(v))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2))))
        .toMap
    val a = snap(from); val b = snap(to)
    val inserts = (b.keySet -- a.keySet).map(_ -> "insert")
    val deletes = (a.keySet -- b.keySet).map(_ -> "delete")
    val updates = (a.keySet & b.keySet)
      .filter(k => a(k) != b(k)).map(_ -> "update")
    (inserts ++ deletes ++ updates).toSet
  }

  test("snapshotDiff equals the brute-force diff over random histories") {
    val rnd = new Random(20260815L)
    val t = "t_diff_prop"
    def rows(ks: Seq[Long]): DataFrame =
      ks.map(k => (k, s"g${rnd.nextInt(3)}", rnd.nextInt(5).toDouble))
        .toDF("id", "g", "v")
    KeyedTable.toSql(rows(1L to 30L), wh, t, pk = Seq("id"), buckets = 4)
    var live: Set[Long] = (1L to 30L).toSet
    val mutations = 8
    (1 to mutations).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 => // upsert: some existing + some new keys
          val ks = rnd.shuffle((1L to 60L).toVector).take(1 + rnd.nextInt(8))
          KeyedTable.toSql(rows(ks), wh, t, pk = Seq("id"),
            how = WriteMode.Upsert)
          live ++= ks
        case 1 => // append strictly-new keys
          val fresh = rnd.shuffle(((61L to 200L).toSet -- live).toVector)
            .take(1 + rnd.nextInt(5))
          if (fresh.nonEmpty) {
            KeyedTable.toSql(rows(fresh), wh, t, pk = Seq("id"),
              how = WriteMode.Append)
            live ++= fresh
          } else KeyedTable.toSql(rows(Seq(999L)), wh, t, pk = Seq("id"),
            how = WriteMode.Upsert)
        case 2 => // delete a random residue class
          val m = 2 + rnd.nextInt(5)
          val r = rnd.nextInt(m)
          KeyedTable.delete(spark, wh, t, col("id") % m === r)
          live = live.filterNot(k => k % m == r)
      }
    }
    val head = Manifest.current(spark, KeyedTable.tableDir(wh, t)).version
    assert(head >= mutations) // every mutation committed a version
    // every ordered version pair, including non-adjacent and (v, v)
    val pairs = for {
      from <- 0L to head
      to <- from to head
    } yield (from, to)
    pairs.foreach { case (from, to) =>
      val got = KeyedTable.snapshotDiff(spark, wh, t, from, Some(to))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val want = bruteDiff(t, from, to)
      assert(got == want,
        s"diff($from,$to): got ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
    }
  }

  test("snapshotDiff plans a storage-partitioned join: ZERO exchange") {
    val t = "t_diff_plan"
    KeyedTable.toSql((1L to 400L).map(k => (k, s"g$k", k * 1.0))
      .toDF("id", "g", "v"), wh, t, pk = Seq("id"), buckets = 4)
    KeyedTable.toSql((1L to 50L).map(k => (k, "new", k * 2.0))
      .toDF("id", "g", "v"), wh, t, pk = Seq("id"), how = WriteMode.Upsert)
    KeyedTable.delete(spark, wh, t, col("id") % 7 === 0,
      mode = DeleteMode.MergeOnRead) // a DV'd side must not disturb SPJ
    val diff = KeyedTable.snapshotDiff(spark, wh, t, 0L)
    val plan = diff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"snapshotDiff must zip the two co-partitioned snapshots " +
      s"shuffle-free (both sides read the SAME bucket layout):\n$plan")
    // and it still answers correctly on top of that plan
    val got = diff.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = bruteDiff(t, 0L, 2L)
    assert(got == want)
  }
}
