package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read UPDATE and MERGE (the Iceberg-v2 decomposition): a
  * matched row becomes a positional tombstone of its OLD image plus an
  * appended file holding its POST-image — write cost ∝ |delta|, never
  * touched-bucket bytes — committed in ONE manifest flip. Every read
  * surface then sees exactly the post-state; CDC images are pinned
  * identical to the copy-on-write path. */
class MorMutationSpec extends SparkSpec {

  import spark.implicits._

  private def wh(): String = Files.createTempDirectory("graft-mor-").toString

  private def mk(w: String, t: String, n: Long = 200L, buckets: Int = 4): Unit =
    KeyedTable.toSql(
      (1L to n).map(i => (i, s"v$i", i * 1.0)).toDF("k", "g", "v"),
      w, t, pk = Seq("k"), buckets = buckets)

  private def manifest(w: String, t: String): Manifest =
    Manifest.current(spark, KeyedTable.tableDir(w, t))

  private def byKey(df: DataFrame): Map[Long, (String, Double)] =
    df.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap

  test("MoR update: old files stay, post-images append, DVs tombstone") {
    val w = wh(); mk(w, "t")
    val before = manifest(w, "t")
    val n = KeyedTable.update(spark, w, "t", col("k") % 19 === 0,
      Map("v" -> (col("v") * 10), "g" -> lit("upd")),
      mode = DeleteMode.MergeOnRead)
    assert(n == 200L / 19)
    val after = manifest(w, "t")
    // every pre-existing data file survives BY NAME; touched buckets
    // gained exactly the delta-sized post-image files + DV sidecars
    before.files.foreach { case (b, fls) =>
      val names = after.files.getOrElse(b, Nil).map(_.name).toSet
      fls.foreach(f => assert(names.contains(f.name),
        s"MoR update must not rewrite data file ${f.name} of bucket $b"))
    }
    assert(after.dvs.nonEmpty && after.dvRows.contains(n))
    assert(after.files.valuesIterator.flatten.size >
      before.files.valuesIterator.flatten.size)
    // both read paths agree with the semantic result
    val want = (1L to 200L).map { k =>
      if (k % 19 == 0) k -> (("upd", k * 10.0)) else k -> ((s"v$k", k * 1.0))
    }.toMap
    assert(byKey(KeyedTable.readSql(spark, w, "t")) == want)
    assert(byKey(KeyedTableSource.read(spark, w, "t").select("k", "g", "v")) == want)
    // live-row arithmetic: data rows (200 + n new) − n tombstones = 200
    val h = KeyedTable.history(spark, w, "t").orderBy(desc("version")).head()
    assert(h.getLong(4) == 200L, s"history live rows ${h.getLong(4)}")
  }

  test("MoR merge: mixed feed moves only delta rows; reads are exact") {
    val w = wh(); mk(w, "t")
    val before = manifest(w, "t")
    val feed = Seq(
      (3L, "m", 33.0, false),   // update
      (7L, "m", 77.0, false),   // update
      (11L, "x", 0.0, true),    // delete
      (500L, "new", 5.0, false) // insert
    ).toDF("k", "g", "v", "is_del")
    val (ins, upd, del) = KeyedTable.merge(feed, w, "t",
      deleteWhen = col("is_del"), mode = DeleteMode.MergeOnRead)
    assert((ins, upd, del) == ((1L, 2L, 1L)))
    val after = manifest(w, "t")
    before.files.foreach { case (b, fls) =>
      val names = after.files.getOrElse(b, Nil).map(_.name).toSet
      fls.foreach(f => assert(names.contains(f.name),
        s"MoR merge must not rewrite data file ${f.name} of bucket $b"))
    }
    // tombstones: 2 updates + 1 delete = 3 old positions dead
    assert(after.dvRows.contains(3L))
    val want = (1L to 200L).flatMap {
      case 3L => Some(3L -> (("m", 33.0)))
      case 7L => Some(7L -> (("m", 77.0)))
      case 11L => None
      case k => Some(k -> ((s"v$k", k * 1.0)))
    }.toMap + (500L -> (("new", 5.0)))
    assert(byKey(KeyedTable.readSql(spark, w, "t")) == want)
    assert(byKey(KeyedTableSource.read(spark, w, "t").select("k", "g", "v")) == want)
  }

  test("Auto shares delete's arithmetic: small merge MoR, bulk merge CoW") {
    val w = wh(); mk(w, "a"); mk(w, "b")
    // small: 2 updates over 200 live rows (1%) → MoR
    KeyedTable.merge(Seq((1L, "u", 0.0, false), (2L, "u", 0.0, false))
      .toDF("k", "g", "v", "is_del"), w, "a", deleteWhen = col("is_del"))
    assert(manifest(w, "a").dvs.nonEmpty, "small merge should go MoR")
    // bulk: tombstone half the table (50% > 20%) → CoW, zero DVs
    KeyedTable.merge((1L to 100L).map(k => (k, "", 0.0, true))
      .toDF("k", "g", "v", "is_del"), w, "b", deleteWhen = col("is_del"))
    assert(manifest(w, "b").dvs.isEmpty, "bulk merge should rewrite (CoW)")
    assert(KeyedTable.readSql(spark, w, "b").count() == 100L)
  }

  test("CDC: MoR update/merge log the identical batches as CoW twins") {
    val w = wh(); mk(w, "mor"); mk(w, "cow")
    def images(t: String): Seq[(Long, String, Double, Double)] =
      KeyedTable.readChangelog(spark, w, t)
        .select("k", "op", "old_v", "new_v").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val feed = Seq((5L, "z", 55.0, false), (6L, "z", 0.0, true),
      (700L, "z", 7.0, false)).toDF("k", "g", "v", "is_del")
    KeyedTable.merge(feed, w, "mor", deleteWhen = col("is_del"),
      changelog = true, mode = DeleteMode.MergeOnRead)
    KeyedTable.merge(feed, w, "cow", deleteWhen = col("is_del"),
      changelog = true, mode = DeleteMode.CopyOnWrite)
    assert(images("mor").toString == images("cow").toString)
    KeyedTable.update(spark, w, "mor", col("k") === 9L,
      Map("v" -> lit(-9.0)), changelog = true, mode = DeleteMode.MergeOnRead)
    KeyedTable.update(spark, w, "cow", col("k") === 9L,
      Map("v" -> lit(-9.0)), changelog = true, mode = DeleteMode.CopyOnWrite)
    assert(images("mor").toString == images("cow").toString)
  }

  test("MoR stacks: delete then update then merge; vacuum-safe compaction materializes") {
    val w = wh(); mk(w, "t")
    KeyedTable.delete(spark, w, "t", col("k") === 1L,
      mode = DeleteMode.MergeOnRead)
    KeyedTable.update(spark, w, "t", col("k") === 2L,
      Map("v" -> lit(22.0)), mode = DeleteMode.MergeOnRead)
    KeyedTable.merge(Seq((3L, "m", 333.0, false)).toDF("k", "g", "v", "is_del"),
      w, "t", deleteWhen = col("is_del"), mode = DeleteMode.MergeOnRead)
    val want = (2L to 200L).map {
      case 2L => 2L -> ((s"v2", 22.0))
      case 3L => 3L -> (("m", 333.0))
      case k => k -> ((s"v$k", k * 1.0))
    }.toMap
    assert(byKey(KeyedTable.readSql(spark, w, "t")) == want)
    // a full compaction reads through all masks and drops every DV
    KeyedTable.compact(spark, w, "t", minFiles = 1)
    assert(manifest(w, "t").dvs.isEmpty, "compaction must materialize DVs")
    assert(byKey(KeyedTable.readSql(spark, w, "t")) == want)
  }
}
