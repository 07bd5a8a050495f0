package graft.store

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** #11p auto-compaction policy: `compactIfNeeded` reads the footer-only
  * bucket layout report and rewrites ONLY the buckets that breach the
  * thresholds — append-quiet buckets keep their exact files. */
class CompactionPolicySpec extends SparkSpec {

  import spark.implicits._

  private def wh(): String =
    java.nio.file.Files.createTempDirectory("graft-spec-cpol-").toString

  private def bucketFiles(w: String, b: Int): Set[String] = {
    val d = new File(s"$w/t/data/pb_bucket=$b")
    if (!d.isDirectory) Set.empty
    else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("only crowded buckets rewrite; the report goes healthy after") {
    val w = wh()
    // 4 buckets; create writes one file per bucket
    KeyedTable.toSql((1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v"),
      w, "t", pk = Seq("k"), buckets = 4)
    // drive SOME buckets past the file threshold with appends that land
    // in a subset of buckets only (keys chosen per their hash bucket)
    val buckets = Manifest.current(spark, s"$w/t").buckets
    def bucketOf(k: Long): Int = {
      val row = Seq(Tuple1(k)).toDF("k")
        .select(pmod(xxhash64(col("k")), lit(buckets)).cast("int"))
        .head()
      row.getInt(0)
    }
    val extra = (401L to 2000L).filter(k => bucketOf(k) < 2).take(40)
    extra.grouped(8).foreach { ks =>
      KeyedTable.toSql(ks.map(k => (k, k * 1.0)).toDF("k", "v"),
        w, "t", pk = Seq("k"), how = WriteMode.Append)
    }
    val before = (0 until 4).map(b => b -> bucketFiles(w, b)).toMap
    val crowdedBefore = KeyedTable.bucketStats(spark, w, "t")
      .filter(col("n_files") > 2).select("bucket").as[Int].collect().toSet
    assert(crowdedBefore.nonEmpty && crowdedBefore.subsetOf(Set(0, 1)),
      s"appends should have crowded only buckets 0/1, got $crowdedBefore")

    val compacted = KeyedTable.compactIfNeeded(spark, w, "t",
      maxFilesPerBucket = 2).toSet
    assert(compacted == crowdedBefore,
      s"policy compacted $compacted, report said $crowdedBefore")
    // crowded buckets collapsed to one LIVE file (vacuum reclaims the
    // superseded originals the snapshot no longer references);
    // quiet buckets byte-identical
    KeyedTable.vacuum(spark, w, "t", olderThanMs = 0L): Unit
    compacted.foreach { b =>
      assert(bucketFiles(w, b).size == 1, s"bucket $b not compacted")
    }
    (Set(0, 1, 2, 3) -- compacted).foreach { b =>
      assert(bucketFiles(w, b) == before(b), s"quiet bucket $b was touched")
    }
    // the report is healthy now: a second run is a metadata-only no-op
    assert(KeyedTable.compactIfNeeded(spark, w, "t",
      maxFilesPerBucket = 2).isEmpty)
    // and no rows were lost or duplicated
    assert(KeyedTable.readSql(spark, w, "t").count() == 400L + extra.size)
  }

  test("fragmentation threshold: many tiny files trip minAvgRowsPerFile") {
    val w = wh()
    KeyedTable.toSql((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"),
      w, "t", pk = Seq("k"), buckets = 1)
    (11L to 13L).foreach { k =>
      KeyedTable.toSql(Seq((k, s"v$k")).toDF("k", "v"), w, "t",
        pk = Seq("k"), how = WriteMode.Append)
    }
    // 4 files / 13 rows → avg 3 rows/file; file-count threshold alone
    // (maxFilesPerBucket = 8) would not fire
    assert(KeyedTable.compactIfNeeded(spark, w, "t",
      maxFilesPerBucket = 8).isEmpty)
    val compacted = KeyedTable.compactIfNeeded(spark, w, "t",
      maxFilesPerBucket = 8, minAvgRowsPerFile = 5L)
    assert(compacted == Seq(0))
    KeyedTable.vacuum(spark, w, "t", olderThanMs = 0L): Unit
    assert(bucketFiles(w, 0).size == 1)
    assert(KeyedTable.readSql(spark, w, "t").count() == 13)
  }
}
