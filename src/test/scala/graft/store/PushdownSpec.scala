package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Filter pushdown on the DSv2 keyed-table path: data-column predicates
  * reach the parquet reader for row-group pruning, `PushedFilters`
  * shows in the plan, and a fully-pinned PK prunes bucket directories —
  * all without disturbing the storage-partitioned join (all bucket
  * partitions are still emitted, pruned ones empty). */
class PushdownSpec extends SparkSpec {

  private def wh(): String = Files.createTempDirectory("graft-spec-push-").toString

  // collect() does not cross AdaptiveSparkPlanExec / QueryStageExec
  // boundaries (stages hold their tree in `plan`, not `children`), so
  // walk those explicitly to reach the scans of an AQE-planned join
  private def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[KeyedScan] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case b: BatchScanExec if b.scan.isInstanceOf[KeyedScan] =>
        Seq(b.scan.asInstanceOf[KeyedScan])
      case other => other.children.flatMap(scansIn)
    }

  private def keyedScans(df: DataFrame): Seq[KeyedScan] =
    scansIn(df.queryExecution.executedPlan)

  private def nonEmptyParts(s: KeyedScan): Int =
    s.toBatch.planInputPartitions()
      .count(_.asInstanceOf[FilePartition].files.nonEmpty)

  test("PK equality prunes to one bucket partition and shows PushedFilters") {
    import spark.implicits._
    val w = wh()
    val df = (1 to 500).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("k", "v", "x")
    KeyedTable.toSql(df, w, "t", pk = Seq("k"))
    val q = KeyedTableSource.read(spark, w, "t").filter(col("k") === 42L)
    assert(q.collect().map(_.getString(1)).toSeq === Seq("v42"))
    val scan = keyedScans(q).head
    assert(scan.description().contains("PushedFilters: ["))
    assert(scan.description().contains("42"), scan.description())
    // pinned PK → exactly one of the 32 bucket dirs contributes files
    assert(nonEmptyParts(scan) === 1)
  }

  test("range predicates push to the parquet reader; no bucket pruning, full correctness") {
    import spark.implicits._
    val w = wh()
    val df = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    KeyedTable.toSql(df, w, "t", pk = Seq("k"))
    // a WIDE range (more than 1024 keys: not enumerable; a narrow one
    // prunes to its keys' buckets, see below)
    val q = KeyedTableSource.read(spark, w, "t")
      .filter(col("k") >= 100L && col("k") <= 2000L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (100L to 500L))
    val scan = keyedScans(q).head
    // the range is not a pinned PK, so no BUCKET pruning applies — but
    // manifest FILE stats may still legitimately skip a bucket whose
    // sampled keys all fall outside the range, so "most buckets live"
    // is the invariant, not "all"
    assert(nonEmptyParts(scan) >= 24 && nonEmptyParts(scan) <= 32,
      s"${nonEmptyParts(scan)} live buckets")
    // …but the predicates still reached the scan for row-group stats
    assert(scan.description().contains("GreaterThanOrEqual"), scan.description())
    assert(scan.description().contains("LessThanOrEqual"), scan.description())
  }

  test("a narrow integral PK range prunes to the buckets its keys hash into") {
    import spark.implicits._
    val w = wh()
    val df = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("k", "x")
    KeyedTable.toSql(df, w, "t", pk = Seq("k"))
    val meta = TableMeta.read(spark, KeyedTable.tableDir(w, "t"))
    val want = (100L to 110L).map(k => KeyedTable.bucketOfKey(spark, meta, 32, Seq(k))).toSet
    for (q <- Seq(
        KeyedTableSource.read(spark, w, "t").filter(col("k").between(100L, 110L)),
        KeyedTableSource.read(spark, w, "t").filter(col("k") > 99L && col("k") < 111L))) {
      assert(q.collect().map(_.getLong(0)).sorted.toSeq === (100L to 110L))
      val kept = keyedScans(q).head.toBatch.planInputPartitions().collect {
        case p: KeyedFilePartition if p.files.nonEmpty => p.index
      }.toSet
      assert(kept.nonEmpty && kept.subsetOf(want), s"$kept vs $want")
    }
  }

  test("filtered storage-partitioned join keeps zero Exchange and pushes to both sides") {
    import spark.implicits._
    val w = wh()
    val l = (1 to 400).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val r = (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("k", "rv")
    KeyedTable.toSql(l, w, "l", pk = Seq("k"))
    KeyedTable.toSql(r, w, "r", pk = Seq("k"))
    val q = PkJoin.pkJoin(spark, w, "l", "r")
      .filter(col("k") >= 50L && col("k") <= 60L)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (50L to 60L))
    val plan = q.queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), s"unexpected exchange in:\n$plan")
    // the PK predicate propagated through the join to BOTH scans
    val scans = keyedScans(q)
    assert(scans.size === 2)
    scans.foreach { s =>
      assert(s.description().contains("GreaterThanOrEqual"), s.description())
    }
  }

  test("a PK point predicate on the join prunes both sides to one bucket") {
    import spark.implicits._
    val w = wh()
    val l = (1 to 400).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val r = (1 to 400).map(i => (i.toLong, i * 1.0)).toDF("k", "rv")
    KeyedTable.toSql(l, w, "l", pk = Seq("k"))
    KeyedTable.toSql(r, w, "r", pk = Seq("k"))
    val q = PkJoin.pkJoin(spark, w, "l", "r").filter(col("k") === 123L)
    assert(q.collect().map(r0 => (r0.getLong(0), r0.getString(1))).toSeq ===
      Seq((123L, "l123")))
    val plan = q.queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), s"unexpected exchange in:\n$plan")
    val scans = keyedScans(q)
    assert(scans.size === 2)
    scans.foreach(s => assert(nonEmptyParts(s) === 1, s.description()))
  }

  test("runtime filter() prunes buckets by join-key values, conservatively") {
    import spark.implicits._
    import org.apache.spark.sql.sources.In
    val w = wh()
    val df = (1 to 500).map(i => (i.toLong, i * 1.0)).toDF("k", "x")
    KeyedTable.toSql(df, w, "t", pk = Seq("k"))
    val q = KeyedTableSource.read(spark, w, "t")
    q.collect()
    val scan = keyedScans(q).head
    assert(scan.filterAttributes().map(_.toString).toSeq === Seq("k"))
    assert(nonEmptyParts(scan) === 32)
    // dynamic pruning hands over the dim side's key values
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("k", Array[Any](42L, 87L, 101L))))
    val after = nonEmptyParts(scan)
    assert(after >= 1 && after <= 3, s"expected ≤3 buckets, got $after")
    // an unexpected filter shape must NOT prune (conservative superset)
    val q2 = KeyedTableSource.read(spark, w, "t")
    q2.collect()
    val scan2 = keyedScans(q2).head
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      In("x", Array[Any](1.0))))
    assert(nonEmptyParts(scan2) === 32)
  }

  test("broadcast join against a filtered dim triggers dynamic bucket pruning") {
    import spark.implicits._
    val w = wh()
    val fact = (1 to 2000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    KeyedTable.toSql(fact, w, "fact", pk = Seq("k"))
    // the dim must be a real source (not a folded LocalRelation) for
    // the optimizer to see a selective filter worth pruning with
    (1 to 2000).map(i => (i.toLong, s"g${i % 40}")).toDF("dk", "grp")
      .write.parquet(s"$w/dim_src")
    val dim = spark.read.parquet(s"$w/dim_src")
    val joined = KeyedTableSource.read(spark, w, "fact")
      .join(broadcast(dim.filter(col("grp") === "g7")), col("k") === col("dk"))
    val rows = joined.collect()
    assert(rows.length === 50)
    // the dynamic-pruning subquery must reach the scan: the 50 dim keys
    // hash into a strict subset of the 32 buckets (26 for this fixed
    // key set), so the fact side skipped real IO at execution time
    val pruned = keyedScans(joined).map(nonEmptyParts).min
    assert(pruned < 32, s"runtime filter did not prune: $pruned of 32 buckets live")
  }

  test("composite PK fully pinned by equality prunes; partially pinned does not") {
    import spark.implicits._
    val w = wh()
    val df = (1 to 100).flatMap(i => Seq(1, 2).map(g => (i.toLong, g, i * g)))
      .toDF("a", "b", "v")
    KeyedTable.toSql(df, w, "m", pk = Seq("a", "b"))
    val full = KeyedTableSource.read(spark, w, "m")
      .filter(col("a") === 17L && col("b") === 2)
    assert(full.collect().map(_.getInt(2)).toSeq === Seq(34))
    assert(nonEmptyParts(keyedScans(full).head) === 1)
    val partial = KeyedTableSource.read(spark, w, "m").filter(col("a") === 17L)
    assert(partial.count() === 2)
    assert(nonEmptyParts(keyedScans(partial).head) > 1)
  }
}
