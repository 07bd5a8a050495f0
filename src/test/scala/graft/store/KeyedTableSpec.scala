package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Store semantics incl. the reference's error cases
  * (/root/reference/pandabase/tests — duplicate index, overlap append,
  * upsert on autoindex, illegal names, type coercion). */
class KeyedTableSpec extends SparkSpec {

  private def wh(): String = Files.createTempDirectory("graft-spec-wh-").toString

  private def sample(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"name_$i", i * 1.5, i % 2 == 0))
      .toDF("id", "name", "score", "flag")
  }

  test("create + read roundtrip preserves rows and schema") {
    val w = wh()
    KeyedTable.toSql(sample(100), w, "t", pk = Seq("id"))
    val back = KeyedTable.readSql(spark, w, "t")
    assert(back.count() === 100)
    assert(back.columns.toSeq === Seq("id", "name", "score", "flag"))
    assert(back.filter(col("id") === 7).head().getString(1) === "name_7")
  }

  test("create_only on existing table fails") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    val e = intercept[StoreException] {
      KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    }
    assert(e.getMessage.contains("already exists"))
  }

  test("duplicate PK rejected on create") {
    val dup = sample(10).withColumn("id", lit(1L))
    intercept[StoreException] {
      KeyedTable.toSql(dup, wh(), "t", pk = Seq("id"))
    }
  }

  test("NULL PK rejected on create") {
    val withNull = sample(10)
      .withColumn("id", when(col("id") === 3, lit(null)).otherwise(col("id")))
    intercept[StoreException] {
      KeyedTable.toSql(withNull, wh(), "t", pk = Seq("id"))
    }
  }

  test("append with overlapping PK fails; disjoint append succeeds") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    intercept[StoreException] {
      KeyedTable.toSql(sample(5), w, "t", pk = Seq("id"), how = WriteMode.Append)
    }
    val more = sample(5).withColumn("id", col("id") + 100L)
    KeyedTable.toSql(more, w, "t", pk = Seq("id"), how = WriteMode.Append)
    assert(KeyedTable.readSql(spark, w, "t").count() === 15)
  }

  test("a failed PK-overlap probe cancels the append's concurrent staging write") {
    import org.apache.spark.JobCounter.jobsRunBy
    val w = wh()
    KeyedTable.toSql(sample(50), w, "t", pk = Seq("id"))
    val protocolConf = "spark.sql.sources.commitProtocolClass"
    val prevProtocol = spark.conf.getOption(protocolConf)
    // the staging write's tasks wait until killed, so the write is still
    // running when the probe finds the overlap
    BlockingCommitProtocol.blockPathsContaining = Some(".staging-append")
    spark.conf.set(protocolConf, classOf[BlockingCommitProtocol].getName)
    val (outcome, jobs) = try {
      jobsRunBy(spark.sparkContext)(scala.util.Try(
        KeyedTable.toSql(sample(5), w, "t", pk = Seq("id"), how = WriteMode.Append)))
    } finally {
      BlockingCommitProtocol.blockPathsContaining = None
      prevProtocol.fold(spark.conf.unset(protocolConf))(spark.conf.set(protocolConf, _))
    }
    val e = outcome.failed.get
    assert(e.isInstanceOf[StoreException] &&
      e.getMessage.contains("would overwrite existing PKs"), e)
    assert(jobs.exists(_.failure.exists(_.contains("cancelled"))),
      s"no job ended cancelled: $jobs")
    val leftovers = new java.io.File(KeyedTable.tableDir(w, "t")).list()
      .filter(_.startsWith(".staging-"))
    assert(leftovers.isEmpty, leftovers.toSeq)
    assert(KeyedTable.readSql(spark, w, "t").count() === 50)
  }

  test("a failed staging write cancels the concurrent changelog write and removes its staging") {
    import org.apache.spark.JobCounter.jobsRunBy
    val w = wh()
    KeyedTable.toSql(sample(50), w, "t", pk = Seq("id"))
    val protocolConf = "spark.sql.sources.commitProtocolClass"
    val prevProtocol = spark.conf.getOption(protocolConf)
    // the changelog batch's staging tasks wait until killed; the data
    // staging write fails while they wait
    BlockingCommitProtocol.blockPathsContaining = Some(".staging-changelog")
    BlockingCommitProtocol.failPathsContaining = Some(".staging-append")
    spark.conf.set(protocolConf, classOf[BlockingCommitProtocol].getName)
    val more = sample(5).withColumn("id", col("id") + 100L)
    val (outcome, jobs) = try {
      jobsRunBy(spark.sparkContext)(scala.util.Try(
        KeyedTable.toSql(more, w, "t", pk = Seq("id"), how = WriteMode.Append,
          changelog = true)))
    } finally {
      BlockingCommitProtocol.blockPathsContaining = None
      BlockingCommitProtocol.failPathsContaining = None
      prevProtocol.fold(spark.conf.unset(protocolConf))(spark.conf.set(protocolConf, _))
    }
    assert(outcome.isFailure)
    assert(jobs.exists(j => j.failure.exists(_.contains("cancelled"))),
      s"no job ended cancelled: $jobs")
    val leftovers = new java.io.File(KeyedTable.tableDir(w, "t")).list()
      .filter(_.startsWith(".staging-"))
    assert(leftovers.isEmpty, leftovers.toSeq)
    assert(KeyedTable.readSql(spark, w, "t").count() === 50)
  }

  test("create's staging write plans exactly one Exchange and one Sort") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand"))
          writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      KeyedTable.toSql(sample(200), wh(), "t", pk = Seq("id"))
      org.apache.spark.JobCounter.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"${writes.size} writes")
    val plan = writes.peek().executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    val sorts = helper.collect(plan) { case s: SortExec => s }
    assert(exchanges.size == 1 && sorts.size == 1,
      s"${exchanges.size} exchanges, ${sorts.size} sorts in:\n$plan")
  }

  test("upsert replaces full rows (incoming NULLs win) and inserts new keys") {
    import spark.implicits._
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    val delta = Seq((3L, null.asInstanceOf[String], 99.0, false),
                    (11L, "new", 1.0, true))
      .toDF("id", "name", "score", "flag")
    KeyedTable.toSql(delta, w, "t", pk = Seq("id"), how = WriteMode.Upsert)
    val back = KeyedTable.readSql(spark, w, "t").cache()
    assert(back.count() === 11)
    val r3 = back.filter(col("id") === 3).head()
    assert(r3.isNullAt(1) && r3.getDouble(2) === 99.0)
    assert(back.filter(col("id") === 11).head().getString(1) === "new")
    back.unpersist()
  }

  test("upsert into auto-index table fails") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", autoIndex = true)
    intercept[StoreException] {
      KeyedTable.toSql(sample(3), w, "t", how = WriteMode.Upsert)
    }
  }

  test("auto-index append continues the sequence") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", autoIndex = true)
    KeyedTable.toSql(sample(5), w, "t", how = WriteMode.Append)
    val idx = KeyedTable.readSql(spark, w, "t")
      .select(Names.AutoIndex).collect().map(_.getLong(0)).sorted
    assert(idx.toSeq === (0L until 15L))
  }

  test("auto-index high-water mark lives in meta; appends never scan for max(id)") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", autoIndex = true)
    val dir = KeyedTable.tableDir(w, "t")
    assert(TableMeta.read(spark, dir).maxAutoIndex === Some(9L))
    KeyedTable.toSql(sample(5), w, "t", how = WriteMode.Append)
    assert(TableMeta.read(spark, dir).maxAutoIndex === Some(14L))
  }

  test("auto-index recovery: pre-field meta falls back to footer-stats max") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", autoIndex = true)
    val dir = KeyedTable.tableDir(w, "t")
    // simulate a table written before the high-water-mark field existed
    val meta = TableMeta.read(spark, dir)
    TableMeta.write(spark, dir, meta.copy(maxAutoIndex = None))
    KeyedTable.toSql(sample(5), w, "t", how = WriteMode.Append)
    val idx = KeyedTable.readSql(spark, w, "t")
      .select(Names.AutoIndex).collect().map(_.getLong(0)).sorted
    assert(idx.toSeq === (0L until 15L))
    assert(TableMeta.read(spark, dir).maxAutoIndex === Some(14L))
  }

  test("illegal table names rejected; column names are cleaned") {
    intercept[IllegalNameException] {
      KeyedTable.toSql(sample(3), wh(), "9lives", pk = Seq("id"))
    }
    intercept[IllegalNameException] { Names.cleanName("email@domain") }
    assert(Names.cleanName("My Col.Name (x)") === "my_colname__x_")
    val w = wh()
    val dirty = sample(3).withColumnRenamed("name", "The Name")
    KeyedTable.toSql(dirty, w, "t", pk = Seq("id"))
    assert(KeyedTable.readSql(spark, w, "t").columns.contains("the_name"))
  }

  test("incoming types coerce toward table schema; incompatible types fail") {
    import spark.implicits._
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    // int score coerces to the table's double
    val intScore = Seq((20L, "x", 5, true)).toDF("id", "name", "score", "flag")
    KeyedTable.toSql(intScore, w, "t", pk = Seq("id"), how = WriteMode.Append)
    assert(KeyedTable.readSql(spark, w, "t")
      .filter(col("id") === 20).head().getDouble(2) === 5.0)
    // string into double is not coercible
    val strScore = Seq((21L, "x", "bad", true)).toDF("id", "name", "score", "flag")
    intercept[TypeMismatchException] {
      KeyedTable.toSql(strScore, w, "t", pk = Seq("id"), how = WriteMode.Append)
    }
  }

  test("new columns require addNewColumns=true; old rows read NULL after evolution") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    val withExtra = sample(5).withColumn("id", col("id") + 50L)
      .withColumn("extra", col("score") * 2)
    intercept[StoreException] {
      KeyedTable.toSql(withExtra, w, "t", pk = Seq("id"), how = WriteMode.Append)
    }
    KeyedTable.toSql(withExtra, w, "t", pk = Seq("id"),
      how = WriteMode.Append, addNewColumns = true)
    val back = KeyedTable.readSql(spark, w, "t").cache()
    assert(back.columns.contains("extra"))
    assert(back.filter(col("id") <= 10 && col("extra").isNull).count() === 10)
    assert(back.filter(col("id") === 51).head().getAs[Double]("extra") === 1.5 * 2)
    back.unpersist()
  }

  test("read range: inclusive bounds, per-dimension for composite PK") {
    import spark.implicits._
    val w = wh()
    KeyedTable.toSql(sample(100), w, "t", pk = Seq("id"))
    assert(KeyedTable.readSql(spark, w, "t", lowest = Seq(10L), highest = Seq(20L))
      .count() === 11)
    val multi = (1 to 10).flatMap(a => (1 to 5).map(b => (a.toLong, b, a * b)))
      .toDF("a", "b", "v")
    KeyedTable.toSql(multi, w, "m", pk = Seq("a", "b"))
    // each dimension filtered independently; null skips a dimension
    assert(KeyedTable.readSql(spark, w, "m",
      lowest = Seq(3L, 2), highest = Seq(5L, null)).count() === 3 * 4)
    intercept[StoreException] {
      KeyedTable.readSql(spark, w, "m", lowest = Seq(3L))
    }
  }

  test("catalog: hasTable / tableNames / columnNames / dropTable / primaryKey") {
    val w = wh()
    KeyedTable.toSql(sample(5), w, "aaa", pk = Seq("id"))
    KeyedTable.toSql(sample(5), w, "bbb", pk = Seq("id", "name"))
    assert(Catalog.hasTable(spark, w, "aaa"))
    assert(!Catalog.hasTable(spark, w, "zzz"))
    assert(Catalog.tableNames(spark, w) === Seq("aaa", "bbb"))
    assert(Catalog.columnNames(spark, w, "aaa") === Seq("id", "name", "score", "flag"))
    assert(Catalog.primaryKey(spark, w, "bbb") === Seq("id", "name"))
    Catalog.dropTable(spark, w, "aaa")
    assert(!Catalog.hasTable(spark, w, "aaa"))
    assert(Catalog.tableNames(spark, w) === Seq("bbb"))
    intercept[StoreException] { Catalog.dropTable(spark, w, "aaa") }
  }

  test("companda: equal, epsilon tolerance, column-set and length mismatches") {
    val a = sample(50)
    assert(Companda(a, a, pk = Seq("id")).equal)
    // within-epsilon numeric drift is equal
    val drift = a.withColumn("score", col("score") + 0.0005)
    assert(Companda(a, drift, pk = Seq("id"), epsilon = 0.001).equal)
    assert(!Companda(a, drift, pk = Seq("id"), epsilon = 0.0001).equal)
    // different column set
    val r1 = Companda(a, a.drop("flag"), pk = Seq("id"))
    assert(!r1.equal && !r1.columnsEqual)
    // different length
    val r2 = Companda(a, a.filter(col("id") <= 25), pk = Seq("id"))
    assert(!r2.equal && r2.columnsEqual)
    // ignore_all_nan_columns
    val withNullCol = a.withColumn("empty", lit(null).cast("double"))
    assert(Companda(a, withNullCol, pk = Seq("id"),
      ignoreAllNanColumns = true).equal)
    // checkDtype
    val intScore = a.withColumn("score", col("score").cast("long"))
    assert(!Companda(a, intScore, pk = Seq("id"), checkDtype = true).equal)
  }

  test("upsert only rewrites touched buckets") {
    import spark.implicits._
    val w = wh()
    KeyedTable.toSql(sample(1000), w, "t", pk = Seq("id"), buckets = 16)
    val dataDir = new java.io.File(s"$w/t/data")
    def mtimes: Map[String, Long] = dataDir.listFiles()
      .filter(_.getName.startsWith("pb_bucket="))
      .map(f => f.getName ->
        f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).max)
      .toMap
    val before = mtimes
    Thread.sleep(1100)
    val delta = Seq((1L, "upd", 0.0, false)).toDF("id", "name", "score", "flag")
    KeyedTable.toSql(delta, w, "t", pk = Seq("id"), how = WriteMode.Upsert)
    val after = mtimes
    val changed = after.filter { case (k, v) => before.get(k) != Some(v) }
    assert(changed.size === 1, s"expected exactly 1 rewritten bucket, got ${changed.keys}")
  }

  test("compact: crowded buckets collapse to one file each, content unchanged") {
    import spark.implicits._
    val w = wh()
    // 4 appends of disjoint key ranges -> up to 4 files per bucket
    KeyedTable.toSql(sample(250), w, "t", pk = Seq("id"), buckets = 4)
    (1 to 3).foreach { k =>
      // sample ids are 1-based: create wrote 1..250, appends are disjoint
      val part = sample(1000).filter(col("id") > k * 250 && col("id") <= (k + 1) * 250)
      KeyedTable.toSql(part, w, "t", pk = Seq("id"), how = WriteMode.Append)
    }
    val before = KeyedTable.readSql(spark, w, "t").collect().map(_.toSeq).toSet
    def fileCounts: Seq[Int] = new java.io.File(s"$w/t/data").listFiles()
      .filter(_.getName.startsWith("pb_bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(fileCounts.exists(_ >= 4))
    val n = KeyedTable.compact(spark, w, "t", minFiles = 4)
    assert(n >= 1)
    // vacuum reclaims the superseded pre-compaction files the current
    // snapshot no longer references; what remains on disk is the layout
    KeyedTable.vacuum(spark, w, "t", olderThanMs = 0L): Unit
    assert(fileCounts.forall(_ <= 3))
    assert(KeyedTable.readSql(spark, w, "t").collect().map(_.toSeq).toSet == before)
    // already-compacted table: no-op
    assert(KeyedTable.compact(spark, w, "t", minFiles = 4) == 0)
  }

  test("reads take their file index from the manifest: no listing job past 32 files") {
    import org.apache.spark.JobCounter.jobsRunBy
    val w = wh()
    // 4 buckets, 11 commits: 44 live files, past Spark's 32-path
    // threshold for listing input paths in a Spark job
    KeyedTable.toSql(sample(100), w, "t", pk = Seq("id"), buckets = 4)
    (1 to 10).foreach { k =>
      KeyedTable.toSql(sample(100).withColumn("id", col("id") + k * 100L),
        w, "t", pk = Seq("id"), how = WriteMode.Append)
    }
    val dir = KeyedTable.tableDir(w, "t")
    assert(Manifest.current(spark, dir).files.values.map(_.size).sum > 32)
    val before = KeyedTable.readSql(spark, w, "t")
    def listing(jobs: Seq[org.apache.spark.JobCounter.JobRecord]) =
      jobs.filter(_.description.startsWith("Listing leaf files"))
    val (rows, readJobs) = jobsRunBy(spark.sparkContext)(
      KeyedTable.readSql(spark, w, "t").collect())
    assert(rows.length == 1100)
    assert(listing(readJobs).isEmpty, readJobs)
    val (n, compactJobs) = jobsRunBy(spark.sparkContext)(
      KeyedTable.compact(spark, w, "t", minFiles = 2))
    assert(n == 4)
    assert(listing(compactJobs).isEmpty, compactJobs)
    assert(KeyedTable.readSql(spark, w, "t").collect().toSet == rows.toSet)
    // the bucket column still comes from the files' directories: point
    // reads prune on it
    (1L to 1100L by 37L).foreach { k =>
      assert(KeyedTable.readSql(spark, w, "t", lowest = Seq(k), highest = Seq(k))
        .collect().map(_.getLong(0)).toSeq == Seq(k))
    }
    // positional deletes (the `_metadata` row index) and their DV
    // sidecars read through the same index
    assert(KeyedTable.delete(spark, w, "t", col("id") % 100 === 7L,
      mode = DeleteMode.MergeOnRead) == 11L)
    assert(KeyedTable.readSql(spark, w, "t").count() == 1089)
    // a frame resolved before the compaction names files vacuum deletes:
    // reading it fails on the missing file, not with wrong rows
    KeyedTable.vacuum(spark, w, "t", olderThanMs = 0L): Unit
    val err = intercept[org.apache.spark.SparkException](before.collect())
    assert(err.getMessage.contains("FILE_NOT_EXIST") ||
      err.getMessage.contains("does not exist"), err.getMessage)
  }

  test("vacuum removes only stale staging/retired leftovers, never live data") {
    val w = wh()
    KeyedTable.toSql(sample(20), w, "t", pk = Seq("id"))
    val dir = new java.io.File(KeyedTable.tableDir(w, "t"))
    val stale = new java.io.File(dir, ".staging-deadbeef")
    val fresh = new java.io.File(dir, ".retired-cafebabe")
    stale.mkdirs(); fresh.mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    assert(KeyedTable.vacuum(spark, w, "t") === 1) // only the stale one
    assert(!stale.exists() && fresh.exists())
    assert(KeyedTable.vacuum(spark, w, "t", olderThanMs = 0L) === 1) // now the fresh one
    assert(!fresh.exists())
    assert(KeyedTable.readSql(spark, w, "t").count() === 20)
  }

  test("range read with wrong bound arity fails (reference sql.py:415)") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    val e = intercept[StoreException] {
      KeyedTable.readSql(spark, w, "t", lowest = Seq(1L, 2L), highest = Seq(5L, 6L))
    }
    assert(e.getMessage.contains("one entry per PK column"))
  }

  test("append under a renamed PK column fails (reference test_add_fails_wrong_index_name)") {
    val w = wh()
    KeyedTable.toSql(sample(10), w, "t", pk = Seq("id"))
    // incoming frame indexes by a different name: the table PK aligns
    // to NULL and the non-null PK contract rejects the write
    val renamed = sample(5).withColumnRenamed("id", "other_id")
      .withColumn("other_id", col("other_id") + 100)
    intercept[StoreException] {
      KeyedTable.toSql(renamed, w, "t", pk = Seq("id"), how = WriteMode.Append,
        addNewColumns = true)
    }
  }

  /** The bucket of every file the frame's store scan planned (its one
    * BatchScanExec's input partitions), from the files' directories. */
  private def plannedBuckets(df: DataFrame): Seq[Int] = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    scans.head.inputPartitions.toSeq.flatMap {
      case p: KeyedFilePartition => p.files.toSeq
      case p => fail(s"not a store partition: $p")
    }.map(_.toPath.getParent.getName.stripPrefix("pb_bucket=").toInt)
  }

  test("point lookup prunes to one bucket directory") {
    import org.apache.spark.JobCounter.jobsRunBy
    val w = wh()
    KeyedTable.toSql(sample(500), w, "t", pk = Seq("id"))
    val point = KeyedTable.readSql(spark, w, "t", lowest = Seq(7L), highest = Seq(7L))
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // the pinned bounds reach the scan: it plans the files of exactly
    // one of the 32 bucket dirs
    assert(plannedBuckets(point).nonEmpty && plannedBuckets(point).distinct.size == 1)
    // a NARROW integral range enumerates its keys: ≤5 of the 32 bucket
    // dirs are planned
    val range = KeyedTable.readSql(spark, w, "t", lowest = Seq(5L), highest = Seq(9L))
    assert(range.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    assert(plannedBuckets(range).distinct.size <= 5, plannedBuckets(range))
    // a WIDE range (not enumerable) keeps the full scan + stats pruning
    val wide = KeyedTable.readSql(spark, w, "t", lowest = Seq(1L), highest = Seq(5000L))
    assert(wide.count() == 500)
    // extreme bounds must not overflow the narrowness check
    val all = KeyedTable.readSql(spark, w, "t",
      lowest = Seq(Long.MinValue), highest = Seq(Long.MaxValue))
    assert(all.count() == 500)
    // composite-PK point lookups prune the same way
    import spark.implicits._
    val multi = (1 to 50).flatMap(i => Seq(1, 2).map(g => (i.toLong, g, i * g * 1.0)))
      .toDF("k1", "k2", "v")
    KeyedTable.toSql(multi, w, "m", pk = Seq("k1", "k2"))
    val mp = KeyedTable.readSql(spark, w, "m", lowest = Seq(17L, 2), highest = Seq(17L, 2))
    assert(mp.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((17L, 2)))
    assert(plannedBuckets(mp).nonEmpty && plannedBuckets(mp).distinct.size == 1)

    // Every pruned read returns exactly what an unbounded read filtered
    // by the same bounds returns, at head or at a past snapshot; a point
    // read also resolves without a Spark job, plans files of its own
    // bucket only, and runs one job of one task.
    import org.apache.spark.JobCounter.jobsOf
    def sameAsFiltered(t: String, lo: Seq[Any], hi: Seq[Any],
                       asOf: Option[Long] = None, tag: Option[String] = None): DataFrame = {
      def read(lo: Seq[Any], hi: Seq[Any]) = KeyedTable.readSql(spark, w, t,
        lowest = lo, highest = hi, asOfVersion = asOf, asOfTag = tag)
      val pk = TableMeta.read(spark, KeyedTable.tableDir(w, t)).pk
      val (got, resolveJobs) = jobsOf(spark.sparkContext)(read(lo, hi))
      val bounds = pk.indices.flatMap(i =>
        Option(lo(i)).map(col(pk(i)) >= lit(_)) ++ Option(hi(i)).map(col(pk(i)) <= lit(_)))
      val want = read(Nil, Nil).filter(bounds.reduce(_ && _))
      assert(got.collect().toSet == want.collect().toSet, s"$t [$lo, $hi] $asOf $tag")
      assert(resolveJobs == 0, s"$t [$lo, $hi]: readSql ran $resolveJobs jobs")
      got
    }
    def pointRead(t: String, key: Seq[Any]): Unit = {
      val got = sameAsFiltered(t, key, key)
      val (rows, jobs) = jobsRunBy(spark.sparkContext)(got.collect())
      assert(rows.length == 1, s"$t $key")
      assert(jobs.size == 1 && jobs.head.tasks == 1, s"$t $key: collect ran $jobs")
      // the row's bucket as the partition-discovered data dir records it
      val pk = got.columns.take(key.size)
      val b = spark.read.parquet(KeyedTable.dataDir(w, t))
        .filter(pk.zip(key).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
        .select("pb_bucket").head().getInt(0)
      assert(plannedBuckets(got).nonEmpty && plannedBuckets(got).forall(_ == b),
        s"$t $key: planned buckets ${plannedBuckets(got)}, row in $b")
    }
    val keys = (1 to 200).map(_.toLong)
    val epoch = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val typed = keys.map(k => (k.toByte, k.toShort, k.toInt, k, s"k$k",
        new java.sql.Timestamp(epoch + k * 3600000L), java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(k)), k * 2.0))
      .toDF("b", "s", "i", "l", "str", "ts", "d", "v")
    for (c <- Seq("b", "s", "i", "l", "str", "ts", "d"))
      KeyedTable.toSql(typed.select(col(c), col("v")), w, s"pk_$c", pk = Seq(c))
    val r = typed.filter(col("l") === 77L).head()
    for ((c, i) <- Seq("b", "s", "i", "l", "str", "ts", "d").zipWithIndex)
      pointRead(s"pk_$c", Seq(r.get(i)))
    pointRead("m", Seq(17L, 2))
    // cross-typed bounds boundComparable admits
    pointRead("pk_l", Seq(77))
    pointRead("pk_i", Seq(77L))
    sameAsFiltered("pk_i", Seq(70L), Seq(90L))
    sameAsFiltered("pk_l", Seq(70), Seq(90))
    // a ≤1024-key range over many buckets, and bounds past the PK
    // type's domain (no stored key lies beyond it)
    assert(sameAsFiltered("t", Seq(-300L), Seq(700L)).count() == 500)
    assert(sameAsFiltered("pk_b", Seq(100), Seq(900)).count() == 28)
    assert(sameAsFiltered("pk_b", Seq(200), Seq(900)).count() == 0)
    // a double bound on an integral PK compares in floating point,
    // where one bound equals several keys in different buckets
    val big = 1L << 60
    KeyedTable.toSql((-8L to 8L).map(d => (big + d, d)).toDF("k", "v"), w, "big",
      pk = Seq("k"))
    assert(sameAsFiltered("big", Seq(big.toDouble), Seq(big.toDouble)).count() == 17)
    // a key whose bucket holds no files: the read is empty, not an error
    KeyedTable.toSql(keys.take(3).toDF("k"), w, "sparse", pk = Seq("k"))
    val used = spark.read.parquet(KeyedTable.dataDir(w, "sparse"))
      .select("pb_bucket").distinct().collect().map(_.getInt(0)).toSet
    val bucketOf = spark.range(4, 200).select(col("id"),
      pmod(xxhash64(col("id")), lit(32L)).cast("int").as("b")).collect()
    val lonely = bucketOf.collectFirst { case row if !used(row.getInt(1)) => row.getLong(0) }.get
    assert(sameAsFiltered("sparse", Seq(lonely), Seq(lonely)).isEmpty)

    // delete vectors: masked keys read back absent, live ones present
    val dvTable = keys.map(k => (k, s"v$k", k * 1.5)).toDF("k", "name", "score")
    KeyedTable.toSql(dvTable, w, "dv", pk = Seq("k"))
    val beforeDelete = Manifest.current(spark, KeyedTable.tableDir(w, "dv")).version
    KeyedTable.tagSnapshot(spark, w, "dv", "before"): Unit
    assert(KeyedTable.delete(spark, w, "dv", col("k") % 10 === 3L,
      mode = DeleteMode.MergeOnRead) == 20L)
    assert(Manifest.current(spark, KeyedTable.tableDir(w, "dv")).dvs.nonEmpty)
    pointRead("dv", Seq(77L))
    assert(sameAsFiltered("dv", Seq(73L), Seq(73L)).isEmpty)
    assert(sameAsFiltered("dv", Seq(60L), Seq(90L)).count() == 28)
    // time travel: the version and the tag before the delete
    assert(sameAsFiltered("dv", Seq(73L), Seq(73L), asOf = Some(beforeDelete)).count() == 1)
    assert(sameAsFiltered("dv", Seq(60L), Seq(90L), tag = Some("before")).count() == 31)
    // a renamed value column and an evolved one read under their
    // logical names; old rows read NULL for the evolved column
    KeyedTable.renameColumn(spark, w, "dv", "name", "label")
    KeyedTable.toSql(Seq((201L, "v201", 1.0, "new")).toDF("k", "label", "score", "extra"),
      w, "dv", pk = Seq("k"), how = WriteMode.Append, addNewColumns = true)
    val evolved = sameAsFiltered("dv", Seq(77L), Seq(77L)).collect()
    assert(evolved.map(r => (r.getAs[String]("label"), r.isNullAt(r.fieldIndex("extra"))))
      .toSeq == Seq(("v77", true)))
    assert(sameAsFiltered("dv", Seq(201L), Seq(201L)).head().getAs[String]("extra") == "new")
    assert(sameAsFiltered("dv", Seq(190L), Seq(210L)).count() == 11)
    // an empty table: every bucket holds no files
    KeyedTable.toSql(keys.take(5).toDF("k"), w, "empty", pk = Seq("k"))
    KeyedTable.delete(spark, w, "empty", lit(true), mode = DeleteMode.CopyOnWrite): Unit
    assert(Manifest.current(spark, KeyedTable.tableDir(w, "empty")).files.values.forall(_.isEmpty))
    assert(sameAsFiltered("empty", Seq(3L), Seq(3L)).isEmpty)
    assert(sameAsFiltered("empty", Seq(1L), Seq(100L)).isEmpty)
  }

  test("point and 256-key range reads of a table with DV sidecars each run one job") {
    import org.apache.spark.JobCounter.jobsRunBy
    import spark.implicits._
    val w = wh()
    KeyedTable.toSql((1L to 3000L).map(k => (k, s"v$k")).toDF("k", "v"), w, "t",
      pk = Seq("k"))
    KeyedTable.delete(spark, w, "t", col("k") % 7 === 0L, mode = DeleteMode.MergeOnRead): Unit
    assert(Manifest.current(spark, KeyedTable.tableDir(w, "t")).dvs.nonEmpty)
    for ((lo, hi, n) <- Seq((100L, 100L, 1), (14L, 14L, 0), (1001L, 1256L, 256 - 37))) {
      val (rows, jobs) = jobsRunBy(spark.sparkContext)(
        KeyedTable.readSql(spark, w, "t", lowest = Seq(lo), highest = Seq(hi)).collect())
      assert(rows.length == n, s"[$lo, $hi]")
      assert(jobs.size == 1, s"[$lo, $hi]: collect ran $jobs")
    }
  }

  test("pkJoin: mismatched bucket counts or PK types are rejected up front") {
    import spark.implicits._
    val w = wh()
    val df = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    KeyedTable.toSql(df, w, "a32", pk = Seq("k"))
    KeyedTable.toSql(df, w, "a8", pk = Seq("k"), buckets = 8)
    val e1 = intercept[IllegalArgumentException](PkJoin.pkJoin(spark, w, "a32", "a8"))
    assert(e1.getMessage.contains("bucket counts differ"))
    // same bucket count, different PK type: xxhash64 is type-sensitive,
    // so co-location cannot be assumed
    KeyedTable.toSql(df.withColumn("k", col("k").cast("int")), w, "aint", pk = Seq("k"))
    val e2 = intercept[IllegalArgumentException](PkJoin.pkJoin(spark, w, "a32", "aint"))
    assert(e2.getMessage.contains("PK types differ"))
  }

  test("pkJoin: multi-file buckets (after append) and composite PKs stay exchange-free") {
    import spark.implicits._
    val w = wh()
    // left accumulates two files per bucket via append — partitions are
    // per-file sorted but not globally sorted, so the plan must re-sort
    val l1 = (1 to 200).map(i => (i.toLong, i % 3, s"l$i")).toDF("k1", "k2", "lv")
    val l2 = (201 to 400).map(i => (i.toLong, i % 3, s"l$i")).toDF("k1", "k2", "lv")
    val r0 = (1 to 400).filter(_ % 2 == 0)
      .map(i => (i.toLong, i % 3, i * 1.5)).toDF("k1", "k2", "rv")
    KeyedTable.toSql(l1, w, "l", pk = Seq("k1", "k2"))
    KeyedTable.toSql(l2, w, "l", pk = Seq("k1", "k2"), how = WriteMode.Append)
    KeyedTable.toSql(r0, w, "r", pk = Seq("k1", "k2"))
    val got = PkJoin.pkJoin(spark, w, "l", "r")
    assert(got.columns.toSeq == Seq("k1", "k2", "lv", "rv"))
    val want = l1.union(l2).join(r0, Seq("k1", "k2"))
      .collect().map(_.toSeq).toSet
    assert(got.collect().map(_.toSeq).toSet == want)
    assert(!got.queryExecution.executedPlan.toString.contains("Exchange"))

    // schema evolution: the V2 scan must serve NULL for the evolved
    // column from old files that lack it
    val rNew = Seq((1000L, 0, 9.9, "tagged")).toDF("k1", "k2", "rv", "tag")
    KeyedTable.toSql(rNew, w, "r", pk = Seq("k1", "k2"),
      how = WriteMode.Upsert, addNewColumns = true)
    KeyedTable.toSql(Seq((1000L, 0, "lnew")).toDF("k1", "k2", "lv"), w, "l",
      pk = Seq("k1", "k2"), how = WriteMode.Append)
    val evolved = PkJoin.pkJoin(spark, w, "l", "r")
    assert(evolved.columns.toSeq == Seq("k1", "k2", "lv", "rv", "tag"))
    val tags = evolved.select("k1", "tag").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(tags(1000L) == "tagged")
    assert(tags.filter(_._1 != 1000L).values.forall(_ == null))
  }

  test("pkJoin: co-partitioned bucket join equals a plain PK join, no exchange in the plan") {
    val w = wh()
    val cust = graft.Tables.customer(spark, sfDir)
    val roll = graft.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    KeyedTable.toSql(cust, w, "c", pk = Seq("c_custkey"))
    KeyedTable.toSql(roll, w, "o", pk = Seq("c_custkey"))
    val got = PkJoin.pkJoin(spark, w, "c", "o")
    val want = cust.join(roll, "c_custkey")
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
    // inner-join semantics: customers without orders drop out
    assert(got.count() == roll.count())
    // storage-partitioned join: V2 bucket scans zip directly — a real
    // Catalyst join (codegen/AQE/spillable sort-merge), zero Exchange
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join in:\n$plan")
    assert(plan.contains("BatchScan"), s"expected V2 batch scan in:\n$plan")
  }

  private def addedFiles(before: Map[Int, Seq[ManifestFile]],
                         after: Map[Int, Seq[ManifestFile]]): Seq[(Int, String)] =
    after.toSeq.flatMap { case (b, fs) =>
      val old = before.getOrElse(b, Nil).map(_.name).toSet
      fs.map(_.name).filterNot(old).map(b -> _)
    }

  /** The files one staged write added to table `t`: exactly one per
    * bucket in play, written by tasks 0 until `tasks` (read from the
    * files' `part-NNNNN` writer ids) holding bucket counts that differ
    * by at most one, each file's rows sorted by `sortedBy`. */
  private def checkLayout(w: String, t: String, what: String,
                          files: Seq[(Int, String)], inPlay: Set[Int],
                          tasks: Int, sortedBy: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    val taskOf = "part-(\\d{5})-".r
    assert(files.map(_._1).sorted == inPlay.toSeq.sorted,
      s"$what: new files per bucket ${files.groupBy(_._1).map(kv => kv._1 -> kv._2.size)}")
    if (inPlay.nonEmpty) {
      val byTask = files.groupBy(f => taskOf.findFirstMatchIn(f._2).get.group(1).toInt)
      assert(byTask.keySet == (0 until tasks).toSet, s"$what: tasks ${byTask.keys.toSeq.sorted}")
      val counts = byTask.values.map(_.size)
      assert(counts.max - counts.min <= 1, s"$what: buckets per task $counts")
      if (sortedBy.nonEmpty) {
        val key = struct(sortedBy.map(col): _*)
        val paths = files.map { case (b, f) => s"${KeyedTable.dataDir(w, t)}/pb_bucket=$b/$f" }
        val outOfOrder = spark.read.parquet(paths: _*)
          .select(col("_metadata.file_path").as("f"),
            col("_metadata.row_index").as("i"), key.as("k"))
          .withColumn("prev", lag(col("k"), 1).over(Window.partitionBy("f").orderBy("i")))
          .filter(col("prev") >= col("k")).count()
        assert(outOfOrder == 0, s"$what: rows out of ${sortedBy.mkString("(", ", ", ")")} order")
      }
    }
  }

  test("staged writes run min(buckets in play, cores) balanced tasks, one PK-sorted file per bucket") {
    import spark.implicits._
    val w = wh()
    val cores = spark.sparkContext.defaultParallelism
    var model = Map.empty[Long, (Long, String, Double, Boolean)]
    def recs(ids: Seq[Long], tag: String): Seq[(Long, String, Double, Boolean)] =
      ids.map(i => (i, s"${tag}_$i", i * 1.5, i % 2 == 0))
    def frame(rs: Seq[(Long, String, Double, Boolean)]): DataFrame = rs.toDF("id", "name", "score", "flag")
    def bucketsOf(t: String, ids: Iterable[Long]): Set[Int] = {
      val meta = TableMeta.read(spark, KeyedTable.tableDir(w, t))
      val buckets = Manifest.current(spark, KeyedTable.tableDir(w, t)).buckets
      ids.map(i => KeyedTable.bucketOfKey(spark, meta, buckets, Seq(i))).toSet
    }
    def added(before: Map[Int, Seq[ManifestFile]],
              after: Map[Int, Seq[ManifestFile]]): Seq[(Int, String)] =
      addedFiles(before, after)
    def check(what: String, t: String, files: Seq[(Int, String)],
              inPlay: Set[Int], sortedBy: Seq[String]): Unit =
      checkLayout(w, t, what, files, inPlay, math.min(inPlay.size, cores), sortedBy)
    // runs one verb on table t; `dataIn` / `dvIn` are the buckets it
    // should stage data files / DV sidecars for
    def layout(verb: String, dataIn: Set[Int], dvIn: Set[Int] = Set.empty,
               sortedBy: Seq[String] = Seq("id"))(run: => Unit): Unit = {
      val dir = KeyedTable.tableDir(w, "t")
      val none = Map.empty[Int, Seq[ManifestFile]]
      // before create there is no table, hence no snapshot
      val m0 = Option.when(TableMeta.exists(spark, dir))(Manifest.current(spark, dir))
      run
      val m1 = Manifest.current(spark, dir)
      check(verb, "t", added(m0.fold(none)(_.files), m1.files), dataIn, sortedBy)
      check(s"$verb (DV sidecars)", "t", added(m0.fold(none)(_.dvs), m1.dvs),
        dvIn, Seq("file", "pos"))
      assert(KeyedTable.readSql(spark, w, "t").as[(Long, String, Double, Boolean)].collect().toSet ==
        model.values.toSet, verb)
    }
    def put(rs: Seq[(Long, String, Double, Boolean)]): Unit = model ++= rs.map(r => r._1 -> r)
    val r = (a: Long, b: Long) => (a to b).toSeq

    layout("create", (0 until 32).toSet) {
      put(recs(r(1, 600), "c"))
      KeyedTable.toSql(frame(recs(r(1, 600), "c")), w, "t", pk = Seq("id"))
    }
    layout("append", bucketsOf("t", r(601, 700))) {
      put(recs(r(601, 700), "a"))
      KeyedTable.toSql(frame(recs(r(601, 700), "a")), w, "t", pk = Seq("id"),
        how = WriteMode.Append)
    }
    layout("appendConcurrent", bucketsOf("t", r(701, 800))) {
      put(recs(r(701, 800), "ac"))
      KeyedTable.appendConcurrent(frame(recs(r(701, 800), "ac")), w, "t")
    }
    val ups = r(1, 40) ++ r(801, 840)
    layout("upsert", bucketsOf("t", ups)) {
      put(recs(ups, "u"))
      KeyedTable.toSql(frame(recs(ups, "u")), w, "t", pk = Seq("id"),
        how = WriteMode.Upsert)
    }
    val upc = r(41, 80) ++ r(841, 880)
    layout("upsertConcurrent", bucketsOf("t", upc)) {
      put(recs(upc, "uc"))
      KeyedTable.upsertConcurrent(frame(recs(upc, "uc")), w, "t")
    }
    def feed(keep: Seq[Long], drop: Seq[Long], tag: String): DataFrame =
      frame(recs(keep ++ drop, tag)).withColumn("is_del", col("id").isin(drop: _*))
    val (mKeep, mDrop) = (r(81, 100) ++ r(881, 890), r(101, 110))
    layout("merge (merge-on-read)", bucketsOf("t", mKeep),
        bucketsOf("t", r(81, 110))) {
      put(recs(mKeep, "m")); model --= mDrop
      KeyedTable.merge(feed(mKeep, mDrop, "m"), w, "t", deleteWhen = col("is_del"),
        mode = DeleteMode.MergeOnRead)
    }
    val (cKeep, cDrop) = (r(111, 130) ++ r(891, 900), r(131, 140))
    layout("mergeConcurrent (copy-on-write)", bucketsOf("t", cKeep ++ cDrop)) {
      put(recs(cKeep, "mc")); model --= cDrop
      KeyedTable.mergeConcurrent(feed(cKeep, cDrop, "mc"), w, "t",
        deleteWhen = col("is_del"))
    }
    def renamed(ids: Seq[Long]): Unit =
      put(ids.map(i => model(i).copy(_2 = "upd")))
    layout("update (copy-on-write)", bucketsOf("t", r(141, 170))) {
      renamed(r(141, 170))
      KeyedTable.update(spark, w, "t", col("id").between(141L, 170L),
        Map("name" -> lit("upd")), mode = DeleteMode.CopyOnWrite)
    }
    layout("updateConcurrent (merge-on-read)", bucketsOf("t", r(171, 190)),
        bucketsOf("t", r(171, 190))) {
      renamed(r(171, 190))
      KeyedTable.updateConcurrent(spark, w, "t", col("id").between(171L, 190L),
        Map("name" -> lit("upd")), mode = DeleteMode.MergeOnRead)
    }
    layout("deleteConcurrent (copy-on-write)", bucketsOf("t", r(191, 220))) {
      model --= r(191, 220)
      KeyedTable.deleteConcurrent(spark, w, "t", col("id").between(191L, 220L),
        mode = DeleteMode.CopyOnWrite)
    }
    layout("delete (merge-on-read)", Set.empty, bucketsOf("t", r(221, 240))) {
      model --= r(221, 240)
      KeyedTable.delete(spark, w, "t", col("id").between(221L, 240L),
        mode = DeleteMode.MergeOnRead)
    }
    def crowded(minFiles: Int): Set[Int] =
      Manifest.current(spark, KeyedTable.tableDir(w, "t")).files
        .filter(_._2.size >= minFiles).keySet
    layout("compact", crowded(3)) {
      KeyedTable.compact(spark, w, "t", minFiles = 3)
    }
    layout("zorderCompact", (0 until 32).toSet, sortedBy = Nil) {
      KeyedTable.zorderCompact(spark, w, "t", Seq("id", "score"))
    }
    layout("rebucket", (0 until 40).toSet) {
      KeyedTable.rebucket(spark, w, "t", 40)
    }

    // create's {0,1} → bool rewrite re-clusters the staged files
    val bits = (1 to 300).map(i => (i.toLong, i % 2)).toDF("id", "bit")
    KeyedTable.toSql(bits, w, "b", pk = Seq("id"))
    val bFiles = Manifest.current(spark, KeyedTable.tableDir(w, "b")).files
    check("create (bool rewrite)", "b", added(Map.empty, bFiles), (0 until 32).toSet, Seq("id"))
    assert(KeyedTable.readSql(spark, w, "b").schema("bit").dataType ==
      org.apache.spark.sql.types.BooleanType)
  }
  test("a write past one advisory partition runs one task per bucket in play") {
    import spark.implicits._
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(advisory)
    val cores = spark.sparkContext.defaultParallelism
    val w = wh()
    val dir = KeyedTable.tableDir(w, "t")
    def files(): Map[Int, Seq[ManifestFile]] = Manifest.current(spark, dir).files
    def dvs(): Map[Int, Seq[ManifestFile]] = Manifest.current(spark, dir).dvs
    KeyedTable.toSql(sample(3000), w, "t", pk = Seq("id"))
    val meta = TableMeta.read(spark, dir)
    val buckets = Manifest.current(spark, dir).buckets
    val total = Manifest.current(spark, dir).totalBytes
    // a delta over 16 buckets reads about half the table
    val keys = (5001L to 6000L).groupBy(i =>
      KeyedTable.bucketOfKey(spark, meta, buckets, Seq(i))).toSeq.sortBy(_._1)
      .take(16).map(_._2.head)
    val inPlay = keys.map(i => KeyedTable.bucketOfKey(spark, meta, buckets, Seq(i))).toSet
    assert(inPlay.size == 16 && cores < 16)
    try {
      // every write larger than 1 byte is large
      spark.conf.set(advisory, "1")
      val f0 = files()
      KeyedTable.toSql(sample(20).withColumn("id", col("id") + 3000L), w, "t",
        pk = Seq("id"), how = WriteMode.Upsert)
      val upIn = (3001L to 3020L)
        .map(i => KeyedTable.bucketOfKey(spark, meta, buckets, Seq(i))).toSet
      checkLayout(w, "t", "large upsert", addedFiles(f0, files()), upIn, upIn.size, Seq("id"))
      KeyedTable.toSql(sample(300), w, "c", pk = Seq("id"))
      val c = addedFiles(Map.empty,
        Manifest.current(spark, KeyedTable.tableDir(w, "c")).files)
      checkLayout(w, "c", "large create", c, (0 until 32).toSet, 32, Seq("id"))
      // the delta write reads only its touched buckets: small against a
      // threshold of 3/4 of the table, while rebucketing the whole
      // table is large
      spark.conf.set(advisory, (total * 3 / 4).toString)
      val f1 = files()
      KeyedTable.toSql(keys.map(i => (i, "k", 1.0, true)).toDF("id", "name", "score", "flag"),
        w, "t", pk = Seq("id"), how = WriteMode.Upsert)
      checkLayout(w, "t", "small upsert", addedFiles(f1, files()), inPlay, cores, Seq("id"))
      // its merge-on-read twin writes DVs from a persisted join before
      // the join has run once: the estimate reads through the cache
      val (f2, d2) = (files(), dvs())
      KeyedTable.merge(keys.map(i => (i, "m", 2.0, false)).toDF("id", "name", "score", "flag")
        .withColumn("is_del", lit(false)), w, "t", deleteWhen = col("is_del"),
        mode = DeleteMode.MergeOnRead)
      checkLayout(w, "t", "small merge-on-read", addedFiles(f2, files()), inPlay, cores, Seq("id"))
      checkLayout(w, "t", "small merge-on-read (DV sidecars)", addedFiles(d2, dvs()),
        inPlay, cores, Seq("file", "pos"))
      KeyedTable.rebucket(spark, w, "t", 40)
      checkLayout(w, "t", "large rebucket", addedFiles(Map.empty, files()),
        (0 until 40).toSet, 40, Seq("id"))
    } finally prev.fold(spark.conf.unset(advisory))(spark.conf.set(advisory, _))
    assert(KeyedTable.readSql(spark, w, "t").count() === 3036)
  }
}
