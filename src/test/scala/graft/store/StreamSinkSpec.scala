package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The keyed table as a NATIVE Structured Streaming SINK
  * (`writeStream.table("graft.t")` → [[KeyedStreamingWrite]]):
  * executor-staged per-bucket parquet, one manifest flip per epoch
  * carrying the (queryId → epoch) ledger — exactly-once over replay,
  * converging to the batch result. */
class StreamSinkSpec extends SparkSpec {

  import spark.implicits._

  private val catN = new AtomicLong(0)

  /** Fresh catalog per test: Spark caches catalog INSTANCES by name. */
  private def mkCatalog(): (String, String) = {
    val wh = Files.createTempDirectory("graft-sink-wh-").toString
    val cat = s"graft_sink${catN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** Stage `df` as one parquet file in a fresh dir and return a file
    * stream over it (the arriving-backlog fixture). */
  private def fileStream(df: DataFrame): DataFrame = {
    val src = Files.createTempDirectory("graft-sink-src-").toString
    df.coalesce(1).write.mode("overwrite").parquet(src)
    spark.readStream.schema(df.schema).parquet(src)
  }

  private def drain(stream: DataFrame, cat: String, table: String): Unit = {
    val ck = Files.createTempDirectory("graft-sink-ck-").toString
    val q = stream.writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.$table")
    q.awaitTermination()
  }

  test("writeStream.table drains a backlog and converges to the batch result") {
    val (cat, wh) = mkCatalog()
    val head = (1L to 40L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "g", "v")
    KeyedTable.toSql(head, wh, "t", pk = Seq("k"), buckets = 4)
    val tail = (41L to 200L).map(i => (i, s"v$i", i * 1.0)).toDF("k", "g", "v")
    drain(fileStream(tail), cat, "t")
    val got = KeyedTable.readSql(spark, wh, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == (1L to 200L).map(i => (i, s"v$i", i * 1.0)))
    // the epoch ledger landed in the manifest, same flip as the data
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, "t"))
    assert(m.streams.size == 1 && m.op.contains("stream"))
    // the DSv2 read and SPJ machinery see the streamed rows too
    assert(KeyedTableSource.read(spark, wh, "t").count() == 200L)
  }

  test("replayed epochs are no-ops: the ledger makes the sink exactly-once") {
    val (_, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 2)
    val dir = KeyedTable.tableDir(wh, "t")
    val meta = TableMeta.read(spark, dir)
    def stageEpoch(epoch: Long, rows: Seq[(Long, Double)]): (String, Set[String]) = {
      val staging = s"$dir/.staging-stream-q1/epoch=$epoch"
      rows.toDF("k", "v")
        .withColumn(KeyedTable.BucketCol,
          pmod(xxhash64(col("k")), lit(2L)).cast("int"))
        .write.partitionBy(KeyedTable.BucketCol).parquet(staging)
      val p = new org.apache.hadoop.fs.Path(staging)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p).filter(_.isDirectory).flatMap { d =>
        fs.listStatus(d.getPath)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
      }.toSet
      (staging, files)
    }
    val (s0, f0) = stageEpoch(0L, Seq((2L, 2.0), (3L, 3.0)))
    KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
      "q1", 0L, s0, 2, f0)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 3L)
    val v1 = Manifest.current(spark, dir).version
    // REPLAY the same epoch (restart semantics): rows already committed
    // must not land twice, no new snapshot, staging swept
    val (s0b, f0b) = stageEpoch(0L, Seq((2L, 2.0), (3L, 3.0)))
    KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
      "q1", 0L, s0b, 2, f0b)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 3L)
    assert(Manifest.current(spark, dir).version == v1)
    assert(!new java.io.File(s0b).exists(), "replayed staging must be swept")
    // the NEXT epoch still lands
    val (s1, f1) = stageEpoch(1L, Seq((4L, 4.0)))
    KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
      "q1", 1L, s1, 2, f1)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 4L)
    assert(Manifest.current(spark, dir).streams == Map("q1" -> 1L))
  }

  test("zombie-task leftovers never reach the table") {
    val (_, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 2)
    val dir = KeyedTable.tableDir(wh, "t")
    val staging = s"$dir/.staging-stream-q2/epoch=0"
    Seq((2L, 2.0)).toDF("k", "v")
      .withColumn(KeyedTable.BucketCol,
        pmod(xxhash64(col("k")), lit(2L)).cast("int"))
      .write.partitionBy(KeyedTable.BucketCol).parquet(staging)
    val p = new org.apache.hadoop.fs.Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(p).filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (d.getPath.getName, st.getPath))
    }
    assert(all.nonEmpty)
    // a zombie task's partial file sits next to the good one — it is
    // NOT in any commit message, so commit must drop it
    val (bDir, good) = all.head
    val zombie = new org.apache.hadoop.fs.Path(good.getParent, "part-zombie.parquet")
    val out = fs.create(zombie, false)
    out.write(Array[Byte](1, 2, 3)); out.close()
    KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
      "q2", 0L, staging, 2, Set(s"$bDir/${good.getName}"))
    assert(KeyedTable.readSql(spark, wh, "t").count() == 2L)
    val m = Manifest.current(spark, dir)
    assert(!m.files.valuesIterator.flatten.exists(_.name.contains("zombie")))
  }

  test("append contract holds per epoch: PK overlap fails the epoch, table unchanged") {
    val (_, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 2)
    val dir = KeyedTable.tableDir(wh, "t")
    val staging = s"$dir/.staging-stream-q3/epoch=0"
    Seq((2L, 99.0), (3L, 3.0)).toDF("k", "v")
      .withColumn(KeyedTable.BucketCol,
        pmod(xxhash64(col("k")), lit(2L)).cast("int"))
      .write.partitionBy(KeyedTable.BucketCol).parquet(staging)
    val p = new org.apache.hadoop.fs.Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
    }.toSet
    val v0 = Manifest.current(spark, dir).version
    val e = intercept[StoreException] {
      KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
        "q3", 0L, staging, 2, files)
    }
    assert(e.getMessage.contains("overwrite existing PKs"))
    assert(Manifest.current(spark, dir).version == v0)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 2L)
  }

  test("CDC: a changelog-enabled table logs each epoch as insert images") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 10.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 2)
    KeyedTable.setChangelog(spark, wh, "t", enabled = true)
    drain(fileStream(Seq((2L, 20.0), (3L, 30.0)).toDF("k", "v")), cat, "t")
    val log = KeyedTable.readChangelog(spark, wh, "t")
      .select("k", "op", "new_v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(log.toSeq == Seq((2L, "insert", 20.0), (3L, "insert", 30.0)))
  }

  test("sink_mode=upsert: epochs update by PK through merge-on-read") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql((1L to 100L).map(i => (i, "old", i * 1.0))
      .toDF("k", "g", "v"), wh, "t", pk = Seq("k"), buckets = 4)
    val delta = (50L to 150L).map(i => (i, "new", i * 2.0)).toDF("k", "g", "v")
    val ck = Files.createTempDirectory("graft-sink-ck-").toString
    fileStream(delta).writeStream
      .option("checkpointLocation", ck)
      .option("sink_mode", "upsert")
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.t")
      .awaitTermination()
    val got = KeyedTable.readSql(spark, wh, "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val want = (1L to 49L).map(i => (i, "old", i * 1.0)) ++
      (50L to 150L).map(i => (i, "new", i * 2.0))
    assert(got == want)
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, "t"))
    assert(m.streams.size == 1, "epoch ledger must land with the upsert")
  }

  test("outputMode(Update) aggregate converges across restarts via upsert epochs") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq(("seed", 0L)).toDF("g", "n"), wh, "agg",
      pk = Seq("g"), buckets = 2)
    val src = Files.createTempDirectory("graft-sink-usrc-").toString
    val ck = Files.createTempDirectory("graft-sink-uck-").toString
    def drainAgg(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("g",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.LongType))))
        .parquet(src)
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ck)
        .option("sink_mode", "upsert")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.agg")
      q.awaitTermination()
    }
    // epoch 1: a/b counts land as inserts
    Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "x")
      .write.mode("append").parquet(src)
    drainAgg()
    // epoch 2 (same checkpoint = restored state): counts GROW and the
    // updated groups upsert into place — the update-mode contract a
    // foreachBatch-free sink must honor
    Seq(("a", 4L), ("c", 5L)).toDF("g", "x")
      .write.mode("append").parquet(src)
    drainAgg()
    val got = KeyedTable.readSql(spark, wh, "agg")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq(("a", 3L), ("b", 1L), ("c", 1L), ("seed", 0L)), got.toString)
  }

  test("upsert epochs replay as no-ops; CDC logs exact upsert images") {
    val (_, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 2)
    KeyedTable.setChangelog(spark, wh, "t", enabled = true)
    val dir = KeyedTable.tableDir(wh, "t")
    def stage(epoch: Long): (String, Set[String]) = {
      val staging = s"$dir/.staging-stream-qu/epoch=$epoch"
      Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v")
        .withColumn(KeyedTable.BucketCol,
          pmod(xxhash64(col("k")), lit(2L)).cast("int"))
        .write.partitionBy(KeyedTable.BucketCol).parquet(staging)
      val p = new org.apache.hadoop.fs.Path(staging)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(p).filter(_.isDirectory).flatMap { d =>
        fs.listStatus(d.getPath)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
      }.toSet
      (staging, files)
    }
    val (s0, f0) = stage(0L)
    KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
      "qu", 0L, s0, 2, f0, upsertMode = true)
    def state(): Seq[(Long, Double)] =
      KeyedTable.readSql(spark, wh, "t").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(state() == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    val v1 = Manifest.current(spark, dir).version
    // replay: no double-apply, no new snapshot
    val (s0b, f0b) = stage(0L)
    KeyedTable.commitStreamEpoch(spark, dir, KeyedTable.dataDir(wh, "t"),
      "qu", 0L, s0b, 2, f0b, upsertMode = true)
    assert(state() == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    assert(Manifest.current(spark, dir).version == v1)
    // CDC: one batch with update (2: 20->99) + insert (3) images
    val log = KeyedTable.readChangelog(spark, wh, "t")
      .select("k", "op", "old_v", "new_v").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(log == Seq((2L, "update", 20.0, 99.0), (3L, "insert", -1.0, 30.0)),
      log.toString)
  }

  /** One-row source files drained one-per-epoch (AvailableNow honors
    * maxFilesPerTrigger admission), so `n` files = `n` sink epochs. */
  private def drainEpochs(cat: String, table: String, n: Int,
                          opts: Map[String, String]): Unit = {
    val src = Files.createTempDirectory("graft-sink-ac-src-").toString
    (1 to n).foreach { i =>
      Seq((i.toLong, i * 1.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val ck = Files.createTempDirectory("graft-sink-ac-ck-").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    var q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
    opts.foreach { case (k, v) => q = q.option(k, v) }
    q.toTable(s"$cat.$table").awaitTermination()
  }

  test("append-mode epochs do NOT auto-compact by default (tailing consumers)") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq((0L, 0.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 1)
    val v0 = Manifest.current(spark, KeyedTable.tableDir(wh, "t")).version
    drainEpochs(cat, "t", 20, Map.empty)
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, "t"))
    // one file per epoch accumulated: every commit stayed additive, so
    // an incremental consumer can tail the whole window
    assert(m.files(0).size == 21, s"got ${m.files(0).size} files")
    assert(KeyedTable.readIncremental(spark, wh, "t", v0).count() == 20L)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 21L)
  }

  test("auto_compact=true bounds an append sink's files per bucket") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq((0L, 0.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 1)
    drainEpochs(cat, "t", 20, Map("auto_compact" -> "true"))
    val m = Manifest.current(spark, KeyedTable.tableDir(wh, "t"))
    // the policy (maxFilesPerBucket=16) fired mid-stream: the layout
    // never ran away, and the data is intact
    assert(m.files(0).size <= 17, s"got ${m.files(0).size} files")
    val got = KeyedTable.readSql(spark, wh, "t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == (0L to 20L).map(i => (i, i * 1.0)))
  }

  /** Every message along `e`'s cause chain, concatenated. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(c => Option(c.getMessage)).mkString(" | ")

  test("an epoch holding a NULL primary key fails, table unchanged") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("k", "v"), wh, "t",
      pk = Seq("k"), buckets = 2)
    val dir = KeyedTable.tableDir(wh, "t")
    val v0 = Manifest.current(spark, dir).version
    val e = intercept[Exception] {
      drain(fileStream(Seq((Option.empty[Long], 5.0), (Some(2L), 2.0))
        .toDF("k", "v")), cat, "t")
    }
    assert(messages(e).contains("NULL"), messages(e))
    assert(Manifest.current(spark, dir).version == v0)
    assert(KeyedTable.readSql(spark, wh, "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 1.0)))
  }

  test("a staged epoch holding a NULL primary key is refused at commit") {
    val (_, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 1.0)).toDF("id", "v"), wh, "t",
      pk = Seq("id"), buckets = 2)
    val dir = KeyedTable.tableDir(wh, "t")
    val v0 = Manifest.current(spark, dir).version
    val e = intercept[StoreException] {
      SinkEpoch.commit(spark, wh, "t",
        Seq((Option.empty[Long], 5.0)).toDF("id", "v"), 2, "qnull", 0L)
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(Manifest.current(spark, dir).version == v0)
    assert(KeyedTable.readSql(spark, wh, "t").count() == 1L)
  }

  test("sink_mode=upsert refuses a query lacking table columns, table " +
      "unchanged") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq((1L, 1.0, "a")).toDF("k", "v", "g"), wh, "t",
      pk = Seq("k"), buckets = 2)
    val dir = KeyedTable.tableDir(wh, "t")
    val v0 = Manifest.current(spark, dir).version
    val ck = Files.createTempDirectory("graft-sink-ck-").toString
    val e = intercept[Exception] {
      fileStream(Seq((1L, 10.0)).toDF("k", "v")).writeStream
        .option("checkpointLocation", ck)
        .option("sink_mode", "upsert")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.t")
        .awaitTermination()
    }
    assert(messages(e).contains("lacks g"), messages(e))
    assert(Manifest.current(spark, dir).version == v0)
    assert(KeyedTable.readSql(spark, wh, "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq((1L, 1.0, "a")))
  }

  test("streaming write into an auto-index table is refused loudly") {
    val (cat, wh) = mkCatalog()
    KeyedTable.toSql(Seq(("a", 1.0)).toDF("g", "v"), wh, "t",
      autoIndex = true)
    val e = intercept[Exception] {
      drain(fileStream(Seq(("b", 2.0)).toDF("g", "v")), cat, "t")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).flatMap(c => Option(c.getMessage)).mkString
        .contains("auto-index"))
  }
}
