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

  test("point lookup prunes to one bucket directory") {
    val w = wh()
    KeyedTable.toSql(sample(500), w, "t", pk = Seq("id"))
    val point = KeyedTable.readSql(spark, w, "t", lowest = Seq(7L), highest = Seq(7L))
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // the partition filter on pb_bucket reaches the scan: exactly one
    // of the 32 bucket dirs is listed/read
    val scan = point.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(scan.relation.partitionSchema.fieldNames.contains("pb_bucket"))
    assert(scan.metadata("PartitionFilters").contains("pb_bucket"))
    // a NARROW integral range enumerates its keys: ≤5 of the 32 bucket
    // dirs are listed, and the partition filter reaches the scan
    val range = KeyedTable.readSql(spark, w, "t", lowest = Seq(5L), highest = Seq(9L))
    assert(range.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    val rScan = range.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(rScan.metadata("PartitionFilters").contains("pb_bucket"))
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
    val mScan = mp.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
    assert(mScan.metadata("PartitionFilters").contains("pb_bucket"))

    // Every pruned read returns exactly what an unbounded read filtered
    // by the same bounds returns; a point read also resolves without a
    // Spark job, reads files of its own bucket only, and runs one job.
    import org.apache.spark.JobCounter.jobsOf
    def sameAsFiltered(t: String, lo: Seq[Any], hi: Seq[Any]): DataFrame = {
      val pk = KeyedTable.readSql(spark, w, t).columns.take(lo.size)
      val (got, resolveJobs) = jobsOf(spark.sparkContext)(
        KeyedTable.readSql(spark, w, t, lowest = lo, highest = hi))
      val bounds = pk.indices.flatMap(i =>
        Option(lo(i)).map(col(pk(i)) >= lit(_)) ++ Option(hi(i)).map(col(pk(i)) <= lit(_)))
      val want = KeyedTable.readSql(spark, w, t).filter(bounds.reduce(_ && _))
      assert(got.collect().toSet == want.collect().toSet, s"$t [$lo, $hi]")
      assert(resolveJobs == 0, s"$t [$lo, $hi]: readSql ran $resolveJobs jobs")
      got
    }
    def pointRead(t: String, key: Seq[Any]): Unit = {
      val got = sameAsFiltered(t, key, key)
      val (rows, jobs) = jobsOf(spark.sparkContext)(got.collect())
      assert(rows.length == 1, s"$t $key")
      assert(jobs == 1, s"$t $key: collect ran $jobs jobs")
      // the row's bucket as the partition-discovered data dir records it
      val pk = got.columns.take(key.size)
      val b = spark.read.parquet(KeyedTable.dataDir(w, t))
        .filter(pk.zip(key).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _))
        .select("pb_bucket").head().getInt(0)
      assert(got.inputFiles.nonEmpty &&
        got.inputFiles.forall(_.contains(s"/pb_bucket=$b/")), got.inputFiles.toSeq)
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
}
