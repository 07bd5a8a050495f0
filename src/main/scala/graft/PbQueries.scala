package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{Catalog, Companda, KeyedTable, KeyedTableSource, WriteMode}

/** Correctness-gate queries for the keyed-table store (SURVEY.md §2 #1-12).
  *
  * Each query exercises a real store write/read cycle against a throwaway
  * warehouse directory, and returns a DataFrame whose content is
  * SQL-expressible over the source tables so DuckDB can oracle it.
  */
object PbQueries {

  private def tempWarehouse(): String =
    graft.TempDirs.tempDir("graft-wh-")

  /** #1 create_only + full read roundtrip. */
  def createRead(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #2 append of disjoint key ranges reassembles the full table. */
  def append(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    // o_orderdate is stored un-annotated (timestamp[ms] → NTZ in Spark);
    // the driver testdata is semantically UTC, so opt into the pin
    // instead of the default naive-datetime rejection
    KeyedTable.toSql(orders.filter(col("o_orderkey") % 2 === 0), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false)
    KeyedTable.toSql(orders.filter(col("o_orderkey") % 2 === 1), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false)
    KeyedTable.readSql(spark, wh, "orders")
  }

  /** #3 upsert: full-row update of existing keys + insert of new keys. */
  def upsert(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    KeyedTable.toSql(orders, wh, "orders", pk = Seq("o_orderkey"),
      strictUtc = false) // NTZ testdata is semantically UTC
    val modified = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("X"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserted = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    KeyedTable.toSql(modified.unionByName(inserted), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Upsert, strictUtc = false)
    KeyedTable.readSql(spark, wh, "orders")
  }

  /** #3b partial-column upsert: only columns present in the incoming
    * frame are overwritten; absent columns keep stored values
    * (reference tests/test_sql.py:533). */
  def upsertPartial(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    KeyedTable.toSql(orders, wh, "orders", pk = Seq("o_orderkey"),
      strictUtc = false) // NTZ testdata is semantically UTC
    val delta = orders.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 3).as("o_totalprice"))
    KeyedTable.toSql(delta, wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Upsert, strictUtc = false)
    KeyedTable.readSql(spark, wh, "orders")
  }

  /** #4 inclusive PK range read (filters push to parquet stats). */
  def readRange(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is semantically UTC
    KeyedTable.readSql(spark, wh, "orders", lowest = Seq(100L), highest = Seq(500L))
  }

  /** #4b point lookup (lowest == highest): bucket-pruned — the scan
    * lists ONE bucket directory (see KeyedTable.readSql). Several keys
    * unioned so the result isn't a single row. */
  def readPoint(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is semantically UTC
    Seq(1L, 7L, 500L, 1000L)
      .map(k => KeyedTable.readSql(spark, wh, "orders",
        lowest = Seq(k), highest = Seq(k)))
      .reduce(_ unionByName _)
  }

  /** Lineitem rolled up to a (l_orderkey, l_linenumber) grain — the
    * synthetic data has no 2-column unique key, so build one. */
  private def lineGrain(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
           count(lit(1)).as("n_rows"))

  /** #5 composite PK, per-dimension range (null skips a dimension). */
  def readRangeMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(lineGrain(spark, sfDir), wh, "line_grain",
      pk = Seq("l_orderkey", "l_linenumber"))
    KeyedTable.readSql(spark, wh, "line_grain",
      lowest = Seq(100L, 2), highest = Seq(1000L, null))
  }

  /** #6 upsert on a composite PK. */
  def upsertMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val grain = lineGrain(spark, sfDir)
    KeyedTable.toSql(grain, wh, "line_grain", pk = Seq("l_orderkey", "l_linenumber"))
    val delta = grain.filter(col("l_orderkey") % 13 === 0)
      .withColumn("sum_qty", col("sum_qty") + 100)
    KeyedTable.toSql(delta, wh, "line_grain",
      pk = Seq("l_orderkey", "l_linenumber"), how = WriteMode.Upsert)
    KeyedTable.readSql(spark, wh, "line_grain")
  }

  /** #7 synthetic auto-index PK over a deterministic ordering. */
  def autoIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val ordered = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    KeyedTable.toSql(ordered, wh, "orders_auto", autoIndex = true)
    KeyedTable.readSql(spark, wh, "orders_auto")
  }

  /** #8 addNewColumns schema evolution: old rows read NULL for the new
    * column without any rewrite (metadata-only evolution). */
  def addColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer.filter(col("c_custkey") % 2 === 0), wh, "customer",
      pk = Seq("c_custkey"))
    val withExtra = customer.filter(col("c_custkey") % 2 === 1)
      .withColumn("c_extra", floor(col("c_acctbal")).cast("double"))
    KeyedTable.toSql(withExtra, wh, "customer",
      pk = Seq("c_custkey"), how = WriteMode.Upsert, addNewColumns = true)
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #9 identifier cleaning: dirty incoming names land as clean ones. */
  def cleanNames(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val dirty = Tables.customer(spark, sfDir)
      .withColumnRenamed("c_custkey", "C CustKey")
      .withColumnRenamed("c_name", "C.Name")
      .withColumnRenamed("c_acctbal", "c acct-bal")
    KeyedTable.toSql(dirty, wh, "customer", pk = Seq("C CustKey"))
    KeyedTable.readSql(spark, wh, "customer")
      .withColumnRenamed("c_acct_bal", "c_acctbal")
      .withColumnRenamed("cname", "c_name")
  }

  /** #10 describe_database over a small warehouse. */
  def describe(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer", pk = Seq("c_custkey"))
    KeyedTable.toSql(Tables.nation(spark, sfDir), wh, "nation", pk = Seq("n_nationkey"))
    KeyedTable.toSql(Tables.supplier(spark, sfDir), wh, "supplier", pk = Seq("s_suppkey"))
    Catalog.describe(spark, wh)
  }

  /** #11b shuffle-free co-partitioned PK join of two stores sharing a
    * bucket count: customer ⋈ per-customer order rollup, zero exchange
    * of either table (see PkJoin). */
  def pkJoinQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer", pk = Seq("c_custkey"))
    val rollup = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double")
          .as("total_spend"))
    KeyedTable.toSql(rollup, wh, "cust_orders", pk = Seq("c_custkey"))
    graft.store.PkJoin.pkJoin(spark, wh, "customer", "cust_orders")
  }

  /** #11f filtered storage-partitioned join: a PK predicate on top of
    * the co-partitioned join reaches BOTH V2 scans through Catalyst
    * pushdown (KeyedScanBuilder implements SupportsPushDownFilters), so
    * each side prunes parquet row groups before the zero-exchange zip —
    * at 100 TB the difference between scanning two tables and scanning
    * the few row groups whose PK-sorted stats overlap the range. */
  def pkJoinFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer", pk = Seq("c_custkey"))
    val rollup = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double")
          .as("total_spend"))
    KeyedTable.toSql(rollup, wh, "cust_orders", pk = Seq("c_custkey"))
    graft.store.PkJoin.pkJoin(spark, wh, "customer", "cust_orders")
      .filter(col("c_custkey") >= 100 && col("c_custkey") <= 400)
  }

  /** #12 companda: per-column inequality counts with epsilon tolerance. */
  def companda(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val modified = orders
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
          .when(col("o_orderkey") % 5 === 1, col("o_totalprice") + 0.0005) // within epsilon
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 3 === 0, lit("XXX")).otherwise(col("o_orderpriority")))
    Companda.diff(orders, modified, pk = Seq("o_orderkey"))
  }

  /** #11l consumer (`cdc_incremental_agg`): the read-side payoff of the
    * upsert changelog. A derived grouped aggregate (orders by priority →
    * count + exact-decimal revenue) is snapshotted to parquet BEFORE any
    * delta, then THREE changelog-enabled upserts land (pure inserts;
    * updates that MOVE rows to a new group; a mixed insert+update batch,
    * all partial-column) — and the snapshot is brought up to date by
    * folding ONLY the changelog's before/after images
    * ([[graft.operators.CdcConsumer.applyGroupedAgg]]). The oracle
    * recomputes the aggregate from the final table state: incremental ≡
    * recompute, bit-identical, because the fold stays DECIMAL end to end.
    * At 100 TB: the fold reads |changelog| rows, never the table. */
  def cdcIncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    // a third of orders: the query is five real store write cycles
    // (create + snapshot + 3 changelog upserts) — the CDC semantics are
    // scale-free, so the gate pays a third of the write volume
    val orders = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 3 === 0)
    val k = col("o_orderkey")
    KeyedTable.toSql(orders.filter(k % 4 =!= 3), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is semantically UTC
    // materialize the derived aggregate at the snapshot horizon (write
    // forces evaluation — later upserts must not leak into the base)
    val derived = s"$wh/derived_by_priority"
    KeyedTable.readSql(spark, wh, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("total"))
      .write.parquet(derived)
    // batch 0: pure inserts (the odd half of the held-out keys, doubled
    // price); partial-column shape throughout — absent columns land NULL
    // for inserts and keep stored values for updates
    def delta(f: DataFrame): DataFrame = f.select(k,
      col("o_orderpriority"), col("o_totalprice"))
    KeyedTable.toSql(
      delta(orders.filter(k % 4 === 3 && k % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Upsert,
      strictUtc = false, changelog = true)
    // batch 1: updates that MOVE groups (priority rewritten) + reprice
    KeyedTable.toSql(
      delta(orders.filter(k % 4 === 0)
        .withColumn("o_orderpriority", lit("0-MOVED"))
        .withColumn("o_totalprice", col("o_totalprice") + 111.11)),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Upsert,
      strictUtc = false, changelog = true)
    // batch 2: mixed — the even half of the held-out keys insert at
    // original values; every third %4==1 key reprices in place
    KeyedTable.toSql(
      delta(orders.filter(k % 4 === 3 && k % 2 === 0)).unionByName(
        delta(orders.filter(k % 4 === 1 && k % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") - 50.0))),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Upsert,
      strictUtc = false, changelog = true)
    // batch 3: a changelog-enabled DELETE — vanished rows must debit
    // their groups in the fold, or the derived aggregate silently
    // keeps them forever
    KeyedTable.delete(spark, wh, "orders",
      k % 4 === 1 && k % 7 === 0, changelog = true): Unit
    val updated = graft.operators.CdcConsumer.applyGroupedAgg(
      spark.read.parquet(derived),
      KeyedTable.readChangelog(spark, wh, "orders"),
      groupCol = "o_orderpriority", countCol = "n_rows", sumCol = "total",
      valueCol = "o_totalprice")
    updated.select(col("o_orderpriority"), col("n_rows"),
      round(col("total"), 2).cast("double").as("total"))
  }

  /** #33h (`cdc_stream_agg`): the STREAMING changelog consumer as a
    * correctness row — identical setup to [[cdcIncrementalAgg]], but
    * the fold runs through [[graft.streaming.StreamingCdc]]: the three
    * changelog batches arrive as a drained file-stream backlog
    * (Trigger.AvailableNow) and the derived snapshot is swapped
    * per micro-batch. Gated on the SAME oracle as the batch fold: the
    * continuous path must converge to the recompute exactly
    * (stream_upsert taught us spec-only streaming silently rots). */
  def cdcStreamAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 3 === 0) // same universe as the batch twin
    val k = col("o_orderkey")
    KeyedTable.toSql(orders.filter(k % 4 =!= 3), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is semantically UTC
    val derived = s"$wh/derived_by_priority"
    KeyedTable.readSql(spark, wh, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("total"))
      .write.parquet(derived)
    def delta(f: DataFrame): DataFrame = f.select(k,
      col("o_orderpriority"), col("o_totalprice"))
    KeyedTable.toSql(
      delta(orders.filter(k % 4 === 3 && k % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2)),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Upsert,
      strictUtc = false, changelog = true)
    KeyedTable.toSql(
      delta(orders.filter(k % 4 === 0)
        .withColumn("o_orderpriority", lit("0-MOVED"))
        .withColumn("o_totalprice", col("o_totalprice") + 111.11)),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Upsert,
      strictUtc = false, changelog = true)
    KeyedTable.toSql(
      delta(orders.filter(k % 4 === 3 && k % 2 === 0)).unionByName(
        delta(orders.filter(k % 4 === 1 && k % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") - 50.0))),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Upsert,
      strictUtc = false, changelog = true)
    // batch 3: changelog-enabled DELETE, folded by the same stream
    KeyedTable.delete(spark, wh, "orders",
      k % 4 === 1 && k % 7 === 0, changelog = true): Unit
    graft.streaming.StreamingCdc.start(spark, wh, "orders",
        derived, s"$wh/ckpt", groupCol = "o_orderpriority",
        countCol = "n_rows", sumCol = "total", valueCol = "o_totalprice")
      .awaitTermination()
    graft.streaming.StreamingCdc.readDerived(spark, derived)
      .select(col("o_orderpriority"), col("n_rows"),
        round(col("total"), 2).cast("double").as("total"))
  }

  /** #11m (`pb_sql_insert`): the SQL write surface as a correctness row —
    * `INSERT INTO <catalog>.customer SELECT …` routes through the
    * store's own append (PK validation, bucket layout, writer lock), and
    * the read-back equals the plain union. One catalog NAME per
    * invocation: Spark caches catalog instances by name, so re-pointing
    * an existing name at this run's fresh warehouse would not take. */
  private val sqlInsertN = new java.util.concurrent.atomic.AtomicLong()
  def sqlInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_ins${sqlInsertN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer.filter(col("c_custkey") % 3 =!= 0),
        wh, "customer", pk = Seq("c_custkey"))
      customer.filter(col("c_custkey") % 3 === 0)
        .createOrReplaceTempView("graft_gate_ins_src")
      // by-position: the exposed pb_bucket column takes NULL (the store
      // assigns the real hash bucket itself)
      spark.sql(s"""INSERT INTO $cat.customer
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, NULL
        FROM graft_gate_ins_src""")
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ap (`pb_sql_create`): SQL `CREATE TABLE` + CTAS — a SQL-first
    * user's very first statements. The PK + bucket layout rides
    * TBLPROPERTIES; the empty table then fills through the SQL INSERT
    * path (PK validation, bucket staging, writer lock), and a CTAS
    * derives a second keyed table from it — all without one
    * programmatic call. Unknown properties refuse loudly. */
  private val sqlCrtN = new java.util.concurrent.atomic.AtomicLong()
  def sqlCreate(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_crt${sqlCrtN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      Tables.customer(spark, sfDir)
        .createOrReplaceTempView("graft_gate_crt_src")
      spark.sql(s"""
        CREATE TABLE $cat.customer (
          c_custkey BIGINT, c_name STRING, c_nationkey INT,
          c_acctbal DOUBLE, c_mktsegment STRING)
        TBLPROPERTIES ('primary_key'='c_custkey', 'buckets'='8')""")
      // by-position: the exposed pb_bucket column takes NULL (the store
      // assigns the real hash bucket itself)
      spark.sql(s"""INSERT INTO $cat.customer
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, NULL
        FROM graft_gate_crt_src""")
      // CTAS: schema from the query, layout from TBLPROPERTIES, rows
      // through the same store append path
      spark.sql(s"""
        CREATE TABLE $cat.big_spenders
        TBLPROPERTIES ('primary_key'='c_custkey', 'buckets'='4')
        AS SELECT c_custkey, c_acctbal FROM $cat.customer
           WHERE c_acctbal > 5000.0""")
      KeyedTable.readSql(spark, wh, "big_spenders")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** `pb_sql_update` (#11w as SQL): `UPDATE <catalog>.customer SET … WHERE …`
    * lowered by GraftSqlDmlRule onto the store's bucket-pruned predicate
    * update — the identical commit/CDC contract as the programmatic call. */
  private val sqlUpdN = new java.util.concurrent.atomic.AtomicLong()
  def sqlUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_upd${sqlUpdN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
        pk = Seq("c_custkey"))
      spark.sql(s"""UPDATE $cat.customer
        SET c_acctbal = c_acctbal * 2 + 1, c_mktsegment = 'SQLUPD'
        WHERE c_custkey % 4 = 1 AND c_acctbal > 0""")
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** `pb_sql_merge` (#11x as SQL): `MERGE INTO <catalog>.customer` in the
    * CDC-apply shape (DELETE-first, UPDATE, INSERT) lowered onto the
    * store's one-commit merge. */
  private val sqlMrgN = new java.util.concurrent.atomic.AtomicLong()
  def sqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_mrg${sqlMrgN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
      customer
        .filter(col("c_custkey") % 6 === 0 || col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") * 2).as("c_acctbal"), col("c_mktsegment"),
          (col("c_custkey") % 6 === 0).as("is_del"))
        .unionByName(customer.filter(col("c_custkey") % 89 === 0)
          .select((col("c_custkey") + 20000000L).as("c_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment"), lit(false).as("is_del")))
        .createOrReplaceTempView("graft_gate_mrg_feed")
      spark.sql(s"""
        MERGE INTO $cat.customer AS t USING graft_gate_mrg_feed AS s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED AND s.is_del THEN DELETE
        WHEN MATCHED THEN UPDATE SET c_name = s.c_name,
          c_nationkey = s.c_nationkey, c_acctbal = s.c_acctbal,
          c_mktsegment = s.c_mktsegment
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey,
          c_acctbal, c_mktsegment) VALUES (s.c_custkey, s.c_name,
          s.c_nationkey, s.c_acctbal, s.c_mktsegment)
      """)
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11x partial-clause MERGE shapes (`pb_sql_merge_upd` /
    * `pb_sql_merge_ins` / `pb_sql_merge_del`): SQL MERGE treats an
    * ABSENT clause as "no action" — update-only must not insert
    * unmatched source rows, insert-only must not overwrite matched
    * rows, delete-only must not insert phantom rows. Lowered with one
    * pre-filter join against the target's key set (GraftMergeCommand);
    * the full CDC-apply shape stays join-free. */
  private def sqlMergePartial(clause: String)(
      spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_mrg${sqlMrgN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
      // matched rows (%6) carry CHANGED values (they must only land
      // under an UPDATE clause) and a delete flag (%12); unmatched rows
      // (+20000000, %89) must only land under an INSERT clause
      customer.filter(col("c_custkey") % 6 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") * 2).as("c_acctbal"),
          lit("MRGPART").as("c_mktsegment"),
          (col("c_custkey") % 12 === 0).as("is_del"))
        .unionByName(customer.filter(col("c_custkey") % 89 === 0)
          .select((col("c_custkey") + 20000000L).as("c_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment"), lit(true).as("is_del")))
        .createOrReplaceTempView("graft_gate_mrg_part_feed")
      spark.sql(s"""
        MERGE INTO $cat.customer AS t USING graft_gate_mrg_part_feed AS s
        ON t.c_custkey = s.c_custkey
        $clause
      """)
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  def sqlMergeUpdOnly(spark: SparkSession, sfDir: String): DataFrame =
    sqlMergePartial("""
      WHEN MATCHED THEN UPDATE SET c_name = s.c_name,
        c_nationkey = s.c_nationkey, c_acctbal = s.c_acctbal,
        c_mktsegment = s.c_mktsegment""")(spark, sfDir)

  def sqlMergeInsOnly(spark: SparkSession, sfDir: String): DataFrame =
    sqlMergePartial("""
      WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey,
        c_acctbal, c_mktsegment) VALUES (s.c_custkey, s.c_name,
        s.c_nationkey, s.c_acctbal, s.c_mktsegment)""")(spark, sfDir)

  def sqlMergeDelOnly(spark: SparkSession, sfDir: String): DataFrame =
    sqlMergePartial("WHEN MATCHED AND s.is_del THEN DELETE")(spark, sfDir)

  /** #11x full-snapshot sync (`pb_sql_merge_sync`): ONE MERGE applies a
    * complete snapshot — matched rows update, new rows insert, and
    * `WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE` retires target
    * rows the snapshot no longer carries (target-only condition guards
    * a keep-list). The anti-join runs against the same target scan the
    * pre-filter join uses; at 100 TB both are one pk-shuffled pass over
    * feed ∪ target, never a per-row loop. */
  def sqlMergeSync(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_mrg${sqlMrgN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
      // the snapshot: every %3 key (updated balance) + brand-new keys
      customer.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") * 2).as("c_acctbal"), col("c_mktsegment"))
        .unionByName(customer.filter(col("c_custkey") % 89 === 0)
          .select((col("c_custkey") + 20000000L).as("c_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment")))
        .createOrReplaceTempView("graft_gate_mrg_sync_feed")
      spark.sql(s"""
        MERGE INTO $cat.customer AS t USING graft_gate_mrg_sync_feed AS s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET c_name = s.c_name,
          c_nationkey = s.c_nationkey, c_acctbal = s.c_acctbal,
          c_mktsegment = s.c_mktsegment
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey,
          c_acctbal, c_mktsegment) VALUES (s.c_custkey, s.c_name,
          s.c_nationkey, s.c_acctbal, s.c_mktsegment)
        WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 5000 THEN DELETE
      """)
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11x conditional clauses (`pb_sql_merge_cond`): `WHEN MATCHED AND
    * c THEN UPDATE` / `WHEN NOT MATCHED AND c THEN INSERT` — the
    * conditions ride the feed as boolean columns; rows failing them
    * are NO ACTION, exactly as SQL says. */
  def sqlMergeCond(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_mrg${sqlMrgN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
      customer.filter(col("c_custkey") % 6 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") * 2).as("c_acctbal"),
          lit("MRGCOND").as("c_mktsegment"))
        .unionByName(customer.filter(col("c_custkey") % 89 === 0)
          .select((col("c_custkey") + 20000000L).as("c_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment")))
        .createOrReplaceTempView("graft_gate_mrg_cond_feed")
      spark.sql(s"""
        MERGE INTO $cat.customer AS t USING graft_gate_mrg_cond_feed AS s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED AND s.c_custkey % 12 = 0 THEN UPDATE SET
          c_name = s.c_name, c_nationkey = s.c_nationkey,
          c_acctbal = s.c_acctbal, c_mktsegment = s.c_mktsegment
        WHEN NOT MATCHED AND s.c_nationkey < 13 THEN INSERT (c_custkey,
          c_name, c_nationkey, c_acctbal, c_mktsegment) VALUES
          (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal,
          s.c_mktsegment)
      """)
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ak (`pb_rename`): table rename — ONE directory rename under
    * the write lock, metadata-only at any scale; history and data read
    * back whole under the new name, and the old name is recyclable
    * without ever serving a stale manifest. */
  def renameQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer_v0",
      pk = Seq("c_custkey"))
    graft.store.Catalog.renameTable(spark, wh, "customer_v0", "customer_live")
    KeyedTable.readSql(spark, wh, "customer_live")
  }

  /** #11al (`pb_branch_wap`): branches + write-audit-publish — fork a
    * branch (one manifest copy, zero data IO), stage an upsert and an
    * append ON the branch (ordinary mutations addressed `t@branch`,
    * sharing the base's immutable data files), audit it in isolation,
    * then PUBLISH with one guarded fast-forward flip. The 100 TB
    * story: a risky pipeline write lands invisible to production
    * readers, gets validated in place, and goes live as one metadata
    * commit — or gets dropped without a trace. */
  def branchWapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    graft.store.Branches.create(spark, wh, "customer", "stage")
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2),
      wh, "customer@stage", pk = Seq("c_custkey"), how = WriteMode.Upsert)
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 89 === 0)
        .withColumn("c_custkey", col("c_custkey") + 20000000L),
      wh, "customer@stage", pk = Seq("c_custkey"), how = WriteMode.Append)
    // audit: the base must still be the pristine snapshot
    require(KeyedTable.readSql(spark, wh, "customer").count() ==
      customer.count(), "branch write leaked into the base")
    graft.store.Branches.fastForward(spark, wh, "customer", "stage")
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11am (`pb_sql_call`): the maintenance surface from pure SQL —
    * `CALL graft.system.*` procedures (Spark 4 ProcedureCatalog) drive
    * a full WAP cycle plus tag/compact/vacuum, each lowering onto the
    * identical programmatic primitive. */
  private val sqlCallN = new java.util.concurrent.atomic.AtomicLong()
  def sqlCallQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_call${sqlCallN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
      spark.sql(s"CALL $cat.system.create_tag('customer', 'pristine')")
      spark.sql(s"CALL $cat.system.create_branch('customer', 'stage')")
      KeyedTable.toSql(
        customer.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0),
        wh, "customer@stage", pk = Seq("c_custkey"), how = WriteMode.Upsert)
      spark.sql(s"CALL $cat.system.fast_forward('customer', 'stage')")
      spark.sql(s"CALL $cat.system.drop_branch('customer', 'stage')")
      spark.sql(s"CALL $cat.system.compact('customer', min_files => 1)")
      spark.sql(s"CALL $cat.system.vacuum('customer', older_than_ms => 0)")
      // the pristine tag still resolves post-vacuum (tag = retention)
      require(spark.sql(
        s"SELECT * FROM $cat.customer VERSION AS OF 'pristine'").count() ==
        customer.count(), "tagged snapshot must survive vacuum")
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11an (`pb_tblprops`): `ALTER TABLE … SET TBLPROPERTIES
    * ('changelog'='true')` — CDC capture enabled from pure SQL; the
    * next mutation (no per-call flag) logs classified before/after
    * images, read back through the changelog. */
  private val tblPropsN = new java.util.concurrent.atomic.AtomicLong()
  def tblPropsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_props${tblPropsN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
      spark.sql(
        s"ALTER TABLE $cat.customer SET TBLPROPERTIES('changelog'='true')")
      KeyedTable.toSql(
        customer.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .unionByName(customer.filter(col("c_custkey") % 89 === 0)
            .withColumn("c_custkey", col("c_custkey") + 20000000L)),
        wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert)
      KeyedTable.readChangelog(spark, wh, "customer")
        .select(col("c_custkey"), col("op"),
          col("new_c_acctbal").cast("double").as("new_c_acctbal"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ao (`pb_snapshot_diff`): version-to-version diff — every PK
    * classified insert/update/delete between snapshot v0 and the
    * current head, pruned at the MANIFEST level (identical per-bucket
    * file sets are never read). The changelog-free WAP audit report. */
  def snapshotDiffQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey")) // v0
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .unionByName(customer.filter(col("c_custkey") % 89 === 0)
          .withColumn("c_custkey", col("c_custkey") + 20000000L)),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert) // v1
    KeyedTable.delete(spark, wh, "customer", col("c_custkey") % 5 === 0) // v2
    KeyedTable.snapshotDiff(spark, wh, "customer", fromVersion = 0L)
  }

  /** #11g (`pb_runtime_prune`): runtime bucket pruning driver-gated —
    * a broadcast join hands the selective dim side's join-key values
    * to the keyed scan at EXECUTION time (SupportsRuntimeFiltering);
    * the fact side reads only the buckets those keys hash into. The
    * oracle checks the join result; the pruning is the free IO win. */
  def runtimePruneQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false)
    val dim = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") === 50)
      .select(col("l_orderkey"), col("l_linenumber"))
    graft.store.KeyedTableSource.read(spark, wh, "orders")
      .join(broadcast(dim), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"), col("l_linenumber"))
  }

  /** #11aa (`pb_drop_column`): metadata-only column drop — the column
    * leaves the logical schema with ZERO data IO (no new snapshot), and
    * a later upsert aligns to the reduced schema. At 100 TB, dropping a
    * column is a metadata edit, not a rewrite. */
  def dropColumnQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
      pk = Seq("c_custkey"))
    KeyedTable.dropColumns(spark, wh, "customer", Seq("c_mktsegment"))
    val delta = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 9 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 5.0).as("c_acctbal"))
    KeyedTable.toSql(delta, wh, "customer",
      pk = Seq("c_custkey"), how = WriteMode.Upsert)
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11q (`pb_delete`): predicate delete — a value predicate AND a PK
    * range both land in one call; only buckets holding matches rewrite
    * (staging + swap), and the read-back equals the complementary
    * filter. The ops story: GDPR erasure / bad-ingest rollback on a
    * 100 TB table touches its share of buckets, never the table. */
  def deleteQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is semantically UTC
    KeyedTable.delete(spark, wh, "orders",
      col("o_orderkey") % 3 === 0 || col("o_totalprice") > 400000.0)
    KeyedTable.readSql(spark, wh, "orders")
  }

  /** #11aq (`pb_delete_mor`): merge-on-read delete — a small predicate
    * delete commits positional DELETE-VECTOR sidecars in the manifest
    * instead of rewriting the matched buckets (write cost ∝ |matches|,
    * the Iceberg-v2 position-delete slope), and the DSv2 scan applies
    * the mask inside its per-file readers — zero join, zero shuffle,
    * SPJ/pruning untouched. The require pins that the path really was
    * MoR: identical data files, tombstones in the snapshot. */
  def deleteMorQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false)
    val dir = graft.store.KeyedTable.tableDir(wh, "orders")
    val before = graft.store.Manifest.current(spark, dir)
    KeyedTable.delete(spark, wh, "orders", col("o_orderkey") % 97 === 0,
      mode = graft.store.DeleteMode.MergeOnRead)
    val after = graft.store.Manifest.current(spark, dir)
    require(after.files == before.files && after.dvs.nonEmpty,
      "MoR delete must add tombstones without touching a data file")
    // the DSv2 scan path: masks apply inside the partition readers
    graft.store.KeyedTableSource.read(spark, wh, "orders")
      .select(Tables.orders(spark, sfDir).columns.toIndexedSeq.map(col): _*)
  }

  /** #11ar (`pb_update_mor`): merge-on-read UPDATE — the matched rows'
    * old positions tombstone via DELETE VECTORS and their post-images
    * land in delta-sized appended files; every pre-existing data file
    * survives by name (write cost ∝ |matches|, the Iceberg-v2 UPDATE
    * decomposition). The require pins the physical shape; the read-back
    * through the DSv2 masked scan is the oracle-checked result. */
  def updateMorQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
      pk = Seq("c_custkey"))
    val dir = graft.store.KeyedTable.tableDir(wh, "customer")
    val before = graft.store.Manifest.current(spark, dir)
    KeyedTable.update(spark, wh, "customer", col("c_custkey") % 31 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + 50.0),
          "c_mktsegment" -> lit("MORSEG")),
      mode = graft.store.DeleteMode.MergeOnRead)
    val after = graft.store.Manifest.current(spark, dir)
    val beforeNames = before.files.view
      .mapValues(_.map(_.name).toSet).toMap
    require(before.files.forall { case (b, fls) =>
      fls.forall(f => after.files.getOrElse(b, Nil).exists(_.name == f.name))
    } && after.dvs.nonEmpty,
      s"MoR update must keep every data file and add tombstones " +
      s"($beforeNames)")
    graft.store.KeyedTableSource.read(spark, wh, "customer")
      .select(Tables.customer(spark, sfDir).columns.toIndexedSeq.map(col): _*)
  }

  /** #11as (`pb_merge_mor`): merge-on-read MERGE — one commit applies a
    * mixed feed (updates %31 doubled balance, deletes %41, inserts %89
    * shifted) with ONLY delta-sized writes: matched old positions
    * tombstone via DVs, surviving images append; no pre-existing data
    * file is rewritten. Same Auto arithmetic as delete's. */
  def mergeMorQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    val dir = graft.store.KeyedTable.tableDir(wh, "customer")
    val before = graft.store.Manifest.current(spark, dir)
    val feed = customer
      .filter(col("c_custkey") % 31 === 0 || col("c_custkey") % 41 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        (col("c_acctbal") * 2).as("c_acctbal"), col("c_mktsegment"),
        (col("c_custkey") % 41 === 0).as("is_del"))
      .unionByName(customer.filter(col("c_custkey") % 89 === 0)
        .select((col("c_custkey") + 20000000L).as("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
          lit(false).as("is_del")))
    KeyedTable.merge(feed, wh, "customer", deleteWhen = col("is_del"),
      mode = graft.store.DeleteMode.MergeOnRead)
    val after = graft.store.Manifest.current(spark, dir)
    require(before.files.forall { case (b, fls) =>
      fls.forall(f => after.files.getOrElse(b, Nil).exists(_.name == f.name))
    } && after.dvs.nonEmpty,
      "MoR merge must keep every data file and add tombstones")
    KeyedTable.readSql(spark, wh, "customer")
  }

  private val sinkN = new java.util.concurrent.atomic.AtomicLong()

  /** #11at (`pb_stream_sink`): the keyed table as a NATIVE Structured
    * Streaming SINK — `df.writeStream.toTable("graft.t")` drains a file
    * backlog through [[graft.store.KeyedStreamingWrite]] (executors
    * stage per-bucket parquet; the driver commits each epoch as ONE
    * manifest flip carrying the (queryId → epoch) ledger — exactly-once
    * over replay) and the converged table equals the batch result. */
  def streamSinkQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_sink${sinkN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val customer = Tables.customer(spark, sfDir)
    // head seeds the table; the tail arrives as the streaming backlog
    KeyedTable.toSql(customer.filter(col("c_custkey") % 10 === 0),
      wh, "customer", pk = Seq("c_custkey"))
    val src = graft.TempDirs.tempDir("graft-sink-src-")
    customer.filter(col("c_custkey") % 10 =!= 0)
      .write.mode("overwrite").parquet(src)
    val ck = graft.TempDirs.tempDir("graft-sink-ck-")
    spark.readStream.schema(customer.schema).parquet(src)
      .writeStream
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat.customer")
      .awaitTermination()
    val m = graft.store.Manifest.current(spark,
      graft.store.KeyedTable.tableDir(wh, "customer"))
    require(m.streams.nonEmpty && m.op.contains("stream"),
      "the sink must commit through the manifest epoch ledger")
    KeyedTable.readSql(spark, wh, "customer")
  }

  private val usinkN = new java.util.concurrent.atomic.AtomicLong()

  /** #11av (`pb_stream_upsert_sink`): the native sink in UPSERT mode —
    * `windowedAgg(stream).writeStream.outputMode(Update)
    * .option("sink_mode","upsert").toTable(...)`, NO foreachBatch:
    * each epoch updates by PK through the merge-on-read decomposition
    * (matched positions tombstone, the epoch's rows append as
    * post-images — epoch cost ∝ |epoch|). The table is pre-seeded with
    * BOGUS partial rows (n_events = −1) that the update stream must
    * overwrite; convergence to the batch aggregate is the oracle. */
  def streamUpsertSinkQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_usink${usinkN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    // This row's cost is TRIGGER SCHEDULING, not data volume (sf1/sf0.1
    // slope ~1.0×): the windowed aggregate emits a few hundred groups,
    // but every micro-batch commits one state-store delta + checkpoint
    // write PER shuffle partition, and the seed agg shuffles the same
    // few hundred rows. Pin the row to 8 partitions (state partitioning
    // fixed at first run by the fresh checkpoint) so measured work
    // dominates scheduling; restore the session conf either way.
    val shufBefore = spark.conf.get("spark.sql.shuffle.partitions")
    try {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val events = Tables.events(spark, sfDir)
    // seed: one event type's windows with poisoned counts — proof the
    // upsert epochs REPLACE matched keys rather than appending
    val firstType = events.select(min(col("event_type"))).head().getString(0)
    val seed = graft.streaming.StreamingIngest
      .windowedAgg(events.filter(col("event_type") === firstType))
      .withColumn("n_events", lit(-1L))
    KeyedTable.toSql(seed, wh, "win_agg", pk = Seq("win_key"))
    // the stream: same file-backlog fixture as stream_upsert
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = java.nio.file.Paths.get(graft.TempDirs.tempDir("graft-usink-src-"))
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val sch = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = Tables.normalizeEventsTs(
      spark.readStream.schema(sch).parquet(srcDir.toString))
    val ck = graft.TempDirs.tempDir("graft-usink-ck-")
    graft.streaming.StreamingIngest.windowedAgg(stream)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ck)
      .option("sink_mode", "upsert")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat.win_agg")
      .awaitTermination()
    val m = graft.store.Manifest.current(spark,
      graft.store.KeyedTable.tableDir(wh, "win_agg"))
    require(m.streams.nonEmpty,
      "the upsert sink must commit through the manifest epoch ledger")
    val out = KeyedTable.readSql(spark, wh, "win_agg")
      .select(col("win_start"), col("event_type"), col("n_events"),
        col("sum_value"))
    require(out.filter(col("n_events") < 0).isEmpty,
      "poisoned seed rows must be overwritten by the update stream")
    out
    } finally spark.conf.set("spark.sql.shuffle.partitions", shufBefore)
  }

  /** #11au (`pb_wap_cdc`): write-audit-publish COMPOSES with
    * table-property CDC — the branch stages an update (%23 doubled
    * balance), a delete (%29), and an append (%97 shifted) in
    * isolation; `fastForward` publishes them as one snapshot flip AND
    * synthesizes the exact row-image batch the flip represents into the
    * base's changelog. The proof is the CDC consumer: a derived
    * aggregate snapshotted BEFORE the branch work, folded forward with
    * ONLY the publish's images, equals the oracle's recompute from the
    * final state. */
  def wapCdcQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    graft.store.KeyedTable.setChangelog(spark, wh, "customer", enabled = true)
    // the derived aggregate at the pre-publish horizon
    val derived = s"$wh/derived_by_segment"
    KeyedTable.readSql(spark, wh, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_acctbal").cast("decimal(18,6)")).as("total"))
      .write.parquet(derived)
    // WAP cycle: fork → stage three mutations on the branch → publish
    graft.store.Branches.create(spark, wh, "customer", "stage")
    KeyedTable.update(spark, wh, "customer@stage",
      col("c_custkey") % 23 === 0,
      Map("c_acctbal" -> (col("c_acctbal") * 2)))
    graft.store.KeyedTable.delete(spark, wh, "customer@stage",
      col("c_custkey") % 29 === 0)
    KeyedTable.toSql(customer.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 30000000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      wh, "customer@stage", pk = Seq("c_custkey"), how = WriteMode.Append)
    graft.store.Branches.fastForward(spark, wh, "customer", "stage")
    // fold the PUBLISH's image batch into the derived aggregate — the
    // changelog consumer lands on the published state
    val log = graft.store.KeyedTable.readChangelog(spark, wh, "customer")
    graft.operators.CdcConsumer.applyGroupedAgg(
      spark.read.parquet(derived), log,
      "c_mktsegment", "n_rows", "total", "c_acctbal")
      .select(col("c_mktsegment"), col("n_rows"),
        round(col("total"), 2).cast("double").as("total"))
  }

  /** #11au (`pb_wap_cdc_evolve`): the CDC publish composes across a
    * branch SCHEMA CHANGE — the branch adds `c_bonus`, mutates under it
    * (update doubles %13 balances and backfills the bonus from the
    * pre-update balance), and publishes; the synthesized image batch
    * carries the EVOLVED column set while the batch logged before the
    * evolution (a %97 shifted append) merges with NULL bonus images —
    * the pre-image of a column before its birth. Output = the whole
    * changelog's (key, op, new balance, new bonus) rows; the oracle
    * replays both batches in SQL. */
  def wapCdcEvolveQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    graft.store.KeyedTable.setChangelog(spark, wh, "customer", enabled = true)
    // PRE-evolution batch: logged without the bonus column
    KeyedTable.toSql(customer.filter(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 30000000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append)
    graft.store.Branches.create(spark, wh, "customer", "evolve")
    KeyedTable.addColumns(spark, wh, "customer@evolve",
      Seq(org.apache.spark.sql.types.StructField("c_bonus",
        org.apache.spark.sql.types.DoubleType)))
    // SET expressions read the row's CURRENT values: the bonus
    // backfills from the PRE-update balance
    KeyedTable.update(spark, wh, "customer@evolve",
      col("c_custkey") % 13 === 0,
      Map("c_acctbal" -> (col("c_acctbal") * 2),
          "c_bonus" -> col("c_acctbal").cast("double")))
    graft.store.Branches.fastForward(spark, wh, "customer", "evolve")
    graft.store.KeyedTable.readChangelog(spark, wh, "customer")
      .select(col("c_custkey"), col("op"),
        round(col("new_c_acctbal"), 2).cast("double").as("new_bal"),
        round(col("new_c_bonus"), 2).cast("double").as("new_bonus"))
  }

  /** #11ax (`pb_append_idem`): IDEMPOTENT batch appends — the Delta
    * txnAppId/txnVersion model. The ingest job appends %89 shifted
    * copies under token ("ingest", 1); the orchestrator RETRY replays
    * the identical call and becomes a NO-OP (the token rides the
    * manifest's streams ledger in the same atomic flip as the data) —
    * without the token the retry would fail loudly on PK overlap, and
    * without the ledger it would double the rows. The read-back equals
    * the oracle's single application. */
  def appendIdemQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    def attempt(): Unit = KeyedTable.toSql(
      customer.filter(col("c_custkey") % 89 === 0)
        .withColumn("c_custkey", col("c_custkey") + 20000000L),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append,
      txn = Some(("ingest", 1L)))
    attempt() // first attempt commits rows + token in one flip
    attempt() // the retry: exactly-once by the ledger, not by luck
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11ay (`pb_changelog_expire`): changelog RETENTION — the lifecycle
    * piece table-property CDC needs at 100 TB, where every mutation
    * appends a batch forever and the log eventually dwarfs the data.
    * Three mutations land batches 0/1/2 (updates, inserts, deletes);
    * `expireChangelog(beforeBatch = 2)` reaps the two folded batches
    * and persists the floor; the query PROVES all three contract
    * points inline: the expired dirs are gone (the survivor set is
    * exactly batch 2), a cursor at the floor reads on unaffected, and
    * an expired cursor fails loudly toward a re-sync instead of
    * silently yielding a gapped stream. Output = the surviving delete
    * images, which the oracle replays from the base table. */
  def changelogExpireQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    KeyedTable.setChangelog(spark, wh, "customer", enabled = true)
    // batch 0: update images (%13 balance bump)
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert)
    // batch 1: insert images (%89 shifted copies)
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 89 === 0)
        .withColumn("c_custkey", col("c_custkey") + 20000000L),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append)
    // batch 2: delete images (%41 keys — including %13-bumped rows,
    // whose old_* images must carry the bumped balances, and any
    // shifted batch-1 inserts the predicate happens to catch)
    KeyedTable.delete(spark, wh, "customer",
      col("c_custkey") % 41 === 0): Unit
    val removed = KeyedTable.expireChangelog(spark, wh, "customer",
      beforeBatch = Some(2L))
    require(removed == 2, s"expected 2 expired batches, got $removed")
    val survived = KeyedTable.readChangelog(spark, wh, "customer",
      sinceBatch = 2)
    val expiredCursorFails =
      try { KeyedTable.readChangelog(spark, wh, "customer"); false }
      catch {
        case e: graft.store.StoreException =>
          e.getMessage.contains("re-sync")
      }
    require(expiredCursorFails,
      "an expired changelog cursor must fail loudly toward a re-sync")
    survived.select(col("c_custkey"), col("op"),
      col("old_c_acctbal").cast("double").as("old_c_acctbal"),
      col("new_c_acctbal").cast("double").as("new_c_acctbal"))
  }

  /** #11w (`pb_update`): predicate update — both SET expressions read the
    * row's CURRENT values (the CASE replay in the oracle), only matching
    * buckets rewrite. The ops story: a backfill/correction over a 100 TB
    * table costs its bucket footprint, never a table rewrite. */
  def updateQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
      pk = Seq("c_custkey"))
    KeyedTable.update(spark, wh, "customer",
      col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 0,
      Map("c_acctbal" -> (col("c_acctbal") + 1000.0),
          "c_mktsegment" -> lit("RESCUED")))
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11x (`pb_merge`): one MERGE commit applies a mixed change feed —
    * tombstoned deletes (every 5th key), full-row updates (every 7th,
    * doubled balance), and inserts (shifted copies of every 97th) — and
    * the read-back equals the oracle's replay. The tombstone flag lives
    * only in the feed (never reaches the table schema). */
  def mergeQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    val feed = customer
      .filter(col("c_custkey") % 5 === 0 || col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        (col("c_acctbal") * 2).as("c_acctbal"), col("c_mktsegment"),
        (col("c_custkey") % 5 === 0).as("is_del"))
      .unionByName(customer.filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
          lit(false).as("is_del")))
    KeyedTable.merge(feed, wh, "customer", deleteWhen = col("is_del"))
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11z (`pb_stats_skip`): per-column manifest statistics end-to-end —
    * register `o_totalprice` as a stats column, append two
    * disjoint-range slices, then read back through the DSv2 scan with a
    * pushed price bound: the planner file-skips to the overlapping
    * slice's files (StatsColumnsSpec asserts the planned-file count; the
    * driver row proves the pruned scan returns exactly the right rows). */
  def statsSkip(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    KeyedTable.toSql(orders.filter(col("o_totalprice") < 150000.0),
      wh, "orders", pk = Seq("o_orderkey"), strictUtc = false)
    KeyedTable.setStatsColumns(spark, wh, "orders", Seq("o_totalprice"))
    KeyedTable.toSql(
      orders.filter(col("o_totalprice") >= 150000.0 &&
        col("o_totalprice") < 300000.0),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Append,
      strictUtc = false)
    KeyedTable.toSql(orders.filter(col("o_totalprice") >= 300000.0),
      wh, "orders", pk = Seq("o_orderkey"), how = WriteMode.Append,
      strictUtc = false)
    KeyedTableSource.read(spark, wh, "orders")
      .filter(col("o_totalprice") >= 300000.0)
      .drop(KeyedTable.BucketCol)
  }

  /** #11bj (`pb_null_skip`): per-file NULL counts end-to-end — register
    * a nullable stats column, append one slice where it is ALL NULL and
    * one where it never is, then read back with a pushed `IS NOT NULL`:
    * the planner file-skips the all-null files (their min/max bounds do
    * not exist, so only the recorded counts can prune them) and the
    * result still matches the oracle exactly. NullCountStatsSpec
    * asserts the planned-file arithmetic; this row proves the pruned
    * scan is not just smaller but RIGHT. */
  def nullSkipQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    def ab = when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))
    // create: mixed nulls (files predate registration — no counts, kept)
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), ab.as("ab")),
      wh, "customer", pk = Seq("c_custkey"))
    KeyedTable.setStatsColumns(spark, wh, "customer", Seq("ab"))
    // append A: ab ALL NULL → count == rows, no bounds
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 3 === 1)
        .select(col("c_custkey"), lit(null).cast("double").as("ab")),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append)
    // append B: ab never NULL → count == 0
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 3 === 2)
        .select(col("c_custkey"), abs(col("c_acctbal")).as("ab")),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append)
    KeyedTableSource.read(spark, wh, "customer")
      .filter(col("ab").isNotNull)
      .drop(KeyedTable.BucketCol)
  }

  /** #11r (`pb_zorder`): Z-order clustering is a pure layout rewrite —
    * create, zorderCompact on THREE columns (o_custkey, o_totalprice,
    * o_orderkey — the n-ary Morton interleave), read back EVERYTHING:
    * identical content, now row-group-prunable on all three clustered
    * dimensions (ZorderSpec measures the bound tightness, including
    * the third dimension, from footers). */
  def zorderQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is semantically UTC
    KeyedTable.zorderCompact(spark, wh, "orders",
      Seq("o_custkey", "o_totalprice", "o_orderkey"))
    KeyedTable.readSql(spark, wh, "orders")
  }

  /** #11t (`pb_time_travel`): snapshot read / time travel through the
    * manifest versions. Three commits — create (v0), partial upsert
    * (v1), predicate delete (v2) — then `asOfVersion = 1` reads the
    * table exactly as it stood BETWEEN the upsert and the delete: the
    * doubled prices are visible, the deleted rows are back. The scale
    * story: every mutation is already a manifest flip, so historical
    * reads cost nothing extra and stay available until vacuum expires
    * them — reproducing yesterday's training-data snapshot is a read,
    * not a restore. */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    KeyedTable.toSql(orders, wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // v0; NTZ testdata is UTC
    val delta = orders.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
    KeyedTable.toSql(delta, wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Upsert, strictUtc = false) // v1
    KeyedTable.delete(spark, wh, "orders", col("o_orderkey") % 2 === 0) // v2
    KeyedTable.readSql(spark, wh, "orders", asOfVersion = Some(1L))
  }

  /** #11p as a DRIVER ROW (`pb_compact_auto`): the maintenance loop
    * end-to-end — disjoint appends breach the per-bucket file-count
    * threshold, `compactIfNeeded` detects the breach from footer-only
    * stats and rewrites exactly the breaching buckets, and the read-back
    * equals the plain union. Fails loudly if the policy fired on
    * nothing (the breach must actually be exercised, not assumed). */
  def compactAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    // 8 buckets: the policy/breach mechanics are identical at any
    // bucket count; fewer buckets keeps this multi-write gate row from
    // paying 5x32 task waves for fixed overhead
    KeyedTable.toSql(customer.filter(col("c_custkey") % 4 === 0),
      wh, "customer", pk = Seq("c_custkey"), buckets = 8)
    (1 to 3).foreach { r =>
      KeyedTable.toSql(customer.filter(col("c_custkey") % 4 === r),
        wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append)
    }
    val compacted =
      KeyedTable.compactIfNeeded(spark, wh, "customer", maxFilesPerBucket = 2)
    if (compacted.isEmpty)
      throw new graft.store.StoreException(
        "pb_compact_auto: 4 disjoint appends did not breach the policy")
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11v (`pb_history`): the snapshot-history audit view as a driver
    * row — create (v0), append (v1), predicate delete (v2), then
    * `history` must report each version's exact row count from the
    * manifests alone (no data IO), checked against SQL replays of the
    * three states. */
  def historyQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    val k = col("o_orderkey")
    KeyedTable.toSql(orders.filter(k % 2 === 0), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false) // NTZ testdata is UTC
    KeyedTable.toSql(orders.filter(k % 2 === 1), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false)
    KeyedTable.delete(spark, wh, "orders", k % 5 === 0)
    KeyedTable.history(spark, wh, "orders")
      .select("version", "op", "n_rows")
  }

  /** #11e as a DRIVER ROW (`pb_rebucket`): re-layout under a new bucket
    * count — create at 4 buckets, rebucket to 8 (one shuffle + a
    * manifest flip carrying the new count), then prove the data
    * survived byte-for-byte AND the new pruning math agrees: the full
    * read-back is the oracle row, and a point lookup through the
    * rebucketed layout must find its row (a wrong bucket-count pairing
    * would prune it away to an empty result, failing loudly here). */
  def rebucketQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
      pk = Seq("c_custkey"), buckets = 4)
    KeyedTable.rebucket(spark, wh, "customer", newBuckets = 8)
    val probe = KeyedTable.readSql(spark, wh, "customer",
      lowest = Seq(7L), highest = Seq(7L)).count()
    if (probe != 1L)
      throw new graft.store.StoreException(
        s"pb_rebucket: point lookup found $probe rows post-rebucket")
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** vacuum as a DRIVER ROW (`pb_vacuum`): the reclamation path
    * end-to-end — create, upsert (superseding every touched bucket's
    * files), vacuum with a zero age bound, and the read-back must be
    * exactly the post-upsert state: the reap removed real garbage
    * (fails loudly if nothing was reclaimable) and ONLY garbage. */
  def vacuumQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert)
    val removed = KeyedTable.vacuum(spark, wh, "customer", olderThanMs = 0L)
    if (removed <= 0)
      throw new graft.store.StoreException(
        "pb_vacuum: the superseding upsert left nothing reclaimable")
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** SQL DELETE surface (`pb_sql_delete`): `DELETE FROM graft.t WHERE …`
    * routes through the store's own bucket-pruned delete (writer lock,
    * manifest commit, SQL NULL semantics). Fresh catalog name per
    * invocation (instances cache by name). */
  private val sqlDeleteN = new java.util.concurrent.atomic.AtomicLong()
  def sqlDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_del${sqlDeleteN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
        pk = Seq("c_custkey"))
      spark.sql(s"""DELETE FROM $cat.customer
        WHERE c_custkey <= 500 AND c_mktsegment = 'BUILDING'""")
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ab (`pb_tag`): snapshot tags as a retention contract — tag the
    * create snapshot, mutate, vacuum with a ZERO age bound (which
    * expires every untagged non-current snapshot and its files), then
    * read the tag back through SQL `VERSION AS OF '<name>'`: the
    * baseline must come back byte-identical, proving the tag pinned
    * both the manifest and (via union-liveness) its data files. The
    * 100 TB story: "the train-v3 corpus cut stays reproducible" no
    * matter how aggressively maintenance reclaims space. */
  private val tagN = new java.util.concurrent.atomic.AtomicLong()
  def tagQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8) // v0
    KeyedTable.tagSnapshot(spark, wh, "customer", "baseline")
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert) // v1
    KeyedTable.vacuum(spark, wh, "customer", olderThanMs = 0L)
    val cat = s"graft_gate_tag${tagN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val out = spark.sql(
        s"SELECT * FROM $cat.customer VERSION AS OF 'baseline'")
        .drop(KeyedTable.BucketCol)
      out.cache().count() // materialize before the catalog conf is unset
      out
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ac (`pb_incremental`): incremental snapshot read — three
    * append-only commits, then `readIncremental(sinceVersion = 0)`
    * returns EXACTLY the rows of the later two, resolved from the
    * manifest file diff alone (zero listing, zero diffing — a derived
    * pipeline polling a 100 TB table reads only the new files). */
  def incrementalQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val orders = Tables.orders(spark, sfDir)
    val k = col("o_orderkey")
    KeyedTable.toSql(orders.filter(k % 3 === 0), wh, "orders",
      pk = Seq("o_orderkey"), buckets = 8, strictUtc = false) // v0; NTZ testdata is UTC
    KeyedTable.toSql(orders.filter(k % 3 === 1), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false) // v1
    KeyedTable.toSql(orders.filter(k % 3 === 2), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false) // v2
    KeyedTable.readIncremental(spark, wh, "orders", sinceVersion = 0L)
  }

  /** #11ad (`pb_append_concurrent`): the optimistic commit path under
    * REAL concurrency — three threads append disjoint key slices via
    * `appendConcurrent` (staging outside the write lock, conflict
    * re-validation + manifest flip inside a brief one), and the
    * read-back must be the exact union regardless of commit order.
    * The 100 TB story: N ingest jobs into one table overlap their
    * write work instead of serializing end-to-end on the table lock. */
  def appendConcurrentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    KeyedTable.toSql(customer.filter(k % 4 === 0), wh, "customer",
      pk = Seq("c_custkey"), buckets = 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Await.result(Future.sequence((1 to 3).map { r =>
        Future {
          KeyedTable.appendConcurrent(customer.filter(k % 4 === r),
            wh, "customer")
        }
      }), 5.minutes)
    } finally pool.shutdown()
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11az (`pb_upsert_concurrent`): bucket-level optimistic
    * concurrency for upserts — three threads upsert disjoint KEY
    * slices through [[KeyedTable.upsertConcurrent]] (merge job staged
    * outside the write lock; a brief locked flip re-validates the
    * touched-bucket manifest window). Disjoint keys still hash across
    * overlapping BUCKETS, so losers see ConcurrentWriteException and
    * retry — the multi-writer contract is "abort-and-retry, never
    * corrupt", and the final state must equal the oracle's replay
    * regardless of commit order. The 100 TB story: N upsert jobs into
    * N key ranges overlap their (expensive) merge work and serialize
    * only on manifest flips. */
  /** Three writers racing one table, each retried on
    * ConcurrentWriteException — the harness behind the four
    * `pb_*_concurrent` gate rows (abort-and-retry is the multi-writer
    * contract; the final state must be order-independent). */
  private def raceThree(what: String)(body: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def retrying(b: => Unit): Unit = {
      var attempts = 0
      var done = false
      // scan the cause chain: a conflict surfacing through spark.sql
      // may arrive wrapped by the command-execution layer
      def isConflict(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[graft.store.ConcurrentWriteException])
      while (!done) {
        try { b; done = true }
        catch {
          case e: Exception if isConflict(e) =>
            attempts += 1
            if (attempts > 50) throw new IllegalStateException(
              s"$what retry budget exhausted")
        }
      }
    }
    try Await.result(
      Future.sequence((1 to 3).map(r => Future(retrying(body(r))))),
      5.minutes)
    finally pool.shutdown()
  }

  def upsertConcurrentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8)
    raceThree("upsertConcurrent") { r =>
      // partial-column update: only c_acctbal overwrites
      KeyedTable.upsertConcurrent(
        customer.filter(k % 4 === r)
          .select(k, (col("c_acctbal") + r * 100.0).as("c_acctbal")),
        wh, "customer")
    }
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11ba (`pb_delete_concurrent`): the optimistic protocol's DELETE
    * face — three threads erase disjoint key slices through
    * [[KeyedTable.deleteConcurrent]] (survivor rewrite / DV staging
    * outside the lock, bucket-window re-validation inside). Slices
    * share buckets, so losers retry; the final table must equal the
    * oracle's single-pass predicate regardless of commit order. The
    * ops story: a GDPR erasure sweep partitioned by key range runs N
    * jobs that serialize only on manifest flips. */
  def deleteConcurrentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8)
    raceThree("deleteConcurrent") { r =>
      KeyedTable.deleteConcurrent(spark, wh, "customer",
        k % 10 === r): Unit
    }
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11bb (`pb_merge_concurrent`): the optimistic protocol's MERGE
    * face — three threads apply mixed change feeds (tombstoned
    * deletes, doubled-balance updates, shifted inserts) over disjoint
    * key slices through [[KeyedTable.mergeConcurrent]]. Slices share
    * buckets, so losers retry; the final table equals the oracle's
    * one-pass replay regardless of commit order. */
  def mergeConcurrentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8)
    raceThree("mergeConcurrent") { r =>
      val slice = customer.filter(k % 10 === r)
        .select(k, col("c_name"), col("c_nationkey"),
          (col("c_acctbal") * 2).as("c_acctbal"), col("c_mktsegment"),
          (k % 20 === r).as("is_del"))
        .unionByName(customer.filter(k % 97 === 0)
          .select((k + r * 10000000L).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
            lit(false).as("is_del")))
      KeyedTable.mergeConcurrent(slice, wh, "customer",
        deleteWhen = col("is_del")): Unit
    }
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11bc (`pb_update_concurrent`): the optimistic protocol's UPDATE
    * face — three threads backfill disjoint key slices through
    * [[KeyedTable.updateConcurrent]] (matched-bucket rewrite staged
    * outside the lock, bucket-window re-validation inside; each SET
    * expression reads the row's CURRENT value, so the three sweeps
    * compose whatever the commit order). The ops story: a predicate
    * backfill partitioned by key range runs N jobs serializing only
    * on manifest flips. */
  def updateConcurrentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8)
    raceThree("updateConcurrent") { r =>
      KeyedTable.updateConcurrent(spark, wh, "customer",
        k % 10 === r,
        Map("c_acctbal" -> (col("c_acctbal") + r * 100.0),
          "c_mktsegment" -> lit(s"SWEEP$r"))): Unit
    }
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11bd (`pb_maintenance_concurrent`): optimistic LAYOUT
    * MAINTENANCE — three writer threads sweep disjoint key slices
    * through [[KeyedTable.upsertConcurrent]] WHILE a maintenance
    * thread Z-orders and then policy-compacts the same table. The
    * maintenance rewrite stages outside the write lock and re-stages
    * on a touched-bucket window conflict ([[KeyedTable.retrying]]);
    * the writers never wait behind it and never abort FOR it (they
    * retry only their own inter-writer conflicts).
    * The final state must equal the oracle's replay regardless of how
    * the four jobs interleaved — maintenance is content-neutral. The
    * 100 TB story: the nightly Z-order is no longer a writer outage;
    * it shares the table with live ingest and serializes only on
    * manifest flips. */
  def maintenanceConcurrentQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    val k = col("c_custkey")
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def retrying(b: => Unit): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try { b; done = true }
        catch {
          case _: graft.store.ConcurrentWriteException =>
            attempts += 1
            if (attempts > 50) throw new IllegalStateException(
              "maintenanceConcurrent writer retry budget exhausted")
        }
      }
    }
    val writers = (1 to 3).map { r =>
      Future(retrying {
        KeyedTable.upsertConcurrent(
          customer.filter(k % 4 === r)
            .select(k, (col("c_acctbal") + r * 100.0).as("c_acctbal")),
          wh, "customer")
      })
    }
    val maintenance = Future {
      // KeyedTable.retrying re-stages internally on window conflicts; the
      // three writers commit at most once each, so it converges
      KeyedTable.zorderCompact(spark, wh, "customer",
        Seq("c_acctbal", "c_nationkey"), commitWaitMs = 120000L)
      KeyedTable.compactIfNeeded(spark, wh, "customer",
        maxFilesPerBucket = 1, commitWaitMs = 120000L): Unit
    }
    try Await.result(Future.sequence(writers :+ maintenance), 5.minutes)
    finally pool.shutdown()
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11be (`pb_sql_optimistic`): SQL DML routed onto the optimistic
    * twins by `TBLPROPERTIES('commit_mode'='optimistic')` — three
    * threads run plain `UPDATE <catalog>.customer` statements over
    * disjoint key slices; each lowers onto
    * [[KeyedTable.updateConcurrent]] (rewrite staged outside the
    * lock, bucket-window flip), so the sweeps overlap their rewrite
    * work and serialize only on manifest flips, retrying their own
    * inter-writer conflicts. A SQL DELETE then routes onto
    * [[KeyedTable.deleteConcurrent]]. Final state = the oracle's
    * one-pass replay regardless of commit order. The ops story: an
    * orchestrated Spark-SQL-only pipeline (the common case) gets the
    * multi-writer contract without touching the programmatic API. */
  private val sqlOptN = new java.util.concurrent.atomic.AtomicLong()
  def sqlOptimisticQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_opt${sqlOptN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
        pk = Seq("c_custkey"), buckets = 8)
      spark.sql(s"ALTER TABLE $cat.customer " +
        "SET TBLPROPERTIES('commit_mode'='optimistic')")
      // NO caller-side retry loop: optimistic SQL statements auto-retry
      // their window conflicts internally (spark.graft.sql.maxRetries,
      // each attempt re-staged fresh) — with 3 competing commits each
      // statement needs at most 3 attempts, inside the default bound
      locally {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        try {
          Await.result(
            Future.sequence((1 to 3).map(r => Future {
              spark.sql(s"UPDATE $cat.customer " +
                s"SET c_acctbal = c_acctbal + ${r * 100}.0 " +
                s"WHERE c_custkey % 4 = $r"): Unit
            })),
            5.minutes)
          ()
        } finally pool.shutdown()
      }
      // key-range predicate: SQL DELETE plans only when every filter
      // translates to a V2 source Filter (modulo does not)
      spark.sql(s"DELETE FROM $cat.customer WHERE c_custkey <= 10")
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11bg (`pb_rename_column`): metadata-only `ALTER TABLE … RENAME
    * COLUMN` via the logical→physical name map — files keep their
    * creation-time physical names forever, so the rename moves ZERO
    * bytes at any scale and pushdown/stats/time-travel stay intact.
    * The row exercises the whole lifecycle across the rename: SQL
    * ALTER, a partial-column upsert ON the renamed column, a SQL
    * UPDATE through the catalog, a predicate delete OVER the renamed
    * column, and the final read — against an oracle replaying the
    * same arithmetic on the original name. */
  private val renameN = new java.util.concurrent.atomic.AtomicLong()
  def renameColumnQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_rn${renameN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val customer = Tables.customer(spark, sfDir)
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
        buckets = 8)
      spark.sql(s"ALTER TABLE $cat.customer RENAME COLUMN c_acctbal TO balance")
      // partial upsert ON the renamed column (files stay physical)
      KeyedTable.toSql(
        customer.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            (col("c_acctbal") + 100.0).as("balance")),
        wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert)
      // SQL UPDATE through the catalog, logical name in the SET
      spark.sql(s"UPDATE $cat.customer SET c_mktsegment = 'RENAMED' " +
        "WHERE c_custkey % 5 = 0")
      // predicate delete OVER the renamed column
      KeyedTable.delete(spark, wh, "customer",
        col("balance") < 0.0 && col("c_custkey") % 3 === 0)
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11bf (`pb_manifest_segments`): format-4 SEGMENTED manifests —
    * the whole lifecycle (create, partial-column upsert, predicate
    * delete with its DVs, shifted append) runs with the segment
    * threshold forced to 1, so every commit writes per-bucket segment
    * files plus a small reference list, untouched buckets reuse their
    * segments verbatim, and every read resolves through the segmented
    * path. Fails loudly if the chain did not actually segment. The
    * 100 TB story: commit metadata is ∝ touched buckets, not O(live
    * files) — a one-bucket commit on a million-file table writes one
    * segment and one small list instead of re-serializing the full
    * inventory (the Iceberg manifest-list model). */
  def manifestSegmentsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    spark.conf.set(graft.store.Manifest.SegmentThresholdConf, "1")
    try {
      val customer = Tables.customer(spark, sfDir)
      val k = col("c_custkey")
      KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
        buckets = 8)
      KeyedTable.toSql(
        customer.filter(k % 7 === 0)
          .select(k, (col("c_acctbal") + 100.0).as("c_acctbal")),
        wh, "customer", how = WriteMode.Upsert)
      KeyedTable.delete(spark, wh, "customer", k % 11 === 0): Unit
      KeyedTable.toSql(
        customer.filter(k % 89 === 0)
          .select((k + 30000000L).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
        wh, "customer", how = WriteMode.Append)
      val head = graft.store.Manifest.current(spark,
        KeyedTable.tableDir(wh, "customer"))
      if (head.segs.isEmpty)
        throw new graft.store.StoreException(
          "pb_manifest_segments: the manifest chain did not segment")
      KeyedTable.readSql(spark, wh, "customer")
    } finally spark.conf.unset(graft.store.Manifest.SegmentThresholdConf)
  }

  /** #11ae (`pb_restore`): snapshot restore as the undo button — create
    * (v0), corrupt a slice via upsert (v1), delete another (v2), then
    * `restoreSnapshot(version = 0)`: ONE metadata commit (zero data IO)
    * must bring back the original table byte-identically, and a
    * zero-age vacuum AFTER the restore must not harm it — the restore
    * commit re-pins v0's files through union-liveness. The 100 TB
    * story: undoing a bad backfill costs one manifest write, not a
    * rewrite. */
  def restoreQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"),
      buckets = 8) // v0
    KeyedTable.toSql(
      customer.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") - 50.0),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Upsert) // v1
    KeyedTable.delete(spark, wh, "customer", col("c_custkey") % 7 === 0) // v2
    KeyedTable.restoreSnapshot(spark, wh, "customer", version = Some(0L)) // v3
    KeyedTable.vacuum(spark, wh, "customer", olderThanMs = 0L)
    KeyedTable.readSql(spark, wh, "customer")
  }

  /** #11af (`pb_stream_read`): the keyed table as a Structured
    * Streaming SOURCE — manifest versions are the offsets, so a
    * derived pipeline tails the table reading only each commit's added
    * files. Two AvailableNow drains against one checkpoint: the first
    * consumes the 3-commit snapshot, a 4th append lands, the second
    * drain consumes ONLY it — the sink must hold every order exactly
    * once. The 100 TB story: `latestOffset` is one pointer read and a
    * micro-batch is megabytes, however large the table. */
  def streamReadQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val out = graft.TempDirs.tempDir("graft-gate-streamread-out")
    val ck = graft.TempDirs.tempDir("graft-gate-streamread-ck")
    val orders = Tables.orders(spark, sfDir)
    val k = col("o_orderkey")
    KeyedTable.toSql(orders.filter(k % 4 === 0), wh, "orders",
      pk = Seq("o_orderkey"), buckets = 8, strictUtc = false) // v0
    KeyedTable.toSql(orders.filter(k % 4 === 1), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false) // v1
    KeyedTable.toSql(orders.filter(k % 4 === 2), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false) // v2
    def drain(): Unit = graft.store.KeyedTableStream
      .readStream(spark, wh, "orders")
      .drop(KeyedTable.BucketCol)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    drain() // snapshot (v0..v2)
    KeyedTable.toSql(orders.filter(k % 4 === 3), wh, "orders",
      pk = Seq("o_orderkey"), how = WriteMode.Append, strictUtc = false) // v3
    drain() // only v3's files
    spark.read.parquet(out)
      .select(Tables.orders(spark, sfDir).columns.toIndexedSeq.map(col): _*)
  }

  /** #11ag (`pb_sql_alter`): the SQL DDL surface — `ALTER TABLE … ADD
    * COLUMNS` (metadata-only; every existing row reads NULL), a SQL
    * UPDATE filling the evolved column through the store's DML rule,
    * then `ALTER TABLE … DROP COLUMN` (metadata-only tombstone) — all
    * through the catalog, zero data rewrites except the UPDATE's own
    * bucket-pruned one. */
  private val sqlAltN = new java.util.concurrent.atomic.AtomicLong()
  def sqlAlter(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_alt${sqlAltN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
        pk = Seq("c_custkey"))
      spark.sql(s"ALTER TABLE $cat.customer ADD COLUMNS (c_extra DOUBLE)")
      spark.sql(s"""UPDATE $cat.customer SET c_extra = c_acctbal + 1.0
        WHERE c_custkey % 2 = 0""")
      spark.sql(s"ALTER TABLE $cat.customer DROP COLUMN c_mktsegment")
      KeyedTable.readSql(spark, wh, "customer")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ah (`pb_meta_tables`): Iceberg-style SQL metadata tables —
    * `t$history` joined to `t$tags` answers "which snapshots exist,
    * how big was each, which are pinned" entirely from manifests:
    * zero data IO, a driver-local scan with no executor tasks. The
    * observability surface retention/maintenance decisions read. */
  private val metaTN = new java.util.concurrent.atomic.AtomicLong()
  def metaTablesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer.filter(col("c_custkey") % 2 === 0),
      wh, "customer", pk = Seq("c_custkey"), buckets = 8) // v0
    KeyedTable.tagSnapshot(spark, wh, "customer", "cut")
    KeyedTable.toSql(customer.filter(col("c_custkey") % 2 === 1),
      wh, "customer", pk = Seq("c_custkey"), how = WriteMode.Append) // v1
    val cat = s"graft_gate_meta${metaTN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val out = spark.sql(
        s"SELECT h.version, h.n_rows, t.tag FROM $cat.`customer" + "$history` h " +
        s"LEFT JOIN $cat.`customer" + "$tags` t ON h.version = t.version")
      out.cache().count() // materialize before the catalog conf is unset
      out
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11k as a driver row (`pb_agg_pushdown`): unfiltered global
    * COUNT(*)/COUNT(col)/MIN/MAX over the catalog table answer from
    * parquet FOOTER metadata via the DSv2 aggregate pushdown — planned
    * as a driver-local scan, zero executor tasks, zero data bytes. The
    * row pins the VALUES against DuckDB's full-scan answer (the
    * LocalScan plan shape is pinned by AggPushdownSpec). */
  private val aggPdN = new java.util.concurrent.atomic.AtomicLong()
  def aggPushdownQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    KeyedTable.toSql(Tables.orders(spark, sfDir), wh, "orders",
      pk = Seq("o_orderkey"), strictUtc = false)
    val cat = s"graft_gate_aggpd${aggPdN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val out = spark.sql(
        s"""SELECT count(*) AS n, count(o_custkey) AS n_cust,
           min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
           FROM $cat.orders""")
      out.cache().count() // materialize before the catalog conf is unset
      out
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11h as a driver row (`pb_namespace`): schema namespaces — the
    * reference's `schema=` kwarg — end-to-end: write into schema `raw`,
    * read back through the two-level SQL identifier `cat.raw.customer`
    * after creating the namespace through SQL DDL. */
  private val nsN = new java.util.concurrent.atomic.AtomicLong()
  def namespaceQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val cat = s"graft_gate_ns${nsN.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.store.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.raw")
      KeyedTable.toSql(Tables.customer(spark, sfDir), wh, "customer",
        pk = Seq("c_custkey"), schema = Some("raw"))
      val out = spark.sql(s"SELECT * FROM $cat.raw.customer")
        .drop(KeyedTable.BucketCol)
      out.cache().count() // materialize before the catalog conf is unset
      out
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      spark.conf.unset(s"spark.sql.catalog.$cat")
    }
  }

  /** #11ai (`pb_check`): CHECK constraints as an ingest contract — a
    * violating upsert must be rejected ATOMICALLY (caught here; the
    * row errors loudly if the write is accepted), then a valid
    * predicate UPDATE proceeds under the same constraint: the final
    * table reflects exactly the valid mutation and none of the
    * rejected one. */
  def checkQ(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = tempWarehouse()
    val customer = Tables.customer(spark, sfDir)
    KeyedTable.toSql(customer, wh, "customer", pk = Seq("c_custkey"))
    KeyedTable.addCheckConstraint(spark, wh, "customer",
      "bal_floor", "c_acctbal >= -1000.0")
    val bad = customer.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", lit(-99999.0))
    val rejected =
      try {
        KeyedTable.toSql(bad, wh, "customer",
          pk = Seq("c_custkey"), how = WriteMode.Upsert)
        false
      } catch {
        case e: graft.store.StoreException => e.getMessage.contains("bal_floor")
      }
    if (!rejected)
      throw new graft.store.StoreException(
        "pb_check: a violating upsert was ACCEPTED")
    KeyedTable.update(spark, wh, "customer", col("c_custkey") % 2 === 0,
      Map("c_acctbal" -> (col("c_acctbal") + 100.0)))
    KeyedTable.readSql(spark, wh, "customer")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pb_create_read" -> createRead,
    "pb_append" -> append,
    "pb_upsert" -> upsert,
    "pb_upsert_partial" -> upsertPartial,
    "pb_read_range" -> readRange,
    "pb_read_point" -> readPoint,
    "pb_read_range_multi" -> readRangeMulti,
    "pb_upsert_multi" -> upsertMulti,
    "pb_auto_index" -> autoIndex,
    "pb_add_columns" -> addColumns,
    "pb_clean_names" -> cleanNames,
    "pb_describe" -> describe,
    "pb_pk_join" -> pkJoinQ,
    "pb_pk_join_filtered" -> pkJoinFiltered,
    "pb_companda" -> companda,
    "cdc_incremental_agg" -> cdcIncrementalAgg,
    "pb_sql_insert" -> sqlInsert,
    "pb_sql_create" -> sqlCreate,
    "pb_delete" -> deleteQ,
    "pb_delete_mor" -> deleteMorQ,
    "pb_update" -> updateQ,
    "pb_update_mor" -> updateMorQ,
    "pb_stream_sink" -> streamSinkQ,
    "pb_stream_upsert_sink" -> streamUpsertSinkQ,
    "pb_wap_cdc" -> wapCdcQ,
    "pb_wap_cdc_evolve" -> wapCdcEvolveQ,
    "pb_append_idem" -> appendIdemQ,
    "pb_changelog_expire" -> changelogExpireQ,
    "pb_upsert_concurrent" -> upsertConcurrentQ,
    "pb_delete_concurrent" -> deleteConcurrentQ,
    "pb_merge_concurrent" -> mergeConcurrentQ,
    "pb_update_concurrent" -> updateConcurrentQ,
    "pb_maintenance_concurrent" -> maintenanceConcurrentQ,
    "pb_sql_optimistic" -> sqlOptimisticQ,
    "pb_manifest_segments" -> manifestSegmentsQ,
    "pb_rename_column" -> renameColumnQ,
    "pb_merge" -> mergeQ,
    "pb_merge_mor" -> mergeMorQ,
    "pb_stats_skip" -> statsSkip,
    "pb_null_skip" -> nullSkipQ,
    "pb_sql_update" -> sqlUpdate,
    "pb_sql_merge" -> sqlMerge,
    "pb_sql_merge_upd" -> sqlMergeUpdOnly,
    "pb_sql_merge_ins" -> sqlMergeInsOnly,
    "pb_sql_merge_del" -> sqlMergeDelOnly,
    "pb_sql_merge_sync" -> sqlMergeSync,
    "pb_sql_merge_cond" -> sqlMergeCond,
    "pb_drop_column" -> dropColumnQ,
    "pb_rename" -> renameQ,
    "pb_branch_wap" -> branchWapQ,
    "pb_sql_call" -> sqlCallQ,
    "pb_tblprops" -> tblPropsQ,
    "pb_snapshot_diff" -> snapshotDiffQ,
    "pb_runtime_prune" -> runtimePruneQ,
    "pb_zorder" -> zorderQ,
    "cdc_stream_agg" -> cdcStreamAgg,
    "pb_time_travel" -> timeTravel,
    "pb_compact_auto" -> compactAuto,
    "pb_history" -> historyQ,
    "pb_rebucket" -> rebucketQ,
    "pb_vacuum" -> vacuumQ,
    "pb_sql_delete" -> sqlDelete,
    "pb_tag" -> tagQ,
    "pb_incremental" -> incrementalQ,
    "pb_append_concurrent" -> appendConcurrentQ,
    "pb_restore" -> restoreQ,
    "pb_stream_read" -> streamReadQ,
    "pb_sql_alter" -> sqlAlter,
    "pb_meta_tables" -> metaTablesQ,
    "pb_agg_pushdown" -> aggPushdownQ,
    "pb_namespace" -> namespaceQ,
    "pb_check" -> checkQ,
  )

  val oracles: Map[String, String] = Map(
    // final table state replayed directly: create slice + three disjoint
    // delta batches (double arithmetic matches Spark's IEEE ops bit-for-
    // bit; the 6-dp decimal cast absorbs nothing — 2-dp money values)
    "cdc_incremental_agg" -> """
      WITH eff AS (
        SELECT CASE WHEN o_orderkey % 4 = 0 THEN '0-MOVED'
                    ELSE o_orderpriority END AS g,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 111.11
                    WHEN o_orderkey % 4 = 3 AND o_orderkey % 2 = 1 THEN o_totalprice * 2
                    WHEN o_orderkey % 4 = 1 AND o_orderkey % 3 = 0 THEN o_totalprice - 50.0
                    ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 3 = 0
          AND NOT (o_orderkey % 4 = 1 AND o_orderkey % 7 = 0))
      SELECT g AS o_orderpriority, count(*) AS n_rows,
             round(sum(CAST(p AS DECIMAL(18,6))), 2)::DOUBLE AS total
      FROM eff GROUP BY g ORDER BY g
    """.trim,
    "pb_sql_insert" -> "SELECT * FROM customer",
    // CREATE TABLE + INSERT + CTAS, all through SQL: the CTAS-derived
    // table equals the filtered projection
    "pb_sql_create" ->
      "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000.0",
    // the streaming fold must converge to the identical final state
    "cdc_stream_agg" -> """
      WITH eff AS (
        SELECT CASE WHEN o_orderkey % 4 = 0 THEN '0-MOVED'
                    ELSE o_orderpriority END AS g,
               CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 111.11
                    WHEN o_orderkey % 4 = 3 AND o_orderkey % 2 = 1 THEN o_totalprice * 2
                    WHEN o_orderkey % 4 = 1 AND o_orderkey % 3 = 0 THEN o_totalprice - 50.0
                    ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 3 = 0
          AND NOT (o_orderkey % 4 = 1 AND o_orderkey % 7 = 0))
      SELECT g AS o_orderpriority, count(*) AS n_rows,
             round(sum(CAST(p AS DECIMAL(18,6))), 2)::DOUBLE AS total
      FROM eff GROUP BY g ORDER BY g
    """.trim,
    // the v1 snapshot: upsert applied, delete NOT applied
    "pb_time_travel" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
    """.trim,
    "pb_compact_auto" -> "SELECT * FROM customer",
    "pb_rebucket" -> "SELECT * FROM customer",
    "pb_sql_delete" -> """
      SELECT * FROM customer
      WHERE NOT (c_custkey <= 500 AND c_mktsegment = 'BUILDING')
    """.trim,
    "pb_vacuum" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer
    """.trim,
    // each version's row count replayed: create slice, full table,
    // post-delete complement
    "pb_history" -> """
      SELECT 0::BIGINT AS version, 'create' AS op, count(*)::BIGINT AS n_rows
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT 1::BIGINT, 'append', count(*)::BIGINT FROM orders
      UNION ALL
      SELECT 2::BIGINT, 'delete', count(*)::BIGINT
      FROM orders WHERE o_orderkey % 5 <> 0
    """.trim,
    "pb_zorder" -> "SELECT * FROM orders",
    // the TAGGED v0 snapshot: the post-tag upsert must NOT appear, and
    // vacuum(0) must not have harmed the tagged files
    "pb_tag" -> "SELECT * FROM customer",
    // rows of the two post-sinceVersion append batches, nothing else
    "pb_incremental" ->
      "SELECT * FROM orders WHERE o_orderkey % 3 <> 0",
    // three concurrent disjoint appends + the create slice = the table
    "pb_append_concurrent" -> "SELECT * FROM customer",
    // v0 restored after an upsert + a delete, then vacuumed at age 0:
    // the original table, byte-identical
    "pb_restore" -> "SELECT * FROM customer",
    // two checkpointed AvailableNow drains = the whole table, once each
    "pb_stream_read" -> "SELECT * FROM orders",
    // footer-metadata global aggregates == the full-scan answer
    "pb_agg_pushdown" -> """
      SELECT count(*)::BIGINT AS n, count(o_custkey)::BIGINT AS n_cust,
             min(o_orderkey)::BIGINT AS min_key,
             max(o_orderkey)::BIGINT AS max_key
      FROM orders
    """.trim,
    // written into schema 'raw', read via cat.raw.customer
    "pb_namespace" -> "SELECT * FROM customer",
    // the rejected upsert left nothing; the valid update applied
    "pb_check" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer
    """.trim,
    // snapshot log (+ n_rows from manifests) left-joined to tag pins
    "pb_meta_tables" -> """
      SELECT 0::BIGINT AS version,
             (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)::BIGINT AS n_rows,
             'cut' AS tag
      UNION ALL
      SELECT 1::BIGINT, (SELECT count(*) FROM customer)::BIGINT, NULL
    """.trim,
    // ADD COLUMNS (NULL history) + UPDATE fill + DROP COLUMN
    "pb_sql_alter" -> """
      SELECT c_custkey, c_name, c_nationkey, c_acctbal,
             CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1.0 END AS c_extra
      FROM customer
    """.trim,
    "pb_delete" -> """
      SELECT * FROM orders
      WHERE NOT (o_orderkey % 3 = 0 OR o_totalprice > 400000.0)
    """.trim,
    // merge-on-read: tombstone sidecars, not a rewrite — read-back is
    // still exactly the complementary filter
    "pb_delete_mor" ->
      "SELECT * FROM orders WHERE o_orderkey % 97 <> 0",
    // both SET expressions replay against the PRE-update row (the CASE
    // reads original c_mktsegment/c_acctbal on both output columns)
    "pb_update" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal < 0
                  THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal < 0
                  THEN 'RESCUED' ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    """.trim,
    // the sink converges to the full table: head (batch create) + tail
    // (streamed backlog) = every customer row exactly once
    "pb_stream_sink" -> "SELECT * FROM customer",
    // update-mode epochs converge to the batch windowed aggregate and
    // overwrite the poisoned seed rows — identical oracle to
    // stream_upsert, now through the NATIVE sink (no foreachBatch)
    "pb_stream_upsert_sink" -> """
      SELECT date_trunc('hour', ts) AS win_start, event_type,
             count(*) AS n_events,
             round(sum(CAST(value AS DECIMAL(18,6))), 2)::DOUBLE AS sum_value
      FROM events
      GROUP BY 1, 2
    """.trim,
    // the publish-synthesized image batch, folded into the pre-publish
    // aggregate, equals the recompute from the published state:
    // deletes (%29) win over updates (%23 doubled), %97 shifted inserts
    "pb_wap_cdc" -> """
      WITH eff AS (
        SELECT c_mktsegment,
               CASE WHEN c_custkey % 23 = 0 THEN c_acctbal * 2
                    ELSE c_acctbal END AS bal
        FROM customer WHERE c_custkey % 29 <> 0
        UNION ALL
        SELECT c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 97 = 0)
      SELECT c_mktsegment, count(*) AS n_rows,
             round(sum(CAST(bal AS DECIMAL(18,6))), 2)::DOUBLE AS total
      FROM eff GROUP BY c_mktsegment
    """.trim,
    // two changelog batches: the pre-evolution append (%97 shifted,
    // bonus not yet born => NULL) and the publish batch from the
    // schema-evolved branch (update doubles %13 balances over
    // base+appended keys; the bonus backfills from the old balance)
    "pb_wap_cdc_evolve" -> """
      WITH aug AS (
        SELECT c_custkey, c_acctbal FROM customer
        UNION ALL
        SELECT c_custkey + 30000000, c_acctbal FROM customer
        WHERE c_custkey % 97 = 0)
      SELECT c_custkey + 30000000 AS c_custkey, 'insert' AS op,
             round(CAST(c_acctbal AS DECIMAL(18,6)), 2)::DOUBLE AS new_bal,
             CAST(NULL AS DOUBLE) AS new_bonus
      FROM customer WHERE c_custkey % 97 = 0
      UNION ALL
      SELECT c_custkey, 'update',
             round(CAST(c_acctbal * 2 AS DECIMAL(18,6)), 2)::DOUBLE,
             round(CAST(c_acctbal AS DECIMAL(18,6)), 2)::DOUBLE
      FROM aug WHERE c_custkey % 13 = 0
    """.trim,
    // the append applied ONCE despite the replayed attempt
    "pb_append_idem" -> """
      SELECT * FROM customer
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    // the surviving batch's delete images: %41 keys, old balances with
    // the batch-0 %13 bump applied, new_* NULL (the rows are gone)
    "pb_changelog_expire" -> """
      SELECT c_custkey, 'delete' AS op,
             CASE WHEN c_custkey % 13 = 0
                  THEN c_acctbal + 100.0 ELSE c_acctbal END AS old_c_acctbal,
             CAST(NULL AS DOUBLE) AS new_c_acctbal
      FROM customer WHERE c_custkey % 41 = 0
      UNION ALL
      SELECT c_custkey + 20000000, 'delete', c_acctbal,
             CAST(NULL AS DOUBLE)
      FROM customer
      WHERE c_custkey % 89 = 0 AND (c_custkey + 20000000) % 41 = 0
    """.trim,
    // three racing backfill sweeps, each on its own %10 slice
    "pb_update_concurrent" -> """
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + (CASE WHEN c_custkey % 10 IN (1, 2, 3)
                               THEN (c_custkey % 10) * 100.0
                               ELSE 0 END) AS c_acctbal,
             CASE WHEN c_custkey % 10 IN (1, 2, 3)
                  THEN 'SWEEP' || (c_custkey % 10)
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    """.trim,
    // three racing change feeds: %20-in-(1,2,3) keys tombstoned,
    // surviving %10-in-(1,2,3) keys doubled, %97 keys inserted thrice
    // under three shifted ranges at original balances
    "pb_merge_concurrent" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 10 IN (1, 2, 3)
                  THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 20 NOT IN (1, 2, 3)
      UNION ALL
      SELECT c_custkey + r.r * 10000000, c_name, c_nationkey, c_acctbal,
             c_mktsegment
      FROM customer, (VALUES (1), (2), (3)) r(r)
      WHERE c_custkey % 97 = 0
    """.trim,
    // three racing erasure slices; the union of their predicates gone
    "pb_delete_concurrent" -> """
      SELECT * FROM customer WHERE c_custkey % 10 NOT IN (1, 2, 3)
    """.trim,
    // each %4 slice's balance bumped by its writer's offset (%4==0 gets
    // +0, untouched); partial-column upsert leaves other columns alone
    "pb_upsert_concurrent" -> """
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + (c_custkey % 4) * 100.0 AS c_acctbal,
             c_mktsegment
      FROM customer
    """.trim,
    // same replay as pb_upsert_concurrent: the racing Z-order +
    // policy compaction are LAYOUT-only — content-neutral by contract
    "pb_maintenance_concurrent" -> """
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + (c_custkey % 4) * 100.0 AS c_acctbal,
             c_mktsegment
      FROM customer
    """.trim,
    // three racing SQL UPDATE sweeps (+r*100 on the %4==r slices; %4==0
    // untouched) then a SQL DELETE of the low key range — all routed
    // optimistically by the commit_mode table property
    "pb_sql_optimistic" -> """
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal + (c_custkey % 4) * 100.0 AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey > 10
    """.trim,
    // rename lifecycle replay on the ORIGINAL column name: %7 balances
    // bumped (partial upsert on the renamed column), %5 segments
    // relabeled (SQL UPDATE), then negative-balance %3 keys deleted
    // (predicate over the renamed column, post-upsert values)
    "pb_rename_column" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS balance,
             CASE WHEN c_custkey % 5 = 0 THEN 'RENAMED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
      WHERE NOT ((CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                       ELSE c_acctbal END) < 0
                 AND c_custkey % 3 = 0)
    """.trim,
    // segmented-manifest lifecycle replay: %7 balances bumped (partial
    // upsert), %11 deleted, shifted %89 copies appended (deletes run
    // before the append, so shifted keys never match the %11 cut)
    "pb_manifest_segments" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 11 <> 0
      UNION ALL
      SELECT c_custkey + 30000000, c_name, c_nationkey, c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    "pb_update_mor" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 31 = 0
                  THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 31 = 0
                  THEN 'MORSEG' ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    """.trim,
    // MoR merge replay: deletes (%41) win over updates (%31); the %89
    // shifted copies insert with their ORIGINAL balances
    "pb_merge_mor" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 31 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 41 <> 0
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    "pb_stats_skip" ->
      "SELECT * FROM orders WHERE o_totalprice >= 300000.0",
    "pb_null_skip" -> """
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN
                    CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
                  ELSE abs(c_acctbal) END AS ab
      FROM customer
      WHERE c_custkey % 3 <> 1
        AND NOT (c_custkey % 3 = 0 AND c_acctbal < 0)
    """.trim,
    "pb_rename" -> "SELECT * FROM customer",
    // broadcast join vs a selective dim: the result is the oracle; the
    // runtime bucket pruning is the execution-time IO win
    "pb_runtime_prune" -> """
      SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE l.l_quantity = 50
    """.trim,
    // snapshot diff v0 -> head after an upsert (+100 on %7, shifted %89
    // inserts) and a %5 delete: deletes win where both apply; inserted
    // keys later deleted appear in neither end and never in the diff
    "pb_snapshot_diff" -> """
      SELECT c_custkey, 'delete' AS op
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, 'update'
      FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 5 <> 0
      UNION ALL
      SELECT c_custkey + 20000000, 'insert'
      FROM customer WHERE c_custkey % 89 = 0 AND c_custkey % 5 <> 0
    """.trim,
    // SQL-enabled CDC: the upsert after SET TBLPROPERTIES logs the %7
    // value updates and the shifted %89 inserts
    "pb_tblprops" -> """
      SELECT c_custkey, 'update' AS op,
             c_acctbal + 100.0 AS new_c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 20000000, 'insert', c_acctbal
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    // CALL-driven WAP: the %5 branch upsert (+100) published, then
    // compact + vacuum leave the data identical
    "pb_sql_call" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer
    """.trim,
    // fork → branch upsert (%7 doubled) + append (+20000000 for %89) →
    // audit → fast-forward publish: the base equals the branch head
    "pb_branch_wap" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    "pb_drop_column" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 9 = 0 THEN c_acctbal + 5.0
                  ELSE c_acctbal END AS c_acctbal
      FROM customer
    """.trim,
    "pb_sql_update" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 4 = 1 AND c_acctbal > 0
                  THEN c_acctbal * 2 + 1 ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 4 = 1 AND c_acctbal > 0
                  THEN 'SQLUPD' ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    """.trim,
    "pb_sql_merge" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 6 <> 0
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    // update-only MERGE: matched (%6) rows take the feed's changed
    // values; unmatched feed rows must NOT appear (no INSERT clause)
    "pb_sql_merge_upd" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 6 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 6 = 0 THEN 'MRGPART'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
    """.trim,
    // insert-only MERGE: matched feed rows must NOT overwrite (no
    // UPDATE clause); only the shifted unmatched rows land
    "pb_sql_merge_ins" -> """
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    // delete-only MERGE: only matched rows the condition selects
    // (%12 of the %6 feed) disappear; unmatched tombstones are no-ops,
    // never phantom all-NULL inserts
    "pb_sql_merge_del" -> """
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 12 <> 0
    """.trim,
    // full-snapshot sync: %3 keys updated, snapshot-absent keys deleted
    // unless the BY SOURCE condition (c_acctbal >= 5000) protects them,
    // new keys inserted
    "pb_sql_merge_sync" -> """
      SELECT c_custkey, c_name, c_nationkey,
             c_acctbal * 2 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 3 <> 0 AND c_acctbal >= 5000
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    """.trim,
    // conditional clauses: only %12 of the matched %6 feed updates;
    // only nationkey<13 of the unmatched inserts lands
    "pb_sql_merge_cond" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 12 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal,
             CASE WHEN c_custkey % 12 = 0 THEN 'MRGCOND'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer
      UNION ALL
      SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0 AND c_nationkey < 13
    """.trim,
    // survivors (non-tombstoned) with the %7 full-row update applied,
    // plus the shifted inserts
    "pb_merge" -> """
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal * 2
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 5 <> 0
      UNION ALL
      SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 97 = 0
    """.trim,
    "pb_create_read" -> "SELECT * FROM customer",
    "pb_append" -> "SELECT * FROM orders",
    "pb_upsert" -> """
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
    """.trim,
    "pb_upsert_partial" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 3
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
    """.trim,
    "pb_read_range" ->
      "SELECT * FROM orders WHERE o_orderkey >= 100 AND o_orderkey <= 500",
    "pb_read_point" ->
      "SELECT * FROM orders WHERE o_orderkey IN (1, 7, 500, 1000)",
    "pb_read_range_multi" -> """
      SELECT l_orderkey, l_linenumber, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
      FROM lineitem GROUP BY l_orderkey, l_linenumber
      HAVING l_orderkey >= 100 AND l_linenumber >= 2 AND l_orderkey <= 1000
    """.trim,
    "pb_upsert_multi" -> """
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_orderkey % 13 = 0 THEN round(sum(l_quantity), 2) + 100
                  ELSE round(sum(l_quantity), 2) END AS sum_qty,
             count(*) AS n_rows
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    """.trim,
    "pb_auto_index" -> """
      SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS pandabase_auto_generated_index,
             o_orderkey, o_totalprice
      FROM orders
    """.trim,
    "pb_add_columns" -> """
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             CASE WHEN c_custkey % 2 = 1 THEN CAST(floor(c_acctbal) AS DOUBLE) END AS c_extra
      FROM customer
    """.trim,
    "pb_clean_names" -> "SELECT * FROM customer",
    "pb_describe" -> """
      SELECT * FROM (
        SELECT 'customer' AS table_name, CAST(min(c_custkey) AS VARCHAR) AS pk_min,
               CAST(max(c_custkey) AS VARCHAR) AS pk_max, count(*) AS n_rows FROM customer
        UNION ALL
        SELECT 'nation', CAST(min(n_nationkey) AS VARCHAR), CAST(max(n_nationkey) AS VARCHAR), count(*) FROM nation
        UNION ALL
        SELECT 'supplier', CAST(min(s_suppkey) AS VARCHAR), CAST(max(s_suppkey) AS VARCHAR), count(*) FROM supplier
      ) ORDER BY table_name
    """.trim,
    "pb_pk_join" -> """
      SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
             o.n_orders, o.total_spend
      FROM customer c
      JOIN (SELECT o_custkey AS c_custkey, count(*) AS n_orders,
                   round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS total_spend
            FROM orders GROUP BY 1) o
      USING (c_custkey)""".trim,
    "pb_pk_join_filtered" -> """
      SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
             o.n_orders, o.total_spend
      FROM customer c
      JOIN (SELECT o_custkey AS c_custkey, count(*) AS n_orders,
                   round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS total_spend
            FROM orders GROUP BY 1) o
      USING (c_custkey)
      WHERE c_custkey BETWEEN 100 AND 400""".trim,
    "pb_companda" -> """
      SELECT * FROM (
        SELECT 'o_custkey' AS column_name, CAST(0 AS BIGINT) AS n_unequal
        UNION ALL
        SELECT 'o_orderdate', CAST(0 AS BIGINT)
        UNION ALL
        SELECT 'o_orderpriority', (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)
        UNION ALL
        SELECT 'o_orderstatus', CAST(0 AS BIGINT)
        UNION ALL
        SELECT 'o_totalprice', (SELECT count(*) FROM orders WHERE o_orderkey % 5 = 0)
      ) ORDER BY column_name
    """.trim,
  )
}
