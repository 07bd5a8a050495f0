package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** How to write into an existing table — mirrors the reference's
  * `how` parameter (/root/reference/pandabase/sql.py:61-70). */
sealed trait WriteMode
object WriteMode {
  /** Fail if the table already exists. */
  case object CreateOnly extends WriteMode
  /** Add rows; fail if any incoming PK already exists. */
  case object Append extends WriteMode
  /** Insert-or-fully-replace by PK (NULLs in the incoming row win too). */
  case object Upsert extends WriteMode
}

/** How [[KeyedTable.delete]] physically removes matched rows. */
sealed trait DeleteMode
object DeleteMode {
  /** Decide per call from manifest row counts alone: merge-on-read
    * when the matched set is a small fraction of the touched buckets'
    * live rows (write cost ∝ |matches|), copy-on-write when most of
    * the touched data is dying anyway (the rewrite then SHRINKS the
    * table instead of stacking tombstones over doomed files). */
  case object Auto extends DeleteMode
  /** Rewrite every touched bucket without the matched rows (the
    * pre-r14 behavior): write cost ∝ touched-bucket bytes. */
  case object CopyOnWrite extends DeleteMode
  /** Commit positional delete-vector sidecars in the manifest; reads
    * skip their positions and rewriting commits materialize them. Write
    * cost ∝ |matches| — the Iceberg-v2 position-delete slope a daily
    * CDC purge on a 100 TB table needs. */
  case object MergeOnRead extends DeleteMode
}

/** A primary-keyed parquet table — the Spark-native re-expression of the
  * reference's pandas↔SQL table (/root/reference/pandabase/sql.py).
  *
  * Layout: `<warehouse>/<table>/data/pb_bucket=<i>/...parquet` with
  * `i = pmod(xxhash64(pk...), buckets)`, plus `_graft_meta.json` and
  * versioned snapshot manifests under `_manifests/` (see [[Manifest]]).
  *
  * Scale design (SURVEY.md §4): upsert/append only ever read and rewrite
  * the hash buckets actually touched by the incoming keys, so a small
  * delta against a huge table does proportionally small IO. Commits are
  * write-to-staging + additive file moves + ONE atomic manifest flip:
  * readers resolve the file set through the current manifest, so a read
  * racing any mutation sees a complete snapshot (old or new, never
  * partial) — correct even on object stores with no atomic directory
  * rename. Superseded files and manifests persist until [[vacuum]],
  * which also gives bounded time travel ([[readSql]] `asOfVersion`).
  * PK range reads push down to parquet row-group min/max stats.
  *
  * Writers additionally serialize through [[WriteLock]] (`_graft_lock`,
  * atomic create-if-absent): each commit is atomic but the
  * read-merge-commit SEQUENCE is not, so two concurrent mutators of the
  * same table fail fast instead of interleaving. Readers never take
  * the lock.
  */
object KeyedTable {

  /** Internal hash-bucket partition column. */
  val BucketCol = "pb_bucket"

  /** Transient adjacent-duplicate flag used by create's observe()-fused
    * PK validation (never written: dropped before the parquet sink). */
  private val PkDupCol = "_graft_pkdup"

  /** Changelog subdirectory name (sibling of `data/`, never touched by
    * vacuum, invisible to the bucket reader). Retention is its own
    * explicit call — [[expireChangelog]] — because snapshot expiry and
    * change-stream retention are different lifecycles with different
    * consumers. */
  val ChangelogDir = "_changelog"

  /** Floor marker inside [[ChangelogDir]] recording the first surviving
    * batch after an [[expireChangelog]] (underscore-prefixed, so the
    * merged parquet read skips it). */
  private val ChangelogFloorFile = "_floor.json"

  val DefaultBuckets = 32

  /** Split a `table@branch` reference; a bare name has no branch. `@`
    * can never appear in a stored table name ([[Names.cleanName]]
    * rejects it), so the separator is unambiguous. */
  private[store] def splitRef(table: String): (String, Option[String]) = {
    val i = table.indexOf('@')
    if (i < 0) (table, None)
    else {
      val (t, br) = (table.substring(0, i), table.substring(i + 1))
      if (t.isEmpty || br.isEmpty || br.contains('@'))
        throw new StoreException(
          s"bad branch reference '$table' (expected table@branch)")
      (t, Some(br))
    }
  }

  /** A branch ref `t@br` resolves to the branch's OWN metadata dir
    * (`<t>/_branches/<br>` — meta, manifests, tags, changelog, lock),
    * while [[dataDir]] stays the BASE table's: branches share immutable
    * data files, so fork and fast-forward are metadata-only
    * ([[Branches]]). */
  def tableDir(warehouse: String, table: String): String =
    splitRef(table) match {
      case (t, None) => s"$warehouse/$t"
      case (t, Some(br)) => s"$warehouse/$t/${Branches.DirName}/$br"
    }

  /** Resolve the reference's `schema=` namespace kwarg
    * (/root/reference/pandabase/util.py:5-15, sql.py:46: `schema.table`
    * addressing, per-schema listing): a schema is a SUB-WAREHOUSE — the
    * directory `<warehouse>/<schema>/` — so every store operation
    * (write, read, join, catalog) works inside a namespace by resolving
    * through here first, with zero changes to the bucket layout or
    * commit protocols. None = the default (top-level) namespace. */
  def schemaDir(warehouse: String, schema: Option[String]): String =
    schema match {
      case None => warehouse
      case Some(s) =>
        if (Names.cleanName(s) != s)
          throw new IllegalNameException(
            s"Illegal characters in schema name: $s. try: ${Names.cleanName(s)}")
        s"$warehouse/$s"
    }
  private[store] def dataDir(warehouse: String, table: String) =
    s"$warehouse/${splitRef(table)._1}/data"

  /** Invert [[tableDir]]: (warehouse, table-or-branch ref). A dir under
    * `_branches/` maps back to the `t@branch` addressing form. */
  private[store] def refOf(tableDir: String): (String, String) = {
    val p = new Path(tableDir)
    val parent = p.getParent
    if (parent != null && parent.getName == Branches.DirName &&
        parent.getParent != null) {
      val baseDir = parent.getParent
      (baseDir.getParent.toString, s"${baseDir.getName}@${p.getName}")
    } else (parent.toString, p.getName)
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def withBucket(df: DataFrame, pk: Seq[String], buckets: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod(xxhash64(pk.map(col): _*), lit(buckets.toLong)).cast(IntegerType))

  /** The bucket [[withBucket]] puts one PK tuple in, evaluated on the
    * driver without a Spark job: each value becomes `lit(v).cast(pkType)`
    * (the session time zone resolving datetime casts, as the analyzer
    * would), hashed by the same `pmod(xxhash64(...), buckets)`
    * expressions. Throws when a value does not cast to its PK type
    * (an ANSI overflow); pruning callers then keep every bucket. */
  private[store] def bucketOfKey(spark: SparkSession, meta: TableMeta,
                                 buckets: Int, values: Seq[Any]): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val keys = meta.pk.zip(values).map { case (c, v) =>
      Cast(Literal(v), meta.schema(c).dataType, tz)
    }
    Pmod(XxHash64(keys, 42L), Literal(buckets.toLong)).eval()
      .asInstanceOf[Long].toInt
  }

  /** Cluster rows by bucket before a partitionBy staging write — the one
    * layout every staged write (data, DV sidecar, maintenance rewrite)
    * goes through. Each bucket's rows go to exactly ONE writer task, so
    * the write makes one file per bucket in play instead of up-to
    * `inputPartitions × buckets` small files — the small-files problem
    * is the first thing that kills a 100 TB table. The shuffle this adds
    * is the write's only wide op.
    *
    * How many tasks depends on the write's size ([[writeBytes]], a
    * driver-side estimate):
    *  - a SMALL write — at most one advisory shuffle partition
    *    (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, 64 MB by
    *    default) — runs `n = min(buckets in play, defaultParallelism)`
    *    tasks. Per-task scheduling and deserialization, paid once per
    *    bucket, was most of a 100-row upsert's write job;
    *  - any other write runs one task per bucket in play, so a large
    *    rewrite's parallelism never depends on how many cores happen to
    *    be registered when it is planned (dynamic allocation scales on
    *    pending tasks).
    * The buckets in play are numbered 0, 1, 2, … and `repartitionById`
    * sends slot `s` to task `pmod(s, n)`, so per-task bucket counts
    * differ by at most one (a hash repartition is uneven: Murmur3 puts
    * 10 of 32 buckets on one of 4 tasks). When the buckets in play are
    * consecutive (create, rebucket, most full rewrites) the slot is
    * `pb_bucket` itself, so the planner sees the exchange as clustered
    * by the bucket column and a bucket-partitioned window on top (create's
    * PK check) reuses it.
    *
    * Rows additionally sort by (bucket, `sortBy`) within each task:
    * hashing destroys range locality (every bucket samples the full PK
    * range, so file min/max stats are useless), but a within-bucket sort
    * by PK makes each ROW GROUP's stats tight — range reads then skip
    * most row groups of every file instead of scanning the table. The
    * bucket leads, so a task finishes one bucket's file before it opens
    * the next. Map-side, spillable, no extra shuffle; also compresses
    * PK-correlated columns better. */
  private def clusterByBucket(df: DataFrame, inPlay: Seq[Int],
                              sortBy: Seq[String]): DataFrame = {
    val ids = inPlay.distinct.sorted
    val spark = df.sparkSession
    val small = writeBytes(df) <= spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val n = math.max(1,
      if (small) math.min(ids.size, spark.sparkContext.defaultParallelism)
      else ids.size)
    val slot =
      if (ids.isEmpty || ids.last - ids.head + 1 == ids.size) col(BucketCol)
      else {
        // dense slot per bucket in play; a bucket outside the set (no
        // caller stages one) keeps its own id — still exactly one task
        val slots = Array.tabulate(ids.last + 1)(identity)
        ids.zipWithIndex.foreach { case (b, i) => slots(b) = i }
        coalesce(try_element_at(typedlit(slots.toSeq), col(BucketCol) + 1),
          col(BucketCol))
      }
    df.repartitionById(n, slot)
      .sortWithinPartitions((BucketCol +: sortBy).map(col): _*)
  }

  /** The bytes a staging write reads, estimated on the driver from the
    * optimized plan without running a job: the sum over the plan's
    * leaves. A scan of a store snapshot counts only the files of the
    * buckets its pushed filters keep ([[KeyedScan]]'s statistics — a
    * delta write reads just its touched buckets), a persisted frame its
    * cached size (before its first action, the plan it caches, optimized
    * so its scans see their pushed filters), and any other leaf Spark's
    * own estimate — unknown sizes (an RDD) are
    * huge, so such a write is never small. Leaves are summed rather than
    * taking the root's estimate, which multiplies the sides of a join. */
  private[store] def writeBytes(df: DataFrame): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val state = df.sparkSession.sessionState
    def bytes(p: LogicalPlan): BigInt = p match {
      case m: InMemoryRelation if !m.cacheBuilder.isCachedColumnBuffersLoaded =>
        bytes(state.optimizer.execute(state.analyzer.execute(m.cacheBuilder.logicalPlan)))
      case l: LeafNode => l.stats.sizeInBytes
      case other => other.children.map(bytes).sum
    }
    bytes(df.queryExecution.optimizedPlan)
  }

  /** Write `df` into `<warehouse>/<tableName>` keyed by `pk`.
    *
    * Mirrors reference `to_sql` (/root/reference/pandabase/sql.py:40):
    * identifier cleaning, PK validation (non-null, unique), create /
    * append-with-overlap-check / full-row upsert, `autoIndex` synthetic
    * PK, `addNewColumns` schema evolution (metadata-only here), and
    * coercion of incoming types toward the table schema
    * ("database is the source of truth", sql.py:213-254).
    *
    * @param strictUtc reference fail-fast contract (default): any naive
    *   (TimestampNTZ) datetime column — PK or value — is rejected, like
    *   the reference's ValueError on naive / non-UTC datetimes
    *   (sql.py:100, 133-136; tests/test_sql.py:273, 807). Spark's
    *   TimestampType is already a UTC instant, so "tz-aware but not
    *   UTC" cannot reach us as a type — NTZ is the one expressible
    *   violation. Pass `strictUtc = false` to opt into the previous
    *   behavior: NTZ is pinned to the same wall-clock UTC instant
    *   (session TZ is UTC). */
  def toSql(df: DataFrame,
            warehouse: String,
            tableName: String,
            pk: Seq[String] = Nil,
            how: WriteMode = WriteMode.CreateOnly,
            autoIndex: Boolean = false,
            addNewColumns: Boolean = false,
            buckets: Int = DefaultBuckets,
            validate: Boolean = true,
            inferBool: Boolean = true,
            strictUtc: Boolean = true,
            schema: Option[String] = None,
            changelog: Boolean = false,
            txn: Option[(String, Long)] = None): Unit = {
    val wh = schemaDir(warehouse, schema)
    val spark = df.sparkSession
    // IDEMPOTENT appends (the Delta txnAppId/txnVersion model): a
    // (appId, version) token rides the manifest's `streams` ledger in
    // the SAME atomic flip as the data, so a retried ingest job whose
    // first attempt committed becomes a NO-OP instead of a PK-overlap
    // failure. Append-shaped writes only — the one retry-able mutation
    // where "did my attempt land?" is otherwise unanswerable. The token
    // shares the streaming-sink ledger namespace: observable through
    // `t$streams`, retired via `drop_stream_ledger`, monotonic per
    // appId (an attempt at or below the recorded version no-ops).
    txn.foreach { case (id, _) =>
      if (id.isEmpty)
        throw new StoreException("txn appId must be non-empty")
      if (how != WriteMode.Append)
        throw new StoreException(
          "txn tokens are an append-retry contract (how=Append); " +
          "upserts are naturally idempotent — retry them without a token")
    }
    val (baseName, branchName) = splitRef(tableName)
    (baseName +: branchName.toSeq).foreach { n =>
      if (Names.cleanName(n) != n)
        throw new IllegalNameException(
          s"Illegal characters in table name: $n. try: ${Names.cleanName(n)}")
    }
    if (autoIndex && pk.nonEmpty)
      throw new StoreException("pass either pk or autoIndex=true, not both")
    if (strictUtc) rejectNaive(df, StrictUtcHint)

    val cleaned = cleanColumns(df)
    val pkClean = pk.map(Names.cleanName)
    pkClean.foreach { k =>
      if (!cleaned.columns.contains(k))
        throw new StoreException(s"pk column $k not in DataFrame columns ${cleaned.columns.toSeq}")
    }

    val dir = tableDir(wh, tableName)
    // Schema/table kind guard: the warehouse tree tells the two kinds
    // apart structurally (a TABLE dir holds _graft_meta; a SCHEMA dir
    // holds table dirs), and writing the wrong kind into an existing
    // dir silently flips it — a table named like a schema would bury
    // the schema's tables, a schema named like a table would nest
    // inside it. Reject both collisions up front.
    schema.foreach { s =>
      val f0 = fs(spark, wh)
      if (f0.exists(new Path(wh, TableMeta.FileName)))
        throw new StoreException(
          s"cannot address schema '$s': $wh is a TABLE (holds ${TableMeta.FileName}); " +
          "schema and table names must not collide (drop or rename one)")
    }
    // the existence check runs INSIDE the lock: two concurrent creators
    // arbitrate here (one creates, the other sees the table and gets
    // the CreateOnly error instead of a torn rename race)
    WriteLock.withLock(spark, dir, s"toSql($how)") {
      val exists = TableMeta.exists(spark, dir)

      if (!exists) {
        val f0 = fs(spark, dir)
        val dp = new Path(dir)
        if (f0.exists(dp) && f0.listStatus(dp).exists(c => c.isDirectory &&
            f0.exists(new Path(c.getPath, TableMeta.FileName))))
          throw new StoreException(
            s"cannot create table '$tableName': $dir is a SCHEMA namespace " +
            "(contains tables); schema and table names must not collide")
        if (branchName.isDefined)
          throw new StoreException(
            s"branch $tableName does not exist; branches FORK from a " +
            "table snapshot (Branches.create), they are not created " +
            "like tables")
        if (!autoIndex && pkClean.isEmpty)
          throw new StoreException("pk columns required unless autoIndex=true (reference: sql.py:117)")
        create(cleaned, wh, tableName, pkClean, autoIndex, buckets,
          validate, inferBool, txn)
      } else {
        how match {
          case WriteMode.CreateOnly =>
            throw new StoreException(
              s"Table $tableName already exists; how=CreateOnly (reference: sql.py:171)")
          case WriteMode.Append =>
            appendWith(Locked, cleaned, wh, tableName, addNewColumns,
              validate, changelog, txn)
          case WriteMode.Upsert =>
            upsertWith(Locked, cleaned, wh, tableName, addNewColumns,
              validate, changelog, tombstoned = false,
              deleteOnlyMatched = false, DeleteMode.CopyOnWrite,
              expectedVersion = None, strictVersion = false)
            ()
        }
      }
    }
  }

  /** PK validation (optional) and the touched-bucket id set in ONE
    * aggregation job over the (persisted) incoming frame: collect_set
    * over the bucket column is bounded by the bucket count, and fusing it
    * with the PK counters means append/upsert scan their delta once for
    * both answers instead of twice. */
  private def validateAndTouched(df: DataFrame, pk: Seq[String],
                                 wantPk: Boolean): Seq[Int] = {
    val bucketSet = collect_set(col(BucketCol))
    if (!wantPk)
      return df.agg(bucketSet).head().getSeq[Int](0).toSeq
    val keyNullCond = pk.map(col(_).isNull).reduce(_ || _)
    val r = df.agg(
      coalesce(sum(when(keyNullCond, 1L).otherwise(0L)), lit(0L)).as("nulls"),
      count(lit(1)).as("total"),
      count_distinct(struct(pk.map(col): _*)).as("distinct"),
      bucketSet).head()
    val (nulls, total, distinct) = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (nulls > 0)
      throw new StoreException(s"PK has $nulls NULL values and cannot be used (reference: sql.py:119)")
    if (distinct != total)
      throw new StoreException(
        s"PK is not unique: $total rows, $distinct distinct keys (reference: sql.py:97)")
    r.getSeq[Int](3).toSeq
  }

  /** Label the Spark jobs `body` launches (UI/listener observability —
    * a multi-action store verb is unreadable as anonymous job ids).
    * Thread-local, restored after, so concurrent writers keep their own
    * labels. */
  private[store] def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Run two INDEPENDENT pieces of driver code — each typically one
    * Spark action — concurrently (optimization guide §2.6: a verb's
    * sequential actions leave the cluster idle through each job's tail
    * and each scheduling wave; overlapping them hides both). Each runs
    * on a fresh thread, so Spark's inheritable thread-locals (job
    * description/group, active session) propagate from the caller.
    *
    * The first branch to fail cancels the other's jobs, so a failed
    * PK-overlap probe aborts the concurrent staging write instead of
    * waiting for it. Each branch tags its jobs with a tag unique to the
    * call (`addJobTag` / `cancelJobsWithTag`): a job GROUP set inside a
    * branch would replace the caller's, which observers use to attribute
    * jobs to operations. The cancel is re-issued while the sibling still
    * runs, so a job it submits after the failure is cancelled too. Both
    * branches are always joined; the first failure is thrown, carrying
    * the other branch's failure (typically its cancellation) as
    * suppressed. */
  private[graft] def inParallel[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val sc = spark.sparkContext
    val call = UUID.randomUUID()
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    def start[T](name: String, body: => T): (Thread, String, () => Either[Throwable, T]) = {
      val tag = s"graft-parallel-$call-$name"
      @volatile var r: Either[Throwable, T] = null
      val t = new Thread(() => {
        sc.addJobTag(tag)
        r = try Right(body) catch {
          case e: Throwable => firstFailure.compareAndSet(null, e); Left(e)
        }
      }, s"graft-parallel-$name")
      t.setDaemon(true)
      t.start()
      (t, tag, () => r)
    }
    val (ta, tagA, ra) = start("a", a)
    val (tb, tagB, rb) = start("b", b)
    val threads = Seq(ta -> tagA, tb -> tagB)
    while (threads.exists(_._1.isAlive)) {
      if (firstFailure.get != null)
        threads.foreach { case (t, tag) =>
          if (t.isAlive) sc.cancelJobsWithTag(tag, "a sibling action failed")
        }
      threads.foreach(_._1.join(50))
    }
    (ra(), rb()) match {
      case (Right(x), Right(y)) => (x, y)
      case (x, y) =>
        val first = firstFailure.get
        Seq(x, y).collect { case Left(e) if !(e eq first) => e }
          .foreach(first.addSuppressed)
        throw first
    }
  }

  private def create(df0: DataFrame, warehouse: String, tableName: String,
                     pk: Seq[String], autoIndex: Boolean, buckets: Int,
                     validate: Boolean, inferBool: Boolean,
                     txn: Option[(String, Long)]): Unit = {
    val spark = df0.sparkSession
    val (df1, pkCols, maxIdx) =
      if (autoIndex) {
        val (d, n) = assignAutoIndex(df0, 0L)
        (d, Seq(Names.AutoIndex), Some(n - 1L))
      } else (df0, pk, None)
    // reference requires datetimes to be UTC (sql.py:100,133-136); the
    // Spark mirror: naive (NTZ) timestamps are pinned to UTC instants on
    // write — the session TZ is UTC, so the wall-clock is unchanged
    val df = df1.schema.fields.foldLeft(df1) { (d, f) =>
      if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }
    // PK columns first
    val order = pkCols ++ df.columns.filterNot(pkCols.contains)
    val ordered = df.select(order.map(col): _*)

    val dir = tableDir(warehouse, tableName)
    val data = new Path(dataDir(warehouse, tableName))
    val f = fs(spark, dir)
    if (f.exists(data))
      throw new StoreException(s"Table data already exists at $data")
    // the dir may be a recycled name (drop via an out-of-band delete):
    // stale parsed manifests at identical v<N> paths must never
    // resolve this NEW table's reads to the old table's files
    Manifest.invalidate(dir)

    // The input may be an arbitrarily expensive pipeline, so it runs
    // exactly ONCE: one bucket-partitioned staging write. PK validation
    // and {0,1}→bool inference (reference helpers.py:35, applied on
    // create) ride the SAME job as observe() metrics — zero extra
    // scheduling waves and zero re-reads of the staged parquet.
    // Uniqueness without count_distinct (observe() rejects DISTINCT
    // aggregates): clusterByBucket sends every bucket to one task and
    // sorts by (bucket, pk) — equal PKs share a bucket, so they are
    // ADJACENT — and its exchange is keyed by pb_bucket itself (all
    // buckets are in play), so a lag()-window duplicate flag
    // partitioned by that same column rides the very same
    // exchange+sort (no new Exchange, no new Sort) and gives
    // distinct = total − dups exactly. These are create's own writers,
    // not the bucket stager: no commit pin exists before the table, and
    // the validation rides the write.
    val staging = s"$dir/.staging-create-${UUID.randomUUID()}"
    try {
      val wantPk = validate && !autoIndex
      val boolSchema = StructType(ordered.schema.fields)
      val boolAggs = if (inferBool) BoolInference.aggColumns(boolSchema) else Nil
      val clustered = clusterByBucket(withBucket(ordered, pkCols, buckets),
        0 until buckets, pkCols)
      val flagged =
        if (!wantPk) clustered
        else {
          val pkStruct = struct(pkCols.map(col): _*)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(BucketCol)).orderBy(pkCols.map(col): _*)
          clustered.withColumn(PkDupCol, pkStruct <=> lag(pkStruct, 1).over(w))
        }
      val pkAggs: Seq[Column] =
        if (!wantPk) Nil
        else {
          val keyNullCond = pkCols.map(col(_).isNull).reduce(_ || _)
          Seq(
            coalesce(sum(when(keyNullCond, 1L).otherwise(0L)), lit(0L)).as("pk!nulls"),
            count(lit(1)).as("pk!total"),
            coalesce(sum(when(col(PkDupCol), 1L).otherwise(0L)), lit(0L)).as("pk!dups"))
        }
      val allAggs = pkAggs ++ boolAggs
      val obs = if (allAggs.isEmpty) None
                else Some(org.apache.spark.sql.Observation())
      val toWrite = {
        val o = obs.map(ob => flagged.observe(ob, allAggs.head, allAggs.tail.toIndexedSeq: _*))
          .getOrElse(flagged)
        if (wantPk) o.drop(PkDupCol) else o
      }
      labeled(spark, s"graft-create $tableName: staging write + validation") {
        toWrite.write.partitionBy(BucketCol).parquet(staging)
      }
      val toBool: Set[String] = obs match {
        case None => Set.empty
        case Some(ob) =>
          val m = ob.get
          if (wantPk) {
            val nulls = m("pk!nulls").asInstanceOf[Long]
            val total = m("pk!total").asInstanceOf[Long]
            val distinct = total - m("pk!dups").asInstanceOf[Long]
            if (nulls > 0)
              throw new StoreException(s"PK has $nulls NULL values and cannot be used (reference: sql.py:119)")
            if (distinct != total)
              throw new StoreException(
                s"PK is not unique: $total rows, $distinct distinct keys (reference: sql.py:97)")
          }
          if (inferBool)
            BoolInference.decodeMap(boolSchema, m).collect {
              case (c, Some(true)) if !pkCols.contains(c) &&
                ordered.schema(c).dataType != BooleanType => c
            }.toSet
          else Set.empty
      }
      val schema = StructType(ordered.schema.fields.map { fl =>
        val dt = if (toBool.contains(fl.name)) BooleanType else fl.dataType
        if (pkCols.contains(fl.name)) fl.copy(dataType = dt, nullable = false)
        else fl.copy(dataType = dt)
      })
      if (toBool.isEmpty) {
        // common case: staging IS the final layout — pure rename commit
        if (!f.rename(new Path(staging), data))
          throw new StoreException(s"Could not commit $staging -> $data")
      } else {
        // bool columns flip type: one columnar rewrite of the staged
        // files (still cheaper than re-running the input pipeline)
        val staged = spark.read.schema(
            StructType(ordered.schema.fields :+
              StructField(BucketCol, IntegerType, nullable = true)))
          .parquet(staging)
        val casted = toBool.foldLeft(staged)((d, c) => d.withColumn(c, col(c) =!= 0))
        clusterByBucket(casted, 0 until buckets, pkCols)
          .write.partitionBy(BucketCol).parquet(data.toString)
      }
      // version-0 snapshot: every table is manifest-native from birth,
      // row counts and leading-PK stats included (a fresh table's stat
      // columns are the PK head alone)
      val meta = TableMeta(pkCols, autoIndex, schema, maxIdx)
      val v0Files = stageFiles(spark, f, data.toString, statColsTypedOf(meta))
        .map { case (b, fls) => b -> fls.map(_.entry) }
      Manifest.commit(spark, dir,
        // a creating how=Append with a txn token records it on v0, so
        // a retry of a create-if-missing ingest job no-ops too
        Manifest(0L, buckets, v0Files, op = Some("create"),
          streams = txn.toList.toMap))
      TableMeta.write(spark, dir, meta)
    } finally f.delete(new Path(staging), true)
  }

  /** Contiguous integer ids in current row order (deterministic iff the
    * input ordering is — e.g. after orderBy). Mirrors auto_index
    * (reference: sql.py:122-128).
    *
    * CONTIGUOUS ids need a global row numbering, which no single narrow
    * columnar construct provides: monotonically_increasing_id alone
    * leaves gaps between partitions, and a global row_number window
    * coalesces to one task. This is the partition-offset form, fully in
    * Tungsten (no RDD round-trip): job 1 collects one row-count PER
    * PARTITION (bounded: numPartitions rows); job 2 computes
    * `offset + partitionStart + localRowNumber`, where the local row
    * number is the low 33 bits of monotonically_increasing_id (its
    * documented layout: partitionId << 33 | consecutive local count) —
    * so the id pass is narrow, codegen'd, and shuffle-free. Both jobs
    * assume the input recomputes deterministically (same assumption
    * zipWithIndex made). Paid only on autoIndex writes. */
  private[store] def assignAutoIndex(df: DataFrame, offset: Long,
                                     name: String = Names.AutoIndex): (DataFrame, Long) = {
    val counts = df.select(spark_partition_id().as("p")).groupBy("p").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = counts.keys.toSeq.sorted
    val starts = pids.zip(pids.scanLeft(0L)((acc, p) => acc + counts(p)).init).toMap
    val partitionStart =
      if (starts.isEmpty) lit(0L)
      else element_at(typedlit(starts), spark_partition_id())
    val localRow = monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))
    val id = (lit(offset) + partitionStart + localRow).as(name)
    (df.select(id +: df.columns.map(col).toIndexedSeq: _*), counts.values.sum)
  }

  /** Recover the auto-index high-water mark for a pre-`maxAutoIndex`
    * meta file: MAX over the id column answered from parquet FOOTER
    * stats (same isolated V2 + aggregate-pushdown child session
    * Catalog.describe uses — the caller's session confs are never
    * touched, so concurrent queries can't plan inside a mutated-conf
    * window) — O(files), not O(rows). Taken together with the meta
    * field this is the documented recovery rule: effective max = the
    * meta value when present (written before data, so never too low),
    * else the footer max. */
  private def footerMaxAutoIndex(spark: SparkSession, warehouse: String,
                                 table: String, meta: TableMeta): Long = {
    // the keyed source's own footer aggregate pushdown answers this
    // from metadata (LocalScan — no tasks); non-stat types fall back
    // to a real scan with the same value
    val m = KeyedTableSource.read(spark, warehouse, table)
      .agg(max(col(Names.AutoIndex))).head()
    if (m.isNullAt(0)) -1L else m.getLong(0)
  }

  /** Coerce `df` toward the table's logical schema; returns the aligned
    * frame (all table columns, table types, missing → NULL) plus the
    * possibly-evolved schema when `addNewColumns` is set. */
  /** `passthrough`: internal marker columns (e.g. merge's tombstone)
    * carried alongside the aligned data — never schema-evolved, never
    * coerced, excluded from the unknown-column check. */
  private def align(df: DataFrame, meta: TableMeta, addNewColumns: Boolean,
                    passthrough: Set[String] = Set.empty)
      : (DataFrame, StructType) = {
    val tableTypes = meta.schema.fields.map(f => f.name -> f).toMap
    val newCols = df.schema.fields.filterNot(f =>
      tableTypes.contains(f.name) || passthrough.contains(f.name))
    if (newCols.nonEmpty && !addNewColumns)
      throw new StoreException(
        s"New data has columns not in table: ${newCols.map(_.name).mkString(", ")}. " +
        "Set addNewColumns=true to evolve the schema (reference: sql.py:196)")
    // a DROPPED name cannot come back while pre-drop files may be live:
    // the evolved column would read the OLD physical values instead of
    // NULL (see dropColumns) — a full rewrite (rebucket/zorder) clears it
    val resurrected = newCols.map(_.name).filter(meta.dropped.contains)
    if (resurrected.nonEmpty)
      throw new StoreException(
        s"column(s) ${resurrected.mkString(", ")} were dropped and their " +
        "physical data may still be live; rebucket or zorderCompact the " +
        "table first to re-add the name safely")
    val physTaken = meta.renames.collect {
      case (l, p) if newCols.exists(_.name == p) => s"$p (renamed to $l)"
    }
    if (physTaken.nonEmpty)
      throw new StoreException(
        s"column name(s) ${physTaken.mkString(", ")} are the PHYSICAL " +
        "names of renamed columns — live files carry their bytes under " +
        "that name; pick a different name")
    val evolved = StructType(meta.schema.fields ++ newCols.map(_.copy(nullable = true)))

    val dfTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aligned = evolved.fields.map { f =>
      dfTypes.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(dt) if coercible(dt, f.dataType) => col(f.name).cast(f.dataType).as(f.name)
        case Some(dt) =>
          throw new TypeMismatchException(
            s"Inconsistent type for column ${f.name}: table=${f.dataType} df=$dt (reference: sql.py:250)")
      }
    } ++ passthrough.toSeq.sorted.filter(dfTypes.contains).map(col)
    (df.select(aligned.toIndexedSeq: _*), evolved)
  }

  /** Numeric/boolean coercions the reference allows (sql.py:230-248). */
  private def coercible(from: DataType, to: DataType): Boolean = {
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def fractional(t: DataType) = t == DoubleType || t == FloatType
    (integral(from) && integral(to)) ||
    (integral(from) && fractional(to)) || (fractional(from) && integral(to)) ||
    (fractional(from) && fractional(to)) ||
    (from == BooleanType && (integral(to) || fractional(to))) ||
    (integral(from) && to == BooleanType) ||
    // naive timestamps pin to the table's UTC instants (create does the
    // same normalization; session TZ is UTC so wall-clock is preserved)
    (from == TimestampNTZType && to == TimestampType)
  }

  /** Driver-side pool for commit-time footer reads: a create/commit
    * touching B buckets would otherwise pay B SERIAL footer opens
    * (~10-30 ms each — at thousands of buckets, minutes of driver
    * latency per commit for what is embarrassingly parallel IO). */
  private lazy val statsPool = java.util.concurrent.Executors.newFixedThreadPool(
    8, (r: Runnable) => {
      val t = new Thread(r, "graft-footer-stats"); t.setDaemon(true); t
    })

  /** One parquet footer's recorded numbers: row count, per-column
    * min/max bounds, per-column NULL counts — everything one block walk
    * yields, carried together so every commit path records the full
    * [[ManifestFile]] statistics from the same single footer open. */
  private[store] final case class FileFooter(
      rows: Option[Long],
      cols: Map[String, ColStats],
      nulls: Map[String, Long])

  /** [[pkFileStats]] over many files on [[statsPool]]. */
  private def pkFileStatsAll(conf: org.apache.hadoop.conf.Configuration,
                             files: Seq[Path], cols: Seq[(String, DataType)])
      : Map[Path, FileFooter] = {
    import scala.jdk.CollectionConverters._
    val tasks = files.map { p =>
      new java.util.concurrent.Callable[(Path, FileFooter)] {
        override def call() = p -> pkFileStats(conf, p, cols)
      }
    }
    statsPool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
  }

  /** The columns a commit records per-file stats for: leading PK plus
    * the configured [[TableMeta.statsCols]], schema-present only.
    * Emitted under PHYSICAL names — that is what staged parquet footers
    * carry and what manifest stat entries are keyed by (scan pruning
    * translates its pushed logical columns the same way). ORDER
    * CONTRACT: the leading element is the PK when present —
    * [[pkFileStats]] records NULL counts for every element AFTER it
    * (the PK is non-null by construction; a count of zero per file
    * forever would be manifest bytes buying nothing). */
  private def statColsTypedOf(meta: TableMeta): Seq[(String, DataType)] =
    (meta.pk.headOption.toSeq ++ meta.statsCols).distinct
      .filter(meta.schema.fieldNames.contains)
      .map(c => meta.physName(c) -> meta.schema(c).dataType)

  /** One staged parquet file: where it sits and the manifest entry it
    * commits as — built once by [[stageFiles]] from its footer (row
    * count, leading-PK bounds, the extra stat columns' bounds, their
    * NULL counts) under its staged name, which [[flip]] swaps for the
    * final one. A rename never changes content, so the entry holds. */
  private final case class Staged(path: Path, entry: ManifestFile)

  /** THE STAGER — the only place a commit lists files or opens a
    * footer. Lists the `.parquet` files of every `pb_bucket=<b>` dir
    * under `dir` once and reads every footer on [[statsPool]] through
    * [[pkFileStats]] for `cols` ([[statColsTypedOf]]'s order: the head
    * is the leading PK; `Nil` for delete-vector sidecars, whose entry
    * needs only the position count). Returns per bucket, by file name,
    * every bucket holding at least one file; nothing when `dir` is
    * absent.
    *
    * Callers stage before their flip — create's fresh `data/`, a
    * verb's data and DV staging dirs — and, on every optimistic path,
    * before taking the lock, so the flip stays renames plus manifest
    * arithmetic however many files a rewrite staged. The one exception
    * is the upsert-mode stream sink re-deriving its DVs inside the lock
    * after a window conflict. Stat columns are pinned at stage time: a
    * column registered mid-window has no bounds on this commit's
    * files, so they are never pruned on it. */
  private def stageFiles(spark: SparkSession, f: FileSystem, dir: String,
                         cols: Seq[(String, DataType)])
      : Map[Int, Seq[Staged]] = {
    val root = new Path(dir)
    val listed: Seq[(Int, Seq[org.apache.hadoop.fs.FileStatus])] =
      if (!f.exists(root)) Nil
      else f.listStatus(root).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$BucketCol="))
        .map { d =>
          d.getPath.getName.stripPrefix(s"$BucketCol=").toInt ->
            f.listStatus(d.getPath).toSeq
              .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
              .sortBy(_.getPath.getName)
        }
        .filter(_._2.nonEmpty)
    val footers = pkFileStatsAll(spark.sparkContext.hadoopConfiguration,
      listed.flatMap(_._2.map(_.getPath)), cols)
    val lead = cols.headOption.map(_._1)
    listed.map { case (b, sts) =>
      b -> sts.map { st =>
        val ft = footers(st.getPath)
        Staged(st.getPath, ManifestFile(st.getPath.getName, st.getLen,
          ft.rows, lead.flatMap(ft.cols.get),
          lead.fold(ft.cols)(ft.cols - _), ft.nulls))
      }
    }.toMap
  }

  /** A column type whose min/max the manifest can store and compare
    * (Long / Double / String — the [[ColStats]] value domain). */
  private[store] def statStorable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType => true
    case StringType => true
    case _ => false
  }

  /** Row count + per-column min/max + per-column NULL counts of one
    * just-written parquet file, from ONE footer read — the leading PK
    * plus every configured [[TableMeta.statsCols]] column, all from the
    * same block walk. Stats are normalized to the manifest's storable
    * types (Long / Double / String); a column with a non-stat-friendly
    * type or any missing block statistic is simply absent from the
    * result — pruning then keeps the file. Strings are safe here
    * (unlike the footer AGGREGATE pushdown) because a truncated parquet
    * string bound is still a valid BOUND — file skipping needs
    * containment, not exact extrema. NULL counts are summed across
    * blocks for the non-leading columns ([[statColsTypedOf]]'s order
    * contract) and recorded only when every block sets them — an ALL-
    * NULL file thus still gets its count (it has no min/max at all),
    * which is precisely what lets a pushed `IS NOT NULL` skip it. */
  private def pkFileStats(conf: org.apache.hadoop.conf.Configuration,
                          file: Path, cols: Seq[(String, DataType)])
      : FileFooter = {
    val tracked = cols.collect { case (c, t) if statStorable(t) => c }
    val nullTracked = cols.drop(1).collect {
      case (c, t) if statStorable(t) => c
    }
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        def norm(v: Any): Any = v match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
          case f: java.lang.Float => f.doubleValue()
          case d: java.lang.Double => d.doubleValue()
          case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
          case o => throw new IllegalStateException(s"unexpected stat $o")
        }
        def le(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Long, y: Long) => x <= y
          case (x: Double, y: Double) => x <= y
          // unsigned UTF-8 byte order, matching parquet stat semantics
          case (x: String, y: String) => Manifest.utf8Le(x, y)
          case _ => throw new IllegalStateException("mixed stat types")
        }
        val mn = scala.collection.mutable.Map.empty[String, Any]
        val mx = scala.collection.mutable.Map.empty[String, Any]
        val ok = scala.collection.mutable.Map.from(tracked.map(_ -> true))
        val nulls = scala.collection.mutable.Map.from(nullTracked.map(_ -> 0L))
        val nullsOk = scala.collection.mutable.Map.from(nullTracked.map(_ -> true))
        var rows = 0L
        reader.getFooter.getBlocks.forEach { bl =>
          rows += bl.getRowCount
          if (ok.valuesIterator.exists(identity) ||
              nullsOk.valuesIterator.exists(identity)) {
            val chunks = scala.collection.mutable.Map
              .empty[String, org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]
            bl.getColumns.forEach { c =>
              val n = c.getPath.toDotString
              if (ok.getOrElse(n, false) || nullsOk.getOrElse(n, false))
                chunks(n) = c
            }
            tracked.foreach { c =>
              if (ok(c)) {
                val s = chunks.get(c).map(_.getStatistics).orNull
                if (s == null || !s.hasNonNullValue) ok(c) = false
                else {
                  val bmn = norm(s.genericGetMin)
                  val bmx = norm(s.genericGetMax)
                  if (!mn.contains(c) || le(bmn, mn(c))) mn(c) = bmn
                  if (!mx.contains(c) || le(mx(c), bmx)) mx(c) = bmx
                }
              }
            }
            // null counts are INDEPENDENT of min/max validity: an
            // all-null chunk has no bounds but a definite count
            nullTracked.foreach { c =>
              if (nullsOk(c)) {
                val s = chunks.get(c).map(_.getStatistics).orNull
                if (s == null || !s.isNumNullsSet) nullsOk(c) = false
                else nulls(c) += s.getNumNulls
              }
            }
          }
        }
        FileFooter(Some(rows),
          tracked.collect {
            case c if ok(c) && mn.contains(c) => c -> ColStats(mn(c), mx(c))
          }.toMap,
          nullTracked.collect {
            case c if nullsOk(c) => c -> nulls(c)
          }.toMap)
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        FileFooter(None, Map.empty, Map.empty)
    }
  }

  /** Materialize a changelog batch to `.staging-changelog-*` (the
    * classification must run while the pre-image is still the live
    * snapshot) and return (staging, committed-batch-dir). The caller
    * renames staging into place via [[commitChangelogBatch]] only AFTER
    * its data commit — a mutation that fails mid-commit leaves no batch
    * claiming changes that never landed — and deletes staging in a
    * `finally` (a no-op once renamed). A staging write that throws —
    * e.g. cancelled by [[inParallel]] because the concurrent data write
    * failed — deletes its own partial staging before the caller ever
    * learns its path. Batch numbers are monotonic under the write
    * lock. */
  private def stageChangelogBatch(spark: SparkSession, dir: String,
                                  changes: DataFrame): (Path, Path) =
    (stageChanges(spark, dir, changes), nextChangelogDst(fs(spark, dir), dir))

  /** [[stageChangelogBatch]] without the batch number: [[commit]]
    * takes it after its flip ([[Txn]]). */
  private def stageChanges(spark: SparkSession, dir: String,
                           changes: DataFrame): Path = {
    val clStaging = new Path(dir, s".staging-changelog-${UUID.randomUUID()}")
    try {
      changes.write.parquet(clStaging.toString)
      clStaging
    } catch {
      case e: Throwable =>
        fs(spark, dir).delete(clStaging, true)
        throw e
    }
  }

  /** One side of a change — its pre-image or its post-image: the rows
    * of a classified frame that hold it (`present`) and its value of
    * each column. */
  private final case class Image(present: Column, value: String => Column)

  /** The side every row holds, valued by the row's own columns. */
  private val Present = Image(lit(true), col)

  /** The side no row holds: an insert's pre-image, a delete's
    * post-image. */
  private val Absent = Image(lit(false), _ => lit(null))

  /** THE CHANGELOG CLASSIFIER — the one place a batch's rows are
    * decided: every verb's images, the stream epochs' and
    * [[diffImages]]. Over `rows` it emits (pk…, op, old_<c>, new_<c>, …),
    * the non-PK columns in `schema` order and typed by it:
    *  - a row present on neither side is dropped (a tombstone for an
    *    absent key changed nothing);
    *  - `old_*` is NULL on an `insert`, `new_*` NULL on a `delete`;
    *  - a row on both sides is an `update` when a `compared` column
    *    differs (null-safe `<=>`), else `unchanged` — the incoming value
    *    columns of a partial upsert, an update's SET keys, every non-PK
    *    column otherwise.
    * `key` reads a PK column (a USING join's merged key by default). */
  private def changes(rows: DataFrame, schema: StructType, pk: Seq[String],
                      pre: Image, post: Image, compared: Seq[String],
                      key: String => Column = col): DataFrame = {
    val changed = compared.map(c => !(pre.value(c) <=> post.value(c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val images = schema.fieldNames.filterNot(pk.contains).toSeq.flatMap { c =>
      val t = schema(c).dataType
      Seq(when(pre.present, pre.value(c)).cast(t).as(s"old_$c"),
        when(post.present, post.value(c)).cast(t).as(s"new_$c"))
    }
    val op = when(!pre.present, lit("insert"))
      .when(!post.present, lit("delete"))
      .when(changed, lit("update"))
      .otherwise(lit("unchanged"))
    rows.filter(pre.present || post.present)
      .select(pk.map(c => key(c).as(c)) ++ (op.as("op") +: images): _*)
  }

  /** Next `_changelog/batch=<n>` target. Batch numbers are monotonic
    * UNDER THE WRITE LOCK — the optimistic paths (appendConcurrent,
    * stream epochs) stage their images unlocked but must compute the
    * destination inside the lock, or two committers would claim the
    * same number. */
  private def nextChangelogDst(f: FileSystem, dir: String): Path = {
    val clRoot = new Path(dir, ChangelogDir)
    val next =
      if (!f.exists(clRoot)) 0L
      else f.listStatus(clRoot)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
        .foldLeft(-1L)(math.max) + 1L
    new Path(clRoot, s"batch=$next")
  }

  private def commitChangelogBatch(f: FileSystem, op: String,
                                   src: Path, dst: Path): Unit = {
    f.mkdirs(dst.getParent)
    if (!f.rename(src, dst))
      throw new StoreException(
        s"$op: data committed but changelog rename $src -> $dst failed")
  }

  /** THE FLIP — [[commit]]'s last step: every mutation's staged files
    * `st` become manifest version N+1 here (see [[Manifest]] for the
    * isolation argument).
    *
    *  - MOVE-IN: exactly the files [[stageFiles]] listed — `files`
    *    first, then the delete-vector sidecars `dvs` — are renamed INTO
    *    their live bucket dirs under commit-unique names
    *    (`<commit>-<name>`, DVs `<commit>-dv-<name>`): additive and
    *    invisible, since no manifest references them yet.
    *  - ROLLBACK: a failed mkdir or rename deletes the files already
    *    moved and aborts with a [[StoreException]]; a throwing
    *    [[Manifest.commit]] deletes them too and rethrows. Either way
    *    the current snapshot, and every live file, is untouched.
    *  - FILES: untouched buckets carry over. `extend` appends a
    *    bucket's staged files to its list (append, stream, merge-on-read
    *    post-images); otherwise they REPLACE it (the rewrites). A bucket
    *    of `removeMissing` that staged no file leaves the snapshot (CoW
    *    delete, a tombstoning merge, rebucket's old layout).
    *  - DVS: a replaced bucket drops its DVs — the rewrite read through
    *    them, so dropping them IS the materialization; elsewhere they
    *    ride along, extended by `dvs`.
    *
    * Superseded files stay for [[vacuum]], so readers of the previous
    * snapshot are never disturbed. GUARD RAIL: this runs inside the
    * write lock — keep it renames plus manifest arithmetic; listing
    * and footer IO belong in [[stageFiles]], before the lock. */
  private def flip(spark: SparkSession, f: FileSystem, dir: String,
                   data: String, op: String, base: Manifest, st: Flip[_],
                   dvs: Map[Int, Seq[Staged]],
                   streamEpoch: Option[(String, Long)]): Manifest = {
    val commitId = UUID.randomUUID().toString.take(8)
    val tag = if (dvs.isEmpty) op else s"$op(mor)"
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    def abort(msg: String): Nothing = {
      moved.foreach(p => f.delete(p, false))
      throw new StoreException(
        s"$tag: $msg; commit aborted, current snapshot unchanged")
    }
    def moveIn(staged: Map[Int, Seq[Staged]], pfx: String, noun: String)
        : Map[Int, Seq[ManifestFile]] =
      staged.map { case (b, fls) =>
        val tdir = new Path(data, s"$BucketCol=$b")
        if (!f.mkdirs(tdir)) abort(s"could not create bucket dir $tdir")
        b -> fls.map { s =>
          val dst = new Path(tdir, s"$commitId-$pfx${s.path.getName}")
          if (!f.rename(s.path, dst))
            abort(s"could not move staged $noun ${s.path} -> $dst")
          moved += dst
          s.entry.copy(name = dst.getName)
        }
      }
    val newData = moveIn(st.files, "", "file")
    val newDv = moveIn(dvs, "dv-", if (st.files.isEmpty) "DV" else "file")
    val newFiles = base.files -- st.removeMissing ++ newData.map {
      case (b, fls) =>
        b -> (if (st.extend) base.files.getOrElse(b, Nil) ++ fls else fls)
    }
    val keptDvs = base.dvs.filter { case (b, _) =>
      newFiles.contains(b) && (st.extend || !newData.contains(b))
    }
    val mf = Manifest(base.version + 1, st.newBuckets.getOrElse(base.buckets),
      newFiles, op = Some(op),
      dvs = keptDvs ++ newDv.map { case (b, fls) =>
        b -> (keptDvs.getOrElse(b, Nil) ++ fls)
      },
      // the streaming sink's epoch ledger (and an append's txn token)
      // rides in the SAME atomic flip as its data — exactly-once
      streams = base.streams ++ streamEpoch)
    try Manifest.commit(spark, dir, mf)
    catch { case e: Throwable => moved.foreach(p => f.delete(p, false)); throw e }
  }

  /** Commit ONE streaming-sink epoch (see [[KeyedStreamingWrite]])
    * through [[commit]] — OPTIMISTICALLY, the [[appendConcurrent]]
    * protocol: every delta-bounded validation job (intra-epoch PK NULLs
    * and dups, overlap vs stored keys, CHECK constraints, the upsert
    * decomposition's pre-image join) runs against the epoch-START
    * snapshot OUTSIDE the write lock, so a table fed by a sink and
    * concurrent batch writers
    * never serializes behind an epoch's validation; the LOCKED section
    * re-validates only what its window ADDED (usually nothing ⇒ zero
    * IO) and holds for the manifest flip. An epoch at or below the
    * query's recorded high-water mark is a NO-OP (exactly-once over
    * replay — the ledger lives in the manifest, same atomic flip as
    * the data, and is MONOTONIC, so the unlocked fast-exit is sound);
    * zombie-task leftovers are dropped (only files named by successful
    * commit messages move in); the staged files commit with
    * `streams(queryId) = epochId`.
    *
    * `upsertMode` (sink option `sink_mode=upsert`): instead of the
    * append contract, the epoch UPSERTS by PK — matched stored rows'
    * positions tombstone via delete vectors and the staged files land
    * as their post-images (the merge-on-read decomposition, so every
    * epoch writes ∝ |epoch| bytes however large the table). The shape
    * `outputMode(Update)` windowed aggregates and CDC folds need from
    * a native sink; replays stay no-ops through the same ledger. The
    * tombstoned positions must reference the COMMIT-TIME snapshot, so
    * if the lock window changed a touched bucket's live set the
    * decomposition re-derives inside the lock (still delta-bounded,
    * and only in that rare race). */
  private[store] def commitStreamEpoch(spark: SparkSession, tblDir: String,
                                       data: String, queryId: String,
                                       epochId: Long, staging: String,
                                       writerBuckets: Int,
                                       allowedFiles: Set[String],
                                       upsertMode: Boolean = false,
                                       commitWaitMs: Long = 60000L): Unit = {
    val f = fs(spark, tblDir)
    val (wh, ref) = refOf(tblDir)
    try commit(Optimistic(commitWaitMs), spark, tblDir, data, "stream",
        if (upsertMode) "stream-upsert" else "stream", (),
        ledger = Some(queryId -> epochId)) { tx =>
      val meta0 = tx.meta
      if (tx.base.buckets != writerBuckets)
        throw new ConcurrentWriteException(
          s"stream sink epoch $epochId of $tblDir: table rebucketed " +
          s"$writerBuckets -> ${tx.base.buckets} mid-stream; epoch " +
          "aborted (table unchanged) — restart the streaming query " +
          "so its writers pick up the new layout")
      // sweep staging: keep only successful tasks' files (the staging
      // dir is private to this query, so no lock is needed); what is
      // left is the epoch, its footers read here — the sink is the
      // highest-frequency committer, its flip must stay a flip
      val stagingPath = new Path(staging)
      if (f.exists(stagingPath))
        f.listStatus(stagingPath).filter(_.isDirectory).foreach { d =>
          f.listStatus(d.getPath).foreach { st =>
            val rel = s"${d.getPath.getName}/${st.getPath.getName}"
            if (!(st.isFile && st.getPath.getName.endsWith(".parquet") &&
                  allowedFiles.contains(rel))) f.delete(st.getPath, false)
          }
        }
      val epochFiles = stageFiles(spark, f, staging, statColsTypedOf(meta0))
      val touched = epochFiles.keys.toSeq.sorted
      // empty epoch: nothing to commit — a replay re-stages the same
      // rows and exits at the ledger check again harmlessly
      if (touched.isEmpty) None
      else {
        // the epoch's staged files through the store's reader, as a
        // snapshot of its own (executors staged under PHYSICAL names —
        // KeyedStreamingWrite's fileSchema — which the scan maps back to
        // the logical schema for the driver-side joins and checks)
        val staged = KeyedTableSource.frame(spark, meta0, staging,
          tx.base.copy(files = epochFiles.map { case (b, fls) => b -> fls.map(_.entry) },
            dvs = Map.empty), tblDir)
        // the same NULL and uniqueness contract as a batch append, in
        // the one job a duplicate check alone would cost
        validateAndTouched(staged, meta0.pk, wantPk = true)
        enforceChecks(staged, meta0.checks, "stream-sink")
        // append mode: the epoch's rows as ONE insert-image batch (no
        // pre-image join — base-independent, so never re-derived)
        def inserts: DataFrame =
          changes(staged, meta0.schema, meta0.pk, Absent, Present, Nil)
        // upsert mode: the merge-on-read decomposition against a given
        // base — pre-image join classifies CDC images and collects the
        // matched rows' (bucket, file, pos) tombstones, returned staged
        def deriveUpsert(baseM: Manifest, metaM: TableMeta)
            : Map[Int, Seq[Staged]] = {
          val oldPos = withPositions(scanAt(spark, wh, ref, metaM, baseM))
            .filter(col(BucketCol).isin(touched: _*))
          val j = staged.as("n")
            .join(oldPos.as("o"), metaM.pk.toIndexedSeq, "left")
          val old = Image(col(s"o.$BucketCol").isNotNull, c => col(s"o.$c"))
          if (metaM.changelog)
            tx.log(changes(j, metaM.schema, metaM.pk, old,
              Image(lit(true), c => col(s"n.$c")),
              metaM.schema.fieldNames.filterNot(metaM.pk.contains).toSeq))
          tx.stageDvs("stream-dv", j.filter(old.present), touched, old.value)
        }
        if (upsertMode)
          // the DVs must tombstone COMMIT-TIME positions: re-derived in
          // the lock when the window changed a touched bucket's live set
          // (e.g. a concurrent batch upsert of the same keys), or CDC
          // flipped on since the pin without images — the one commit
          // that stages, footers included, inside the lock
          Some(Flip((), epochFiles, deriveUpsert(tx.base, meta0),
            extend = true, rows = Some(() => staged),
            recheck = (metaL, baseL) =>
              if (movedBuckets(tx.base, baseL, touched).isEmpty &&
                  (meta0.changelog || !metaL.changelog)) None
              else {
                tx.unlog()
                Some(deriveUpsert(baseL, metaL))
              }))
        else {
          // overlap pre-check vs the pin (the locked re-check covers
          // files added since, so together they cover the commit-time
          // snapshot exactly)
          val old = scanAt(spark, wh, ref, meta0, tx.base)
            .filter(col(BucketCol).isin(touched: _*))
          val overlap = staged.join(old, meta0.pk.toIndexedSeq, "left_semi")
            .limit(5).select(meta0.pk.map(col): _*).collect()
          if (overlap.nonEmpty)
            throw new StoreException(
              s"stream sink epoch $epochId would overwrite existing PKs, " +
              s"e.g. ${overlap.mkString(", ")} (the sink appends; " +
              "replays are handled by the epoch ledger, not upserts — " +
              "for update-by-key semantics set option sink_mode=upsert)")
          if (meta0.changelog) tx.log(inserts)
          Some(Flip((), epochFiles, extend = true, rows = Some(() => staged),
            images = Some(() => inserts),
            recheck = (metaL, baseL) => {
              val clash = addedKeys(spark, wh, ref, metaL, tx.base, baseL,
                touched, staged)
              if (clash.nonEmpty)
                throw new StoreException(
                  s"stream sink epoch $epochId would overwrite PK(s) " +
                  s"${clash.mkString(", ")} written by a concurrent " +
                  "mutation while the epoch staged (the sink appends — " +
                  "for update-by-key semantics set option " +
                  "sink_mode=upsert)")
              None
            }))
        }
      }
    } finally f.delete(new Path(staging), true)
  }

  /** Drop a RETIRED streaming query's epoch-ledger entry — one metadata
    * flip committing the current manifest minus `streams(queryId)`
    * (the SQL surface is `CALL graft.system.drop_stream_ledger`; the
    * ledger is readable as the `t$streams` metadata table). Without
    * this, every entry rides EVERY future commit of the table forever.
    *
    * Only for queries that will never run again: the entry is exactly
    * what makes an epoch replay a no-op ([[commitStreamEpoch]]), so
    * dropping a LIVE query's entry lets its replayed epochs re-apply.
    * It also releases the query's `.staging-stream-<queryId>` root to
    * [[vacuum]] (which skips roots holding a ledger entry). Returns
    * false when the query holds no entry. Branch refs address their
    * own chain's ledger. */
  def dropStreamLedger(spark: SparkSession, warehouse0: String,
                       tableName: String, queryId: String,
                       schema: Option[String] = None): Boolean = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    WriteLock.withLock(spark, dir, s"dropStreamLedger($queryId)") {
      val m = Manifest.current(spark, dir)
      m.streams.contains(queryId) && {
        Manifest.commit(spark, dir, m.copy(version = m.version + 1,
          op = Some(s"dropStreamLedger($queryId)"), tsMs = None,
          streams = m.streams - queryId))
        true
      }
    }
  }

  /** Shared Auto/CoW/MoR strategy decision for every row-mutating
    * commit (delete, update, merge) — pure manifest arithmetic, zero
    * IO: Auto takes MoR while the matched row count stays within
    * [[MorMaxFraction]] of the touched buckets' live rows (past that,
    * most of the touched data is changing and the CoW rewrite — which
    * also re-compacts — wins). A touched file without a recorded row
    * count makes Auto choose CoW. */
  private def morDecision(m: Manifest, mode: DeleteMode,
                          touched: Seq[Int], matched: Long): Boolean =
    mode match {
      case DeleteMode.CopyOnWrite => false
      case DeleteMode.MergeOnRead => true
      case DeleteMode.Auto =>
        val touchedSet = touched.toSet
        val fls = m.files.filter(kv => touchedSet(kv._1))
          .valuesIterator.flatten.toSeq
        val dvDead = m.dvs.filter(kv => touchedSet(kv._1))
          .valuesIterator.flatten.flatMap(_.rows).sum
        if (!fls.forall(_.rows.isDefined)) false // unknown sizes: CoW
        else {
          val live = fls.flatMap(_.rows).sum - dvDead
          matched <= (live * MorMaxFraction).toLong
        }
    }

  /** Snapshot `mf` of `table` through the store's one reader
    * ([[KeyedTableSource.frame]]): `meta`'s logical columns (old files
    * lacking evolved columns yield NULLs) plus `pb_bucket`, with the
    * snapshot's delete vectors applied — every verb (mutation
    * pre-images, probes, diff, restore) and readSql sees live rows
    * only. Resolves the file set through the manifest — never a
    * directory walk, and immune to in-flight commits. */
  private def scanAt(spark: SparkSession, warehouse: String, table: String,
                     meta: TableMeta, mf: Manifest): DataFrame =
    KeyedTableSource.frame(spark, meta, dataDir(warehouse, table), mf,
      tableDir(warehouse, table))

  /** Internal (file, position) identity columns a position-exposing
    * read carries — what a MoR delete writes into its DV sidecars. */
  private[store] val FileCol = "_graft_file"
  private[store] val PosCol = "_graft_pos"

  /** `df` (a [[scanAt]] frame) with each row's physical identity:
    * [[FileCol]] (its parquet file's name) and [[PosCol]] (its row
    * ordinal in that file), the scan's metadata columns. */
  private def withPositions(df: DataFrame): DataFrame =
    df.select(col("*"), col(FileCol), col(PosCol))

  /** Auto delete-mode threshold: MoR while matches ≤ this fraction of
    * the touched buckets' live rows; past it, most of the touched data
    * is dying and the CoW rewrite (which also SHRINKS the table) wins. */
  private val MorMaxFraction = 0.2

  /** RENAME COLUMN boundary, write side: alias every renamed LOGICAL
    * column to its PHYSICAL file name just before a staged data write
    * — live files speak physical forever (see [[TableMeta.renames]]).
    * Identity (the same DataFrame, zero plan nodes) on tables without
    * renames, i.e. everywhere until the first rename. Columns outside
    * the map (pb_bucket, _graft_file/pos, changelog images) pass
    * through untouched. The read side needs no inverse: the scan
    * requests physical names from parquet and reports logical ones. */
  private def toPhys(df: DataFrame, meta: TableMeta): DataFrame =
    if (meta.renames.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(meta.renames.getOrElse(c, c))).toIndexedSeq: _*)

  /** Who holds the write lock from a committer's pin to its flip (see
    * [[commit]]). Not an option: the locked row-verb entry points
    * ([[toSql]], [[delete]], [[update]], [[merge]]) run their body under
    * [[Locked]] inside their own `WriteLock.withLock`; the `*Concurrent`
    * twins, layout maintenance and stream epochs under [[Optimistic]]. */
  private sealed trait CommitPolicy {
    /** The verb's name in manifests, changelog errors, CHECK errors and
      * lock holders: `verb` locked, `<verb>Concurrent` optimistic. */
    def label(verb: String): String = this match {
      case Locked => verb
      case Optimistic(_) => s"${verb}Concurrent"
    }

    /** Run a short section — the flip, an auto-index reservation, a
      * CDC-flag write — exclusively: inline when the caller already
      * holds the lock, else queuing up to `waitMs` for it. */
    def exclusive[A](spark: SparkSession, dir: String, op: String)
                    (body: => A): A = this match {
      case Locked => body
      case Optimistic(waitMs) =>
        WriteLock.withLockWait(spark, dir, op, waitMs)(body)
    }
  }

  /** The caller holds the write lock from the pin to the flip: the
    * pinned snapshot IS the latest, so every re-validation passes. */
  private case object Locked extends CommitPolicy

  /** Stage unlocked against the pinned snapshot; take the lock (queuing
    * up to `waitMs` behind other committers) only to re-validate and
    * flip. A failed re-validation throws [[ConcurrentWriteException]]
    * with the table unchanged and staging cleaned — retry the call. */
  private final case class Optimistic(waitMs: Long) extends CommitPolicy

  /** Identifier cleaning of incoming column names (the reference cleans
    * silently; helpers.py:228). */
  private def cleanColumns(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      val cc = Names.cleanName(c)
      if (cc == c) d else d.withColumnRenamed(c, cc)
    }

  private val StrictUtcHint =
    "(naive TimestampNTZ rejected; convert to a UTC instant, or pass " +
    "strictUtc=false to pin the wall-clock to UTC) (reference: sql.py:133)"
  private val OptimisticUtcHint =
    "(naive TimestampNTZ rejected, as in toSql strictUtc)"

  /** Reject naive (TimestampNTZ) datetime columns; `hint` ends the
    * message. */
  private def rejectNaive(df: DataFrame, hint: String): Unit = {
    val naive = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (naive.nonEmpty)
      throw new StoreException(
        s"Column(s) ${naive.map(_.name).mkString(", ")} timezone must be set $hint")
  }

  private def requireTable(spark: SparkSession, dir: String,
                           missing: => String): Unit =
    if (!TableMeta.exists(spark, dir)) throw new StoreException(missing)

  /** The touched buckets whose live file or delete-vector set moved
    * between two snapshots: a rewrite staged against the first read a
    * pre-image that is no longer the truth (and MoR positions index
    * files that may be gone). */
  private def movedBuckets(base0: Manifest, latest: Manifest,
                           touched: Seq[Int]): Seq[Int] =
    if (latest.version == base0.version) Nil
    else {
      def window(m: Manifest, b: Int): (Set[String], Set[String]) =
        (m.files.getOrElse(b, Nil).map(_.name).toSet,
          m.dvs.getOrElse(b, Nil).map(_.name).toSet)
      touched.filter(b => window(base0, b) != window(latest, b))
    }

  /** Up to five PKs of `rows` that files ADDED to the `touched` buckets
    * between `base0` and `latest` already hold: the flip-time half of
    * an append's overlap probe (the staging half read `base0`), so
    * together they cover the commit-time snapshot. No added file — the
    * usual case, and always when nothing committed since — means no
    * IO. Callers word their own conflict. */
  private def addedKeys(spark: SparkSession, wh: String, table: String,
                        meta: TableMeta, base0: Manifest, latest: Manifest,
                        touched: Seq[Int], rows: DataFrame): Array[Row] = {
    val added = touched.flatMap { b =>
      val before = base0.files.getOrElse(b, Nil).map(_.name).toSet
      val now = latest.files.getOrElse(b, Nil)
        .filterNot(x => before.contains(x.name))
      if (now.isEmpty) None else Some(b -> now)
    }.toMap
    if (added.isEmpty) Array.empty
    else rows.join(scanAt(spark, wh, table, meta,
        latest.copy(files = added)), meta.pk, "left_semi")
      .limit(5).select(meta.pk.map(col): _*).collect()
  }

  /** Test-only seam of [[commit]], keyed by verb (`append`, `upsert`,
    * `merge`, `update`, `delete`, `stream`, `compact`, `zorder`,
    * `rebucket`): an OPTIMISTIC commit runs its verb's hook between its
    * stage phase and taking the lock (a locked one has no window
    * there), so a spec can land an interfering mutation
    * deterministically inside the window the re-validation must catch
    * (or, for a disjoint-bucket writer, must NOT catch). A hook fires on
    * every entry — one that runs its own verb optimistically recurses,
    * so guard it. A no-op in production. */
  private[store] object CommitSeam {
    private val hooks =
      new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
    def apply(verb: String): () => Unit = hooks.getOrDefault(verb, () => ())
    def update(verb: String, hook: () => Unit): Unit = hooks.put(verb, hook): Unit
  }

  /** One commit's pin and scratch, handed to a committer's stage phase
    * by [[commit]]: the meta and manifest it stages against, its two
    * stagers (data files, delete vectors), the staging dirs and cached
    * frames it creates, and its changelog batch
    * (see [[readChangelog]]) — staged from the pinned pre-image beside
    * the data write, renamed to the next batch number only after the
    * flip, so a failed mutation leaves no batch claiming changes that
    * never landed. [[discard]] deletes and unpersists all of it (an
    * already-published batch is gone from staging). */
  private final class Txn(spark: SparkSession, dir: String) {
    val meta: TableMeta = TableMeta.read(spark, dir)
    val base: Manifest = Manifest.current(spark, dir)
    val f: FileSystem = fs(spark, dir)
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    @volatile private var images: Option[Path] = None

    /** A fresh `.staging-<kind>-<uuid>` dir under the table. */
    def staging(kind: String): String = synchronized {
      dirs += s"$dir/.staging-$kind-${UUID.randomUUID()}"
      dirs.last
    }

    /** THE BUCKET STAGER — every data write a committer stages (append,
      * upsert and merge, update, delete, compact, rebucket): `rows`
      * (logical names, `pb_bucket` set) clustered over the buckets
      * `inPlay` and sorted by `meta`'s PK ([[clusterByBucket]]), written
      * under their physical names ([[toPhys]]) to a fresh
      * `.staging-<kind>-*` dir and staged with `meta`'s stat columns
      * ([[stageFiles]]). create and zorderCompact keep their own
      * writers: create's fuses its validation into the write before any
      * table exists, zorder's sorts by a transient Morton column and
      * caps the row-group size. */
    def stageBuckets(kind: String, rows: DataFrame, inPlay: Seq[Int],
                     meta: TableMeta): Map[Int, Seq[Staged]] = {
      val out = staging(kind)
      toPhys(clusterByBucket(rows, inPlay, meta.pk), meta)
        .write.partitionBy(BucketCol).parquet(out)
      stageFiles(spark, f, out, statColsTypedOf(meta))
    }

    /** THE DV STAGER — a merge-on-read commit's delete vectors: the
      * (bucket, file, pos) identities of `rows`' pre-image (`pre` reads
      * its columns), one sidecar per touched bucket sorted by (file,
      * pos), staged under a fresh `.staging-<kind>-*` dir. */
    def stageDvs(kind: String, rows: DataFrame, touched: Seq[Int],
                 pre: String => Column = col): Map[Int, Seq[Staged]] = {
      val out = staging(kind)
      rows.select(pre(BucketCol).as(BucketCol), pre(FileCol).as("file"),
          pre(PosCol).as("pos"))
        .transform(clusterByBucket(_, touched, Seq("file", "pos")))
        .write.partitionBy(BucketCol).parquet(out)
      stageFiles(spark, f, out, Nil)
    }

    def persist(df: DataFrame): DataFrame = synchronized {
      cached += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
    def log(changes: DataFrame): Unit =
      images = Some(stageChanges(spark, dir, changes))
    def logged: Boolean = images.nonEmpty
    def unlog(): Unit = {
      images.foreach(f.delete(_, true))
      images = None
    }
    def publish(op: String): Unit =
      images.foreach(s => commitChangelogBatch(f, op, s, nextChangelogDst(f, dir)))
    def discard(): Unit = {
      dirs.foreach(d => f.delete(new Path(d), true))
      unlog()
      cached.foreach(_.unpersist())
    }
  }

  /** A committer's staged commit, handed back to [[commit]]: its
    * `result`, the files and delete vectors it staged and how they flip
    * (`extend`, `removeMissing`, `newBuckets` — see [[flip]]), and what
    * the commit re-validates under the lock:
    *  - `touched`: the buckets whose pre-image it read — a commit into
    *    any of them since the pin aborts it;
    *  - `evolved`: the schema it staged (append, upsert, merge), merged
    *    into the latest; without it the schema must be unchanged;
    *  - `rows`: the rows it writes, CHECKed against constraints
    *    registered since the pin;
    *  - `images`: its changelog images, staged late when CDC was turned
    *    on since the pin (every mutation of a CDC table lands a batch);
    *  - `recheck`: its own checks against the latest meta and manifest;
    *    `Some(dvs)` replaces the staged delete vectors.
    * `cdc` arms table-property CDC; `metaEdit` edits the final meta. */
  private final case class Flip[A](
      result: A,
      files: Map[Int, Seq[Staged]],
      dvs: Map[Int, Seq[Staged]] = Map.empty,
      extend: Boolean = false,
      removeMissing: Seq[Int] = Nil,
      newBuckets: Option[Int] = None,
      touched: Seq[Int] = Nil,
      evolved: Option[StructType] = None,
      rows: Option[() => DataFrame] = None,
      images: Option[() => DataFrame] = None,
      cdc: Boolean = false,
      recheck: (TableMeta, Manifest) => Option[Map[Int, Seq[Staged]]] =
        (_: TableMeta, _: Manifest) => None,
      metaEdit: TableMeta => TableMeta = identity[TableMeta])

  /** THE COMMIT — every staged mutation (the four row verbs, stream
    * epochs, compact, zorder, rebucket) runs this one sequence:
    *  1. PIN one meta and one manifest ([[Txn]]). A `ledger` token (an
    *     append's `txn`, a stream epoch) at or below the one recorded
    *     makes the commit a no-op here, before any job.
    *  2. STAGE: `stage` writes the committer's files against the pin and
    *     returns its [[Flip]], or None when there is nothing to commit.
    *  3. SEAM: an optimistic commit runs its verb's [[CommitSeam]] hook.
    *  4. LOCK under `policy`, re-read the meta and the manifest and
    *     re-validate, in order: the ledger (a replay that landed
    *     meanwhile makes this a no-op), the bucket count, the schema, the
    *     touched-bucket window, CHECKs registered since the pin, the
    *     committer's `recheck`. A failure throws
    *     [[ConcurrentWriteException]] with the table unchanged. Under
    *     [[Locked]] the pin IS the latest, so every check passes.
    *  5. FLIP ([[flip]]), then publish the changelog batch (staged late
    *     if CDC was switched on since the pin), then write the meta if
    *     it changed.
    * Staging dirs, cached frames and an unpublished batch go in every
    * case. Returns the Flip's result, or `idle` when nothing committed.
    * GUARD RAIL: the locked section is manifest arithmetic, renames and
    * small-file writes; a committer's `recheck` reads data only for what
    * the window added (usually nothing). */
  private def commit[A](policy: CommitPolicy, spark: SparkSession,
                        dir: String, data: String, verb: String, op: String,
                        idle: A, ledger: Option[(String, Long)] = None)
                       (stage: Txn => Option[Flip[A]]): A = {
    val tx = new Txn(spark, dir)
    def replayed(m: Manifest): Boolean =
      ledger.exists { case (id, v) => m.streams.get(id).exists(_ >= v) }
    val retry = verb match {
      case "stream" =>
        "epoch aborted (table unchanged) — restart the streaming query"
      case "compact" | "zorder" | "rebucket" => "re-staging"
      case v => s"retry the $v"
    }
    def conflict(msg: String): Nothing =
      throw new ConcurrentWriteException(s"$msg; $retry")
    if (replayed(tx.base)) return idle
    try stage(tx).fold(idle) { st =>
      if (policy != Locked) CommitSeam(verb)()
      policy.exclusive(spark, dir, s"$op(commit)") {
        val meta = TableMeta.read(spark, dir)
        val latest = Manifest.current(spark, dir)
        if (replayed(latest)) idle
        else {
          if (latest.buckets != tx.base.buckets)
            conflict(s"bucket count changed ${tx.base.buckets} -> " +
              s"${latest.buckets} (concurrent rebucket); the staged files " +
              "use the old layout")
          val now = meta.schema.fields.map(x => x.name -> x.dataType).toMap
          val schema = st.evolved match {
            case ev if meta.schema == tx.meta.schema => ev.getOrElse(meta.schema)
            case None =>
              conflict(s"table schema changed while this $verb staged (the " +
                "staged files use the old schema)")
            case Some(ev) =>
              // columns added meanwhile are kept (our files read NULL for
              // them); a re-typed or since-dropped staged column aborts
              ev.fields.foreach { x =>
                now.get(x.name).filter(_ != x.dataType).foreach { t =>
                  conflict(s"column ${x.name} is now ${t.catalogString} but " +
                    s"this $verb staged ${x.dataType.catalogString} " +
                    "(concurrent schema change)")
                }
                if (meta.dropped.contains(x.name) && !now.contains(x.name))
                  conflict(s"column ${x.name} was dropped by a concurrent " +
                    "mutation; its staged values would be silently discarded")
              }
              StructType(meta.schema.fields ++
                ev.fields.filterNot(x => now.contains(x.name)))
          }
          val dirty = movedBuckets(tx.base, latest, st.touched)
          if (dirty.nonEmpty)
            conflict(s"bucket(s) ${dirty.sorted.take(5).mkString(", ")} " +
              s"changed since this $verb staged (a concurrent commit into a " +
              "bucket it read); the staged files read a stale pre-image")
          val added = meta.checks -- tx.meta.checks.keySet
          if (added.nonEmpty) st.rows.foreach { rows =>
            // a CHECK added meanwhile may reference a column these rows
            // do not carry — a clean conflict, never a raw analysis error
            try enforceChecks(rows(), added, s"$op(commit)")
            catch {
              case e: org.apache.spark.sql.AnalysisException =>
                conflict(s"a CHECK constraint added while this $verb staged " +
                  "references column(s) its rows do not carry (concurrent " +
                  s"schema change): ${e.getMessage}")
            }
          }
          val dvs = st.recheck(meta, latest).getOrElse(st.dvs)
          if (meta.changelog && !tx.logged) st.images.foreach(im => tx.log(im()))
          flip(spark, tx.f, dir, data, op, latest, st, dvs, ledger)
          tx.publish(op)
          val edited = st.metaEdit(meta.copy(schema = schema,
            changelog = st.cdc || meta.changelog))
          if (edited != meta) TableMeta.write(spark, dir, edited)
          st.result
        }
      }
    } finally tx.discard()
  }

  /** How many attempts layout maintenance makes before giving up. */
  private val MaintenanceAttempts = 5

  /** Bounded statement-level AUTO-RETRY for SQL DML lowered onto the
    * optimistic verbs (`commit_mode=optimistic`) — see [[retrying]];
    * read by [[sqlRetries]]. */
  val SqlMaxRetriesConf = "spark.graft.sql.maxRetries"
  val SqlMaxRetriesDefault = 5

  /** [[SqlMaxRetriesConf]]'s value; a non-positive or non-integer value
    * refuses loudly. */
  private[graft] def sqlRetries(spark: SparkSession): Int = {
    val raw = spark.conf.get(SqlMaxRetriesConf, SqlMaxRetriesDefault.toString)
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new StoreException(
        s"$SqlMaxRetriesConf must be a positive integer, got '$raw'"))
  }

  /** THE RETRY LOOP around whole optimistic attempts, each re-pinning
    * and re-staging against the fresh snapshot, so retrying is always
    * correct: an aborted attempt committed nothing. Two callers:
    *  - layout maintenance ([[MaintenanceAttempts]]): a rewrite with no
    *    logical change is always the side that re-stages, so ingest
    *    writers never wait behind it and never abort for it;
    *  - SQL DML lowered onto the optimistic verbs ([[sqlRetries]],
    *    naming [[SqlMaxRetriesConf]] as the `dial`): a Spark-SQL-only
    *    orchestrator sees one statement, not a retry loop of its own
    *    (MERGE re-pins its routing snapshot on each attempt).
    * Bounded: a table too hot to ever win surfaces loudly. */
  private[graft] def retrying[A](op: String, attempts: Int, dial: String = "")
                                (body: => A): A = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case _: ConcurrentWriteException if attempt < attempts => attempt += 1
        case e: ConcurrentWriteException =>
          throw new ConcurrentWriteException(
            s"$op: gave up after $attempts attempts, each aborted by a " +
            s"concurrent writer (last: ${e.getMessage}); the table is " +
            s"unchanged — ${if (dial.isEmpty) "" else s"raise $dial or "}" +
            "rerun when write traffic quiets")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The append body behind [[toSql]]'s `how = Append` (under
    * [[Locked]]) and [[appendConcurrent]] (under [[Optimistic]]),
    * committed by [[commit]] with `txn` as its ledger token. Appends add
    * uniquely named files, so two appends to the same buckets never
    * physically conflict; only the flip serializes.
    *
    * STAGE against the pin: auto-index tables reserve their id range in
    * a short exclusive section (the mark commits before the data: a
    * crash leaves an id gap, never a duplicate); the delta is bucketed,
    * CHECKed and PK-validated off one cache; the PK-overlap probe
    * against the pinned snapshot and the insert images run alongside
    * the staging write. The commit merges the staged schema into the
    * latest one and, as this verb's own check, re-runs the overlap
    * probe on only the files ADDED since the pin (usually none — no
    * IO), so with the pinned probe it covers the commit-time snapshot
    * exactly. The staged files extend their buckets. Under [[Locked]]
    * the labels are `append`. */
  private def appendWith(policy: CommitPolicy, df: DataFrame, wh: String,
                         tableName: String, addNewColumns: Boolean,
                         validate: Boolean, changelog: Boolean,
                         txn: Option[(String, Long)]): Unit = {
    val spark = df.sparkSession
    val label = policy.label("append")
    val dir = tableDir(wh, tableName)
    commit(policy, spark, dir, dataDir(wh, tableName), "append", label, (),
        ledger = txn) { tx =>
      // table-property CDC (see TableMeta.changelog): an append logs its
      // rows as `insert` ops — every row is new by the overlap contract
      val wantChangelog = changelog || tx.meta.changelog
      val (aligned0, evolved, metaUsed) =
        if (tx.meta.autoIndex) {
          // continue the synthetic PK from the stored high-water mark —
          // no table scan; pre-field tables recover via footer stats
          val n = df.count()
          val (start, m) = policy.exclusive(spark, dir, s"$label(reserve-ids)") {
            val m0 = TableMeta.read(spark, dir)
            val cur = m0.maxAutoIndex
              .getOrElse(footerMaxAutoIndex(spark, wh, tableName, m0))
            val m1 = m0.copy(maxAutoIndex = Some(cur + n))
            TableMeta.write(spark, dir, m1)
            (cur + 1L, m1)
          }
          val (withIds, n2) = assignAutoIndex(df, start)
          if (n2 != n)
            throw new StoreException(
              s"$label: incoming frame is non-deterministic " +
              s"($n rows at reservation, $n2 at assignment); ids would " +
              "escape the reserved range — materialize the input first")
          val (a, e) = align(withIds, m, addNewColumns)
          (a, e, m)
        } else {
          val (a, e) = align(df, tx.meta, addNewColumns)
          (a, e, tx.meta)
        }
      val newB = tx.persist(withBucket(aligned0, metaUsed.pk, tx.base.buckets))
      def inserts: DataFrame =
        changes(newB, evolved, metaUsed.pk, Absent, Present, Nil)
      enforceChecks(newB, metaUsed.checks, label)
      // validate AFTER persist so the (possibly expensive) incoming
      // pipeline is computed once; one fused job answers the PK check
      // and the touched-bucket set off the cache
      val touched = validateAndTouched(newB, metaUsed.pk,
        validate && !metaUsed.autoIndex)
      // the overlap probe and the insert images read only the pinned
      // snapshot and the cached delta — independent of the staging
      // write, so the jobs overlap (guide §2.6); the first failure
      // cancels the other side's jobs
      val (_, files) = inParallel(spark)(
        {
          if (!metaUsed.autoIndex) {
            val old = scanAt(spark, wh, tableName, metaUsed, tx.base)
              .filter(col(BucketCol).isin(touched: _*))
            val overlap = newB.join(old, metaUsed.pk, "left_semi").limit(5)
              .select(metaUsed.pk.map(col): _*).collect()
            if (overlap.nonEmpty)
              throw new StoreException(
                s"Append would overwrite existing PKs, e.g. ${overlap.mkString(", ")} " +
                "(reference: sql.py:264 append raises on repeated index)")
          }
          if (wantChangelog) tx.log(inserts)
        },
        tx.stageBuckets("append", newB, touched, metaUsed))
      Some(Flip((), files, extend = true, evolved = Some(evolved),
        rows = Some(() => newB), images = Some(() => inserts), cdc = wantChangelog,
        recheck = (meta, latest) => {
          if (!metaUsed.autoIndex) {
            val clash = addedKeys(spark, wh, tableName, meta, tx.base,
              latest, touched, newB)
            if (clash.nonEmpty)
              throw new ConcurrentWriteException(
                s"PK(s) ${clash.mkString(", ")} were written by a " +
                "concurrent mutation after this append staged; retry " +
                "(or use upsert semantics if overwrite is intended)")
          }
          None
        }))
    }
  }

  /** OPTIMISTIC append ([[appendWith]] under [[Optimistic]]): stages
    * unlocked and takes the write lock only for the flip, queuing up to
    * `commitWaitMs` behind other committers, so N ingest jobs into one
    * table overlap their write jobs. Same contract as [[toSql]]'s
    * append, `txn` included; the table must exist. Throws
    * [[ConcurrentWriteException]] (table unchanged; retry) on a
    * concurrent rebucket, a re-typed or dropped staged column, or a PK
    * another writer committed since this append pinned its snapshot. */
  def appendConcurrent(df: DataFrame, warehouse0: String, tableName: String,
                       addNewColumns: Boolean = false,
                       validate: Boolean = true,
                       schema: Option[String] = None,
                       changelog: Boolean = false,
                       commitWaitMs: Long = 60000L,
                       txn: Option[(String, Long)] = None): Unit = {
    val wh = schemaDir(warehouse0, schema)
    requireTable(df.sparkSession, tableDir(wh, tableName),
      s"appendConcurrent: table $tableName does not exist " +
      "(create it with toSql first — creation must arbitrate under the lock)")
    rejectNaive(df, OptimisticUtcHint)
    appendWith(Optimistic(commitWaitMs), cleanColumns(df), wh, tableName,
      addNewColumns, validate, changelog, txn)
  }

  /** Marker column carried through a merge's delta: TRUE = this key's
    * stored row is tombstoned (deleted if present, ignored if absent). */
  private val MergeDelCol = "_graft_merge_del"

  /** A merge feed: the tombstone flag FIRST (over the raw delta
    * columns, so `deleteWhen` may name feed-only columns), then the
    * identifier cleaning; [[upsertWith]] drops the feed-only columns. */
  private def mergeFeed(df: DataFrame, deleteWhen: Column): DataFrame =
    cleanColumns(df.withColumn(MergeDelCol, coalesce(deleteWhen, lit(false))))

  /** The upsert and merge body behind [[toSql]]'s `how = Upsert` and
    * [[merge]] (under [[Locked]]) and [[upsertConcurrent]] and
    * [[mergeConcurrent]] (under [[Optimistic]]), committed by [[commit]].
    *
    * Upsert overwrites ONLY the columns present in the incoming frame
    * (NULLs included); absent columns keep their stored values
    * (reference sql.py:299; tests/test_sql.py:533). With `tombstoned`
    * (merge) the frame carries [[MergeDelCol]]: a marked row DELETES
    * its stored match; unmatched it is a no-op, or — under
    * `deleteOnlyMatched`, SQL MERGE clause semantics — an ordinary
    * insert candidate. Returns (inserted, updated, deleted) for a
    * merge, (0, 0, 0) for an upsert.
    *
    * STAGE against the pin — a merge's `expectedVersion` (the SQL MERGE
    * routing read's snapshot) must be the pinned one: validate the
    * cached delta (one fused job also yields the touched buckets — only
    * those are read or rewritten), CHECK the rows it writes, then either
    * rewrite the touched buckets by one full-outer merge (copy-on-write)
    * or — a merge under [[DeleteMode]] MergeOnRead, or Auto below
    * [[MorMaxFraction]] — tombstone the matched rows' positions and
    * append the delta's surviving images. The changelog images (insert
    * / update / unchanged / delete, classified by one delta-sized join)
    * stage alongside. The commit's window is the touched buckets — every
    * bucket for a `strictVersion` merge, since a full-snapshot sync must
    * not miss an insert into an untouched one.
    *
    * The merge counts cost a dedicated delta-sized join only under
    * Auto, which needs the matched count before choosing the write
    * path; under an explicit mode they ride the staging write as
    * observe() metrics. Under [[Locked]] the labels are `upsert` /
    * `merge`, and a merge's commit is recorded as `upsert`. */
  private def upsertWith(policy: CommitPolicy, df0: DataFrame, wh: String,
                         tableName: String, addNewColumns: Boolean,
                         validate: Boolean, changelog: Boolean,
                         tombstoned: Boolean, deleteOnlyMatched: Boolean,
                         mode: DeleteMode, expectedVersion: Option[Long],
                         strictVersion: Boolean): (Long, Long, Long) = {
    val spark = df0.sparkSession
    val verb = if (tombstoned) "merge" else "upsert"
    val label = policy.label(verb)
    commit(policy, spark, tableDir(wh, tableName), dataDir(wh, tableName),
        verb, if (policy == Locked) "upsert" else label, (0L, 0L, 0L)) { tx =>
      val (meta0, base0) = (tx.meta, tx.base)
      if (meta0.autoIndex)
        throw new StoreException(
          "Cannot upsert into a table with an automatically generated index (reference: sql.py:177)")
      // SQL MERGE routing guard: a partial clause shape pre-filters the
      // feed against a PINNED snapshot's key set; once that is this
      // call's snapshot, the window check at the flip covers every later
      // movement (feed rows route by their own PK, whose bucket is by
      // construction in the touched set)
      expectedVersion.foreach { v =>
        if (base0.version != v)
          throw new ConcurrentWriteException(
            s"$label into $tableName planned against snapshot $v " +
            s"but the table is now at ${base0.version} (concurrent commit " +
            "since the routing read); table unchanged — retry the merge")
      }
      val df =
        if (!tombstoned) df0
        else df0.select(df0.columns.filter(c => c == MergeDelCol ||
          addNewColumns || meta0.schema.fieldNames.contains(c))
          .map(col).toIndexedSeq: _*)
      // table-property semantics: once ANY mutation has captured CDC the
      // meta flag is set and every later mutation captures it too
      val wantChangelog = changelog || meta0.changelog
      val incomingCols = df.columns.toSet - MergeDelCol
      val (aligned, evolved) = align(df, meta0, addNewColumns,
        passthrough = if (tombstoned) Set(MergeDelCol) else Set.empty)
      val newB = tx.persist(withBucket(aligned, meta0.pk, base0.buckets))
      val touched = validateAndTouched(newB, meta0.pk, validate)
      // read with the evolved schema: old files yield NULL for new columns
      val oldTouched = scanAt(spark, wh, tableName,
          meta0.copy(schema = evolved), base0)
        .filter(col(BucketCol).isin(touched: _*))
      val marked = newB.withColumn("_graft_new", lit(true))
      val newRow = col("n._graft_new").isNotNull
      // the target row, where it exists (every join below aliases it "o")
      val old = Image(col(s"o.$BucketCol").isNotNull, c => col(s"o.$c"))
      val del: Column = {
        val flag =
          if (tombstoned) coalesce(col(s"n.$MergeDelCol"), lit(false))
          else lit(false)
        if (deleteOnlyMatched) flag && old.present else flag
      }
      // the rows this verb WRITES: tombstones remove rows and are
      // exempt — except an unmatched one under deleteOnlyMatched, an
      // insert candidate. The commit re-enforces new CHECKs over this
      // same construction.
      def checkRows: DataFrame =
        if (!tombstoned) newB
        else {
          val keepRows = newB.filter(!coalesce(col(MergeDelCol), lit(false)))
          if (!deleteOnlyMatched) keepRows
          else keepRows.unionByName(
            newB.filter(coalesce(col(MergeDelCol), lit(false)))
              .join(oldTouched.select(meta0.pk.map(col): _*),
                meta0.pk.toIndexedSeq, "left_anti"))
        }
      enforceChecks(checkRows, meta0.checks, label)
      val nonPk = evolved.fieldNames.filterNot(meta0.pk.contains).toSeq
      def post(c: String): Column =
        if (incomingCols.contains(c))
          when(newRow, col(s"n.$c")).otherwise(col(s"o.$c"))
        else col(s"o.$c")
      // a tombstoned match is a delete; the incoming value columns
      // decide update vs unchanged
      def images: DataFrame = changes(
        marked.as("n").join(oldTouched.as("o"), meta0.pk.toIndexedSeq, "left"),
        evolved, meta0.pk, old, Image(!del, post),
        nonPk.filter(incomingCols.contains).sorted)
      val statAggs = Seq(
        coalesce(sum(when(newRow && !del && !old.present, 1L).otherwise(0L)), lit(0L)).as("ins"),
        coalesce(sum(when(newRow && !del && old.present, 1L).otherwise(0L)), lit(0L)).as("upd"),
        coalesce(sum(when(del && old.present, 1L).otherwise(0L)), lit(0L)).as("del"))
      val statsEarly: Option[(Long, Long, Long)] =
        if (tombstoned && mode == DeleteMode.Auto) {
          val r = marked.as("n")
            .join(oldTouched.as("o"), meta0.pk.toIndexedSeq, "left")
            .agg(statAggs.head, statAggs.tail: _*).head()
          Some((r.getLong(0), r.getLong(1), r.getLong(2)))
        } else None
      val statsObs =
        if (tombstoned && statsEarly.isEmpty)
          Some(org.apache.spark.sql.Observation())
        else None
      def observeStats(j: DataFrame): DataFrame =
        statsObs.fold(j)(ob => j.observe(ob, statAggs.head, statAggs.tail: _*))
      // merge-on-read: the matched rows — updates and tombstones —
      // decompose into position deletes plus a delta-sized appended
      // file; inserts are additive anyway
      val mor = tombstoned && morDecision(base0, mode, touched,
        statsEarly.map(s => s._2 + s._3).getOrElse(0L))
      val (_, (files, dvs)) =
        if (mor) {
          // one LEFT join of the delta against the touched buckets'
          // position-exposing read, persisted so the DV and post-image
          // writes consume ONE compute of it
          val oldPos = withPositions(scanAt(spark, wh, tableName,
              meta0.copy(schema = evolved), base0))
            .filter(col(BucketCol).isin(touched: _*))
          val j = marked.as("n")
            .join(oldPos.as("o"), meta0.pk.toIndexedSeq, "left")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try inParallel(spark)(
            if (wantChangelog) tx.log(images),
            {
              val sidecars = tx.stageDvs(s"$verb-dv",
                observeStats(j).filter(old.present), touched, old.value)
              (tx.stageBuckets(verb, j.filter(!del)
                .select(meta0.pk.map(col) ++ nonPk.map(c => post(c).as(c)) :+
                  col(s"n.$BucketCol").as(BucketCol): _*), touched, meta0),
                sidecars)
            })
          finally j.unpersist()
        } else {
          // one full-outer merge per touched bucket: survivors keep old
          // rows, matches take incoming values for incoming columns,
          // inserts take incoming values, tombstoned matches drop out;
          // the observe node sits before the tombstone filter so every
          // counter sees every joined row
          val out = observeStats(oldTouched.as("o")
              .join(marked.as("n"), meta0.pk.toIndexedSeq, "full_outer"))
            .filter(!del)
            .select(meta0.pk.map(col) ++ nonPk.map(c => post(c).as(c)) :+
              coalesce(col(s"n.$BucketCol"), col(s"o.$BucketCol")).as(BucketCol): _*)
          inParallel(spark)(
            if (wantChangelog) tx.log(images),
            (tx.stageBuckets(verb, out, touched, meta0), Map.empty[Int, Seq[Staged]]))
        }
      val counts =
        if (!tombstoned) (0L, 0L, 0L)
        else statsEarly.getOrElse {
          val m = statsObs.get.get
          (m("ins").asInstanceOf[Long], m("upd").asInstanceOf[Long],
            m("del").asInstanceOf[Long])
        }
      // merge-on-read extends with post-images and DVs; a CoW merge's
      // touched bucket whose rows ALL tombstoned staged no file and
      // leaves the snapshot
      Some(Flip(counts, files, dvs, extend = mor,
        removeMissing = if (tombstoned && !mor) touched else Nil,
        touched = if (strictVersion) 0 until base0.buckets else touched,
        evolved = Some(evolved), rows = Some(() => checkRows),
        images = Some(() => images), cdc = wantChangelog))
    }
  }

  /** OPTIMISTIC upsert ([[upsertWith]] under [[Optimistic]]): stages
    * the bucket rewrite unlocked and takes the write lock only for the
    * flip, so N upsert jobs into N key ranges overlap their merge work.
    * Same contract as [[toSql]]'s upsert, partial-column semantics
    * included; the table must exist. Throws
    * [[ConcurrentWriteException]] (table unchanged; retry) on a
    * concurrent rebucket, a re-typed or dropped staged column, or a
    * commit since the pin into any bucket this upsert touches. */
  def upsertConcurrent(df: DataFrame, warehouse0: String, tableName: String,
                       addNewColumns: Boolean = false,
                       validate: Boolean = true,
                       schema: Option[String] = None,
                       changelog: Boolean = false,
                       commitWaitMs: Long = 60000L): Unit = {
    val wh = schemaDir(warehouse0, schema)
    requireTable(df.sparkSession, tableDir(wh, tableName),
      s"upsertConcurrent: table $tableName does not exist " +
      "(create it with toSql first — creation must arbitrate under the lock)")
    rejectNaive(df, OptimisticUtcHint)
    upsertWith(Optimistic(commitWaitMs), cleanColumns(df), wh, tableName,
      addNewColumns, validate, changelog, tombstoned = false,
      deleteOnlyMatched = false, DeleteMode.CopyOnWrite,
      expectedVersion = None, strictVersion = false)
    ()
  }

  /** OPTIMISTIC merge ([[upsertWith]] under [[Optimistic]]): same
    * contract as [[merge]], always copy-on-write (a change feed large
    * enough to want the optimistic path is usually past
    * [[MorMaxFraction]] anyway). `strictVersion` aborts the flip on ANY
    * commit since the pin, not only on touched buckets — for shapes
    * that read the whole snapshot (SQL `WHEN NOT MATCHED BY SOURCE`).
    * Throws [[ConcurrentWriteException]] (table unchanged; retry) like
    * [[upsertConcurrent]]. Returns (inserted, updated, deleted). */
  def mergeConcurrent(df: DataFrame, warehouse0: String, tableName: String,
                      deleteWhen: Column,
                      schema: Option[String] = None,
                      addNewColumns: Boolean = false,
                      validate: Boolean = true,
                      changelog: Boolean = false,
                      strictUtc: Boolean = true,
                      deleteOnlyMatched: Boolean = false,
                      commitWaitMs: Long = 60000L,
                      expectedVersion: Option[Long] = None,
                      strictVersion: Boolean = false): (Long, Long, Long) = {
    val wh = schemaDir(warehouse0, schema)
    if (strictUtc) rejectNaive(df, OptimisticUtcHint)
    requireTable(df.sparkSession, tableDir(wh, tableName),
      s"mergeConcurrent target $tableName does not exist (create it with toSql first)")
    upsertWith(Optimistic(commitWaitMs), mergeFeed(df, deleteWhen), wh,
      tableName, addNewColumns, validate, changelog, tombstoned = true,
      deleteOnlyMatched, DeleteMode.CopyOnWrite, expectedVersion,
      strictVersion)
  }

  /** A no-match update or delete that asked for `changelog` still arms
    * table-property CDC for later writers. */
  private def armChangelog(policy: CommitPolicy, spark: SparkSession,
                           dir: String, op: String): Unit =
    policy.exclusive(spark, dir, op) {
      val m = TableMeta.read(spark, dir)
      if (!m.changelog) TableMeta.write(spark, dir, m.copy(changelog = true))
    }

  /** The predicate-update body behind [[update]] (under [[Locked]]) and
    * [[updateConcurrent]] (under [[Optimistic]]), committed by
    * [[commit]].
    *
    * STAGE against the pin: one probe job counts the matches per bucket
    * (≤ buckets rows); CHECKs see every matched row's post-image; then
    * either the touched buckets are rewritten (copy-on-write) or —
    * [[DeleteMode]] MergeOnRead, or Auto below [[MorMaxFraction]] — the
    * matched rows' positions are tombstoned and their post-images
    * appended, moving |matches| rows, never the buckets. The update /
    * unchanged images stage alongside. The commit's window is the
    * touched buckets, the schema must be unchanged (the staged bucket
    * images use it), and CHECKs registered since the pin see the
    * post-images. Under [[Locked]] the labels are `update`. Returns the
    * matched-row count. */
  private def updateWith(policy: CommitPolicy, spark: SparkSession,
                         wh: String, tableName: String, where: Column,
                         set: Map[String, Column], changelog: Boolean,
                         mode: DeleteMode): Long = {
    val label = policy.label("update")
    val dir = tableDir(wh, tableName)
    commit(policy, spark, dir, dataDir(wh, tableName), "update", label, 0L) { tx =>
      val meta0 = tx.meta
      set.keys.foreach { c =>
        if (!meta0.schema.fieldNames.contains(c))
          throw new StoreException(
            s"update SET column $c not in table schema ${meta0.schema.fieldNames.toSeq}")
        if (meta0.pk.contains(c))
          throw new StoreException(
            s"update cannot SET primary-key column $c (a key move is a " +
            "delete + insert; use merge or delete/append)")
      }
      val cdc = changelog || meta0.changelog
      val raw = scanAt(spark, wh, tableName, meta0, tx.base)
      // NULL predicate rows are NOT matches (kept unchanged)
      val matched = coalesce(where, lit(false))
      // the matched pre-image: the probe, the checks, the images and the
      // merge-on-read writes all project from it
      val hits = raw.filter(matched)
      val probe = hits.groupBy(col(BucketCol))
        .agg(count(lit(1)).as("n")).collect()
      val touched = probe.map(_.getInt(0)).toSeq
      val nMatched = probe.map(_.getLong(1)).sum
      if (touched.isEmpty) {
        if (cdc && !meta0.changelog)
          armChangelog(policy, spark, dir, s"$label(cdc-flag)")
        None
      } else {
        // the typed post-image of column c on a matched row
        def newVal(c: String): Column =
          set.get(c).map(_.cast(meta0.schema(c).dataType)).getOrElse(col(c))
        val postCols = meta0.schema.fieldNames.toSeq.map(c => newVal(c).as(c))
        def postImages: DataFrame = hits.select(postCols: _*)
        enforceChecks(postImages, meta0.checks, label)
        def images: DataFrame = changes(hits, meta0.schema, meta0.pk,
          Present, Image(lit(true), newVal), set.keys.toSeq.sorted)
        val mor = morDecision(tx.base, mode, touched, nMatched)
        val (_, (files, dvs)) =
          if (mor) {
            // one read of the matched set feeds both staged writes
            val posFrame = withPositions(hits)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try inParallel(spark)(if (cdc) tx.log(images), {
              val sidecars = tx.stageDvs("update-dv", posFrame, touched)
              (tx.stageBuckets("update",
                posFrame.select(postCols :+ col(BucketCol): _*), touched, meta0),
                sidecars)
            })
            finally posFrame.unpersist()
          } else {
            val rewritten = meta0.schema.fieldNames.toSeq.map { c =>
              (if (set.contains(c)) when(matched, newVal(c)).otherwise(col(c))
               else col(c)).as(c)
            } :+ col(BucketCol)
            inParallel(spark)(if (cdc) tx.log(images),
              (tx.stageBuckets("update",
                raw.filter(col(BucketCol).isin(touched: _*)).select(rewritten: _*),
                touched, meta0), Map.empty[Int, Seq[Staged]]))
          }
        // post-image staging has the same bucket layout in BOTH modes
        Some(Flip(nMatched, files, dvs, extend = mor,
          touched = touched, rows = Some(() => postImages),
          images = Some(() => images), cdc = cdc))
      }
    }
  }

  /** OPTIMISTIC predicate update ([[updateWith]] under [[Optimistic]]):
    * same contract as [[update]]; stages unlocked and takes the write
    * lock only for the flip, so a backfill split by key range runs N
    * update jobs that serialize only on manifest flips. Throws
    * [[ConcurrentWriteException]] (table unchanged; retry) on a
    * concurrent rebucket, ANY schema change, or a commit since the pin
    * into a touched bucket. Returns the matched-row count. */
  def updateConcurrent(spark: SparkSession, warehouse0: String,
                       tableName: String, where: Column,
                       set: Map[String, Column],
                       schema: Option[String] = None,
                       changelog: Boolean = false,
                       mode: DeleteMode = DeleteMode.Auto,
                       commitWaitMs: Long = 60000L): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    val wh = schemaDir(warehouse0, schema)
    requireTable(spark, tableDir(wh, tableName),
      s"updateConcurrent: table $tableName does not exist")
    updateWith(Optimistic(commitWaitMs), spark, wh, tableName, where, set,
      changelog, mode)
  }

  /** The predicate-delete body behind [[delete]] (under [[Locked]]) and
    * [[deleteConcurrent]] (under [[Optimistic]]), committed by
    * [[commit]].
    *
    * STAGE against the pin: one probe job counts the matches per bucket
    * (≤ buckets rows; a PK-pinning `where` prunes its scan like a range
    * read); then either the touched buckets are rewritten without the
    * matched rows (copy-on-write — a bucket whose rows ALL match leaves
    * the snapshot) or — [[DeleteMode]] MergeOnRead, or Auto below
    * [[MorMaxFraction]] — only the matched rows' positions are staged
    * as per-bucket delete-vector sidecars ([[flip]] extends the DV
    * lists), moving kilobytes, not buckets. The delete images
    * (pre-image in `old_*`, `new_*` NULL) stage alongside. The commit's
    * window is the touched buckets and the schema must be unchanged:
    * the staged survivors, or positions, read a pre-image that must
    * still be the truth. Under [[Locked]] the labels are `delete`.
    * Returns the number of deleted rows. */
  private def deleteWith(policy: CommitPolicy, spark: SparkSession,
                         wh: String, tableName: String, where: Column,
                         changelog: Boolean, mode: DeleteMode): Long = {
    val label = policy.label("delete")
    val dir = tableDir(wh, tableName)
    commit(policy, spark, dir, dataDir(wh, tableName), "delete", label, 0L) { tx =>
      val meta0 = tx.meta
      // meta.changelog (table-property CDC) covers the paths that cannot
      // express the flag — SQL `DELETE FROM graft.t`
      val cdc = changelog || meta0.changelog
      val raw = scanAt(spark, wh, tableName, meta0, tx.base)
      // the matched pre-image: the probe, the images and the
      // merge-on-read positions all project from it
      val hits = raw.filter(where)
      val probe = hits.groupBy(col(BucketCol))
        .agg(count(lit(1)).as("n")).collect()
      val touched = probe.map(_.getInt(0)).toSeq
      val deleted = probe.map(_.getLong(1)).sum
      if (touched.isEmpty) {
        if (cdc && !meta0.changelog)
          armChangelog(policy, spark, dir, s"$label(cdc-flag)")
        None
      } else {
        // strategy decision from manifest arithmetic alone (zero IO)
        val mor = morDecision(tx.base, mode, touched, deleted)
        def images: DataFrame =
          changes(hits, meta0.schema, meta0.pk, Present, Absent, Nil)
        // merge-on-read stages DV sidecars (the scan re-applies existing
        // DVs, so no position tombstones twice), copy-on-write the
        // survivors — NULL predicate rows are NOT matches, so they stay
        // (a bare !where would silently drop them)
        val (_, (files, dvs)) = inParallel(spark)(if (cdc) tx.log(images),
          if (mor)
            (Map.empty[Int, Seq[Staged]],
              tx.stageDvs("delete", withPositions(hits), touched))
          else
            (tx.stageBuckets("delete", raw.filter(col(BucketCol).isin(touched: _*))
              .filter(!coalesce(where, lit(false))), touched, meta0),
              Map.empty[Int, Seq[Staged]]))
        Some(Flip(deleted, files, dvs, extend = mor,
          removeMissing = if (mor) Nil else touched, touched = touched,
          images = Some(() => images), cdc = cdc))
      }
    }
  }

  /** OPTIMISTIC predicate delete ([[deleteWith]] under [[Optimistic]]):
    * same contract as [[delete]]; stages unlocked and takes the write
    * lock only for the flip, so an erasure sweep split by key range
    * runs N jobs that serialize only on manifest flips. Throws
    * [[ConcurrentWriteException]] (table unchanged; retry) on a
    * concurrent rebucket, ANY schema change, or a commit since the pin
    * into a touched bucket. Returns the number of deleted rows. */
  def deleteConcurrent(spark: SparkSession, warehouse0: String,
                       tableName: String, where: Column,
                       schema: Option[String] = None,
                       changelog: Boolean = false,
                       mode: DeleteMode = DeleteMode.Auto,
                       commitWaitMs: Long = 60000L): Long = {
    val wh = schemaDir(warehouse0, schema)
    requireTable(spark, tableDir(wh, tableName),
      s"deleteConcurrent: table $tableName does not exist")
    deleteWith(Optimistic(commitWaitMs), spark, wh, tableName, where,
      changelog, mode)
  }

  /** Per-bucket layout health from FOOTER metadata only — (bucket,
    * n_files, n_rows, n_row_groups, bytes): the report that drives
    * compaction policy ("which buckets accumulated small files from
    * appends", "is the row-group geometry still scan-friendly") as an
    * O(files) driver metadata pass with zero data bytes read — over
    * the current snapshot's live files, so the numbers describe
    * exactly what a query would read. Missing buckets report a zero
    * row so the frame always has one row per bucket. */
  def bucketStats(spark: SparkSession, warehouse0: String, tableName: String,
                  schema: Option[String] = None): DataFrame = {
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    val rows = bucketHealthRows(spark, dir, dataDir(warehouse, tableName))
      .map { case (b, nf, nr, ng, bytes, _, _) => (b, nf, nr, ng, bytes) }
    import spark.implicits._
    rows.toDF("bucket", "n_files", "n_rows", "n_row_groups", "bytes")
  }

  /** The bucket-health numbers behind [[bucketStats]] AND the
    * `t$buckets` metadata table — one tuple per bucket:
    * (bucket, n_files, n_rows, n_row_groups, bytes, dv_files, dv_rows).
    * `n_rows` counts DATA-file rows (live rows = n_rows − dv_rows;
    * both are surfaced so a dashboard can compute either). Manifest
    * n_files/bytes/dv arithmetic is zero-IO; row/row-group geometry
    * reads exactly the LIVE files' footers on the driver stats pool —
    * never superseded files awaiting vacuum, never data bytes. */
  private[store] def bucketHealthRows(spark: SparkSession, dir: String,
                                      data0: String)
      : Seq[(Int, Long, Long, Long, Long, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = new Path(data0)
    def footersOf(ps: Seq[Path]): (Long, Long) = { // (rows, rowGroups)
      import scala.jdk.CollectionConverters._
      val tasks = ps.map { p =>
        new java.util.concurrent.Callable[(Long, Long)] {
          override def call() = {
            val in =
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
            val reader =
              org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val blocks = reader.getFooter.getBlocks
              var rows = 0L
              blocks.forEach(bl => rows += bl.getRowCount)
              (rows, blocks.size().toLong)
            } finally reader.close()
          }
        }
      }
      statsPool.invokeAll(tasks.asJava).asScala.map(_.get())
        .foldLeft((0L, 0L)) { case ((r, g), (r2, g2)) => (r + r2, g + g2) }
    }
    // n_files/bytes/DV arithmetic straight from the snapshot (zero
    // listings); row-group geometry from pooled footer reads
    val m = Manifest.current(spark, dir)
    val byBucket = m.files.map { case (b, fls) =>
      val (rows, groups) = footersOf(
        fls.map(mfF => new Path(data, s"$BucketCol=$b/${mfF.name}")))
      val dvl = if (fls.isEmpty) Nil else m.dvs.getOrElse(b, Nil)
      b -> ((fls.size.toLong, rows, groups, fls.map(_.len).sum,
        dvl.size.toLong, dvl.flatMap(_.rows).sum))
    }
    (0 until m.buckets).map { b =>
      val (nf, nr, ng, bytes, dvf, dvr) =
        byBucket.getOrElse(b, (0L, 0L, 0L, 0L, 0L, 0L))
      (b, nf, nr, ng, bytes, dvf, dvr)
    }
  }

  /** Test-only interleave seam for [[vacuum]]: invoked between the
    * UNLOCKED liveness pre-walk and the locked reap, so a spec can
    * land a commit / tag deterministically inside the window the
    * locked delta re-protection must cover. A no-op in production. */
  private[store] object VacuumHooks {
    @volatile var betweenPhases: () => Unit = () => ()
  }

  /** Compact buckets that have accumulated many small files (each
    * append adds one file per touched bucket — the small-files problem
    * at 100 TB). Buckets with at least `minFiles` parquet files are
    * rewritten to a single file outside the lock and committed by one
    * manifest flip (readers never see a half state); buckets below
    * the threshold are untouched. Returns the number of buckets
    * compacted. */
  def compact(spark: SparkSession, warehouse0: String, tableName: String,
              minFiles: Int = 4, schema: Option[String] = None,
              commitWaitMs: Long = 60000L): Int =
    compactBuckets(spark, schemaDir(warehouse0, schema), tableName,
        "compact", commitWaitMs) { base =>
      (0 until base.buckets).filter(b =>
        base.files.getOrElse(b, Nil).size >= minFiles)
    }.size

  /** Rewrite the buckets `crowded` picks from the pinned manifest to one
    * file each WITHOUT holding the write lock for the rewrite — an
    * optimistic [[commit]] whose window is the rewritten buckets (a
    * layout rewrite has no logical change, so that window moving is its
    * only conflict). The rewrite reads THROUGH the buckets' delete
    * vectors, and the flip drops them, materializing the tombstones.
    * Ingest writers racing it serialize only on the flip; on conflict
    * the MAINTENANCE re-stages ([[retrying]]), never the ingest.
    * Returns the rewritten buckets. */
  private def compactBuckets(spark: SparkSession, warehouse: String,
                             tableName: String, op: String,
                             commitWaitMs: Long)
                            (crowded: Manifest => Seq[Int]): Seq[Int] =
    retrying(op, MaintenanceAttempts) {
      commit(Optimistic(commitWaitMs), spark, tableDir(warehouse, tableName),
          dataDir(warehouse, tableName), "compact", "compact", Seq.empty[Int]) { tx =>
        val bs = crowded(tx.base)
        if (bs.isEmpty) None
        else {
          Some(Flip(bs, tx.stageBuckets("compact",
            scanAt(spark, warehouse, tableName, tx.meta, tx.base)
              .filter(col(BucketCol).isin(bs: _*)), bs, tx.meta),
            touched = bs))
        }
      }
    }

  /** #11p auto-compaction policy: the consumer of [[bucketStats]]'s
    * footer-only layout report. Decides per bucket, from metadata alone
    * (zero data bytes read when nothing is crowded), whether the bucket
    * breaches either health threshold:
    *  - `maxFilesPerBucket` — append small-files accumulation, and/or
    *  - `minAvgRowsPerFile` — fragmentation into scan-hostile slivers
    *    (only when the bucket has > 1 file; one small file IS compact),
    * and rewrites ONLY the breaching buckets (same staging + swap
    * protocol as upsert). The maintenance loop at 100 TB: appends land
    * as cheap per-bucket file adds, and this policy pays the rewrite
    * only where, and only when, the layout actually degraded — a
    * scheduled `compactIfNeeded` per table replaces any full-table
    * rewrite cadence. Returns the bucket ids it compacted. */
  def compactIfNeeded(spark: SparkSession, warehouse0: String,
                      tableName: String, maxFilesPerBucket: Int = 4,
                      minAvgRowsPerFile: Long = 0,
                      schema: Option[String] = None,
                      maxDeleteFraction: Double = 0.2,
                      commitWaitMs: Long = 60000L): Seq[Int] =
    // OPTIMISTIC policy pass: the breach decision AND the rewrite both
    // run against the current snapshot outside the lock — the healthy
    // steady state (nothing crowded) now costs one manifest read and
    // ZERO lock traffic, which is what lets this ride every streaming
    // sink epoch without contending with the sink's own committers.
    compactBuckets(spark, schemaDir(warehouse0, schema), tableName,
        "compactIfNeeded", commitWaitMs) { base =>
      // delete-vector density straight from the manifest (zero IO): a
      // bucket whose tombstoned fraction breaches the bound rewrites —
      // the read-side masking cost is bounded BY POLICY, and the
      // rewrite both materializes the DVs and reclaims the dead bytes
      val dvCrowded: Seq[Int] = base.dvs.toSeq.collect {
        case (b, dvFls)
          if {
            val dead = dvFls.flatMap(_.rows).sum
            val fls = base.files.getOrElse(b, Nil)
            dead > 0 && fls.forall(_.rows.isDefined) && {
              val total = fls.flatMap(_.rows).sum
              total > 0 && dead.toDouble / total > maxDeleteFraction
            }
          } => b
      }
      // layout health from the MANIFEST alone whenever it carries row
      // counts (every file this code writes does): the no-op case then
      // costs one manifest read — which is what lets maintenance ride
      // every upsert-mode (and opt-in append-mode, see auto_compact)
      // streaming-sink epoch. A table with a file whose footer could
      // not be read at commit (no recorded count) falls back to the
      // footer-only bucketStats report (O(files) footer opens, still
      // zero data pages).
      val crowded: Seq[Int] =
        if (base.files.valuesIterator.flatten.forall(_.rows.isDefined))
          base.files.toSeq.collect { case (b, fls)
            if fls.size > maxFilesPerBucket ||
              (fls.size > 1 && minAvgRowsPerFile > 0 &&
               fls.flatMap(_.rows).sum / fls.size < minAvgRowsPerFile) => b }
        else bucketStats(spark, warehouse0, tableName, schema)
          .collect().toSeq
          .filter { r =>
            val (nf, nr) = (r.getLong(1), r.getLong(2))
            nf > maxFilesPerBucket ||
              (nf > 1 && minAvgRowsPerFile > 0 && nr / nf < minAvgRowsPerFile)
          }
          .map(_.getInt(0))
      (crowded ++ dvCrowded).distinct.sorted
    }

  /** Morton (Z-order) value of 2–4 numeric columns: values scale
    * affinely onto [0, 2^bits) against broadcast min/max scalars, then
    * bit-interleave via the classic per-stride mask-spread chains —
    * pure long arithmetic, codegen-friendly, no UDF. Bits per
    * dimension: 21 for 2 or 3 columns, 15 for 4 (the widest spread
    * whose top bit, shifted by the last column's lane offset, stays
    * below the sign bit — Morton order must compare as UNSIGNED, and
    * keeping every z value non-negative makes the signed long sort
    * agree). Constant and all-NULL columns map to 0 (any order is
    * clustered). */
  private def zValue(cols: Seq[Column],
                     mins: Seq[Option[Double]],
                     maxs: Seq[Option[Double]]): Column = {
    val n = cols.size
    val bits = if (n <= 3) 21 else 15
    def scaled(c: Column, mn: Option[Double], mx: Option[Double]): Column =
      if (mn.isEmpty || mx.isEmpty || mx == mn) lit(0L)
      else ((c.cast("double") - lit(mn.get)) / lit(mx.get - mn.get) *
        lit(((1L << bits) - 1).toDouble)).cast("long")
    // each chain doubles the gap between bit groups until single bits
    // sit `n` apart; the masks are the standard 2D/3D/4D Morton magic
    def spread2(x0: Column): Column = { // 21 bits, stride 2
      var v = x0.bitwiseAND(lit(0x1FFFFFL))
      v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x3333333333333333L))
      v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    def spread3(x0: Column): Column = { // 21 bits, stride 3
      var v = x0.bitwiseAND(lit(0x1FFFFFL))
      v = v.bitwiseOR(shiftleft(v, 32)).bitwiseAND(lit(0x001F00000000FFFFL))
      v = v.bitwiseOR(shiftleft(v, 16)).bitwiseAND(lit(0x001F0000FF0000FFL))
      v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
      v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
      v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x1249249249249249L))
    }
    def spread4(x0: Column): Column = { // 15 bits, stride 4
      var v = x0.bitwiseAND(lit(0x7FFFL))
      v = v.bitwiseOR(shiftleft(v, 24)).bitwiseAND(lit(0x000000FF000000FFL))
      v = v.bitwiseOR(shiftleft(v, 12)).bitwiseAND(lit(0x000F000F000F000FL))
      v = v.bitwiseOR(shiftleft(v, 6)).bitwiseAND(lit(0x0303030303030303L))
      v.bitwiseOR(shiftleft(v, 3)).bitwiseAND(lit(0x1111111111111111L))
    }
    val spread: Column => Column =
      n match { case 2 => spread2; case 3 => spread3; case _ => spread4 }
    cols.indices.map { i =>
      val s = spread(scaled(cols(i), mins(i), maxs(i)))
      if (i == 0) s else shiftleft(s, i)
    }.reduce(_ bitwiseOR _)
  }

  /** #11r Z-order clustering: rewrite every bucket with rows sorted by
    * the Morton interleave of 2–4 columns, so parquet row-group
    * min/max stats become tight on EVERY clustered dimension — a range
    * predicate on any of them (or several) prunes row groups, where a
    * PK-sorted layout prunes only on the leading key. This is the
    * standard multi-dimensional clustering move at 100 TB
    * (Delta/Iceberg Z-ORDER, which also accept n columns): the bucket
    * layout (PK hashing, co-partitioned joins, commit protocol) is
    * untouched — only the order WITHIN each bucket's files changes,
    * via the same staging + swap as compaction. Per-dimension
    * resolution is 21 bits for 2–3 columns, 15 for 4 ([[zValue]]) —
    * still far finer than any row-group boundary. More dimensions
    * dilute each one's clustering (the bits interleave), so 2–3 is
    * the sweet spot and 4 the ceiling, matching the engines above.
    * NULLs in a z column sort first (cast yields NULL → z NULL); an
    * all-NULL or constant column contributes 0 bits and the remaining
    * dimensions cluster as if it were absent.
    * `parquetBlockBytes` caps the row-group size so large buckets split
    * into several stat-pruned groups (None = parquet default, the right
    * choice at real scale).
    *
    * Scale shape: one footer-free min/max aggregate (2 scalars per
    * column), then exactly the compaction rewrite — one shuffle by
    * bucket, sort within, swap. Cost equals one compact; the payoff is
    * every subsequent selective scan on any z dimension. */
  def zorderCompact(spark: SparkSession, warehouse0: String,
                    tableName: String, zCols: Seq[String],
                    parquetBlockBytes: Option[Long] = None,
                    schema: Option[String] = None,
                    commitWaitMs: Long = 60000L): Unit = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"zorderCompact interleaves 2 to 4 columns, got ${zCols.size}")
    val warehouse = schemaDir(warehouse0, schema)
    // OPTIMISTIC rewrite ([[commit]] + [[retrying]]): the min/max
    // aggregate, the Morton sort, and the full bucket rewrite all run
    // against the pin OUTSIDE the lock — a multi-hour Z-order of a 100 TB
    // table is no longer a writer outage. The window is every bucket
    // holding live files; ingest into a NEW bucket (keys hashing where
    // no file lived yet) is disjoint and commits right through it.
    retrying("zorderCompact", MaintenanceAttempts) {
      commit(Optimistic(commitWaitMs), spark, tableDir(warehouse, tableName),
          dataDir(warehouse, tableName), "zorder", "zorder", ()) { tx =>
        val meta0 = tx.meta
        zCols.foreach { c =>
          if (!meta0.schema.fieldNames.contains(c))
            throw new StoreException(s"zorder column $c not in table schema")
        }
        val touched = tx.base.files.keys.toSeq.sorted
        val raw = scanAt(spark, warehouse, tableName, meta0, tx.base)
        // 2 scalars per column from one aggregate — broadcast into the
        // sort key; a column whose min is NULL (all-NULL/empty) degrades
        // to a constant-0 lane in zValue
        val mmExprs = zCols.flatMap(c => Seq(
          min(col(c).cast("double")), max(col(c).cast("double"))))
        val mm = raw.agg(mmExprs.head, mmExprs.tail: _*).head()
        def at(i: Int): Option[Double] =
          if (mm.isNullAt(i)) None else Some(mm.getDouble(i))
        val mins = zCols.indices.map(i => at(2 * i))
        val maxs = zCols.indices.map(i => at(2 * i + 1))
        if (mins.forall(_.isEmpty)) None // fully NULL/empty table: no-op
        else {
          val staging = tx.staging("zorder")
          // the sort + rewrite job — OUTSIDE the lock; its own writer,
          // not the bucket stager: it sorts by a transient Morton column
          // dropped before the write and caps the row-group size
          val writer = toPhys(raw.withColumn("_z", zValue(zCols.map(col), mins, maxs))
            .transform(clusterByBucket(_, touched, Seq("_z")))
            .drop("_z"), meta0)
            .write.partitionBy(BucketCol)
          parquetBlockBytes.fold(writer)(n =>
            writer.option("parquet.block.size", n.toString))
            .parquet(staging)
          // Z-ordering makes per-file bounds on the clustered columns
          // tight — exactly when per-column manifest stats pay off. This
          // commit's files carry them (staged with the z columns already
          // tracked), and the commit registers them so every later
          // commit records them too. A full rewrite of every pinned
          // bucket — and any bucket born AFTER a drop was already written
          // post-drop — so dropped names are re-addable again (see
          // dropColumns).
          def withZ(m: TableMeta): TableMeta = m.copy(statsCols =
            (m.statsCols ++ zCols.filter(c => statStorable(m.schema(c).dataType))
              .filterNot(m.pk.headOption.contains)).distinct)
          Some(Flip((), stageFiles(spark, tx.f, staging,
            statColsTypedOf(withZ(meta0))), touched = touched,
            metaEdit = m => withZ(m).copy(dropped = Nil)))
        }
      }
    }
  }

  /** #11q predicate delete: remove every row matching `where` (a NULL
    * predicate is no match), rewriting or tombstoning ONLY the buckets
    * that contain a match, in one manifest flip under the write lock —
    * readers never observe a half state. `mode` picks the physical
    * strategy ([[DeleteMode]]; [[deleteWith]] describes both).
    * `changelog` (or the table property) logs one `delete` row per
    * removed row. Returns the number of rows deleted. */
  def delete(spark: SparkSession, warehouse0: String, tableName: String,
             where: Column, schema: Option[String] = None,
             changelog: Boolean = false,
             mode: DeleteMode = DeleteMode.Auto): Long = {
    val wh = schemaDir(warehouse0, schema)
    WriteLock.withLock(spark, tableDir(wh, tableName), "delete") {
      deleteWith(Locked, spark, wh, tableName, where, changelog, mode)
    }
  }

  /** #11w predicate update: set value columns to new expressions on
    * every row matching `where` (a NULL predicate is no match), in one
    * manifest flip under the write lock. `set` maps existing NON-PK
    * columns to expressions over the row's CURRENT values (`col("v") *
    * 2` works), each cast to the stored type so the schema never
    * drifts; PK columns are rejected — a key move is a delete + insert
    * (see [[merge]]). `mode` picks copy-on-write or merge-on-read
    * ([[DeleteMode]]; see [[updateWith]]). CDC logs one `update` /
    * `unchanged` row per matched row with exact before/after images.
    * Returns the matched-row count. Reference concept: pandas'
    * `df.loc[mask, col] = expr` applied to the stored table. */
  def update(spark: SparkSession, warehouse0: String, tableName: String,
             where: Column, set: Map[String, Column],
             schema: Option[String] = None,
             changelog: Boolean = false,
             mode: DeleteMode = DeleteMode.Auto): Long = {
    require(set.nonEmpty, "update needs at least one SET column")
    val wh = schemaDir(warehouse0, schema)
    WriteLock.withLock(spark, tableDir(wh, tableName), "update") {
      updateWith(Locked, spark, wh, tableName, where, set, changelog, mode)
    }
  }

  /** #11aa metadata-only column DROP — the inverse of `addNewColumns`
    * evolution: the column leaves the logical schema (reads project
    * `meta.schema`, so live files' physical data for it is simply never
    * read again) and every future write aligns to the reduced schema.
    * Zero data IO — at 100 TB, dropping a column is a metadata edit,
    * not a rewrite; the dead bytes go away as compaction/zorder/rebucket
    * naturally rewrite files.
    *
    * Safety: the name is remembered in [[TableMeta.dropped]] and schema
    * evolution REJECTS re-adding it while any pre-drop file could still
    * be live — old values would silently resurrect instead of reading
    * NULL (the hazard Iceberg solves with field IDs). A FULL rewrite
    * (rebucket, zorderCompact) replaces every live file with the
    * current schema and clears the list.
    *
    * PK columns cannot be dropped. Stats columns referencing the
    * dropped name are pruned. */
  def dropColumns(spark: SparkSession, warehouse0: String, tableName: String,
                  cols: Seq[String], schema: Option[String] = None): Unit = {
    require(cols.nonEmpty, "dropColumns needs at least one column")
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    WriteLock.withLock(spark, dir, "dropColumns") {
      val meta = TableMeta.read(spark, dir)
      cols.foreach { c =>
        if (!meta.schema.fieldNames.contains(c))
          throw new StoreException(
            s"cannot drop $c: not in table schema ${meta.schema.fieldNames.toSeq}")
        if (meta.pk.contains(c))
          throw new StoreException(s"cannot drop primary-key column $c")
      }
      TableMeta.write(spark, dir, meta.copy(
        schema = StructType(meta.schema.fields.filterNot(f => cols.contains(f.name))),
        statsCols = meta.statsCols.filterNot(cols.contains),
        // tombstone the PHYSICAL name — that is what live files carry
        // (dropping a renamed column must block re-adding its physical
        // name, not its display name, which is safe to reuse)
        dropped = (meta.dropped ++ cols.map(meta.physName)).distinct,
        renames = meta.renames -- cols))
    }
  }

  /** Metadata-only column RENAME (`ALTER TABLE … RENAME COLUMN`): the
    * logical schema takes the new name, and [[TableMeta.renames]]
    * remembers the column's PHYSICAL name — fixed at creation, never
    * changed — so not one data byte moves and every snapshot (time
    * travel, incremental reads, branches sharing the data dir) keeps
    * resolving. Readers alias physical→logical in one projection;
    * writers alias back at staging; manifest stats and parquet
    * pushdown stay keyed physical throughout. The field-ID-free form
    * of Iceberg's rename.
    *
    * Refused shapes, each a real hazard:
    *  - PK columns: the bucket layout, manifest leading-PK stats, and
    *    every co-bucketed join key on them;
    *  - a target name already in the schema, or tombstoned in
    *    [[TableMeta.dropped]] (pre-drop physical bytes may be live), or
    *    serving as another column's physical name;
    *  - a column referenced by a CHECK constraint (the stored predicate
    *    SQL would silently stop resolving — drop and re-add the check
    *    with the new name);
    *  - a non-clean target name (same rule as every created column).
    *
    * Historical `t$changelog` batches keep their capture-time column
    * names (the change stream is immutable history); batches captured
    * after the rename use the new names. */
  def renameColumn(spark: SparkSession, warehouse0: String,
                   tableName: String, from: String, to: String,
                   schema: Option[String] = None): Unit = {
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    if (Names.cleanName(to) != to)
      throw new StoreException(
        s"bad column name '$to': renamed columns follow the same " +
        s"clean-name rule as created ones (try '${Names.cleanName(to)}')")
    WriteLock.withLock(spark, dir, s"renameColumn($from -> $to)") {
      val meta = TableMeta.read(spark, dir)
      if (!meta.schema.fieldNames.contains(from))
        throw new StoreException(
          s"cannot rename $from: not in table schema " +
          s"${meta.schema.fieldNames.toSeq}")
      if (meta.pk.contains(from))
        throw new StoreException(
          s"cannot rename primary-key column $from: the bucket layout, " +
          "manifest stats, and co-bucketed joins key on it — create a " +
          "new table (or add a renamed twin column) instead")
      if (from == to) return
      if (meta.schema.fieldNames.contains(to))
        throw new StoreException(s"cannot rename $from to $to: $to is " +
          "already in the table schema")
      if (meta.dropped.contains(to))
        throw new StoreException(
          s"cannot rename $from to $to: $to was dropped and its physical " +
          "data may still be live; rebucket or zorderCompact the table " +
          "first to reuse the name safely")
      meta.renames.find { case (l, p) => p == to && l != from }.foreach {
        case (l, p) => throw new StoreException(
          s"cannot rename $from to $to: $p is the physical name of " +
          s"renamed column $l — live files carry its bytes under it")
      }
      val referencing = meta.checks.filter { case (_, e) =>
        try spark.sessionState.sqlParser.parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head
        }.contains(from)
        catch { case scala.util.control.NonFatal(_) => true } // unparsable: be safe
      }
      if (referencing.nonEmpty)
        throw new StoreException(
          s"cannot rename $from: CHECK constraint(s) " +
          s"${referencing.keys.toSeq.sorted.mkString(", ")} reference it " +
          "— drop the check(s), rename, and re-add them with the new name")
      val phys = meta.physName(from)
      TableMeta.write(spark, dir, meta.copy(
        schema = StructType(meta.schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)),
        statsCols = meta.statsCols.map(c => if (c == from) to else c),
        // identity entries never persist: renaming back to the physical
        // name leaves the table rename-free again
        renames = (meta.renames - from) ++
          (if (to == phys) Map.empty[String, String] else Map(to -> phys))))
    }
  }

  /** Metadata-only column ADD (the declarative half of #8's
    * write-driven evolution, and the path SQL `ALTER TABLE … ADD
    * COLUMNS` lowers onto): extend the logical schema without touching
    * a byte of data — every live file predates the column and reads
    * back NULL, exactly as toSql(addNewColumns = true) evolution
    * behaves. Columns are forced nullable (their history is NULL);
    * duplicate names and tombstoned dropped names are rejected (the
    * same resurrection hazard [[dropColumns]] documents). */
  def addColumns(spark: SparkSession, warehouse0: String, tableName: String,
                 cols: Seq[StructField], schema: Option[String] = None): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    WriteLock.withLock(spark, dir, "addColumns") {
      val meta = TableMeta.read(spark, dir)
      cols.foreach { f =>
        if (meta.schema.fieldNames.contains(f.name))
          throw new StoreException(
            s"cannot add ${f.name}: already in table schema")
        if (meta.dropped.contains(f.name))
          throw new StoreException(
            s"column ${f.name} was dropped and its physical data may " +
            "still be live; rebucket or zorderCompact the table first " +
            "to re-add the name safely")
        meta.renames.find(_._2 == f.name).foreach { case (l, p) =>
          throw new StoreException(
            s"cannot add $p: it is the physical name of renamed " +
            s"column $l — live files carry its bytes under that name")
        }
      }
      TableMeta.write(spark, dir, meta.copy(
        schema = StructType(meta.schema.fields ++
          cols.map(_.copy(nullable = true)))))
    }
  }

  /** CHECK constraints (#11ai — the Delta/ANSI data-quality contract):
    * register a named SQL predicate that every row must satisfy; from
    * then on EVERY write path (append, appendConcurrent, upsert, merge
    * inserts/updates, predicate update, SQL INSERT/UPDATE/MERGE) rejects
    * the whole mutation — atomically, before any commit — if any
    * incoming row evaluates the predicate to FALSE. SQL semantics: NULL
    * passes (a constraint rejects provable violations, not unknowns —
    * the ANSI CHECK rule, also what partial-column upserts need: absent
    * columns arrive NULL and the stored value already passed when it
    * was written). Registration validates the predicate against all
    * EXISTING rows first, so a table with a constraint satisfies it in
    * every snapshot from that version on. The 100 TB story: ingest
    * contracts enforced at the one choke point every writer shares,
    * priced as one aggregate over each mutation's delta — never a
    * post-hoc table scan. */
  def addCheckConstraint(spark: SparkSession, warehouse0: String,
                         tableName: String, name: String, predicateSql: String,
                         schema: Option[String] = None): Unit = {
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    if (Names.cleanName(name) != name)
      throw new StoreException(s"bad constraint name '$name'")
    WriteLock.withLock(spark, dir, s"addCheck($name)") {
      val meta = TableMeta.read(spark, dir)
      if (meta.checks.contains(name))
        throw new StoreException(
          s"check constraint $name already exists " +
          s"(${meta.checks(name)}); drop it first to replace")
      val bad =
        try scanAt(spark, warehouse, tableName, meta, Manifest.current(spark, dir))
          .filter(expr(predicateSql) <=> lit(false)).count()
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new StoreException(
            s"check constraint $name does not resolve against the " +
            s"table schema: ${e.getMessage}")
        }
      if (bad > 0)
        throw new StoreException(
          s"cannot add check constraint $name ($predicateSql): " +
          s"$bad existing row(s) violate it")
      TableMeta.write(spark, dir,
        meta.copy(checks = meta.checks + (name -> predicateSql)))
    }
  }

  /** Drop a check constraint; false if the name is unknown. */
  def dropCheckConstraint(spark: SparkSession, warehouse0: String,
                          tableName: String, name: String,
                          schema: Option[String] = None): Boolean = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    WriteLock.withLock(spark, dir, s"dropCheck($name)") {
      val meta = TableMeta.read(spark, dir)
      if (!meta.checks.contains(name)) false
      else {
        TableMeta.write(spark, dir, meta.copy(checks = meta.checks - name))
        true
      }
    }
  }

  /** Enforce every registered check over a mutation's incoming rows —
    * ONE aggregate job for all constraints together, run before any
    * staging commit so a violation leaves the table untouched. FALSE
    * violates; NULL passes (see [[addCheckConstraint]]). */
  private def enforceChecks(df: DataFrame, checks: Map[String, String],
                            op: String): Unit = {
    if (checks.isEmpty) return
    val named = checks.toSeq.sortBy(_._1)
    val aggs = named.map { case (n, e) =>
      sum(when(expr(e) <=> lit(false), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bad = named.zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n ($e): ${row.getLong(i)} row(s)"
    }
    if (bad.nonEmpty)
      throw new StoreException(
        s"$op rejected by check constraint(s): ${bad.mkString("; ")} " +
        "(the table is unchanged)")
  }

  /** #11z per-column file statistics: register EXTRA columns (beyond the
    * always-tracked leading PK) whose min/max every future commit records
    * per new file in the manifest — scans then FILE-SKIP on pushed
    * predicates over these columns at planning time, zero footer opens
    * (the Iceberg per-column-metrics model). Files written earlier carry
    * no entry and are never pruned on them; a compact/zorder rewrite
    * refreshes the whole table. Storable types only (integral, floating,
    * string); the leading PK is silently dropped from the list (already
    * tracked). [[zorderCompact]] registers its clustering columns
    * automatically.
    *
    * The 100 TB story: hash bucketing destroys range locality on every
    * column, but ingest order usually correlates with event time and
    * Z-order restores locality on chosen dimensions — per-column stats
    * turn that physical locality into planning-time pruning for
    * non-key predicates, the same way leading-PK stats already do for
    * key ranges. */
  def setStatsColumns(spark: SparkSession, warehouse0: String,
                      tableName: String, cols: Seq[String],
                      schema: Option[String] = None): Unit = {
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    WriteLock.withLock(spark, dir, "setStatsColumns") {
      val meta = TableMeta.read(spark, dir)
      cols.foreach { c =>
        if (!meta.schema.fieldNames.contains(c))
          throw new StoreException(
            s"stats column $c not in table schema ${meta.schema.fieldNames.toSeq}")
        if (!statStorable(meta.schema(c).dataType))
          throw new StoreException(
            s"stats column $c has non-storable type ${meta.schema(c).dataType} " +
            "(integral, floating, and string columns only)")
      }
      val cleaned = cols.distinct.filterNot(meta.pk.headOption.contains)
      if (cleaned != meta.statsCols)
        TableMeta.write(spark, dir, meta.copy(statsCols = cleaned))
    }
  }

  /** #11x MERGE: apply a change feed in ONE commit under the write lock
    * — the `MERGE INTO t USING delta ON pk` triple. Per delta row, keyed
    * by the table's PK:
    *  - `deleteWhen` TRUE, key exists → the stored row is DELETED;
    *  - `deleteWhen` TRUE, key absent → no-op (replaying a delete feed
    *    is safe), or an insert under `deleteOnlyMatched` (SQL MERGE
    *    clause semantics);
    *  - otherwise → upsert (present-column overwrite).
    * `deleteWhen` is evaluated over the DELTA's columns before
    * alignment and may name feed-only columns (`col("op") ===
    * "delete"`), which never reach the table. NULL tombstone predicates
    * mean FALSE; duplicate delta keys are rejected (`validate`). One
    * flip, one changelog batch (insert / update / unchanged / delete
    * images — the shape [[graft.operators.CdcConsumer]] folds).
    * `expectedVersion` aborts with [[ConcurrentWriteException]] (table
    * unchanged; retry) when the table is no longer at the snapshot the
    * caller's routing read used. `mode` picks copy-on-write or
    * merge-on-read ([[DeleteMode]]; see [[upsertWith]]).
    *
    * @return (inserted, updated, deleted) row counts */
  def merge(df: DataFrame, warehouse0: String, tableName: String,
            deleteWhen: Column, schema: Option[String] = None,
            addNewColumns: Boolean = false, validate: Boolean = true,
            changelog: Boolean = false,
            strictUtc: Boolean = true,
            deleteOnlyMatched: Boolean = false,
            expectedVersion: Option[Long] = None,
            mode: DeleteMode = DeleteMode.Auto): (Long, Long, Long) = {
    val wh = schemaDir(warehouse0, schema)
    val spark = df.sparkSession
    if (strictUtc) rejectNaive(df, StrictUtcHint)
    val feed = mergeFeed(df, deleteWhen)
    val dir = tableDir(wh, tableName)
    WriteLock.withLock(spark, dir, "merge") {
      requireTable(spark, dir,
        s"merge target $tableName does not exist (create it with toSql first)")
      upsertWith(Locked, feed, wh, tableName, addNewColumns, validate,
        changelog, tombstoned = true, deleteOnlyMatched, mode,
        expectedVersion, strictVersion = false)
    }
  }

  /** #11e rebucket: rewrite the table under a new bucket count — the
    * operational fix when a table outgrows its create-time bucket
    * choice (buckets sized for 1 TB are hotspots at 100 TB) or when
    * two tables must co-partition for the storage-partitioned PK join
    * (equal bucket counts are its precondition). Necessarily a full
    * rewrite — rehashing moves every row — but it's ONE shuffle
    * (repartition on the new bucket) + one write, then ONE manifest
    * flip that switches both the file set and the bucket count, so
    * readers never observe a half state. */
  def rebucket(spark: SparkSession, warehouse0: String, tableName: String,
               newBuckets: Int, schema: Option[String] = None,
               commitWaitMs: Long = 60000L): Unit = {
    require(newBuckets > 0, s"bucket count must be positive, got $newBuckets")
    val warehouse = schemaDir(warehouse0, schema)
    // OPTIMISTIC rebucket: rehashing moves every row, so the window is
    // necessarily EVERY bucket — any commit into the table between the
    // pin and the flip invalidates the staged layout. But the expensive
    // part — the full shuffle + rewrite — still stages OUTSIDE the
    // lock: writers keep committing while the rebucket runs, and it is
    // the REBUCKET that re-stages on conflict ([[retrying]]), never the
    // ingest. On a table too hot for the shuffle to ever land, the
    // bounded retries surface the contention loudly — quiesce writers
    // (or schedule the rebucket into a low-traffic window) rather than
    // silently stalling them for the job's duration, which is what the
    // old full-lock design did by default.
    retrying("rebucket", MaintenanceAttempts) {
      commit(Optimistic(commitWaitMs), spark, tableDir(warehouse, tableName),
          dataDir(warehouse, tableName), "rebucket", "rebucket", ()) { tx =>
        if (tx.base.buckets == newBuckets) None
        else {
          // the full shuffle + rewrite — OUTSIDE the lock
          val files = tx.stageBuckets("rebucket", withBucket(
              scanAt(spark, warehouse, tableName, tx.meta, tx.base)
                .drop(BucketCol),
              tx.meta.pk, newBuckets), 0 until newBuckets, tx.meta)
          // ONE snapshot flip switches both the file set and the bucket
          // count (the manifest carries `buckets`), so no reader can
          // ever pair the old count with the new layout. Old-layout
          // buckets with no staged replacement (newBuckets < old) leave
          // the snapshot via removeMissing; the old files stay for
          // readers of previous snapshots until vacuum. A full rewrite:
          // every live file now carries the current schema, so dropped
          // names may be re-added safely.
          Some(Flip((), files,
            removeMissing = 0 until math.max(tx.base.buckets, newBuckets),
            newBuckets = Some(newBuckets), touched = 0 until tx.base.buckets,
            metaEdit = _.copy(dropped = Nil)))
        }
      }
    }
  }

  /** Reclaim a table's garbage, bounded by `olderThanMs` (default 24 h)
    * so nothing an in-flight writer or reader can still touch is
    * removed. Three kinds, each safe by construction:
    *  - `.staging-*` / `.retired-*` dirs a crashed write abandoned
    *    (never the only copy of live data — commits are additive file
    *    moves + a manifest flip, see [[Manifest]]). ALL `.staging-*`
    *    roots are reaped only past a [[WriteLock.DefaultStaleMs]] floor
    *    however aggressive `olderThanMs` — the optimistic verbs
    *    (append/upsert/update/merge/delete `*Concurrent`), layout
    *    maintenance, sink epochs, and changelog images all stage
    *    OUTSIDE the lock, so the lock held here proves nothing about
    *    them — and a `.staging-stream-*` root whose query still holds
    *    a ledger entry is never reaped (see [[dropStreamLedger]]);
    *  - data files the CURRENT manifest does not reference: superseded
    *    by later commits (kept until now precisely so readers of recent
    *    snapshots stay undisturbed) or moved in by a commit that died
    *    before its manifest flip;
    *  - manifests older than the current one (expiring those snapshots
    *    ends their time-travel window — the Iceberg expire-snapshots
    *    trade, made explicit by the age bound).
    * Returns the number of directories/files removed.
    *
    * `dryRun` (the Delta `VACUUM ... DRY RUN` move): walk the identical
    * decision tree — including the liveness union computed AS IF the
    * age-expired manifests were gone, so the count PREDICTS the real
    * run — but delete nothing. The one divergence: bucket dirs that
    * would only become empty by the reap are not counted (emptiness is
    * observable only after real deletes). Retention changes at 100 TB
    * get rehearsed, not discovered. */
  def vacuum(spark: SparkSession, warehouse0: String, tableName: String,
             olderThanMs: Long = 24L * 3600 * 1000,
             schema: Option[String] = None,
             dryRun: Boolean = false): Int = {
    if (splitRef(tableName)._2.isDefined)
      throw new StoreException(
        s"vacuum the BASE table, not a branch ref ($tableName): branches " +
        "share the base's data files and the reap must see every ref's " +
        "live set at once")
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) return 0
    // dryRun: every reap DECISION runs identically — only the delete is
    // suppressed. `expired` records the manifests the pass (would have)
    // removed so the liveness union below can exclude them in both
    // modes; without it a dry run would count data files against a
    // liveness set that still includes the to-be-expired snapshots and
    // systematically under-predict the real reap.
    val expired = scala.collection.mutable.Set.empty[String]
    def reap(path: Path, recursive: Boolean): Boolean =
      dryRun || f.delete(path, recursive)
    // ---------- UNLOCKED pre-walk (the 100 TB long pole) ----------
    // Reading every surviving snapshot and LISTING every bucket dir is
    // O(files) IO; holding the write lock across it would pause every
    // writer for the walk's duration — GC would be the next writer
    // outage after maintenance went optimistic. So the walk runs
    // FIRST, unlocked, against pinned manifest chains: it PREDICTS
    // expiry (the same age + protection rules the locked pass applies)
    // and collects the candidate reap set. The locked flip re-checks
    // only the DELTA — any manifest surviving at flip time that the
    // pre-walk's union did not include (committed during the walk, or
    // predicted-expired but actually protected by a tag/branch added
    // meanwhile) re-protects its references; the candidate set only
    // ever SHRINKS inside the lock. Data files move into bucket dirs
    // only under the lock (the flip), so no candidate can become
    // live invisibly between the walk and the flip.
    val preCutoff = System.currentTimeMillis() - olderThanMs
    val preWalk: Option[(Set[(String, Long)], Seq[(String, Path)], Seq[Path])] =
      Manifest.latest(spark, dir).map { _ =>
        val preBranches = Branches.branchDirs(spark, dir)
        def predictedSurviving(refDir: String, extraProtected: Set[String])
            : Seq[Manifest] = {
          val prot: Set[String] =
            Tags.read(spark, refDir).values.map(Manifest.versionName).toSet ++
              extraProtected ++
              Manifest.latest(spark, refDir)
                .map(mm => Manifest.versionName(mm.version)).toSet
          val mdirR = Manifest.dir(refDir)
          val mtimeOf: Map[String, Long] =
            if (!f.exists(mdirR)) Map.empty
            else f.listStatus(mdirR).iterator
              .filter(st => st.isFile &&
                Manifest.isVersionName(st.getPath.getName))
              .map(st => st.getPath.getName -> st.getModificationTime)
              .toMap
          Manifest.all(spark, refDir).filter { mf =>
            val n = Manifest.versionName(mf.version)
            prot.contains(n) || mtimeOf.get(n).forall(_ >= preCutoff)
          }
        }
        val survivors: Seq[(String, Manifest)] =
          predictedSurviving(dir, Set.empty).map(dir -> _) ++
          preBranches.flatMap { case (_, brDir) =>
            predictedSurviving(brDir,
              Set(Manifest.versionName(Branches.forkVersionOf(spark, brDir))))
              .map(brDir -> _)
          }
        val unioned: Set[(String, Long)] =
          survivors.map { case (rd, mf) => (rd, mf.version) }.toSet
        val live0: Set[String] = survivors.iterator.map(_._2)
          .flatMap(mm => mm.files.iterator ++ mm.dvs.iterator)
          .flatMap { case (b, fls) =>
            fls.map(mfF => s"$BucketCol=$b/${mfF.name}")
          }.toSet
        val data = new Path(dir, "data")
        val cands = scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
        val dataDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
        if (f.exists(data)) {
          f.listStatus(data)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith(s"$BucketCol="))
            .foreach { d =>
              dataDirs += d.getPath
              f.listStatus(d.getPath).foreach { st =>
                val rel = s"${d.getPath.getName}/${st.getPath.getName}"
                if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
                    !live0.contains(rel) &&
                    st.getModificationTime < preCutoff)
                  cands += ((rel, st.getPath))
              }
            }
        }
        (unioned, cands.toSeq, dataDirs.toSeq)
      }
    VacuumHooks.betweenPhases()
    // under the WRITE lock — and every BRANCH's lock, taken below — an
    // in-flight commit's just-moved files are unreferenced until its
    // manifest flips, and an aggressive cutoff (olderThanMs = 0) must
    // not reap them mid-commit. Readers are unaffected — they never
    // take the lock; their protection is the age bound itself.
    WriteLock.withLock(spark, dir, "vacuum") {
      val branches = Branches.branchDirs(spark, dir)
      def withBranchLocks[A](rest: Seq[(String, String)])(body: => A): A =
        rest match {
          case Seq() => body
          case (name, brDir) +: tail =>
            WriteLock.withLock(spark, brDir, s"vacuum(branch $name)") {
              withBranchLocks(tail)(body)
            }
        }
      withBranchLocks(branches.sortBy(_._1)) {
      val cutoff = System.currentTimeMillis() - olderThanMs
      // The UNLOCKED stagers — appendConcurrent and the streaming
      // sink's epochs — write staging while we hold this lock, so the
      // lock proves nothing about them: their roots get a floor on the
      // age bound (a zero-age vacuum cannot reap an epoch or optimistic
      // append mid-stage), and a `.staging-stream-<queryId>` root whose
      // query holds a ledger entry in THAT ref's manifest is skipped at
      // ANY age — the sink is (or recently was) live; retire it with
      // dropStreamLedger first. Everything else staged under the lock
      // keeps the pure age bound (the documented contract).
      val unlockedCutoff = System.currentTimeMillis() -
        math.max(olderThanMs, WriteLock.DefaultStaleMs)
      // abandoned staging under the base dir AND under every branch ref
      // (branch mutations stage in their own dir before moving files
      // into the shared data dir)
      var removed = (p +: branches.map(b => new Path(b._2))).map { root =>
        val ledger: Set[String] = Manifest.latest(spark, root.toString)
          .map(_.streams.keySet).getOrElse(Set.empty)
        f.listStatus(root).count { st =>
          val n = st.getPath.getName
          val stale = st.isDirectory && (
            if (n.startsWith(".staging-stream-"))
              !ledger.contains(n.stripPrefix(".staging-stream-")) &&
                st.getModificationTime < unlockedCutoff
            else if (n.startsWith(".staging-"))
              // EVERY stager gets the unlocked floor: the optimistic
              // verbs (append/upsertc/updatec/mergec/deletec), layout
              // maintenance (compact/zorder/rebucket), and changelog
              // images all stage OUTSIDE the lock, so holding it here
              // proves nothing about them — an aggressive olderThanMs
              // reaping a mid-stage dir would leave a committed
              // mutation with no CDC batch (or a maintenance flip with
              // no files). The few still-locked stagers lose nothing:
              // the floor only binds below WriteLock.DefaultStaleMs,
              // where reaping "abandoned" staging younger than the
              // stale-lock TTL was never sound anyway.
              st.getModificationTime < unlockedCutoff
            else n.startsWith(".retired-") &&
              st.getModificationTime < cutoff)
          if (stale) reap(st.getPath, true): Unit
          stale
        }
      }.sum
      // Publish temp FILES (`.tmp-*`), never referenced once their
      // publish returns — only a crash between create and publish
      // leaves one. Every ref (the base and each branch) has them in
      // its root (meta, tags, fork record, and the lock file's arbiter
      // temps), its `_manifests/` (version and segment flips) and its
      // `_changelog/` (the floor marker). All but the lock temps
      // publish under a write lock this pass holds, so they take the
      // plain age bound; a lock temp belongs to a writer still
      // CONTENDING for the lock, so the roots take the unlocked floor
      // (the locked root temps lose only reaps younger than the
      // stale-lock TTL). Reaped even when no manifest was ever
      // committed (a failed FIRST commit on a fresh table — the expiry
      // loop below never runs for those).
      (dir +: branches.map(_._2)).foreach { ref =>
        Seq(new Path(ref) -> unlockedCutoff, Manifest.dir(ref) -> cutoff,
            new Path(ref, ChangelogDir) -> cutoff).foreach {
          case (d, before) =>
            if (f.exists(d))
              f.listStatus(d).foreach { st =>
                if (st.isFile && st.getPath.getName.startsWith(".tmp-") &&
                    st.getModificationTime < before &&
                    reap(st.getPath, false))
                  removed += 1
              }
        }
      }
      val mdir = Manifest.dir(dir)
      Manifest.latest(spark, dir).foreach { m =>
        // Order matters: FIRST expire old manifests past the age bound
        // (never the current one, never a TAGGED one — a tag is a
        // retention contract, see [[Tags]]), THEN reap data files
        // unreferenced by ANY surviving manifest — a file's own mtime
        // says when it was written, not when it was superseded, so the
        // live set must span every snapshot a reader (or asOfVersion /
        // asOfTag) can still resolve, exactly Iceberg's
        // expire-snapshots rule.
        val protected0: Set[String] =
          Tags.read(spark, dir).values.map(Manifest.versionName).toSet +
            Manifest.versionName(m.version)
        if (f.exists(mdir)) {
          f.listStatus(mdir).foreach { st =>
            val keep = !Manifest.isVersionName(st.getPath.getName) ||
              protected0.contains(st.getPath.getName)
            if (st.isFile && !keep &&
                st.getModificationTime < cutoff && reap(st.getPath, false)) {
              expired += s"$dir/${st.getPath.getName}"
              removed += 1
            }
          }
        }
        // branch-chain expiry, same rule as the base chain: never the
        // branch's CURRENT manifest, never a branch-TAGGED one, and
        // never the FORK-version manifest (readIncremental's audit diff
        // and the publish guard both resolve through it). Runs BEFORE
        // the liveness union below, so files only expired branch
        // snapshots referenced become reapable in the same pass.
        branches.foreach { case (_, brDir) =>
          val bmdir = Manifest.dir(brDir)
          Manifest.latest(spark, brDir).foreach { bm =>
            val keepB: Set[String] =
              Tags.read(spark, brDir).values.map(Manifest.versionName).toSet +
                Manifest.versionName(bm.version) +
                Manifest.versionName(Branches.forkVersionOf(spark, brDir))
            if (f.exists(bmdir)) {
              f.listStatus(bmdir).foreach { st =>
                val keep = !Manifest.isVersionName(st.getPath.getName) ||
                  keepB.contains(st.getPath.getName)
                if (st.isFile && !keep &&
                    st.getModificationTime < cutoff &&
                    reap(st.getPath, false)) {
                  expired += s"$brDir/${st.getPath.getName}"
                  removed += 1
                }
              }
            }
          }
        }
        // format-4 manifest SEGMENT files (`_manifests/seg-*.json`):
        // reap those no SURVIVING snapshot of the owning ref references
        // — superseded bucket rewrites whose snapshots just expired, or
        // orphans of a commit that died between its segment writes and
        // its list flip — past the same age bound as everything else.
        (dir +: branches.map(_._2)).foreach { refDir =>
          val mdirR = Manifest.dir(refDir)
          if (f.exists(mdirR)) {
            val referenced: Set[String] =
              Manifest.all(spark, refDir).iterator.filterNot(mf =>
                expired.contains(
                  s"$refDir/${Manifest.versionName(mf.version)}"))
                .flatMap(_.segs.valuesIterator).toSet
            f.listStatus(mdirR).foreach { st =>
              val n = st.getPath.getName
              if (st.isFile && n.startsWith("seg-") && n.endsWith(".json") &&
                  !referenced.contains(n) &&
                  st.getModificationTime < cutoff &&
                  reap(st.getPath, false))
                removed += 1
            }
          }
        }
        // union-liveness spans EVERY ref sharing the data dir: the base
        // chain plus each branch's chain — a file live only on a branch
        // must survive the base's reap (and vice versa after a publish)
        // data files AND delete-vector sidecars: a DV is live exactly
        // while some surviving snapshot references it; a rewriting
        // commit drops the bucket's DVs from its new manifest, and the
        // sidecars become reapable once the older snapshots expire.
        // The heavy union + listing ran UNLOCKED (pre-walk above); here
        // only the WINDOW DELTA re-protects: references of manifests
        // the pre-walk's union did not include — committed during the
        // walk, or predicted-expired but surviving the actual expiry
        // (a tag landed meanwhile). Candidates only shrink.
        preWalk.foreach { case (unioned, cands, dataDirs) =>
          def surviving(refDir: String): Iterator[(String, Manifest)] =
            Manifest.all(spark, refDir).iterator.filterNot(mf =>
              expired.contains(s"$refDir/${Manifest.versionName(mf.version)}"))
              .map(refDir -> _)
          val lateLive: Set[String] =
            (surviving(dir) ++ branches.iterator.flatMap(b => surviving(b._2)))
            .filterNot { case (rd, mf) => unioned((rd, mf.version)) }
            .flatMap { case (_, mf) => mf.files.iterator ++ mf.dvs.iterator }
            .flatMap { case (b, fls) =>
              fls.map(mfF => s"$BucketCol=$b/${mfF.name}")
            }.toSet
          cands.foreach { case (rel, path) =>
            if (!lateLive.contains(rel) && reap(path, false)) removed += 1
          }
          // a bucket dir emptied by the reap (e.g. fully deleted
          // bucket) is itself garbage — observable only after REAL
          // deletes, so the dry run skips it (the one divergence)
          if (!dryRun) dataDirs.foreach { d =>
            if (f.exists(d) && f.listStatus(d).isEmpty &&
                f.delete(d, false))
              removed += 1
          }
        }
      }
      removed
      }
    }
  }

  /** #11v snapshot history — the DESCRIBE HISTORY surface: one row per
    * committed (unexpired) manifest version with its physical totals
    * (bucket count, live files, rows, bytes), read from the manifests
    * alone — zero data IO, zero footer opens (row counts ride in the
    * manifest; −1 when a file's footer could not be read at commit).
    * The audit view behind time travel: what each `asOfVersion` would
    * read, and how the table's physical footprint evolved commit by
    * commit. */
  def history(spark: SparkSession, warehouse0: String, tableName: String,
              schema: Option[String] = None): DataFrame = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    // ONE listing for the whole set (per-version `at` calls would
    // re-list the manifests dir per version)
    val rows = Manifest.all(spark, dir).map { m =>
      val fls = m.files.valuesIterator.flatten.toSeq
      // n_rows = LIVE rows: data-file counts minus delete-vector
      // positions (each tombstones exactly one live row — MoR deletes
      // read through the existing mask, so positions never repeat)
      val nRows =
        (if (fls.forall(_.rows.isDefined)) Some(fls.flatMap(_.rows).sum)
         else None, m.dvRows) match {
          case (Some(d), Some(dv)) => d - dv
          case _ => -1L
        }
      (m.version, m.op.orNull, m.buckets, fls.size.toLong, nRows,
        fls.map(_.len).sum, m.tsMs.map(Long.box).orNull: java.lang.Long)
    }
    import spark.implicits._
    rows.toDF("version", "op", "buckets", "n_files", "n_rows", "bytes",
      "ts_ms")
  }

  /** Synthesize the row-image batch a branch PUBLISH represents — the
    * exact diff between the base's current content (`from`: the
    * branch-chain snapshot the last fork/publish synchronized to, which
    * by the fast-forward divergence guard IS the base's live state) and
    * the branch head (`to`) — and stage it into the BASE's changelog
    * (commit only AFTER the publish flip, via
    * [[commitChangelogBatchRef]]). Both manifests resolve against the
    * SHARED base data dir, so this is the restoreSnapshot image recipe
    * applied across the WAP boundary: [[diffImages]] over the branch
    * ref's manifest chain — manifest-pruned to changed buckets and
    * joined via the zero-exchange [[snapshotDiffJoined]] SPJ core (both
    * sides plan through the DSv2 source pinned to their branch-chain
    * version, zipped on `pb_bucket`). This is what lets
    * write-audit-publish and table-property CDC compose: the publish
    * logs the same images the branch's mutations would have logged
    * applied directly. */
  private[store] def stageWapImages(spark: SparkSession, warehouse: String,
                                    branchRef: String, dir: String,
                                    meta: TableMeta, from: Manifest,
                                    to: Manifest): (Path, Path) =
    withSpjConf(spark) {
      stageChangelogBatch(spark, dir,
        diffImages(spark, warehouse, branchRef, meta, from, to))
    }

  /** [[commitChangelogBatch]] for same-package callers (Branches'
    * publish commits its synthesized batch after the manifest flip). */
  private[store] def commitChangelogBatchRef(f: FileSystem, op: String,
                                             src: Path, dst: Path): Unit =
    commitChangelogBatch(f, op, src, dst)

  /** Tag a snapshot version under a stable name (see [[Tags]]): the
    * snapshot — and every data file it references — then survives
    * [[vacuum]] until [[dropTag]] releases it, and reads resolve it via
    * `readSql(asOfTag)` or SQL `VERSION AS OF '<name>'`. Defaults to
    * the CURRENT version. Returns the tagged version. Fails loudly on a
    * duplicate name (retagging is dropTag + tag — explicit, like
    * Iceberg's replace), an unknown version, or a table with no
    * snapshot yet. */
  def tagSnapshot(spark: SparkSession, warehouse0: String, tableName: String,
                  tag: String, version: Option[Long] = None,
                  schema: Option[String] = None): Long = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    if (tag.isEmpty || tag.exists(c => c == '/' || c == '\\'))
      throw new StoreException(s"bad tag name '$tag'")
    if (tag.toLongOption.isDefined)
      throw new StoreException(
        s"tag name '$tag' would shadow a numeric snapshot version in " +
        "SQL VERSION AS OF; pick a non-numeric name")
    WriteLock.withLock(spark, dir, s"tag($tag)") {
      val vs = Manifest.versions(spark, dir)
      if (vs.isEmpty)
        throw new StoreException(
          s"table $tableName has no snapshot to tag (write to it first)")
      val v = version.getOrElse(vs.last)
      if (!vs.contains(v))
        throw new StoreException(
          s"cannot tag version $v (available: ${vs.mkString(", ")})")
      val cur = Tags.read(spark, dir)
      if (cur.contains(tag))
        throw new StoreException(
          s"tag '$tag' already exists (points at version ${cur(tag)}); " +
          "dropTag it first to retag")
      Tags.write(spark, dir, cur + (tag -> v))
      v
    }
  }

  /** Drop a snapshot tag; the version it pinned becomes an ordinary
    * time-travel snapshot again (expired by the next [[vacuum]] once
    * past the age bound). No-op returns false if the tag is unknown. */
  def dropTag(spark: SparkSession, warehouse0: String, tableName: String,
              tag: String, schema: Option[String] = None): Boolean = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    WriteLock.withLock(spark, dir, s"dropTag($tag)") {
      val cur = Tags.read(spark, dir)
      if (!cur.contains(tag)) false
      else { Tags.write(spark, dir, cur - tag); true }
    }
  }

  /** All tags of a table as (tag, version) rows (lock-free read). */
  def tags(spark: SparkSession, warehouse0: String, tableName: String,
           schema: Option[String] = None): DataFrame = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    import spark.implicits._
    Tags.read(spark, dir).toSeq.sortBy(_._1).toDF("tag", "version")
  }

  /** Incremental snapshot read: the rows ADDED between two snapshots,
    * resolved purely from the manifest diff — the files present in
    * `toVersion` (default: current) but not in `sinceVersion`. For an
    * append-only window this is EXACTLY the new rows, at the cost of
    * reading only the new files (a consumer syncing a 100 TB table
    * reads megabytes per poll, zero listing, zero diffing) — the
    * Iceberg incremental-scan / Delta `readChangeFeed`-lite model.
    *
    * Correctness gate: if the window contains a NON-additive commit
    * (upsert rewrite, delete, compaction, Z-order, rebucket — detected
    * as any `sinceVersion` file absent from `toVersion`, or a bucket
    * count change), the added-files set no longer means "new rows"
    * (rewritten files repeat old rows) and this throws, directing the
    * consumer to [[readChangelog]], which handles arbitrary mutations
    * via row-level images. Fail loudly, never silently double-count.
    *
    * Both snapshots must still be unexpired; tag `sinceVersion`'s
    * snapshot (see [[tagSnapshot]]) to guarantee a poll cursor survives
    * vacuum. */
  def readIncremental(spark: SparkSession, warehouse0: String,
                      tableName: String, sinceVersion: Long,
                      toVersion: Option[Long] = None,
                      schema: Option[String] = None): DataFrame = {
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    val meta = TableMeta.read(spark, dir)
    val since = Manifest.at(spark, dir, sinceVersion)
    val to = toVersion match {
      case Some(v) => Manifest.at(spark, dir, v)
      case None => Manifest.current(spark, dir)
    }
    if (to.version < since.version)
      throw new StoreException(
        s"readIncremental window is backwards: since=$sinceVersion " +
        s"to=${to.version}")
    def nonAdditive(why: String): Nothing = throw new StoreException(
      s"snapshots $sinceVersion..${to.version} of $tableName are not " +
      s"append-only ($why): added files would repeat surviving rows; " +
      "use readChangelog for row-level incremental consumption")
    if (to.buckets != since.buckets)
      nonAdditive(s"bucket count changed ${since.buckets} -> ${to.buckets}")
    // a merge-on-read delete adds no data files but still removes rows
    // — "added files = new rows" no longer holds across it
    if (since.dvs.view.mapValues(_.map(_.name).toSet).toMap !=
        to.dvs.view.mapValues(_.map(_.name).toSet).toMap)
      nonAdditive("delete vectors changed (merge-on-read delete)")
    val added: Map[Int, Seq[ManifestFile]] = {
      val diffs = (since.files.keySet ++ to.files.keySet).toSeq.sorted.map { b =>
        val old = since.files.getOrElse(b, Nil).map(_.name).toSet
        val cur = to.files.getOrElse(b, Nil)
        if (!old.subsetOf(cur.map(_.name).toSet))
          nonAdditive(s"bucket $b lost files")
        b -> cur.filterNot(f => old.contains(f.name))
      }
      diffs.filter(_._2.nonEmpty).toMap
    }
    // dvs cleared: any DV in force tombstones only PRE-window files
    // (the window is dv-stable per the guard above), and added files
    // are too new for any DV to name them
    scanAt(spark, warehouse, tableName, meta,
      to.copy(files = added, dvs = Map.empty))
      .select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** #11ae snapshot restore (the Iceberg rollback / Delta RESTORE
    * move): re-commit an EARLIER snapshot's exact file set as a brand
    * new version — pure metadata, zero data IO, one manifest write —
    * so "undo the bad backfill on the 100 TB table" costs the same as
    * tagging it. History is preserved, not rewritten: the rolled-back
    * versions stay time-travelable until [[vacuum]] expires them, and
    * the restored snapshot's files are live again (union-liveness
    * protects them from any vacuum age bound). Restores DATA, not
    * schema: the table keeps its CURRENT logical schema — columns
    * added since the target read back NULL for restored files, columns
    * dropped since stay dropped (exactly [[readSql]] time-travel
    * semantics, made the durable state).
    *
    * Pass exactly one of `version` / `tag`. Restoring to the current
    * version is a no-op (returns the current version, commits
    * nothing). The target snapshot must be unexpired — [[Manifest.at]]
    * fails loudly naming what IS available; tag what you may need to
    * roll back to.
    *
    * CDC (explicit flag or the table property): the changelog stays
    * exact across a restore. The row-level diff current→target is
    * computed over ONLY the buckets whose file sets differ (cost ∝ the
    * restore's real footprint, never the table) and logged as one
    * batch of insert/update/delete images (identical rows emit
    * nothing: a restore is not a touch). A consumer folding the log
    * therefore lands on the restored state without ever re-reading the
    * table. */
  def restoreSnapshot(spark: SparkSession, warehouse0: String,
                      tableName: String, version: Option[Long] = None,
                      tag: Option[String] = None,
                      schema: Option[String] = None,
                      changelog: Boolean = false): Long = {
    if (version.isDefined == tag.isDefined)
      throw new StoreException("restoreSnapshot: pass exactly one of version / tag")
    val warehouse = schemaDir(warehouse0, schema)
    val dir = tableDir(warehouse, tableName)
    WriteLock.withLock(spark, dir, "restore") {
      val meta = TableMeta.read(spark, dir)
      val cur = Manifest.current(spark, dir)
      val v = version.getOrElse(resolveTag(spark, dir, tag.get))
      if (v == cur.version) cur.version else {
      val target = Manifest.at(spark, dir, v)
      val cdc = changelog || meta.changelog
      val f = fs(spark, dir)
      val clCommit: Option[(Path, Path)] = if (cdc) {
        // the restore's row-image batch is [[diffImages]] current→target
        // over this ref's own chain: manifest-pruned to the buckets the
        // restore actually rewinds, zipped shuffle-free by the
        // snapshotDiffJoined SPJ core (cost ∝ the restore's footprint,
        // and neither co-partitioned snapshot ever re-shuffles)
        Some(withSpjConf(spark) {
          stageChangelogBatch(spark, dir,
            diffImages(spark, warehouse, tableName, meta, cur, target))
        })
      } else None
      try {
        // delete vectors are part of the snapshot's live-row state and
        // restore with it (union-liveness keeps their sidecars on disk)
        // streams carry from CUR, not the target: a restore rewinds the
        // DATA, never a streaming sink's epoch high-water mark — a
        // rewound epoch would make the sink double-apply on replay
        Manifest.commit(spark, dir, Manifest(cur.version + 1, target.buckets,
          target.files, op = Some(s"restore(${target.version})"),
          dvs = target.dvs, streams = cur.streams))
        clCommit.foreach { case (src, dst) =>
          commitChangelogBatch(f, "restore", src, dst)
        }
      } finally clCommit.foreach { case (src, _) => f.delete(src, true) }
      if (cdc && !meta.changelog)
        TableMeta.write(spark, dir, meta.copy(changelog = true))
      cur.version + 1
      }
    }
  }

  /** #11ao snapshot DIFF: classify every PK as insert / update / delete
    * between two snapshot versions — the audit report a write-audit-
    * publish reviewer reads (diff a branch head against its fork
    * point: `snapshotDiff("t@stage", fork)`), and the changelog-free
    * answer to "what changed between v1 and v2".
    *
    * Scale: the manifest diff prunes FIRST — a bucket whose live-file
    * set (names + lengths) is identical in both snapshots holds
    * identical rows and is never read, so diffing adjacent snapshots
    * of a 100 TB table reads only the buckets the commits between them
    * touched. The two pruned sides then full-outer join on the PK
    * (same bucket layout both sides — one co-partitioned shuffle
    * pair), and per-column null-safe comparison classifies the rest.
    * Unchanged rows never leave the join: this is [[diffImages]]
    * projected to the PK columns and `op`.
    *
    * Note: enables the two storage-partitioned-join session confs
    * (`spark.sql.sources.v2.bucketing.enabled`,
    * `spark.sql.requireAllClusterKeysForCoPartition=false`) for the
    * returned plan, session-scoped — the same documented flip as
    * [[pkJoin]]. */
  def snapshotDiff(spark: SparkSession, warehouse0: String,
                   tableName: String, fromVersion: Long,
                   toVersion: Option[Long] = None,
                   schema: Option[String] = None): DataFrame = {
    val wh = schemaDir(warehouse0, schema)
    val dir = tableDir(wh, tableName)
    val meta = TableMeta.read(spark, dir)
    val mFrom = Manifest.at(spark, dir, fromVersion)
    val mTo = toVersion.map(Manifest.at(spark, dir, _))
      .getOrElse(Manifest.current(spark, dir))
    diffImages(spark, wh, tableName, meta, mFrom, mTo)
      .select((meta.pk :+ "op").map(col): _*)
  }

  /** The full-outer diff join of two snapshots, aliased `a` (from) and
    * `b` (to) — the core of [[diffImages]], and so of [[snapshotDiff]]
    * (pk + op) and the two CDC image synthesizers (the WAP
    * publish's [[stageWapImages]] and [[restoreSnapshot]]'s row-level
    * diff — both need the full before/after images). When manifest
    * arithmetic alone proves the snapshots hold identical rows (no
    * bucket changed), both sides are empty local relations: the diff
    * reads nothing, not even the table's metadata.
    *
    * Sets the two SPJ session confs as a side effect (they must hold at
    * physical-planning time, which for the lazy public [[snapshotDiff]]
    * is after this returns); the EAGER internal consumers run under
    * [[withSpjConf]], which restores the caller's values.
    *
    * Scale shape: both sides plan through the DSv2 source PINNED to
    * their manifest version, so each scan reports
    * `KeyGroupedPartitioning(identity(pb_bucket))` and masks its own
    * snapshot's delete vectors inside the readers; the join condition
    * includes `pb_bucket` equality, so Catalyst plans a
    * storage-partitioned sort-merge join with ZERO exchange on either
    * side — a post-backfill diff of a 100 TB table reads only the
    * changed buckets (manifest pruning below) and never shuffles
    * either snapshot. A rebucket between the versions makes bucket ids
    * incomparable: only then does the diff fall back to a plain PK
    * join over everything (the rehash moved every row anyway). */
  private def snapshotDiffJoined(spark: SparkSession, wh: String,
                                 tableName: String, meta: TableMeta,
                                 mFrom: Manifest, mTo: Manifest): DataFrame = {
    val comparable = mFrom.buckets == mTo.buckets
    // bucket pruning off the manifests alone: identical live-file sets
    // (and DV sets — same data files under different delete vectors
    // hold different LIVE rows) => identical rows => skip the bucket
    val changed: Option[Seq[Int]] =
      if (!comparable) None
      else Some((0 until mTo.buckets).filter { b =>
        mFrom.files.getOrElse(b, Nil).map(f => (f.name, f.len)).toSet !=
          mTo.files.getOrElse(b, Nil).map(f => (f.name, f.len)).toSet ||
        mFrom.dvs.getOrElse(b, Nil).map(_.name).toSet !=
          mTo.dvs.getOrElse(b, Nil).map(_.name).toSet
      })
    // storage-partitioned join gates (idempotent, session-scoped; the
    // second relaxes exact-match so [pb_bucket] ⊂ [bucket, pk…] still
    // co-partitions — same setup as PkJoin)
    if (!changed.exists(_.isEmpty)) {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    }
    // the changed-bucket filter pushes down to DIRECTORY-level pruning
    // (keptBuckets) while every bucket partition is still emitted, so
    // the two sides always zip
    def side(version: Long): DataFrame = changed match {
      case Some(bs) if bs.isEmpty =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          meta.schema.add(BucketCol, IntegerType))
      case Some(bs) => KeyedTableSource.readAt(spark, wh, tableName, version)
        .filter(col(BucketCol).isin(bs: _*))
      case None => KeyedTableSource.readAt(spark, wh, tableName, version)
    }
    val a = side(mFrom.version).alias("a")
    val b = side(mTo.version).alias("b")
    val pkCond = meta.pk.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    val cond =
      if (comparable) col(s"a.$BucketCol") === col(s"b.$BucketCol") && pkCond
      else pkCond
    a.hint("merge").join(b, cond, "full_outer")
  }

  /** Run `body` with the storage-partitioned-join confs
    * [[snapshotDiffJoined]] flips, restoring the caller's previous
    * values afterwards — for the eager internal consumers (the CDC
    * image synthesizers execute their plan to completion inside, so
    * the flip never leaks into the session). The lazy public
    * [[snapshotDiff]] cannot restore (its plan executes after return)
    * and documents the session-scoped flip instead. */
  private def withSpjConf[T](spark: SparkSession)(body: => T): T = {
    val keys = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Row-image CHANGE frame between two snapshots of `ref`'s own
    * manifest chain — (pk…, op, old_<c>…, new_<c>…), op ∈
    * insert/update/delete, identical rows emit nothing — the one batch
    * shape both CDC image synthesizers log ([[stageWapImages]] with a
    * branch ref whose chain holds fork point and head;
    * [[restoreSnapshot]] with the base ref's current and target).
    *
    * Plan shape is [[snapshotDiffJoined]]'s: manifest-pruned to changed
    * buckets, both sides through the DSv2 source pinned to their
    * version (that snapshot's own delete vectors applied in-reader),
    * zipped on `pb_bucket` with ZERO exchange — a publish or restore
    * that rewrote 10% of a 100 TB table diffs that 10% without ever
    * shuffling either co-partitioned snapshot. Caller is responsible
    * for the SPJ confs ([[withSpjConf]] when eager). */
  private[store] def diffImages(spark: SparkSession, wh: String,
                                ref: String, meta: TableMeta,
                                mFrom: Manifest, mTo: Manifest): DataFrame = {
    def side(s: String) =
      Image(col(s"$s.${meta.pk.head}").isNotNull, c => col(s"$s.$c"))
    changes(snapshotDiffJoined(spark, wh, ref, meta, mFrom, mTo), meta.schema,
      meta.pk, side("a"), side("b"),
      meta.schema.fieldNames.filterNot(meta.pk.contains).toSeq,
      key = c => coalesce(col(s"a.$c"), col(s"b.$c")))
      .filter(col("op") =!= "unchanged")
  }

  /** Toggle the table-property CDC flag (#11l) — the programmatic core
    * of SQL `ALTER TABLE … SET TBLPROPERTIES('changelog'='true')`.
    * Enabling makes EVERY later mutation log a batch (the invariant
    * readChangelog documents); disabling stops the log at the current
    * batch — existing batches stay readable, downstream consumers
    * simply see no further batches. Metadata-only, under the lock. */
  def setChangelog(spark: SparkSession, warehouse0: String,
                   tableName: String, enabled: Boolean,
                   schema: Option[String] = None): Unit = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    WriteLock.withLock(spark, dir, s"setChangelog($enabled)") {
      val meta = TableMeta.read(spark, dir)
      if (meta.changelog != enabled)
        TableMeta.write(spark, dir, meta.copy(changelog = enabled))
    }
  }

  /** Parses/validates a `commit_mode` property value; true =
    * optimistic. Shared by [[setCommitMode]] and CREATE TABLE's
    * pre-creation validation (all-or-nothing: a bogus value must fail
    * before the table exists, like every other property check). */
  def parseCommitMode(mode: String): Boolean = mode.toLowerCase match {
    case "optimistic" => true
    case "locked" => false
    case v => throw new StoreException(
      s"commit_mode must be 'optimistic' or 'locked', got '$v'")
  }

  /** Table-property routing of SQL DML onto the OPTIMISTIC twins —
    * `ALTER TABLE t SET TBLPROPERTIES('commit_mode'='optimistic')`
    * (see [[TableMeta.optimisticDml]]). `mode` is `optimistic` or
    * `locked`; anything else fails loudly. */
  def setCommitMode(spark: SparkSession, warehouse0: String,
                    tableName: String, mode: String,
                    schema: Option[String] = None): Unit = {
    val optimistic = parseCommitMode(mode)
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    WriteLock.withLock(spark, dir, s"setCommitMode($mode)") {
      val meta = TableMeta.read(spark, dir)
      if (meta.optimisticDml != optimistic)
        TableMeta.write(spark, dir, meta.copy(optimisticDml = optimistic))
    }
  }

  /** Changelog RETENTION — expire folded `_changelog/batch=<n>`
    * batches below a batch/age floor. [[vacuum]] stays hands-off the
    * changelog by design (snapshot expiry and change-stream retention
    * are different lifecycles with different consumers), but on a
    * table-property-CDC table EVERY mutation appends a batch forever —
    * at 100 TB with daily merges the log eventually dwarfs the data —
    * so retention is its own explicit locked call (SQL surface:
    * `CALL graft.system.expire_changelog`).
    *
    * A batch expires only while BOTH dials admit it — number below
    * `beforeBatch` (when set) AND commit file-time at least
    * `olderThanMs` old (when set); at least one dial is required (an
    * undialed call refuses rather than default to a full wipe). The
    * expired set is always a PREFIX of the batch sequence: the walk
    * stops at the first non-expirable batch, so the floor invariant
    * ("everything below the floor is gone, everything at/above is
    * intact") holds even under odd file times. The NEWEST batch never
    * expires — it anchors the merged read's schema and keeps the
    * every-mutation invariant observable.
    *
    * Consumer contract (the Iceberg-tag model): changelog cursors are
    * the CALLER's responsibility — the store registers WRITERS in the
    * manifest `streams` ledger, not readers, so expiry cannot know
    * which `sinceBatch` values are live. What it does guarantee: the
    * floor is persisted (`_changelog/_floor.json`) BEFORE any batch
    * dir is deleted, and a later [[readChangelog]] whose cursor
    * reaches below the floor fails loudly toward a re-sync (snapshot
    * read, resume at the floor) — never a silently gapped change
    * stream. The STREAMING consumer
    * ([[graft.streaming.StreamingCdc]]) enforces the same contract:
    * its file stream would simply never list a reaped batch dir, so
    * it checks its fold position against [[changelogFloor]] at start
    * and per epoch, failing toward a re-seed when retention crossed
    * it. Returns the number of batches expired.
    *
    * `dryRun` (the [[vacuum]] move): the identical prefix walk under
    * the same lock, zero deletes, no floor write — the count predicts
    * the real run EXACTLY (expiry has no reap-time divergence the way
    * vacuum's emptied bucket dirs do). */
  def expireChangelog(spark: SparkSession, warehouse0: String,
                      tableName: String,
                      beforeBatch: Option[Long] = None,
                      olderThanMs: Option[Long] = None,
                      dryRun: Boolean = false,
                      schema: Option[String] = None): Int = {
    if (beforeBatch.isEmpty && olderThanMs.isEmpty)
      throw new StoreException(
        "expireChangelog: pass beforeBatch and/or olderThanMs — an " +
        "undialed call would mean 'drop the whole log'")
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    val clRoot = new Path(dir, ChangelogDir)
    val f = fs(spark, dir)
    // LOCKED: the prefix decision + the floor write (monotone floor,
    // arbitration with concurrent batch-number assignment); the
    // physical deletes run AFTER release — once the floor persists,
    // everything below it is logically expired (readers fail toward a
    // re-sync regardless of deletion timing), so a large retention
    // pass never queues writers behind its directory deletes
    val (count, toReap): (Int, Seq[Path]) =
      WriteLock.withLock(spark, dir, "expireChangelog") {
        if (!f.exists(clRoot))
          throw new StoreException(
            s"table $tableName has no changelog — nothing to expire")
        val all = f.listStatus(clRoot).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
          .map(st => (st.getPath.getName.stripPrefix("batch=").toLong, st))
          .sortBy(_._1)
        // MONOTONE floor: batches below the existing floor are already
        // logically expired — a previous call's post-lock physical
        // deletes may still be in flight, or a crash left them behind.
        // They are excluded from the prefix decision (so a second call
        // with narrower dials can never write a SMALLER floor, which
        // would leave the first call's deleted-but-above-floor batches
        // silently gapping the stream) and re-enter the reap list as
        // orphans instead.
        val floor0 = changelogFloor(f, clRoot)
        val (orphans, batches) = all.partition(_._1 < floor0)
        val newest = batches.lastOption.map(_._1).getOrElse(-1L)
        val now = System.currentTimeMillis()
        // prefix walk: stop at the first batch either dial refuses. The
        // age dial judges by the max FILE mtime inside the batch, not
        // the directory's: object-store filesystems synthesize
        // directory mtimes (often 0, or the copy time after a bucket
        // migration), so a dir-mtime age gate would expire every
        // non-newest batch regardless of real age. File mtimes are
        // written at commit; the prefix bound and the newest-batch
        // anchor keep even a skewed clock from gapping the stream.
        val expire = batches.takeWhile { case (n, st) =>
          n != newest &&
            beforeBatch.forall(n < _) &&
            olderThanMs.forall(a =>
              batchCommitMs(f, st.getPath, st.getModificationTime) <= now - a)
        }
        if (expire.isEmpty)
          (0, if (dryRun) Nil else orphans.map(_._2.getPath))
        else if (dryRun) (expire.size, Nil)
        else {
          // floor FIRST, deletes second: a crash in between leaves a
          // floor claiming slightly more than was reaped — readers
          // below it fail toward a re-sync (conservative); the reverse
          // order could leave reaped batches with no floor, i.e. a
          // silently gapped stream. The prefix excluded sub-floor
          // batches, so this floor is strictly above the existing one
          // — never a regression.
          val floor = expire.last._1 + 1
          SmallFile.replace(spark.sparkContext.hadoopConfiguration,
            new Path(clRoot, ChangelogFloorFile),
            s"""{"firstBatch": $floor}""".getBytes("UTF-8"), "floor",
            "changelog floor marker")
          (expire.size, orphans.map(_._2.getPath) ++ expire.map(_._2.getPath))
        }
      }
    // a concurrent expireChangelog's duplicate delete is a no-op
    toReap.foreach(p => f.delete(p, true): Unit)
    count
  }

  /** First surviving changelog batch id — the [[expireChangelog]]
    * floor (0 when never expired). The number every consumer cursor
    * must stay at-or-above: [[readChangelog]] enforces it for batch
    * reads, and the streaming consumer
    * ([[graft.streaming.StreamingCdc]]) checks its fold position
    * against it per epoch. */
  def changelogFloor(spark: SparkSession, warehouse0: String,
                     tableName: String,
                     schema: Option[String] = None): Long = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    val clRoot = new Path(dir, ChangelogDir)
    changelogFloor(fs(spark, dir), clRoot)
  }

  /** Per-surviving-batch changelog stats for the `t$changelog`
    * metadata table: (batch, n_files, bytes, dir mod-time ms, floor),
    * ascending by batch — one listing walk, zero data IO. Empty when
    * the table has no changelog. The retention dashboard: how much
    * log accumulated, how old each batch is, where the expiry floor
    * stands. */
  private[store] def changelogBatchStats(spark: SparkSession,
      tableDir: String): Seq[(Long, Long, Long, Long, Long)] = {
    val clRoot = new Path(tableDir, ChangelogDir)
    val f = fs(spark, tableDir)
    if (!f.exists(clRoot)) return Nil
    val floor = changelogFloor(f, clRoot)
    f.listStatus(clRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map { st =>
        val b = st.getPath.getName.stripPrefix("batch=").toLong
        val files = f.listStatus(st.getPath)
          .filter(x => x.isFile && x.getPath.getName.endsWith(".parquet"))
        // same commit-time rule as expireChangelog's age dial: max FILE
        // mtime (dir mtimes are synthetic on object stores)
        val ts = if (files.isEmpty) st.getModificationTime
                 else files.map(_.getModificationTime).max
        (b, files.length.toLong, files.map(_.getLen).sum, ts, floor)
      }
      .sortBy(_._1)
  }

  /** Commit-time estimate of a changelog batch: the max mtime of the
    * FILES inside the batch dir (files are written once, at commit —
    * their mtimes survive object-store semantics where directory
    * mtimes are synthetic). Empty dir falls back to the dir mtime. */
  private def batchCommitMs(f: FileSystem, batchDir: Path,
                            dirMtime: Long): Long = {
    val files = f.listStatus(batchDir).filter(_.isFile)
    if (files.isEmpty) dirMtime else files.map(_.getModificationTime).max
  }

  /** First surviving batch per the floor marker; 0 when never expired. */
  private def changelogFloor(f: FileSystem, clRoot: Path): Long = {
    val fp = new Path(clRoot, ChangelogFloorFile)
    if (!f.exists(fp)) return 0L
    val s = SmallFile.readUtf8(f, fp)
    """"firstBatch"\s*:\s*(\d+)""".r.findFirstMatchIn(s) match {
      case Some(m) => m.group(1).toLong
      case None => throw new StoreException(
        s"corrupt changelog floor marker $fp: $s")
    }
  }

  /** Read the change-data-capture log written by changelog-enabled
    * upserts: one row per incoming row per batch — (pk…, op,
    * old_<c>…, new_<c>…, batch), op ∈ insert/update/unchanged with
    * before/after images per non-PK column, `batch` monotonically
    * increasing per upsert. `sinceBatch` restricts to batches ≥ it
    * (partition pruning on the batch directory — an incremental
    * consumer reads only the new batches, never the history). Throws
    * [[StoreException]] if the table has no changelog yet (no
    * changelog-enabled upsert has run). */
  def readChangelog(spark: SparkSession, warehouse0: String,
                    tableName: String, sinceBatch: Long = 0L,
                    schema: Option[String] = None): DataFrame = {
    val dir = tableDir(schemaDir(warehouse0, schema), tableName)
    val clRoot = new Path(dir, ChangelogDir)
    val f = fs(spark, dir)
    if (!f.exists(clRoot))
      throw new StoreException(
        s"table $tableName has no changelog (upsert with changelog=true to start one)")
    val floor = changelogFloor(f, clRoot)
    if (sinceBatch < floor)
      throw new StoreException(
        s"changelog batches below $floor were expired (expireChangelog); " +
        s"cursor $sinceBatch is gone — re-sync from a snapshot read and " +
        s"resume with sinceBatch >= $floor")
    // mergeSchema: batches written before a schema evolution lack the
    // evolved columns' images — without the merge, an arbitrary batch's
    // file schema would win and image columns could silently vanish;
    // merged, old batches surface NULL images for columns that did not
    // exist yet (the correct pre-image of a column before its birth)
    spark.read.option("mergeSchema", "true").parquet(clRoot.toString)
      .filter(col("batch") >= sinceBatch)
  }

  /** Read a table back, optionally restricted to an inclusive PK range.
    *
    * Mirrors reference `read_sql` (/root/reference/pandabase/sql.py:349):
    * `lowest`/`highest` filter each PK dimension independently
    * (sql.py:406-426 for MultiIndex); `null` entries skip a dimension.
    * Filters push down to parquet row-group stats.
    *
    * `asOfVersion` TIME-TRAVELS: the read resolves through that
    * manifest snapshot instead of the current one — the data exactly as
    * it stood when version N committed (under the CURRENT logical
    * schema; columns added since read as NULL for files predating
    * them). Available until [[vacuum]] expires the snapshot; reading a
    * vacuumed or unknown version fails loudly naming what IS available.
    *
    * A small bounded read — its scan plans one partition of at most
    * 256 KB of files, as a point read does — is served on the driver: it
    * is read at this call (no Spark job) and returned as a local frame,
    * so its IO errors surface from `readSql` itself. The snapshot it
    * reads is the same. Any other read returns a lazy frame whose scan
    * runs when an action does.
    */
  def readSql(spark: SparkSession,
              warehouse0: String,
              tableName: String,
              lowest: Seq[Any] = Nil,
              highest: Seq[Any] = Nil,
              schema: Option[String] = None,
              asOfVersion: Option[Long] = None,
              asOfTag: Option[String] = None): DataFrame = {
    val warehouse = schemaDir(warehouse0, schema)
    if (asOfVersion.isDefined && asOfTag.isDefined)
      throw new StoreException("pass asOfVersion or asOfTag, not both")
    val meta = TableMeta.read(spark, tableDir(warehouse, tableName))
    for (s <- Seq(lowest, highest) if s.nonEmpty && s.size != meta.pk.size)
      throw new StoreException(
        s"lowest/highest must have one entry per PK column (${meta.pk.size}); " +
        "use null to skip a dimension (reference: sql.py:415)")
    // reference raises when a bound's type can't be compared to the PK
    // column (sql.py:443); mirror that instead of silently coercing
    def boundComparable(v: Any, dt: DataType): Boolean = (v, dt) match {
      case (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double,
            ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType) => true
      case (_: String, StringType) => true
      case (_: Boolean, BooleanType) => true
      case (_: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime,
            TimestampType | TimestampNTZType) => true
      case (_: java.sql.Date | _: java.time.LocalDate, DateType) => true
      case _ => false
    }
    for (bounds <- Seq(lowest, highest); (v, i) <- bounds.zipWithIndex
         if v != null && !boundComparable(v, meta.schema(meta.pk(i)).dataType))
      throw new StoreException(
        s"Select range value $v (${v.getClass.getSimpleName}) is not comparable " +
        s"to PK column ${meta.pk(i)}: ${meta.schema(meta.pk(i)).dataType.catalogString} " +
        "(reference: sql.py:443)")
    val conds: Seq[Column] =
      lowest.zipWithIndex.collect { case (v, i) if v != null => col(meta.pk(i)) >= lit(v) } ++
      highest.zipWithIndex.collect { case (v, i) if v != null => col(meta.pk(i)) <= lit(v) }
    val dir = tableDir(warehouse, tableName)
    val mf = asOfVersion.orElse(asOfTag.map(resolveTag(spark, dir, _))) match {
      case Some(v) => Manifest.at(spark, dir, v)
      case None => Manifest.current(spark, dir)
    }
    // the bounds push down to the scan, which prunes buckets (a point
    // read or a narrow integral range names its buckets exactly), skips
    // files on their manifest [min, max] and row groups on their stats.
    // A bounded read left that small is served on the driver, at this
    // call; an unbounded one stays lazy, so count/min/max keep their
    // footer-aggregate answer
    val read = conds.foldLeft(scanAt(spark, warehouse, tableName, meta, mf))(_ filter _)
      .select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
    if (conds.isEmpty) read
    else KeyedTableSource.onDriver(spark, read).getOrElse(read)
  }

  /** Resolve a snapshot tag to its version, naming the tags that DO
    * exist on a miss. */
  private[store] def resolveTag(spark: SparkSession, dir: String,
                                tag: String): Long = {
    val tags = Tags.read(spark, dir)
    tags.getOrElse(tag, throw new StoreException(
      s"no snapshot tag '$tag' (available: " +
      s"${tags.keys.toSeq.sorted.mkString(", ")})"))
  }
}
