package graft.store

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 view of a keyed table that makes the store's physical
  * bucket layout VISIBLE TO CATALYST: the scan reports
  * `KeyGroupedPartitioning(identity(pb_bucket))` with one input
  * partition per bucket directory, so a join of two keyed tables that
  * includes `pb_bucket` equality (every PK join qualifies — the bucket
  * is a function of the PK) plans as a storage-partitioned join with
  * ZERO exchange on either side, inside normal Catalyst planning:
  * whole-stage codegen, AQE, spillable sort-merge — none of which the
  * previous RDD `zipPartitions` tier had (and no in-memory build of a
  * whole bucket).
  *
  * The identity transform is the key trick: `bucket(n, pk)` transforms
  * only resolve through a FunctionCatalog, but identity over the
  * physical partition column resolves against the relation output, so
  * a plain path-based provider suffices.
  *
  * Read behavior matches the store layout: data files are the bucket
  * dirs' parquet (vectorized reader, column pruning pushed down); the
  * `pb_bucket` column is served from directory partition values. A
  * keyed scan (one whose output carries `pb_bucket`) always emits all
  * `buckets` partitions (missing dirs → empty file lists) so two tables
  * with the same bucket count report identical partition values and
  * always zip cleanly; any other scan packs its files into at most
  * `defaultParallelism` partitions.
  */
class KeyedTableSource extends TableProvider {

  private def meta(options: CaseInsensitiveStringMap)
      : (TableMeta, String, Manifest) = {
    val warehouse = options.get("warehouse")
    val table = options.get("table")
    require(warehouse != null && table != null,
      "graft keyed-table source requires 'warehouse' and 'table' options")
    val spark = SparkSession.active
    val dir = KeyedTable.tableDir(warehouse, table)
    // snapshot pinned at table resolution: every scan planned from this
    // DataFrame reads one consistent manifest version, however long the
    // query runs and whatever commits land meanwhile. An explicit
    // `version` option pins a PAST snapshot instead (time travel
    // through the full DSv2 machinery: SPJ partitioning, pushdown,
    // that version's own delete vectors) — how snapshotDiff plans its
    // two sides shuffle-free.
    val mf = Option(options.get("version")) match {
      case Some(v) => Manifest.at(spark, dir,
        v.toLongOption.getOrElse(throw new StoreException(
          s"bad version option '$v': expected a snapshot version number")))
      case None => Manifest.current(spark, dir)
    }
    (TableMeta.read(spark, dir), KeyedTable.dataDir(warehouse, table), mf)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (m, _, _) = meta(options)
    StructType(m.schema.fields :+ KeyedTableSource.bucketField)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val (m, dataDir, mf) = meta(new CaseInsensitiveStringMap(properties))
    new KeyedBatchTable(m, dataDir, mf,
      KeyedTable.tableDir(new CaseInsensitiveStringMap(properties).get("warehouse"),
        new CaseInsensitiveStringMap(properties).get("table")))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object KeyedTableSource {
  val bucketField: StructField =
    StructField(KeyedTable.BucketCol, IntegerType, nullable = true)

  /** DataFrame over the keyed table through the V2 source — includes
    * the `pb_bucket` column and carries KeyGroupedPartitioning. */
  def read(spark: SparkSession, warehouse: String, table: String): DataFrame = {
    val dir = KeyedTable.tableDir(warehouse, table)
    frame(spark, TableMeta.read(spark, dir), KeyedTable.dataDir(warehouse, table),
      Manifest.current(spark, dir), dir)
  }

  /** Same, pinned to a specific snapshot version (time travel with the
    * full scan machinery: that snapshot's files, stats, and delete
    * vectors; SPJ partitioning intact). */
  def readAt(spark: SparkSession, warehouse: String, table: String,
             version: Long): DataFrame = {
    val dir = KeyedTable.tableDir(warehouse, table)
    frame(spark, TableMeta.read(spark, dir), KeyedTable.dataDir(warehouse, table),
      Manifest.at(spark, dir, version), dir)
  }

  /** The store's one reader: snapshot `mf` of the table whose files live
    * under `dataDir`, as a DataFrame over a [[KeyedBatchTable]] — the
    * table's columns plus `pb_bucket`, the snapshot's delete vectors
    * applied in the executor readers, and each row's
    * [[KeyedTable.FileCol]] / [[KeyedTable.PosCol]] on request. Every
    * column is typed nullable, as a plain parquet read of the files
    * types it: the schema of readSql's frames is unchanged from the
    * reader this one replaced. */
  private[store] def frame(spark: SparkSession, meta: TableMeta,
                           dataDir: String, mf: Manifest,
                           tableDir: String): DataFrame =
    GraftBridge.ofRows(spark, DataSourceV2Relation.create(
      new KeyedBatchTable(meta.copy(schema = GraftBridge.asNullable(meta.schema)),
        dataDir, mf, tableDir),
      None, None, CaseInsensitiveStringMap.empty()))

  /** `df` — a [[frame]] filtered and projected to plain columns, as
    * readSql builds it — read at once in this JVM when its scan is
    * small ([[KeyedScan.readOnDriver]]), else None and `df` stays lazy.
    * The optimizer plans `df` as it would for a Spark read, so the scan
    * gets the same pushdown, bucket pruning and file skipping. The
    * residual filter is then evaluated interpreted — the bound literals
    * compile no class per key — and the rows come back as a local
    * relation with `df`'s schema: no Spark job, no task, no broadcast.
    * `maxBytes` is the size a served scan may read (the crossover probe
    * in the test sources times both paths past it). */
  private[store] def onDriver(spark: SparkSession, df: DataFrame,
                              maxBytes: Long = KeyedScan.DriverReadMaxBytes)
      : Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, InterpretedUnsafeProjection, Predicate}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => Where, LocalRelation, Project}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val (cols, below) = df.queryExecution.optimizedPlan match {
      case Project(cols, child) => (cols, child)
      case p => (p.output, p)
    }
    val (cond, rel) = below match {
      case Where(c, r: DataSourceV2ScanRelation) => (Some(c), r)
      case r: DataSourceV2ScanRelation => (None, r)
      case _ => return None
    }
    rel.scan match {
      case scan: KeyedScan if cols.forall(_.isInstanceOf[Attribute]) =>
        val keep = cond.map { c =>
          val p = Predicate.createInterpreted(BindReferences.bindReference(c, rel.output))
          p.initialize(0)
          p
        }
        val out = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(cols, rel.output))
        val rows = Seq.newBuilder[InternalRow]
        val served = scan.readOnDriver(maxBytes) { r =>
          if (keep.forall(_.eval(r))) rows += out(r).copy()
        }
        if (!served) None
        else Some(GraftBridge.ofRows(spark,
          LocalRelation(DataTypeUtils.toAttributes(df.schema), rows.result())))
      case _ => None
    }
  }

  /** Each row's physical identity, read on request as metadata columns:
    * its data file's name (a per-file constant, like `pb_bucket`) and
    * its ordinal in that file (parquet's row index) — what a
    * merge-on-read verb writes into delete-vector sidecars. */
  private[store] val identityFields: Seq[StructField] = Seq(
    StructField(KeyedTable.FileCol, StringType, nullable = false),
    StructField(KeyedTable.PosCol, LongType, nullable = false))

  /** `s` with fields under their PHYSICAL names ([[TableMeta.renames]])
    * — what parquet readers must request from live files. The row
    * position is requested as parquet's row-index column, which the
    * reader fills in; like any column a file lacks, it must be
    * requested nullable. */
  private[store] def physStruct(s: StructType, meta: TableMeta): StructType =
    StructType(s.fields.map(f =>
      if (f.name == KeyedTable.PosCol)
        f.copy(name = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, nullable = true)
      else f.copy(name = meta.physName(f.name))))

  /** Rewrite a pushed source Filter's column references
    * logical→physical. None = an unrecognized shape referencing a
    * renamed column — dropped from pushdown; every filter here is an IO
    * optimization only (Spark re-evaluates residuals on the scan's
    * rows), so dropping is always safe. */
  private[store] def physFilter(f: Filter,
                                phys: String => String): Option[Filter] = {
    import org.apache.spark.sql.sources._
    f match {
      case f if f.references.forall(c => phys(c) == c) => Some(f)
      case EqualTo(c, v) => Some(EqualTo(phys(c), v))
      case EqualNullSafe(c, v) => Some(EqualNullSafe(phys(c), v))
      case GreaterThan(c, v) => Some(GreaterThan(phys(c), v))
      case GreaterThanOrEqual(c, v) => Some(GreaterThanOrEqual(phys(c), v))
      case LessThan(c, v) => Some(LessThan(phys(c), v))
      case LessThanOrEqual(c, v) => Some(LessThanOrEqual(phys(c), v))
      case In(c, vs) => Some(In(phys(c), vs))
      case IsNull(c) => Some(IsNull(phys(c)))
      case IsNotNull(c) => Some(IsNotNull(phys(c)))
      case StringStartsWith(c, v) => Some(StringStartsWith(phys(c), v))
      case StringEndsWith(c, v) => Some(StringEndsWith(phys(c), v))
      case StringContains(c, v) => Some(StringContains(phys(c), v))
      case And(l, r) =>
        for { a <- physFilter(l, phys); b <- physFilter(r, phys) }
          yield And(a, b)
      case Or(l, r) =>
        for { a <- physFilter(l, phys); b <- physFilter(r, phys) }
          yield Or(a, b)
      case Not(c) => physFilter(c, phys).map(Not)
      case _ => None
    }
  }

  /** The parquet reader factory of a scan or micro-batch. The FILES
    * carry physical names: request physical columns from parquet
    * (schemas are name-swapped, field order identical, so the positional
    * rows bind to the scan's logical readSchema untouched). `masked`
    * wraps it in a [[DvMaskReaderFactory]]: masked files read through
    * the no-filter delegate (the ordinal counter must see every row);
    * clean files keep row-group pruning. One broadcast configuration
    * serves both delegates and lets executors open their buckets'
    * sidecars. `onDriver`: the factory only ever reads in this JVM
    * ([[KeyedScan.readOnDriver]]), so the configuration is handed over
    * without a broadcast. */
  private[store] def readerFactory(spark: SparkSession, meta: TableMeta,
                                   readDataSchema: StructType,
                                   readPartitionSchema: StructType,
                                   dataFilters: Array[Filter],
                                   masked: Boolean,
                                   onDriver: Boolean): PartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSupport
    val phys = physStruct(readDataSchema, meta)
    val conf =
      if (onDriver) GraftParquetSupport.localReadConf(spark, phys)
      else GraftParquetSupport.readConf(spark, phys)
    def mk(filters: Array[Filter]) =
      GraftParquetSupport.readerFactory(spark, conf, meta.physSchema, phys,
        readPartitionSchema, filters.flatMap(physFilter(_, meta.physName)))
    if (!masked) mk(dataFilters)
    else new DvMaskReaderFactory(mk(dataFilters), mk(Array.empty), conf)
  }

  /** (warehouse, tableName, pk) when `t` is a keyed-table DSv2 handle —
    * how graft's SQL DML rule recognizes its own tables inside a plan
    * (dataDir is always `<warehouse>/<table>/data`). */
  def storeTarget(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[(String, String, Seq[String])] = t match {
    case k: KeyedBatchTable =>
      val (wh, ref) = KeyedTable.refOf(k.tableDir)
      Some((wh, ref, k.meta.pk))
    case _ => None
  }
}

/** `writeShape`: CTAS hands the table returned by `createTable`
  * straight to the write — its schema must be exactly the columns the
  * query provides (no synthetic `pb_bucket`, no auto-index slot), or
  * Spark's output resolution fails on arity. Reads always re-resolve
  * through `loadTable`, which never sets this. */
private[store] class KeyedBatchTable(val meta: TableMeta, dataDir: String,
                                     mf: Manifest,
                                     tableDir0: String = null,
                                     writeShape: StructType = null)
    extends Table with SupportsRead with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The ref's OWN metadata dir — for a branch handle this is the
    * `_branches/<name>` dir, NOT dataDir's parent (branches share the
    * base's data files); every DML/stream surface below must resolve
    * through it or a statement addressed `t@branch` would silently hit
    * the base table. */
  val tableDir: String =
    if (tableDir0 != null) tableDir0
    else new Path(dataDir).getParent.toString

  override def name(): String = tableDir

  /** `SHOW TBLPROPERTIES graft.t` surface: the store's structural and
    * behavioral metadata as read-only properties (mutable ones go
    * through ALTER TABLE SET TBLPROPERTIES — today only `changelog`). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("format", "parquet")
    m.put("primary_key", meta.pk.mkString(","))
    m.put("buckets", mf.buckets.toString)
    m.put("auto_index", meta.autoIndex.toString)
    m.put("changelog", meta.changelog.toString)
    m.put("commit_mode",
      if (meta.optimisticDml) "optimistic" else "locked")
    if (meta.statsCols.nonEmpty)
      m.put("stats_columns", meta.statsCols.mkString(","))
    // observability for renames: logical<-physical pairs, so an
    // operator can see where a column's bytes actually live
    if (meta.renames.nonEmpty)
      m.put("renamed_columns", meta.renames.toSeq.sorted
        .map { case (l, p) => s"$l<-$p" }.mkString(","))
    m.put("current_version", mf.version.toString)
    m
  }

  /** SQL delete surface: `DELETE FROM graft.t WHERE …` routes through
    * [[KeyedTable.delete]] — bucket-pruned rewrite, writer lock,
    * manifest commit, optional changelog semantics all identical to the
    * programmatic call. Spark only plans the statement when every
    * predicate translates to a source Filter and [[canDeleteWhere]]
    * accepts it (complex expressions fail loudly at analysis — never a
    * partial delete). SQL NULL semantics hold: rows where the predicate
    * is NULL are kept. */
  private def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val cond = filters.flatMap(filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val (wh, ref) = KeyedTable.refOf(tableDir)
    val spark = SparkSession.active
    // commit_mode=optimistic (re-read: the property may have changed
    // since this Table instance resolved) routes onto the optimistic
    // twin — the survivor rewrite / DV staging runs outside the lock;
    // a window conflict auto-retries (bounded, re-staged fresh)
    if (TableMeta.read(spark, tableDir).optimisticDml)
      KeyedTable.retrying(s"DELETE FROM $ref", KeyedTable.sqlRetries(spark),
          KeyedTable.SqlMaxRetriesConf) {
        KeyedTable.deleteConcurrent(spark, wh, ref, cond)
      }: Unit
    else
      KeyedTable.delete(spark, wh, ref, cond): Unit
  }

  /** The synthetic auto-index PK surfaces NULLABLE in SQL: the store
    * GENERATES it, so `INSERT INTO` passes NULL for its slot (the same
    * contract as `pb_bucket`) — a non-nullable field would fail the
    * statement at analysis before the store could assign ids. */
  override def schema(): StructType =
    if (writeShape != null) writeShape
    else StructType(meta.schema.fields.map { f =>
      if (meta.autoIndex && f.name == Names.AutoIndex) f.copy(nullable = true)
      else f
    } :+ KeyedTableSource.bucketField)

  override def metadataColumns(): Array[MetadataColumn] =
    KeyedTableSource.identityFields.map(f => new MetadataColumn {
      override def name(): String = f.name
      override def dataType(): DataType = f.dataType
      override def isNullable(): Boolean = f.nullable
    }).toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KeyedScanBuilder(meta, dataDir, schema(), mf,
      Seq("sinceVersion", "endingVersion", "maxVersionsPerTrigger",
          "maxBytesPerTrigger", "maxFilesPerTrigger")
        .flatMap(k => Option(options.get(k)).map(k -> _)).toMap, tableDir)

  /** SQL write surface: `INSERT INTO graft.t …` appends THROUGH the
    * store's own write path — a V1 write fallback hands the whole
    * input DataFrame to [[KeyedTable.toSql]] (Append), so SQL inserts
    * get the identical contract as programmatic appends: PK
    * uniqueness/overlap validation, bucket layout + per-bucket
    * staging/swap, type coercion toward the table schema, and the
    * writer lock. The synthetic `pb_bucket` column is dropped from the
    * input (it is derived from the PK, never accepted from the user —
    * SQL position-based inserts pass NULL for it).
    * INSERT OVERWRITE is rejected: replacing a keyed table's contents
    * is a drop + create (or an upsert) decision, not a silent
    * truncation. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val (wh, tbl) = KeyedTable.refOf(tableDir)
    // SupportsStreamingUpdateAsAppend admits outputMode(Update) streams
    // (changed rows arrive as appends); whether an epoch APPENDS or
    // UPSERTS those rows is the sink_mode option below
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          /** The NATIVE streaming sink (`df.writeStream.table("graft.t")`):
            * executors stage per-bucket parquet, the driver commits each
            * epoch as one manifest flip carrying the (queryId → epoch)
            * ledger — exactly-once over micro-batch replay. Write option
            * `sink_mode`: `append` (default, the batch append contract
            * per epoch) or `upsert` (epochs update by PK through the
            * merge-on-read decomposition — for outputMode(Update)
            * aggregates and CDC folds). Write option `auto_compact`:
            * run the compaction policy after each epoch (defaults to
            * the sink mode's safe choice — ON for upsert, OFF for
            * append, whose tailing incremental consumers a compaction
            * commit would break). See [[KeyedStreamingWrite]]. */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            val mode = Option(info.options.get("sink_mode"))
              .getOrElse("append").toLowerCase
            if (mode != "append" && mode != "upsert")
              throw new StoreException(
                s"unknown sink_mode '$mode': expected 'append' or 'upsert'")
            val autoCompact = Option(info.options.get("auto_compact"))
              .map(_.toLowerCase match {
                case "true" => true
                case "false" => false
                case v => throw new StoreException(
                  s"bad auto_compact '$v': expected 'true' or 'false'")
              })
            new KeyedStreamingWrite(meta, tableDir,
              KeyedTable.dataDir(wh, tbl), info.queryId(), info.schema(),
              upsertMode = mode == "upsert", autoCompact = autoCompact)
          }

          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              if (overwrite)
                throw new StoreException(
                  "INSERT OVERWRITE is not supported on keyed tables: " +
                  "drop + recreate, or upsert through KeyedTable.toSql")
              // synthetic columns are never accepted from SQL: the
              // store derives the bucket and (on auto-index tables)
              // generates the id — their INSERT slots carry NULL. A
              // NON-NULL value in the auto-index slot is rejected, not
              // silently discarded: the user supplied an explicit id
              // the store would otherwise regenerate out from under them
              val cleaned0 = data.drop(KeyedTable.BucketCol)
              import org.apache.spark.sql.functions.{col, raise_error, when}
              val explicitIdMsg =
                s"INSERT into $tbl supplies explicit values for the " +
                s"auto-generated index column ${Names.AutoIndex}; " +
                "the store assigns ids itself — pass NULL for that " +
                "slot (or create the table without auto_index)"
              // unique sentinel embedded in the raise_error payload and
              // matched EXACTLY below — a cause-chain scan for the
              // human-readable phrase would also catch unrelated
              // failures (a CHECK constraint or user data echoing the
              // words) and rewrap them into a misleading explicit-id
              // error
              val sentinel = "[GRAFT-AUTOIDX-8c24f1d0]"
              val keep = cleaned0.columns.filterNot(_ == Names.AutoIndex)
              val cleaned =
                if (!meta.autoIndex ||
                    !data.columns.contains(Names.AutoIndex)) cleaned0
                else if (keep.isEmpty) {
                  // degenerate id-only table: nothing to fold into
                  if (!data.filter(data(Names.AutoIndex).isNotNull).isEmpty)
                    throw new StoreException(explicitIdMsg)
                  cleaned0.drop(Names.AutoIndex)
                } else {
                  // LAZY guard: an eager probe would recompute the whole
                  // incoming plan once just to check a slot that is NULL
                  // in every well-formed INSERT. Folded into one kept
                  // column, the check instead rides the write's own
                  // first pass over the rows (before anything commits)
                  // for free; the cause-chain rewrap below restores the
                  // clean StoreException surface. Because the check now
                  // fires MID-WRITE, a rejected INSERT can leave the
                  // auto-index high-water mark already bumped — ids are
                  // unique-and-monotone, never gap-free (the standard
                  // sequence contract; the old eager probe's
                  // no-side-effect behavior is not promised)
                  cleaned0.withColumn(keep.head,
                    when(data(Names.AutoIndex).isNotNull,
                      raise_error(org.apache.spark.sql.functions
                        .lit(s"$sentinel $explicitIdMsg"))
                        .cast(cleaned0.schema(keep.head).dataType))
                    .otherwise(col(keep.head)))
                    .drop(Names.AutoIndex)
                }
              // commit_mode=optimistic: SQL INSERT appends through the
              // optimistic commit path (files staged outside the lock,
              // per-key overlap re-check at the flip) — N orchestrated
              // INSERT jobs into one table serialize only on the flips.
              // Auto-index tables keep the locked path: id assignment
              // must arbitrate the high-water mark under the lock.
              def doAppend(): Unit =
                if (!meta.autoIndex &&
                    TableMeta.read(SparkSession.active, tableDir).optimisticDml)
                  KeyedTable.retrying(s"INSERT INTO $tbl",
                      KeyedTable.sqlRetries(SparkSession.active),
                      KeyedTable.SqlMaxRetriesConf) {
                    KeyedTable.appendConcurrent(cleaned, wh, tbl)
                  }
                else
                  KeyedTable.toSql(cleaned, wh, tbl, how = WriteMode.Append)
              try doAppend()
              catch {
                case e: Exception =>
                  val inChain = Iterator.iterate(e: Throwable)(_.getCause)
                    .takeWhile(_ != null)
                    .exists(t => Option(t.getMessage)
                      .exists(_.contains(sentinel)))
                  if (inChain) throw new StoreException(explicitIdMsg)
                  else throw e
              }
            }
        }
    }
  }
}

private[store] class KeyedScanBuilder(meta: TableMeta, dataDir: String,
                                      full: StructType,
                                      mf: Manifest,
                                      streamOpts: Map[String, String] = Map.empty,
                                      tableDir: String = null)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var aggResult: Option[(StructType, InternalRow, String)] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept filters whose references are all data columns (parquet
    * row-group stats answer them) or all `pb_bucket` (directory-level
    * pruning). EVERY filter is also returned as residual: pushdown
    * here is purely an IO reduction, never a correctness surface —
    * Spark re-evaluates each predicate on the rows the scan emits. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val dataCols = meta.schema.fieldNames.toSet
    pushed = filters.filter { f =>
      val refs = f.references
      refs.nonEmpty &&
        (refs.forall(dataCols.contains) || refs.forall(_ == KeyedTable.BucketCol))
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Global COUNT(*)/COUNT(col)/MIN/MAX answered from parquet FOOTER
    * metadata — `SELECT count(*) FROM graft.t` over a 100 TB table is
    * then an O(files) driver metadata job planned as a LocalTableScan,
    * with zero executor tasks and zero data bytes read.
    *
    * Complete pushdown only, and only when it is provably exact:
    * no grouping, no filters (every filter is residual in this source,
    * so Spark never offers a filtered aggregate here — checked anyway),
    * min/max restricted to physical types whose parquet statistics are
    * authoritative (integral/floating; strings can be truncated, INT96
    * timestamps lie), COUNT(col) requires null counts present on every
    * row-group chunk. Anything else declines and the normal scan runs —
    * pushdown is an optimization surface, never a correctness one. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    FooterAgg.supported(agg, meta) && pushed.isEmpty &&
      // delete vectors remove rows the footers still count (and may
      // hold the extreme min/max values): never push over a DV'd
      // snapshot — the masked scan answers exactly
      mf.dvs.isEmpty

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!supportCompletePushDown(agg)) return false
    FooterAgg.compute(agg, meta, dataDir, mf) match {
      case Some((schema, row, desc)) => aggResult = Some((schema, row, desc)); true
      case None => false // footers lacked stats somewhere: full scan
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, row, desc)) => new KeyedLocalAggScan(schema, row, desc)
    case None =>
      new KeyedScan(meta, dataDir, required, pushed, mf, streamOpts, tableDir)
  }
}

/** The one-row result of a fully pushed footer aggregation, served as a
  * driver-local scan (plans as LocalTableScan — no tasks, no IO). */
private[store] class KeyedLocalAggScan(schema: StructType, row: InternalRow,
                                       desc: String)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = Array(row)
  override def description(): String = s"graft footer-agg $desc"
}

private[store] class KeyedScan(meta: TableMeta, dataDir: String,
                               required: StructType,
                               pushed: Array[Filter] = Array.empty,
                               mf: Manifest,
                               streamOpts: Map[String, String] = Map.empty,
                               tableDir0: String = null)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeFiltering with SupportsReportStatistics {

  /** The pinned snapshot's bucket count (authoritative across
    * rebuckets). */
  private val numBuckets: Int = mf.buckets

  /** Columns served per file instead of read from it: the bucket (its
    * directory) and the file's name. */
  private def perFile(f: StructField): Boolean =
    f.name == KeyedTable.BucketCol || f.name == KeyedTable.FileCol
  private val readDataSchema = StructType(required.fields.filterNot(perFile))
  private val readPartitionSchema = StructType(required.fields.filter(perFile))

  /** A keyed scan reports `KeyGroupedPartitioning` and plans one input
    * partition per bucket; only a scan whose output carries `pb_bucket`
    * can (the partitioning expression must resolve against it). */
  private val keyed = readPartitionSchema.fieldNames.contains(KeyedTable.BucketCol)

  /** Filters the parquet reader can use for row-group pruning — the
    * bucket column is served from directory values, not file contents,
    * so its predicates stay out of the parquet layer. */
  private val dataFilters =
    pushed.filterNot(_.references.contains(KeyedTable.BucketCol))

  // the reader factory appends partition columns after data columns
  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ readPartitionSchema.fields)

  override def toBatch: Batch = this

  /** The keyed table as a Structured Streaming SOURCE (see
    * [[KeyedMicroBatchStream]]): offsets are manifest versions; each
    * micro-batch reads exactly the files the commits in its window
    * added. Pushed filters keep working — the stream applies the same
    * manifest-stat file skipping as the batch scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new KeyedMicroBatchStream(meta, dataDir, readDataSchema,
      readPartitionSchema, dataFilters, fileMayMatch, streamOpts,
      if (tableDir0 != null) tableDir0
      else new Path(dataDir).getParent.toString)

  override def description(): String =
    s"graft keyed table $dataDir (buckets=$numBuckets, " +
    s"pk=${meta.pk.mkString(",")}), " +
    s"PushedFilters: [${pushed.mkString(", ")}]"

  /** Identity over the physical bucket column — only reportable when
    * the column survives pruning (the partitioning expression must
    * resolve against the scan output). */
  override def outputPartitioning(): Partitioning =
    if (keyed)
      new KeyGroupedPartitioning(
        Array(Expressions.identity(KeyedTable.BucketCol)), numBuckets)
    else new UnknownPartitioning(numBuckets)

  /** Buckets that can possibly hold matching rows (None = all),
    * hashed on the driver with the snapshot's bucket count. Four
    * pushdown shapes name their buckets exactly:
    *  - explicit `pb_bucket` equality / IN;
    *  - a PK fully pinned — each column by equality or by equal
    *    inclusive bounds (readSql's point read): one bucket;
    *  - a NARROW integral range on a single-column PK: its keys, [lo,
    *    hi] clamped to the PK type's domain, number at most 1024, so
    *    the bucket set is their hashes (readSql's range read);
    *  - an IN list of at most 1024 values on a single-column PK: their
    *    hashes, when every value hashes (a keyed delete's probe).
    * Only integral bound values count towards an integral PK: a
    * fractional bound compares in floating point, where one bound can
    * equal several keys in different buckets. Pruned buckets of a keyed
    * scan are still EMITTED (with empty file lists) so partition values
    * stay identical across co-bucketed tables and the SPJ zip is never
    * disturbed. */
  private lazy val keptBuckets: Option[Set[Int]] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types.{ByteType, ShortType}
    val explicit: Seq[Set[Int]] = pushed.toSeq.collect {
      case EqualTo(c, v: Int) if c == KeyedTable.BucketCol => Set(v)
      case In(c, vs) if c == KeyedTable.BucketCol =>
        vs.collect { case i: Int => i }.toSet
    }
    def integral(v: Any): Option[BigInt] = v match {
      case b: Byte => Some(BigInt(b))
      case s: Short => Some(BigInt(s))
      case i: Int => Some(BigInt(i))
      case l: Long => Some(BigInt(l))
      case _ => None
    }
    val domain: Map[String, (BigInt, BigInt)] = meta.pk.flatMap { c =>
      (meta.schema(c).dataType match {
        case ByteType => Some((BigInt(Byte.MinValue), BigInt(Byte.MaxValue)))
        case ShortType => Some((BigInt(Short.MinValue), BigInt(Short.MaxValue)))
        case IntegerType => Some((BigInt(Int.MinValue), BigInt(Int.MaxValue)))
        case LongType => Some((BigInt(Long.MinValue), BigInt(Long.MaxValue)))
        case _ => None
      }).map(c -> _)
    }.toMap
    // a value an integral PK column can be pinned to: integral only
    def pinnable(c: String, v: Any): Boolean =
      v != null && (!domain.contains(c) || integral(v).isDefined)
    def values(pick: PartialFunction[Filter, (String, Any)]): Map[String, Set[Any]] =
      pushed.toSeq.collect(pick).filter { case (c, v) => pinnable(c, v) }
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val eqs = values { case EqualTo(c, v) => c -> v }
    val los = values { case GreaterThanOrEqual(c, v) => c -> v }
    val his = values { case LessThanOrEqual(c, v) => c -> v }
    val pinned: Seq[Option[Any]] = meta.pk.map { c =>
      eqs.getOrElse(c, Set.empty).headOption.orElse(
        (los.getOrElse(c, Set.empty) intersect his.getOrElse(c, Set.empty)).headOption)
    }
    val byKey: Option[Set[Int]] =
      if (pinned.forall(_.isDefined)) bucketOfPinned(pinned.flatten).map(Set(_))
      else meta.pk match {
        case Seq(c) if domain.contains(c) =>
          val (tmin, tmax) = domain(c)
          val lo = pushed.toSeq.collect {
            case GreaterThanOrEqual(`c`, v) => integral(v)
            case GreaterThan(`c`, v) => integral(v).map(_ + 1)
          }.flatten
          val hi = pushed.toSeq.collect {
            case LessThanOrEqual(`c`, v) => integral(v)
            case LessThan(`c`, v) => integral(v).map(_ - 1)
          }.flatten
          val (l, h) = ((tmin +: lo).max, (tmax +: hi).min)
          if ((lo.isEmpty && hi.isEmpty) || h - l >= 1024) None
          else {
            val bs = (l to h).map(k => bucketOfPinned(Seq(k.toLong)))
            if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
          }
        case _ => None
      }
    // a PK IN list (a keyed delete's or update's probe) names its keys'
    // buckets, bounded as the range is
    val byList: Seq[Set[Int]] = meta.pk match {
      case Seq(c) => pushed.toSeq.collect {
        case In(`c`, vs) if vs.nonEmpty && vs.length <= 1024 &&
            vs.forall(pinnable(c, _)) =>
          vs.toSeq.map(v => bucketOfPinned(Seq(v)))
      }.filter(_.forall(_.isDefined)).map(_.flatten.toSet)
      case _ => Nil
    }
    val all = explicit ++ byKey ++ byList
    if (all.isEmpty) None else Some(all.reduce(_ intersect _))
  }

  /** Runtime (DPP-analog) bucket pruning: a broadcast join against a
    * small filtered dimension hands this scan the dim's actual join-key
    * VALUES at execution time (Spark's dynamic pruning machinery calls
    * [[filter]] before re-planning partitions). Each value hashes to
    * its bucket — the fact side then reads only the buckets that can
    * possibly match, turning "scan 100 TB to join 1,000 keys" into a
    * few bucket dirs. Conservative by construction: pruning applies
    * only when EVERY value hashes cleanly (a superset of matching
    * buckets is always kept), and only for a single-column PK (one
    * dimension of a composite key cannot determine the bucket). */
  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  /** Runtime filters must name columns of the scan's output (Spark
    * resolves them against it): the PK only when it was not pruned. */
  override def filterAttributes(): Array[NamedReference] =
    if (meta.pk.size == 1 && required.fieldNames.contains(meta.pk.head))
      Array(Expressions.column(meta.pk.head))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val MaxRuntimeKeys = 4096
    val sets: Seq[Set[Int]] = filters.toSeq.flatMap {
      case In(c, vs) if meta.pk == Seq(c) && vs.nonEmpty && vs.length <= MaxRuntimeKeys =>
        val bs = vs.toSeq.map(v => bucketOfPinned(Seq(v)))
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case EqualTo(c, v) if meta.pk == Seq(c) =>
        bucketOfPinned(Seq(v)).map(Set(_))
      case _ => None
    }
    if (sets.nonEmpty) runtimeBuckets = Some(sets.reduce(_ intersect _))
  }

  /** The bucket of pinned PK values ([[KeyedTable.bucketOfKey]]); None
    * when a value does not cast to its PK type — then no pruning, which
    * is always safe. */
  private def bucketOfPinned(values: Seq[Any]): Option[Int] =
    try Some(KeyedTable.bucketOfKey(SparkSession.active, meta, numBuckets, values))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Per-column bound constraints from the pushed filters, for every
    * column the manifest carries statistics for — the leading PK plus
    * the table's configured [[TableMeta.statsCols]] — each file must
    * satisfy ALL of them to stay in the scan. Inclusive bounds are
    * used even for strict predicates (conservative; pruning is an IO
    * reduction, never a correctness surface — every filter is residual
    * in this source). */
  private lazy val statFileBounds: Seq[(String, (Option[Any], Option[Any]))] = {
    import org.apache.spark.sql.sources._
    val tracked: Set[String] =
      meta.pk.headOption.toSet ++ meta.statsCols
    pushed.toSeq.flatMap {
      case EqualTo(c, v) if tracked(c) =>
        Manifest.normBound(v).map(n => c -> (Some(n): Option[Any], Some(n): Option[Any]))
      case GreaterThan(c, v) if tracked(c) =>
        Manifest.normBound(v).map(n => c -> (Some(n): Option[Any], None: Option[Any]))
      case GreaterThanOrEqual(c, v) if tracked(c) =>
        Manifest.normBound(v).map(n => c -> (Some(n): Option[Any], None: Option[Any]))
      case LessThan(c, v) if tracked(c) =>
        Manifest.normBound(v).map(n => c -> (None: Option[Any], Some(n): Option[Any]))
      case LessThanOrEqual(c, v) if tracked(c) =>
        Manifest.normBound(v).map(n => c -> (None: Option[Any], Some(n): Option[Any]))
      // a prefix predicate is the range [prefix, successor): lo is the
      // prefix itself; hi is the prefix with its last char incremented
      // (only when that stays below the surrogate range — otherwise
      // lo-only, which still prunes; inclusive hi admits at most one
      // extra boundary file, conservative by construction)
      case StringStartsWith(c, p) if tracked(c) && p.nonEmpty =>
        val hi: Option[Any] =
          if (p.last < 0xD7FF.toChar) Some(p.init + (p.last + 1).toChar)
          else None
        Some(c -> (Some(p): Option[Any], hi))
      case In(c, vs) if tracked(c) && vs.nonEmpty =>
        val ns = vs.toSeq.map(Manifest.normBound)
        if (ns.forall(_.isDefined) &&
            ns.flatten.forall(_.getClass == ns.head.get.getClass)) {
          val sorted = ns.flatten.sortWith {
            case (a: Long, b: Long) => a < b
            case (a: Double, b: Double) => a < b
            // strict UTF-8 byte order — the SAME ordering mayOverlap
            // uses against the manifest's file stats; Java's UTF-16
            // `<` disagrees for supplementary-plane vs U+E000..U+FFFF
            // and would derive inverted [lo,hi] bounds that silently
            // prune files containing matching rows
            case (a: String, b: String) => a != b && Manifest.utf8Le(a, b)
            case _ => false
          }
          Some(c -> (Some(sorted.head): Option[Any], Some(sorted.last): Option[Any]))
        } else None
      case _ => None
      // manifest stat entries are keyed by PHYSICAL column names (what
      // the parquet footers carry) — translate renamed logical columns
    }.map { case (c, b) => meta.physName(c) -> b }
  }

  /** Pushed NULLNESS constraints over the tracked stat columns —
    * (physical column, wantNull): `IS NULL` skips files whose recorded
    * null count is zero; `IS NOT NULL` skips ALL-NULL files (count ==
    * row count) — the files min/max bounds can never prune, because an
    * all-null column chunk has no bounds at all. Spark pushes
    * `IsNotNull(c)` alongside every comparison on `c`, so an ingest
    * whose early files predate a column (all-NULL there) file-skips on
    * ANY predicate over it, not just explicit nullness queries. */
  private lazy val nullFileBounds: Seq[(String, Boolean)] = {
    import org.apache.spark.sql.sources.{IsNotNull, IsNull}
    val tracked: Set[String] =
      meta.pk.headOption.toSet ++ meta.statsCols
    pushed.toSeq.collect {
      case IsNull(c) if tracked(c) => meta.physName(c) -> true
      case IsNotNull(c) if tracked(c) => meta.physName(c) -> false
    }
  }

  /** Does this file's recorded stats (leading-PK or extra-column
    * bounds, per-column null counts) admit every pushed constraint?
    * (Stat keys are physical; the PK is never renamable, so its
    * logical and physical names coincide.) */
  private def fileMayMatch(mfF: ManifestFile): Boolean =
    statFileBounds.forall { case (c, (lo, hi)) =>
      if (meta.pk.headOption.contains(c)) mfF.mayOverlap(lo, hi)
      else mfF.mayOverlapOn(c, lo, hi)
    } &&
    nullFileBounds.forall { case (c, wantNull) =>
      mfF.mayMatchNull(c, wantNull)
    }

  /** Per-bucket delete-vector sidecar PATHS, straight from the manifest
    * (names + bucket dirs — ZERO IO to resolve): the driver plans which
    * DV files exist; each executor task loads its own bucket's masks in
    * `createReader` (see [[DvMaskReaderFactory]]). Empty for the common
    * no-DV snapshot. */
  private lazy val dvPathsByBucket: Map[Int, Array[String]] =
    mf.dvs.map { case (b, fls) =>
      b -> fls.map(f =>
        s"$dataDir/${KeyedTable.BucketCol}=$b/${f.name}").toArray
    }

  /** The manifest IS the file index (names + lengths + per-file
    * stats): planning a scan costs ZERO filesystem calls — at thousands
    * of buckets on an object store, listings are the planning latency
    * floor this removes — reads one immutable snapshot regardless of
    * concurrent commits, and FILE-SKIPS on the pushed stats bounds
    * before any footer is opened.
    *  - A keyed scan plans one partition per bucket, all `numBuckets`
    *    of them, for the SPJ zip.
    *  - Any other scan skips empty buckets and packs the kept files into
    *    at most `defaultParallelism` partitions, balanced by bytes: a
    *    point read runs one task, not one per bucket.
    * Each partition carries its files' buckets' delete-vector paths, and
    * the whole scan reads row-based when any planned partition has one
    * (Spark refuses to mix columnar and row partitions). */
  override def planInputPartitions(): Array[InputPartition] = {
    // static (pushdown) ∩ runtime (dynamic pruning) bucket sets; the
    // runtime set can arrive between the two planInputPartitions calls
    // BatchScanExec makes (original + filtered partitions)
    val kept: Option[Set[Int]] =
      Seq(keptBuckets, runtimeBuckets).flatten.reduceOption(_ intersect _)
    def filesOf(b: Int): Seq[PartitionedFile] =
      if (!kept.forall(_.contains(b))) Nil
      else mf.files.getOrElse(b, Nil).filter(fileMayMatch).map { mfF =>
        val values = new GenericInternalRow(readPartitionSchema.fieldNames.map {
          case KeyedTable.BucketCol => b: Any
          case _ => UTF8String.fromString(mfF.name)
        })
        new PartitionedFile(values,
          SparkPath.fromPath(new Path(dataDir, s"${KeyedTable.BucketCol}=$b/${mfF.name}")),
          0L, mfF.len, Array.empty[String], 0L, mfF.len, Map.empty[String, Any])
      }
    def dvPaths(buckets: Iterable[Int]): Array[String] =
      buckets.toArray.distinct.flatMap(dvPathsByBucket.getOrElse(_, Array.empty[String]))
    // (index, partition key, files, their buckets' DV paths)
    val planned: Seq[(Int, InternalRow, Seq[PartitionedFile], Array[String])] =
      if (keyed) (0 until numBuckets).map { b =>
        val files = filesOf(b)
        (b, new GenericInternalRow(Array[Any](b)), files,
          if (files.isEmpty) Array.empty[String] else dvPaths(Seq(b)))
      } else {
        val live = (0 until numBuckets).flatMap(b => filesOf(b).map(b -> _))
        val n = math.min(live.size, SparkSession.active.sparkContext.defaultParallelism)
        val bins = Array.fill(n)(Seq.newBuilder[(Int, PartitionedFile)])
        val loads = Array.fill(n)(0L)
        live.sortBy(-_._2.length).foreach { bf =>
          val i = loads.indices.minBy(loads)
          bins(i) += bf
          loads(i) += bf._2.length
        }
        bins.toSeq.map(_.result()).zipWithIndex.map { case (bin, i) =>
          (i, InternalRow.empty, bin.map(_._2), dvPaths(bin.map(_._1)))
        }
      }
    val rowOnly = planned.exists(_._4.nonEmpty)
    planned.map { case (i, key, files, dvs) =>
      new KeyedFilePartition(i, files.toArray, key, dvs, rowOnly): InputPartition
    }.toArray
  }

  /** One factory per scan: Spark may ask each copy of the planned scan
    * node for it, and each build broadcasts a configuration. */
  private lazy val readerFactory: PartitionReaderFactory =
    KeyedTableSource.readerFactory(SparkSession.active, meta, readDataSchema,
      readPartitionSchema, dataFilters, masked = mf.dvs.nonEmpty, onDriver = false)

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Reads the scan in this JVM when it is small — it plans at most one
    * input partition (one task through Spark) and its files total at
    * most `maxBytes` — passing each row of
    * [[readSchema]] to `each` (the reader reuses it: copy what is
    * kept). False, with nothing read, for any other scan. The reader is
    * the scan's own factory, so delete-vector masks, physical column
    * names, evolved-schema NULLs and row-group filters apply exactly as
    * on an executor; only its configuration is handed over in-process
    * instead of broadcast. */
  private[store] def readOnDriver(maxBytes: Long)(each: InternalRow => Unit): Boolean = {
    val parts = planInputPartitions()
    val bytes = parts.iterator.collect { case p: FilePartition =>
      p.files.iterator.map(_.length).sum }.sum
    if (parts.length > 1 || bytes > maxBytes) return false
    val factory = KeyedTableSource.readerFactory(SparkSession.active, meta,
      readDataSchema, readPartitionSchema, dataFilters,
      masked = mf.dvs.nonEmpty, onDriver = true)
    parts.foreach { p =>
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) r.get().rowIterator().asScala.foreach(each)
        finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) each(r.get())
        finally r.close()
      }
    }
    true
  }

  /** Size statistics from the snapshot's file lengths over the
    * (statically pruned) buckets — zero filesystem calls, no footer
    * opens, no data bytes. Without this
    * Catalyst has no size for a V2 relation and assumes
    * `defaultSizeInBytes` (effectively infinite), so a small keyed
    * dimension would NEVER auto-broadcast in a join against a fact
    * table. File bytes are compressed parquet; the session's
    * `spark.sql.sources.fileCompressionFactor` scales them exactly as
    * the built-in FileScan does, so broadcast thresholds mean the same
    * thing for keyed tables as for plain parquet. */
  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val factor = spark.conf
      .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
    val bytes: Long = mf.files.iterator.collect {
      case (b, fls) if keptBuckets.forall(_.contains(b)) => fls.map(_.len).sum
    }.sum
    val scaled = math.max(1L, (bytes * factor).toLong)
    // row counts ride in the manifest (recorded at commit time), so the
    // estimate costs nothing; files missing counts (a footer read that
    // failed at commit) decline rather than under-report. Delete-vector
    // positions subtract — each tombstones exactly one live row.
    val rowsOpt: Option[Long] = {
      val kept = mf.files.toSeq.collect {
        case (b, fls) if keptBuckets.forall(_.contains(b)) => fls
      }.flatten
      val dead = mf.dvs.toSeq.collect {
        case (b, fls) if keptBuckets.forall(_.contains(b)) => fls
      }.flatten
      if (kept.nonEmpty && kept.forall(_.rows.isDefined) &&
          dead.forall(_.rows.isDefined))
        Some(kept.flatMap(_.rows).sum - dead.flatMap(_.rows).sum)
      else None
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong =
        rowsOpt.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }
}

private[store] object KeyedScan {
  /** The most file bytes readSql reads on the driver
    * ([[KeyedScan.readOnDriver]]). Picked from the crossover probe
    * (`DriverReadProbe`, test sources; 4-vCPU VM, `local[4]`, one-file
    * tables of the oltp benchmark's row shape): a point read was faster
    * on the driver at every size up to 13 MB (23-58 ms against 53-155 ms
    * through Spark), a masked point read up to 3.4 MB, but a read that
    * returns the whole file only up to about 16K rows: 71 against 80 ms
    * at 226 KB, 287 against 122 ms at 871 KB. */
  val DriverReadMaxBytes: Long = 256L << 10
}

/** Driver-side evaluation of fully-pushed global aggregates from
  * parquet footer metadata. O(files) footer opens, zero data pages —
  * the scan-free answer to COUNT/MIN/MAX over the whole table.
  * Every helper is conservative: any absent statistic anywhere makes
  * [[compute]] return None and the caller fall back to a real scan. */
private[store] object FooterAgg {
  import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
  import org.apache.spark.sql.types._

  /** Types whose parquet min/max statistics are authoritative AND whose
    * catalyst-internal value equals the footer's boxed value (int/long/
    * float/double; DateType rides the INT32 days encoding). Strings are
    * excluded (footers may truncate), timestamps too (the write path's
    * physical encoding — INT96 vs INT64 — is a session conf, and INT96
    * stats are untrustworthy by spec). */
  private val StatTypes: Set[DataType] =
    Set(IntegerType, LongType, FloatType, DoubleType, DateType)

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }

  def supported(agg: Aggregation, meta: TableMeta): Boolean = {
    val dataCols = meta.schema.fieldNames.toSet
    def statCol(e: org.apache.spark.sql.connector.expressions.Expression) =
      colOf(e).exists(n => dataCols.contains(n) &&
        StatTypes.contains(meta.schema(n).dataType))
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count if !c.isDistinct => colOf(c.column).exists(dataCols.contains)
        case m: Min => statCol(m.column)
        case m: Max => statCol(m.column)
        case _ => false
      }
  }

  def compute(agg: Aggregation, meta: TableMeta, dataDir: String,
              mf: Manifest): Option[(StructType, InternalRow, String)] =
    try {
      // defense in depth (the builder already declines): footer counts
      // and extrema are pre-delete-vector values
      if (mf.dvs.nonEmpty) return None
      // COUNT(*)-only aggregations over a manifest whose every file
      // carries its row count are pure driver ARITHMETIC — zero footer
      // opens, zero filesystem calls: `SELECT count(*) FROM graft.t`
      // over a 100 TB table costs one manifest read
      if (agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])) {
        val fls = mf.files.valuesIterator.flatten.toSeq
        if (fls.forall(_.rows.isDefined)) {
          val total = fls.flatMap(_.rows).sum
          val out = agg.aggregateExpressions.map { _ =>
            (StructField("count(*)", LongType, nullable = false),
              java.lang.Long.valueOf(total): Any)
          }
          return Some((StructType(out.map(_._1)),
            new GenericInternalRow(out.map(_._2).toArray),
            s"$dataDir [count(*)] (manifest row counts, zero IO)"))
        }
      }
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      // LIVE files only: the snapshot's list (superseded files
      // awaiting vacuum must not be counted)
      val files: Seq[org.apache.parquet.hadoop.util.HadoopInputFile] =
        mf.files.toSeq.sortBy(_._1).flatMap { case (b, fls) =>
          fls.map(mfF => org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(dataDir, s"${KeyedTable.BucketCol}=$b/${mfF.name}"), conf))
        }
      val needCols: Set[String] = agg.aggregateExpressions.toSet.flatMap {
        (f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc) => f match {
          case c: Count => colOf(c.column)
          case m: Min => colOf(m.column)
          case m: Max => colOf(m.column)
          case _ => None
        }
      }
      var rowCount = 0L
      val nulls = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val mins = scala.collection.mutable.Map.empty[String, Comparable[Any]]
      val maxs = scala.collection.mutable.Map.empty[String, Comparable[Any]]
      files.foreach { in =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          reader.getFooter.getBlocks.forEach { block =>
            rowCount += block.getRowCount
            needCols.foreach { c =>
              val chunk = block.getColumns.asScala
                .find(_.getPath.toDotString == meta.physName(c))
                .getOrElse(throw new IllegalStateException(s"no chunk for $c"))
              val s = chunk.getStatistics
              if (s == null || !s.isNumNullsSet)
                throw new IllegalStateException(s"no null counts for $c")
              nulls(c) += s.getNumNulls
              if (s.getNumNulls < block.getRowCount) {
                if (!s.hasNonNullValue)
                  throw new IllegalStateException(s"no min/max for $c")
                val mn = s.genericGetMin.asInstanceOf[Comparable[Any]]
                val mx = s.genericGetMax.asInstanceOf[Comparable[Any]]
                if (!mins.get(c).exists(_.compareTo(mn) <= 0)) mins(c) = mn
                if (!maxs.get(c).exists(_.compareTo(mx) >= 0)) maxs(c) = mx
              }
            }
          }
        } finally reader.close()
      }
      val out = agg.aggregateExpressions.map {
        case _: CountStar =>
          (StructField("count(*)", LongType, nullable = false),
            java.lang.Long.valueOf(rowCount): Any)
        case c: Count =>
          val n = colOf(c.column).get
          (StructField(s"count($n)", LongType, nullable = false),
            java.lang.Long.valueOf(rowCount - nulls(n)): Any)
        case m: Min =>
          val n = colOf(m.column).get
          (StructField(s"min($n)", meta.schema(n).dataType),
            mins.get(n).orNull: Any)
        case m: Max =>
          val n = colOf(m.column).get
          (StructField(s"max($n)", meta.schema(n).dataType),
            maxs.get(n).orNull: Any)
        case other =>
          throw new IllegalStateException(s"unsupported aggregate $other")
      }
      Some((StructType(out.map(_._1)),
        new GenericInternalRow(out.map(_._2).toArray),
        s"$dataDir [${out.map(_._1.name).mkString(", ")}] " +
          s"(${files.length} files, footer-only)"))
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** A FilePartition that also exposes its bucket id as the partition
  * key, which is what lets BatchScanExec group a keyed scan's
  * partitions into a catalyst KeyGroupedPartitioning (a packed scan's
  * partitions span buckets; their key is empty and never read).
  * `dvPaths` names the delete-vector sidecar files of the buckets its
  * files belong to (absolute paths — the manifest already knows them,
  * so planning does zero IO); [[DvMaskReaderFactory]] loads and applies
  * them inside the per-file readers ON THE EXECUTOR, so the
  * partitioning report — and every SPJ built on it — is untouched by
  * merge-on-read deletes, and the task descriptor stays O(file names)
  * however many positions are tombstoned. `rowOnly` is set on EVERY
  * partition of a scan/micro-batch when any planned partition carries a
  * mask: Spark refuses to mix columnar and row partitions within one
  * scan, so the whole batch reads row-based together. */
private[store] class KeyedFilePartition(
    override val index: Int,
    override val files: Array[PartitionedFile],
    key: InternalRow,
    val dvPaths: Array[String] = Array.empty,
    val rowOnly: Boolean = false)
    extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}
