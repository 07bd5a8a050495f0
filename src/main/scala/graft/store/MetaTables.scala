package graft.store

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style SQL METADATA TABLES: `SELECT * FROM
  * graft.`t$history`` (and `$tags`, `$files`) expose the table's
  * snapshot log, tag pins, and current live file set as queryable
  * relations — the observability surface for time travel, retention,
  * and maintenance decisions, priced entirely from manifests
  * (zero data IO, zero footer opens; they plan as a driver-local scan
  * with no executor tasks).
  *
  *  - `t$history`: one row per unexpired snapshot —
  *    (version, buckets, n_files, n_rows, bytes); n_rows NULL when a
  *    file's footer could not be read at commit (no recorded count).
  *  - `t$tags`: (tag, version) pins ([[Tags]]).
  *  - `t$files`: the CURRENT snapshot's live files —
  *    (bucket, file, bytes, rows).
  *  - `t$checks`: registered CHECK constraints — (name, predicate).
  *  - `t$streams`: the streaming-sink epoch ledger — one
  *    (query_id, epoch_id) high-water mark per sink query that ever
  *    committed ([[KeyedTable.commitStreamEpoch]]); entries of retired
  *    queries persist until `CALL graft.system.drop_stream_ledger`.
  *  - `t$changelog`: one row per SURVIVING CDC batch —
  *    (batch, n_files, bytes, ts_ms, floor) — the retention dashboard
  *    behind `CALL graft.system.expire_changelog`: how much log has
  *    accumulated, how old each batch is, and the current expiry
  *    floor (constant per row; 0 = never expired). Empty when the
  *    table has no changelog.
  *  - `t$buckets`: the per-bucket layout-health report (#11n) as SQL —
  *    one row per bucket: (bucket, n_files, n_rows, n_row_groups,
  *    bytes, dv_files, dv_rows). `n_rows` counts data-file rows; live
  *    rows = n_rows − dv_rows. The observability a SQL-only operator
  *    needs to drive `CALL graft.system.compact` / `rebucket` from a
  *    dashboard: small-file accumulation, row-group geometry, and
  *    tombstone pressure per bucket, priced at footer metadata only
  *    (this one kind opens live files' FOOTERS for the row-group
  *    numbers — still zero data bytes).
  *
  * Read-only by construction (no SupportsWrite); rows are computed
  * when the scan is BUILT, so each query sees one consistent listing.
  */
private[store] object MetaTables {
  private val Kinds =
    Set("history", "tags", "files", "checks", "branches", "streams",
      "changelog", "buckets")

  /** `name$kind` → (base table name, kind), for known kinds only —
    * anything else is a normal (possibly weird) table name. */
  def parse(name: String): Option[(String, String)] = {
    val i = name.lastIndexOf('$')
    if (i <= 0) None
    else {
      val (b, k) = (name.substring(0, i), name.substring(i + 1))
      if (Kinds(k)) Some((b, k)) else None
    }
  }

  private def schemaOf(kind: String): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("op", StringType, nullable = true),
      StructField("buckets", IntegerType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = false),
      StructField("ts_ms", LongType, nullable = true)))
    case "tags" => StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("bucket", IntegerType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true)))
    case "checks" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("predicate", StringType, nullable = false)))
    case "branches" => StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("fork_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false)))
    case "streams" => StructType(Seq(
      StructField("query_id", StringType, nullable = false),
      StructField("epoch_id", LongType, nullable = false)))
    case "changelog" => StructType(Seq(
      StructField("batch", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("ts_ms", LongType, nullable = false),
      StructField("floor", LongType, nullable = false)))
    case "buckets" => StructType(Seq(
      StructField("bucket", IntegerType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_row_groups", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("dv_files", LongType, nullable = false),
      StructField("dv_rows", LongType, nullable = false)))
  }

  private def rowsOf(spark: SparkSession, tableDir: String,
                     kind: String): Array[InternalRow] = kind match {
    case "history" =>
      Manifest.all(spark, tableDir).map { m =>
        val fls = m.files.valuesIterator.flatten.toSeq
        // n_rows = LIVE rows: data-file counts minus delete-vector
        // positions — the same arithmetic as KeyedTable.history, so the
        // two history surfaces always agree after a MoR delete; NULL
        // when either side lacks recorded counts
        val nRows: Any =
          (if (fls.forall(_.rows.isDefined)) Some(fls.flatMap(_.rows).sum)
           else None, m.dvRows) match {
            case (Some(d), Some(dv)) => d - dv
            case _ => null
          }
        new GenericInternalRow(Array[Any](
          m.version, m.op.map(UTF8String.fromString).orNull, m.buckets,
          fls.size.toLong, nRows,
          fls.map(_.len).sum, m.tsMs.map(Long.box).orNull)): InternalRow
      }.toArray
    case "tags" =>
      Tags.read(spark, tableDir).toSeq.sortBy(_._1).map { case (t, v) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(t), v)): InternalRow
      }.toArray
    case "files" =>
      Manifest.current(spark, tableDir).files.toSeq.sortBy(_._1).flatMap {
        case (b, fls) =>
          fls.sortBy(_.name).map { f =>
            new GenericInternalRow(Array[Any](
              b, UTF8String.fromString(f.name), f.len,
              f.rows.map(Long.box).orNull)): InternalRow
          }
      }.toArray
    case "checks" =>
      TableMeta.read(spark, tableDir).checks.toSeq.sortBy(_._1).map {
        case (n, e) => new GenericInternalRow(Array[Any](
          UTF8String.fromString(n), UTF8String.fromString(e))): InternalRow
      }.toArray
    case "branches" =>
      Branches.branchDirs(spark, tableDir).sortBy(_._1).map {
        case (name, brDir) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(name),
            Branches.forkVersionOf(spark, brDir),
            Manifest.current(spark, brDir).version)): InternalRow
      }.toArray
    case "streams" =>
      Manifest.current(spark, tableDir).streams.toSeq.sortBy(_._1).map {
        case (q, e) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(q), e)): InternalRow
      }.toArray
    case "changelog" =>
      KeyedTable.changelogBatchStats(spark, tableDir).map {
        case (b, n, bytes, ts, floor) =>
          new GenericInternalRow(Array[Any](b, n, bytes, ts, floor))
            : InternalRow
      }.toArray
    case "buckets" =>
      val (wh, ref) = KeyedTable.refOf(tableDir)
      KeyedTable.bucketHealthRows(spark, tableDir,
        KeyedTable.dataDir(wh, ref)).map {
        case (b, nf, nr, ng, bytes, dvf, dvr) =>
          new GenericInternalRow(Array[Any](b, nf, nr, ng, bytes, dvf, dvr))
            : InternalRow
      }.toArray
  }

  def table(spark: SparkSession, tableDir: String, display: String,
            kind: String): Table = new Table with SupportsRead {
    override def name(): String = display
    override def schema(): StructType = schemaOf(kind)
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = new ScanBuilder {
      override def build(): Scan = {
        val r = rowsOf(spark, tableDir, kind)
        new LocalScan {
          override def readSchema(): StructType = schemaOf(kind)
          override def rows(): Array[InternalRow] = r
          override def description(): String = s"graft metadata $display"
        }
      }
    }
  }
}
