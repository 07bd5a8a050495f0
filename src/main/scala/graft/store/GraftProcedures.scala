package graft.store

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` procedures (#11am — the Iceberg stored-procedure model
  * on Spark 4's DSv2 ProcedureCatalog): the store's whole maintenance
  * surface drives from pure SQL —
  *
  * {{{
  *   CALL graft.system.create_branch('t', 'stage')
  *   CALL graft.system.fast_forward('t', 'stage')
  *   CALL graft.system.create_tag('t', 'train-v3')
  *   CALL graft.system.restore('t', version => 4)
  *   CALL graft.system.vacuum('t', older_than_ms => 0)
  *   CALL graft.system.compact('t')
  *   CALL graft.system.rebucket('t', 64)
  *   CALL graft.system.zorder('t', 'x', 'y')
  *   CALL graft.system.rename_table('t', 't2')
  * }}}
  *
  * Each CALL lowers onto the SAME programmatic primitive (identical
  * locks, commit protocol, guards) and returns its result as a
  * one-row LocalScan — driver-side metadata work, zero executor tasks
  * beyond what the primitive itself runs. Tables inside a schema
  * namespace are addressed `'schema.table'`. */
private[store] object GraftProcedures {

  /** `schema.table` → (table, Some(schema)); bare name → default ns. */
  private def split(table: String): (String, Option[String]) =
    table.indexOf('.') match {
      case -1 => (table, None)
      case i => (table.substring(i + 1), Some(table.substring(0, i)))
    }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inOpt(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue("NULL").build()

  private def out(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private final case class ProcDef(
      name: String, doc: String,
      params: Seq[ProcedureParameter], outSchema: StructType,
      run: (SparkSession, String, InternalRow) => Seq[Any])

  private def str(r: InternalRow, i: Int): String = {
    if (r.isNullAt(i))
      throw new StoreException(s"procedure argument $i must not be NULL")
    r.getUTF8String(i).toString
  }
  private def optLong(r: InternalRow, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))
  private def optStr(r: InternalRow, i: Int): Option[String] =
    if (r.isNullAt(i)) None else Some(r.getUTF8String(i).toString)
  private def optBool(r: InternalRow, i: Int): Option[Boolean] =
    if (r.isNullAt(i)) None else Some(r.getBoolean(i))

  private val defs: Seq[ProcDef] = Seq(
    ProcDef("create_branch",
      "fork a branch off the table's current (or a pinned) snapshot",
      Seq(in("table", StringType), in("branch", StringType),
        inOpt("at_version", LongType)),
      out("fork_version" -> LongType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(Branches.create(sp, wh, t, str(r, 1), sch, optLong(r, 2)))
      }),
    ProcDef("drop_branch", "delete a branch ref",
      Seq(in("table", StringType), in("branch", StringType)),
      out("dropped" -> BooleanType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Branches.drop(sp, wh, t, str(r, 1), sch); Seq(true)
      }),
    ProcDef("fast_forward",
      "publish a branch: fast-forward the base to the branch head",
      Seq(in("table", StringType), in("branch", StringType)),
      out("version" -> LongType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(Branches.fastForward(sp, wh, t, str(r, 1), sch))
      }),
    ProcDef("create_tag",
      "pin a named, vacuum-proof tag on a snapshot",
      Seq(in("table", StringType), in("tag", StringType),
        inOpt("version", LongType)),
      out("version" -> LongType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(KeyedTable.tagSnapshot(sp, wh, t, str(r, 1), optLong(r, 2), sch))
      }),
    ProcDef("drop_tag", "drop a snapshot tag",
      Seq(in("table", StringType), in("tag", StringType)),
      out("dropped" -> BooleanType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(KeyedTable.dropTag(sp, wh, t, str(r, 1), sch))
      }),
    ProcDef("restore",
      "metadata-only restore to an older snapshot (by version or tag)",
      Seq(in("table", StringType), inOpt("version", LongType),
        inOpt("tag", StringType)),
      out("new_version" -> LongType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(KeyedTable.restoreSnapshot(sp, wh, t, optLong(r, 1),
          optStr(r, 2), sch))
      }),
    ProcDef("vacuum",
      "reap expired snapshots, superseded files, crashed staging " +
        "(dry_run => true rehearses: same file decisions, no deletes; " +
        "count is a lower bound — bucket dirs emptied by the real " +
        "reap are deleted and counted only then)",
      Seq(in("table", StringType), inOpt("older_than_ms", LongType),
        inOpt("dry_run", BooleanType)),
      out("removed" -> IntegerType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(KeyedTable.vacuum(sp, wh, t,
          optLong(r, 1).getOrElse(24L * 3600 * 1000), sch,
          dryRun = optBool(r, 2).getOrElse(false)))
      }),
    ProcDef("compact",
      "rewrite buckets whose live-file count breaches the threshold",
      Seq(in("table", StringType), inOpt("min_files", IntegerType)),
      out("rewritten_buckets" -> IntegerType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        val mf = if (r.isNullAt(1)) 4 else r.getInt(1)
        Seq(KeyedTable.compact(sp, wh, t, mf, sch))
      }),
    ProcDef("rebucket", "rewrite the table under a new bucket count",
      Seq(in("table", StringType), in("buckets", IntegerType)),
      out("buckets" -> IntegerType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        KeyedTable.rebucket(sp, wh, t, r.getInt(1), sch); Seq(r.getInt(1))
      }),
    ProcDef("zorder",
      "Z-order-cluster the table on 2-4 columns (full rewrite)",
      Seq(in("table", StringType), in("col1", StringType),
        in("col2", StringType), inOpt("col3", StringType),
        inOpt("col4", StringType)),
      out("done" -> BooleanType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        KeyedTable.zorderCompact(sp, wh, t,
          Seq(str(r, 1), str(r, 2)) ++ optStr(r, 3) ++ optStr(r, 4),
          schema = sch)
        Seq(true)
      }),
    ProcDef("set_stats_columns",
      "register extra per-file min/max stat columns (comma-separated); " +
      "later commits record them for planning-time file skipping",
      Seq(in("table", StringType), in("columns", StringType)),
      out("columns" -> StringType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        val cols = str(r, 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        KeyedTable.setStatsColumns(sp, wh, t, cols, sch)
        Seq(cols.mkString(","))
      }),
    ProcDef("drop_stream_ledger",
      "drop a RETIRED streaming query's epoch-ledger entry (its replay " +
      "protection — only for queries that will never run again); the " +
      "ledger is readable as the t$streams metadata table",
      Seq(in("table", StringType), in("query_id", StringType)),
      out("dropped" -> BooleanType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(KeyedTable.dropStreamLedger(sp, wh, t, str(r, 1), sch))
      }),
    ProcDef("expire_changelog",
      "expire folded changelog batches below a batch/age floor (both " +
      "dials compose; the newest batch never expires); cursors below " +
      "the persisted floor fail loudly toward a re-sync; dry_run => " +
      "true rehearses with an exact count",
      Seq(in("table", StringType), inOpt("before_batch", LongType),
        inOpt("older_than_ms", LongType), inOpt("dry_run", BooleanType)),
      out("removed" -> IntegerType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Seq(KeyedTable.expireChangelog(sp, wh, t, optLong(r, 1),
          optLong(r, 2), optBool(r, 3).getOrElse(false), sch))
      }),
    ProcDef("rename_table",
      "rename a table: one directory rename under the write lock",
      Seq(in("table", StringType), in("to", StringType)),
      out("renamed" -> BooleanType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        Catalog.renameTable(sp, wh, t, str(r, 1), sch); Seq(true)
      }),
    ProcDef("rename_column",
      "rename a column: metadata-only via the logical->physical name " +
      "map (zero data bytes move; PK renames refused)",
      Seq(in("table", StringType), in("from", StringType),
        in("to", StringType)),
      out("renamed" -> BooleanType),
      (sp, wh, r) => {
        val (t, sch) = split(str(r, 0))
        KeyedTable.renameColumn(sp, wh, t, str(r, 1), str(r, 2), sch)
        Seq(true)
      }))

  private val byName: Map[String, ProcDef] = defs.map(d => d.name -> d).toMap

  def names: Seq[String] = defs.map(_.name)

  /** The `system` namespace every procedure lives in (Iceberg's
    * convention; a bare `CALL graft.proc(...)` resolves too). */
  def validNamespace(ns: Array[String]): Boolean =
    ns.isEmpty || (ns.length == 1 && ns(0) == "system")

  def load(warehouse: String, name: String): Option[UnboundProcedure] =
    byName.get(name).map { d =>
      new UnboundProcedure {
        override def name(): String = d.name
        override def description(): String = d.doc
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = d.name
            override def description(): String = d.doc
            override def parameters(): Array[ProcedureParameter] =
              d.params.toArray
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): util.Iterator[Scan] = {
              val values = d.run(SparkSession.active, warehouse, input)
                .map {
                  case s: String => UTF8String.fromString(s)
                  case o => o
                }
              val row: InternalRow =
                new GenericInternalRow(values.toArray[Any])
              val scan: Scan = new LocalScan {
                override def readSchema(): StructType = d.outSchema
                override def rows(): Array[InternalRow] = Array(row)
                override def description(): String = s"graft CALL ${d.name}"
              }
              util.List.of(scan).iterator()
            }
          }
      }
    }
}
