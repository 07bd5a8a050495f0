package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark catalog plugin exposing a graft warehouse to pure SQL:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.store.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *   // then: SELECT ... FROM graft.my_table
  * }}}
  *
  * Reads go through [[KeyedTableSource]]'s table, so catalog-addressed
  * queries get the same column pruning and KeyGroupedPartitioning as
  * `PkJoin` — a SQL join of two `graft.*` tables on pk + pb_bucket
  * plans storage-partitioned. Writes stay with `KeyedTable.toSql`
  * (create/alter/rename through SQL are rejected — the store's write
  * semantics, PK validation, bucketing and staged commits are the
  * library's contract, not DDL's).
  *
  * Schema namespaces (the reference's `schema=` kwarg) surface as
  * one-level SQL namespaces: `graft.raw.t` reads the table `t` of
  * schema `raw` (`<warehouse>/raw/t`), SHOW NAMESPACES lists schemas,
  * CREATE NAMESPACE makes the directory. Deeper nesting is rejected —
  * the reference's namespace model is a single schema level.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"set spark.sql.catalog.$name.warehouse to the warehouse directory")
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  /** One schema level max: [] = default namespace, [s] = schema s. */
  private def schemaOf(namespace: Array[String]): Option[Option[String]] =
    namespace match {
      case Array() => Some(None)
      case Array(s) => Some(Some(s))
      case _ => None
    }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    schemaOf(namespace) match {
      case None => throw new NoSuchNamespaceException(namespace.toSeq)
      case Some(sch) =>
        Catalog.tableNames(spark, KeyedTable.schemaDir(warehouse, sch))
          .map(t => Identifier.of(namespace, t)).toArray
    }

  /** SQL `ALTER TABLE … ADD CONSTRAINT … CHECK` requires the catalog to
    * declare constraint support; the store enforces CHECKs on every
    * write path (see [[KeyedTable.addCheckConstraint]]). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  override def tableExists(ident: Identifier): Boolean =
    schemaOf(ident.namespace)
      .exists(sch => Catalog.hasTable(spark, warehouse, ident.name, sch))

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `graft.`t$history`` / `$tags` /
    // `$files` resolve against the BASE table's manifests (MetaTables).
    // A REAL table whose name happens to contain `$` wins: the
    // synthetic view only resolves when no stored table matches the
    // full identifier, so nothing becomes unreadable through SQL.
    if (!tableExists(ident)) {
      MetaTables.parse(ident.name).foreach { case (base, kind) =>
        val sch = schemaOf(ident.namespace)
        if (sch.exists(s => Catalog.hasTable(spark, warehouse, base, s))) {
          val dir = KeyedTable.tableDir(
            KeyedTable.schemaDir(warehouse, sch.get), base)
          return MetaTables.table(spark, dir, ident.name, kind)
        }
      }
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val sch = schemaOf(ident.namespace).get
    val dir = KeyedTable.tableDir(KeyedTable.schemaDir(warehouse, sch), ident.name)
    new KeyedBatchTable(TableMeta.read(spark, dir),
      KeyedTable.dataDir(KeyedTable.schemaDir(warehouse, sch), ident.name),
      Manifest.current(spark, dir), dir)
  }

  private def dataDirOf(ident: Identifier): String = {
    val sch = schemaOf(ident.namespace).get
    KeyedTable.dataDir(KeyedTable.schemaDir(warehouse, sch), ident.name)
  }

  private def tableDirOf(ident: Identifier): String = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val sch = schemaOf(ident.namespace).get
    KeyedTable.tableDir(KeyedTable.schemaDir(warehouse, sch), ident.name)
  }

  /** SQL time travel: `SELECT … FROM graft.t VERSION AS OF <n>` pins
    * the scan to manifest snapshot n — the SQL surface of
    * `readSql(asOfVersion)`, available until vacuum expires it. A
    * NON-numeric version is a snapshot TAG (`VERSION AS OF 'train-v3'`,
    * see [[Tags]]), vacuum-proof until dropped. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDirOf(ident)
    val v = version.toLongOption
      .getOrElse(KeyedTable.resolveTag(spark, dir, version))
    new KeyedBatchTable(TableMeta.read(spark, dir), dataDirOf(ident),
      Manifest.at(spark, dir, v), dir)
  }

  /** SQL `TIMESTAMP AS OF`: the newest snapshot committed at or before
    * the given instant (Spark hands micros since epoch). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDirOf(ident)
    new KeyedBatchTable(TableMeta.read(spark, dir), dataDirOf(ident),
      Manifest.atTimestamp(spark, dir, timestampMicros / 1000L), dir)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      Catalog.dropTable(spark, warehouse, ident.name, schemaOf(ident.namespace).get)
      true
    }

  // ------------------------------------------------- ProcedureCatalog

  /** SQL `CALL graft.system.<proc>(…)` — the store's maintenance
    * surface from pure SQL ([[GraftProcedures]]): branches + WAP,
    * tags, restore, vacuum, compact, rebucket, zorder, rename. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!GraftProcedures.validNamespace(ident.namespace()))
      throw new StoreException(
        s"no such procedure namespace: ${ident.namespace().mkString(".")} " +
        "(procedures live in `system`)")
    GraftProcedures.load(warehouse, ident.name()).getOrElse(
      throw new StoreException(
        s"no such procedure: ${ident.name()} " +
        s"(available: ${GraftProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!GraftProcedures.validNamespace(namespace)) Array.empty
    else GraftProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ------------------------------------------------ SupportsNamespaces

  override def listNamespaces(): Array[Array[String]] =
    Catalog.schemaNames(spark, warehouse).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // one level only
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (namespace.length == 1 &&
        Catalog.schemaNames(spark, warehouse).contains(namespace.head))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  /** CREATE NAMESPACE = make the schema directory (empty schemas are
    * invisible to listNamespaces until a table lands — same as the
    * reference, where a schema exists by holding tables). */
  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    schemaOf(namespace).flatten match {
      case None => throw new UnsupportedOperationException(
        "graft namespaces are a single schema level")
      case Some(s) =>
        val p = new org.apache.hadoop.fs.Path(KeyedTable.schemaDir(warehouse, Some(s)))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // kind guard: a dir holding _graft_meta is a TABLE — creating a
        // namespace over it would nest the schema inside the table dir
        // and flip its listing kind (see KeyedTable.toSql's twin check)
        if (fs.exists(new org.apache.hadoop.fs.Path(p, TableMeta.FileName)))
          throw new IllegalStateException(
            s"cannot create namespace '$s': $p is a table " +
            s"(holds ${TableMeta.FileName}); schema and table names must not collide")
        fs.mkdirs(p)
    }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    schemaOf(namespace).flatten match {
      case None => false
      case Some(s) =>
        if (!cascade && Catalog.tableNames(spark, warehouse, Some(s)).nonEmpty)
          throw new IllegalStateException(
            s"namespace $s is not empty; use CASCADE to drop its tables")
        val p = new org.apache.hadoop.fs.Path(KeyedTable.schemaDir(warehouse, Some(s)))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(p) && fs.delete(p, true)
    }

  /** SQL `CREATE TABLE graft.t (cols…) TBLPROPERTIES('primary_key'=…)`
    * — the store's create from pure SQL (a SQL-first user's very first
    * statement). The PK + bucket layout rides TBLPROPERTIES:
    *
    * {{{
    *   CREATE TABLE graft.t (k BIGINT, v DOUBLE)
    *   TBLPROPERTIES ('primary_key'='k', 'buckets'='32')
    * }}}
    *
    * Recognized properties: `primary_key` (comma-separated; required
    * unless `auto_index`='true'), `buckets`, `auto_index`, `changelog`.
    * Unknown properties are refused loudly — a typo'd 'primary_kei'
    * must never silently create a keyless table. CTAS works: Spark
    * calls this with the query's schema, then INSERTs through the
    * store's own append path (PK validation, bucket staging, writer
    * lock — the identical contract as programmatic creates).
    * `PARTITIONED BY` is rejected: the hash-bucket layout IS the
    * store's partitioning, derived from the PK. */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
                           properties: java.util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    val sch = schemaOf(ident.namespace).getOrElse(
      throw new NoSuchNamespaceException(ident.namespace.toSeq))
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "PARTITIONED BY is not supported on graft tables: the layout is " +
        "hash buckets over the primary key (TBLPROPERTIES 'primary_key' " +
        "+ 'buckets'), derived by the store")
    val props = properties.asScala.toMap
    // Spark injects bookkeeping properties of its own (provider from
    // USING / the session default, owner); CTAS may add engine hints.
    // Everything else unknown is refused loudly.
    val reserved = Set("provider", "owner", "comment",
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_EXTERNAL)
    if (props.contains(org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION))
      throw new UnsupportedOperationException(
        "LOCATION is not supported: graft tables live in the catalog " +
        s"warehouse ($warehouse)")
    val known = Set("primary_key", "buckets", "auto_index", "changelog",
      "commit_mode")
    val unknown = props.keySet
      .filterNot(known).filterNot(reserved)
      .filterNot(_.startsWith("option."))
    if (unknown.nonEmpty)
      throw new StoreException(
        s"unknown table propert${if (unknown.size == 1) "y" else "ies"} " +
        s"${unknown.toSeq.sorted.mkString(", ")} (recognized: " +
        s"${known.toSeq.sorted.mkString(", ")})")
    def boolProp(k: String): Boolean = props.get(k) match {
      case None => false
      case Some(v) if v.equalsIgnoreCase("true") => true
      case Some(v) if v.equalsIgnoreCase("false") => false
      case Some(v) => throw new StoreException(
        s"table property '$k' must be true/false, got '$v'")
    }
    val autoIndex = boolProp("auto_index")
    // validate BEFORE creation (all-or-nothing like the other property
    // checks): a bogus commit_mode must not leave the new table behind
    props.get("commit_mode").foreach(KeyedTable.parseCommitMode)
    val pk: Seq[String] = props.get("primary_key")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    if (!autoIndex && pk.isEmpty)
      throw new StoreException(
        "CREATE TABLE on a graft catalog needs " +
        "TBLPROPERTIES('primary_key'='col[,col…]') or " +
        "('auto_index'='true') (reference: sql.py:117 — every table is " +
        "keyed)")
    val buckets = props.get("buckets")
      .map(s => s.toIntOption.filter(_ > 0).getOrElse(throw new StoreException(
        s"table property 'buckets' must be a positive integer, got '$s'")))
      .getOrElse(KeyedTable.DefaultBuckets)
    if (columns.exists(_.name == KeyedTable.BucketCol))
      throw new StoreException(
        s"column ${KeyedTable.BucketCol} is the store's synthetic bucket " +
        "column and cannot be declared")
    columns.find(_.defaultValue != null).foreach(c =>
      throw new UnsupportedOperationException(
        s"column ${c.name} DEFAULT values are not supported on graft tables"))
    val structFields = columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(structFields))
    // the declared types are authoritative: no {0,1}->bool inference
    KeyedTable.toSql(empty, warehouse, ident.name, pk = pk,
      autoIndex = autoIndex, buckets = buckets, inferBool = false,
      schema = sch)
    if (boolProp("changelog"))
      KeyedTable.setChangelog(spark, warehouse, ident.name, enabled = true, sch)
    props.get("commit_mode").foreach(m =>
      KeyedTable.setCommitMode(spark, warehouse, ident.name, m, sch))
    // CTAS writes to the RETURNED table: its schema must be exactly the
    // declared/query columns (writeShape — no synthetic slots)
    val whSch = KeyedTable.schemaDir(warehouse, sch)
    val dir = KeyedTable.tableDir(whSch, ident.name)
    new KeyedBatchTable(TableMeta.read(spark, dir),
      KeyedTable.dataDir(whSch, ident.name),
      Manifest.current(spark, dir), dir,
      writeShape = org.apache.spark.sql.types.StructType(structFields))
  }

  /** SQL DDL surface for the three schema evolutions the store defines
    * — `ALTER TABLE graft.t ADD COLUMNS (c TYPE, …)` (metadata-only,
    * forced nullable, tombstoned names rejected),
    * `ALTER TABLE graft.t DROP COLUMN c` (metadata-only with the
    * resurrection tombstone), and
    * `ALTER TABLE graft.t RENAME COLUMN a TO b` (metadata-only via the
    * logical→physical name map; PK renames refused) — lowered onto
    * [[KeyedTable.addColumns]] / [[KeyedTable.dropColumns]] /
    * [[KeyedTable.renameColumn]]: identical locks, validation, and
    * semantics as the programmatic calls. Everything else (type
    * changes, nested fields, arbitrary property sets) is rejected
    * loudly: those would silently break live files' physical layout. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val sch = schemaOf(ident.namespace()).getOrElse(
      throw new NoSuchTableException(ident))
    def topLevel(fieldNames: Array[String], what: String): String = {
      if (fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"$what: graft tables have no nested fields " +
          s"(got ${fieldNames.mkString(".")})")
      fieldNames.head
    }
    val adds = changes.collect { case a: TableChange.AddColumn =>
      if (!a.isNullable)
        throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames.mkString(".")} NOT NULL: added " +
          "columns read NULL for existing rows, so they must be nullable")
      org.apache.spark.sql.types.StructField(
        topLevel(a.fieldNames, "ADD COLUMN"), a.dataType, nullable = true)
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      topLevel(d.fieldNames, "DROP COLUMN")
    }
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      topLevel(r.fieldNames, "RENAME COLUMN") -> r.newName
    }
    val checkAdds = changes.collect { case a: TableChange.AddConstraint =>
      a.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          c.name() -> c.predicateSql()
        case c => throw new UnsupportedOperationException(
          s"only CHECK constraints are supported on graft tables " +
          s"(got ${c.toDDL}); the PK is declared at create time")
      }
    }
    val checkDrops = changes.collect {
      case d: TableChange.DropConstraint => d.name()
    }
    // SET TBLPROPERTIES: `changelog` toggles table-property CDC
    // capture; `commit_mode` routes SQL DML onto the optimistic twins
    // ('optimistic') or the locked primitives ('locked', the default).
    // Everything else is structure (pk/buckets/auto_index), changed
    // through its own operation: rebucket, create.
    val propSets: Seq[() => Unit] = changes.collect {
      case p: TableChange.SetProperty => p.property() match {
        case "changelog" =>
          val on = p.value().toLowerCase match {
            case "true" => true
            case "false" => false
            case v => throw new UnsupportedOperationException(
              s"changelog must be 'true' or 'false', got '$v'")
          }
          () => KeyedTable.setChangelog(spark, warehouse, ident.name(), on, sch)
        case "commit_mode" =>
          val m = p.value()
          () => KeyedTable.setCommitMode(spark, warehouse, ident.name(), m, sch)
        case other => throw new UnsupportedOperationException(
          s"table property '$other' is not settable (only 'changelog' " +
          "and 'commit_mode'; bucket/pk structure changes go through " +
          "rebucket/create)")
      }
      case p: TableChange.RemoveProperty => p.property() match {
        case "changelog" => () =>
          KeyedTable.setChangelog(spark, warehouse, ident.name(),
            enabled = false, sch)
        case "commit_mode" => () =>
          KeyedTable.setCommitMode(spark, warehouse, ident.name(),
            "locked", sch)
        case other => throw new UnsupportedOperationException(
          s"table property '$other' is not removable")
      }
    }
    val other = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.AddConstraint] ||
        c.isInstanceOf[TableChange.DropConstraint] ||
        c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    if (other.nonEmpty)
      throw new UnsupportedOperationException(
        "only ADD COLUMNS, DROP COLUMN, RENAME COLUMN, ADD/DROP " +
        "CONSTRAINT (CHECK), and SET/UNSET TBLPROPERTIES('changelog', " +
        "'commit_mode') are supported on graft tables " +
        s"(got ${other.map(_.getClass.getSimpleName).mkString(", ")})")
    if (adds.nonEmpty)
      KeyedTable.addColumns(spark, warehouse, ident.name(), adds.toSeq, sch)
    renames.foreach { case (from, to) =>
      KeyedTable.renameColumn(spark, warehouse, ident.name(), from, to, sch)
    }
    if (drops.nonEmpty)
      KeyedTable.dropColumns(spark, warehouse, ident.name(), drops.toSeq, sch)
    checkAdds.foreach { case (n, e) =>
      KeyedTable.addCheckConstraint(spark, warehouse, ident.name(), n, e, sch)
    }
    checkDrops.foreach { n =>
      KeyedTable.dropCheckConstraint(spark, warehouse, ident.name(), n, sch): Unit
    }
    propSets.foreach(_())
    loadTable(ident)
  }

  /** SQL `ALTER TABLE graft.old RENAME TO graft.new`: one directory
    * rename under the write lock ([[Catalog.renameTable]]) — metadata
    * only, no data moves. Cross-namespace moves are rejected (a
    * rename is not a relocation between schemas). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!(oldIdent.namespace() sameElements newIdent.namespace()))
      throw new UnsupportedOperationException(
        s"cannot rename across namespaces (${oldIdent.namespace().mkString(".")} " +
        s"-> ${newIdent.namespace().mkString(".")})")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    val sch = schemaOf(oldIdent.namespace).getOrElse(
      throw new NoSuchTableException(oldIdent))
    Catalog.renameTable(spark, warehouse, oldIdent.name, newIdent.name, sch)
  }
}
