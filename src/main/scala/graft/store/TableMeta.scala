package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Table metadata persisted as `_graft_meta.json` inside the table dir.
  *
  * The logical schema lives here (not only in the parquet footers) so
  * that `add_new_columns`-style evolution is a metadata-only operation:
  * old files simply lack the new column and read back as NULL
  * (the Spark-native replacement for the reference's ALTER TABLE,
  * /root/reference/pandabase/sql.py:509).
  *
  * The bucket count is not here: the manifest snapshot owns it
  * ([[Manifest.buckets]]), so a rebucket switches it in the same flip as
  * the file set. A `buckets` key in a meta file written by an older
  * version is ignored.
  *
  * @param pk       primary-key column names (the reference's index / MultiIndex)
  * @param autoIndex true when the PK is the synthetic Names.AutoIndex column
  * @param schema   logical schema (PK columns first), JSON-serialized Spark StructType
  * @param maxAutoIndex high-water mark of assigned auto-index ids, so an
  *   append never scans the table to find `max(id)`. Updated BEFORE the
  *   data write (a crash mid-append leaves it too high → a harmless id
  *   gap, never a duplicate). `None` on pre-field tables → the reader
  *   recovers via a footer-stats max (O(files), not O(rows)).
  * @param changelog true once any mutation has captured CDC: from then
  *   on EVERY mutation (append, upsert, delete — programmatic or SQL)
  *   writes a changelog batch regardless of the per-call flag. Without
  *   this, a consumer maintaining a derived aggregate from the log
  *   would silently miss rows written through a path that forgot (or,
  *   like SQL `DELETE FROM graft.t`, cannot express) `changelog = true`.
  *   The table-property model (Delta CDF, Iceberg changelog): CDC is a
  *   property of the TABLE, not of individual write calls.
  * @param statsCols EXTRA per-column statistics columns (beyond the
  *   leading PK, which is always tracked): every commit records each
  *   new file's min/max for these from the same one footer read, and
  *   scans file-skip on pushed predicates over them — the Iceberg
  *   per-column-metrics model. Set via `KeyedTable.setStatsColumns`;
  *   `zorderCompact` adds its clustering columns automatically (a
  *   Z-ordered layout is exactly what makes these bounds tight).
  *   Files written before a column joined this list carry no entry for
  *   it and are simply never pruned on it.
  * @param dropped column names removed by `KeyedTable.dropColumns` whose
  *   PHYSICAL data may still sit in live files (the drop is
  *   metadata-only). Re-adding such a name through schema evolution
  *   would silently resurrect the old values instead of reading NULL,
  *   so evolution rejects these names until a FULL rewrite (rebucket /
  *   zorderCompact) has replaced every live file — those clear the
  *   list. The field-ID-free form of Iceberg's drop-column safety.
  */
/** @param optimisticDml table-property routing of SQL DML
  *   (`TBLPROPERTIES('commit_mode'='optimistic')`): when true, SQL
  *   INSERT/UPDATE/DELETE/MERGE lower onto the bucket-level OPTIMISTIC
  *   twins (`appendConcurrent`/`updateConcurrent`/`deleteConcurrent`/
  *   `mergeConcurrent`) instead of the locked primitives — the
  *   Spark-SQL-only writer (the common case for orchestrated
  *   pipelines) then gets the same multi-writer behavior as the
  *   programmatic API: stage outside the lock, bucket-window
  *   re-validation at a brief flip, ConcurrentWriteException →
  *   retry the statement. Default false: fail-fast lock contention,
  *   the conservative single-writer contract. */
/** @param renames LOGICAL → PHYSICAL column-name map from
  *   `KeyedTable.renameColumn` (ALTER TABLE … RENAME COLUMN). The
  *   physical name is fixed at column CREATION and never changes —
  *   live files, staged files, manifest stat keys, and parquet
  *   pushdown all speak physical forever — so a rename is pure
  *   metadata: `schema` carries the new logical name, this map
  *   remembers where the bytes live. Readers alias physical→logical
  *   in one projection; writers alias logical→physical at staging.
  *   Identity entries never appear (renaming back to the physical
  *   name drops the entry). The field-ID-free form of Iceberg's
  *   rename: time travel, incremental reads, and old snapshots keep
  *   working because the bytes' names never moved. */
final case class TableMeta(
    pk: Seq[String],
    autoIndex: Boolean,
    schema: StructType,
    maxAutoIndex: Option[Long] = None,
    changelog: Boolean = false,
    statsCols: Seq[String] = Nil,
    dropped: Seq[String] = Nil,
    checks: Map[String, String] = Map.empty,
    optimisticDml: Boolean = false,
    renames: Map[String, String] = Map.empty) {

  /** The parquet-file name of logical column `c`. */
  def physName(c: String): String = renames.getOrElse(c, c)

  /** `schema` with every field under its PHYSICAL name — what the
    * bytes in live files are actually called. */
  def physSchema: StructType =
    if (renames.isEmpty) schema
    else StructType(schema.fields.map(f => f.copy(name = physName(f.name))))

  def toJson: String = compact(render(JObject(
    "pk" -> JArray(pk.map(JString(_)).toList) ::
    "autoIndex" -> JBool(autoIndex) ::
    "schema" -> JString(schema.json) ::
    (maxAutoIndex.map(m => List("maxAutoIndex" -> (JInt(m): JValue))).getOrElse(Nil) ++
     (if (changelog) List("changelog" -> (JBool(true): JValue)) else Nil) ++
     (if (optimisticDml)
        List("optimisticDml" -> (JBool(true): JValue)) else Nil) ++
     (if (statsCols.nonEmpty)
        List("statsCols" -> (JArray(statsCols.map(JString(_)).toList): JValue))
      else Nil) ++
     (if (dropped.nonEmpty)
        List("dropped" -> (JArray(dropped.map(JString(_)).toList): JValue))
      else Nil) ++
     (if (checks.nonEmpty)
        List("checks" -> (JObject(checks.toList.sortBy(_._1).map {
          case (n, e) => n -> (JString(e): JValue) }): JValue))
      else Nil) ++
     (if (renames.nonEmpty)
        List("renames" -> (JObject(renames.toList.sortBy(_._1).map {
          case (l, p) => l -> (JString(p): JValue) }): JValue))
      else Nil)))))
}

object TableMeta {
  val FileName = "_graft_meta.json"

  /** Driver-side meta cache, validated by the meta file's modification
    * time. Catalog operations over an N-table warehouse (describe,
    * repeated readSql) would otherwise pay N serial small-file reads
    * per call — linear driver latency at 1,000 tables. Same-JVM writes
    * refresh the entry eagerly; cross-JVM writes are caught by the
    * mtime check. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, TableMeta)]()

  def fromJson(s: String): TableMeta = {
    val j = JsonMethods.parse(s)
    val JArray(pks) = (j \ "pk"): @unchecked
    val JBool(auto) = (j \ "autoIndex"): @unchecked
    val JString(schemaJson) = (j \ "schema"): @unchecked
    val maxIdx = (j \ "maxAutoIndex") match {
      case JInt(m) => Some(m.toLong)
      case _ => None
    }
    val cl = (j \ "changelog") match {
      case JBool(b) => b
      case _ => false
    }
    val sc = (j \ "statsCols") match {
      case JArray(xs) => xs.collect { case JString(x) => x }
      case _ => Nil
    }
    val dr = (j \ "dropped") match {
      case JArray(xs) => xs.collect { case JString(x) => x }
      case _ => Nil
    }
    val ck = (j \ "checks") match {
      case JObject(xs) => xs.collect { case (n, JString(e)) => n -> e }.toMap
      case _ => Map.empty[String, String]
    }
    val od = (j \ "optimisticDml") match {
      case JBool(b) => b
      case _ => false
    }
    val rn = (j \ "renames") match {
      case JObject(xs) => xs.collect { case (l, JString(p)) => l -> p }.toMap
      case _ => Map.empty[String, String]
    }
    TableMeta(
      pks.map { case JString(x) => x; case o => o.toString }, auto,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      maxIdx, cl, sc, dr, ck, od, rn)
  }

  def path(tableDir: String): Path = new Path(tableDir, FileName)

  /** ATOMIC publish of the meta file ([[SmallFile.replace]]): lock-free
    * meta readers see the old or the new meta in full, never a torn
    * one, and a failed publish leaves the previous meta intact. */
  def write(spark: SparkSession, tableDir: String, meta: TableMeta): Unit = {
    val p = path(tableDir)
    val conf = spark.sparkContext.hadoopConfiguration
    SmallFile.replace(conf, p, meta.toJson.getBytes("UTF-8"), "meta",
      "metadata")
    cache.put(p.toString,
      (p.getFileSystem(conf).getFileStatus(p).getModificationTime, meta))
  }

  def read(spark: SparkSession, tableDir: String): TableMeta = {
    val p = path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime = fs.getFileStatus(p).getModificationTime
    val hit = cache.get(p.toString)
    if (hit != null && hit._1 == mtime) return hit._2
    val meta = fromJson(SmallFile.readUtf8(fs, p))
    cache.put(p.toString, (mtime, meta))
    meta
  }

  def exists(spark: SparkSession, tableDir: String): Boolean = {
    val p = path(tableDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
