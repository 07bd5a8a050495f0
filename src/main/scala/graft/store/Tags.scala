package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Named snapshot tags (`_tags.json` in the table dir): a tag pins a
  * manifest version under a stable name — `readSql(asOfTag)` and SQL
  * `VERSION AS OF 'name'` resolve through it, and [[KeyedTable.vacuum]]
  * NEVER expires a tagged snapshot (nor, via union-liveness, any data
  * file it references). The Iceberg tag model, minimally: time travel
  * by version number is an audit tool that vacuum eventually breaks;
  * a tag is a retention contract — "the `train-v3` corpus cut stays
  * readable" — that survives aggressive vacuums until the tag itself
  * is dropped.
  *
  * Concurrency: the file is read-modify-write, so tag/dropTag run under
  * the table's write lock (callers in [[KeyedTable]] take it); the
  * publish itself is an atomic replace ([[SmallFile.replace]]), so
  * lock-free READERS of `_tags.json` always see a complete JSON
  * document, never a torn or missing one.
  */
private[store] object Tags {
  val FileName = "_tags.json"

  private def pathOf(tableDir: String) = new Path(tableDir, FileName)

  private def fsOf(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All tags of a table, name -> version (empty when none). */
  def read(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val f = fsOf(spark, tableDir)
    val p = pathOf(tableDir)
    if (!f.exists(p)) return Map.empty
    JsonMethods.parse(SmallFile.readUtf8(f, p)) match {
      case JObject(fields) => fields.map {
        case (n, JInt(v)) => n -> v.toLong
        case (n, o) => throw new StoreException(s"bad tag entry $n: $o")
      }.toMap
      case o => throw new StoreException(s"bad tags file: $o")
    }
  }

  /** Overwrite the tag map (caller holds the write lock). A failed
    * publish throws with the previous tags intact. */
  def write(spark: SparkSession, tableDir: String,
            tags: Map[String, Long]): Unit = {
    val p = pathOf(tableDir)
    if (tags.isEmpty) { fsOf(spark, tableDir).delete(p, false); return }
    val json = compact(render(JObject(
      tags.toList.sortBy(_._1).map { case (n, v) => n -> (JInt(v): JValue) })))
    SmallFile.replace(spark.sparkContext.hadoopConfiguration, p,
      json.getBytes("UTF-8"), "tags", "tags")
  }
}
