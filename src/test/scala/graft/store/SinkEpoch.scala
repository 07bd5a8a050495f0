package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** One streaming-sink epoch driven the way the sink's executors and
  * driver do it, for specs that need an epoch without a streaming
  * query: the rows stage per bucket (the store's own bucket hash on an
  * `id` PK) under `.staging-stream-<queryId>/epoch=<n>`, and
  * [[KeyedTable.commitStreamEpoch]] commits them with the staged file
  * list as the tasks' commit messages. */
object SinkEpoch {
  def commit(spark: SparkSession, wh: String, table: String, rows: DataFrame,
             buckets: Int, queryId: String, epochId: Long,
             upsert: Boolean = false): Unit = {
    val tblDir = KeyedTable.tableDir(wh, table)
    val staging = s"$tblDir/.staging-stream-$queryId/epoch=$epochId"
    rows.withColumn("pb_bucket",
        pmod(xxhash64(col("id")), lit(buckets.toLong)).cast("int"))
      .repartition(1).write.partitionBy("pb_bucket").parquet(staging)
    val p = new Path(staging)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = f.listStatus(p).filter(_.isDirectory).flatMap { d =>
      f.listStatus(d.getPath)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => s"${d.getPath.getName}/${st.getPath.getName}")
    }.toSet
    KeyedTable.commitStreamEpoch(spark, tblDir, KeyedTable.dataDir(wh, table),
      queryId, epochId, staging, buckets, files, upsertMode = upsert)
  }
}
