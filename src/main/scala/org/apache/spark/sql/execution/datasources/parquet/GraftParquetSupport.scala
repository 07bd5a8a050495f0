package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetInputFormat

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Builds a vectorized [[ParquetPartitionReaderFactory]] for graft's
  * keyed-table V2 source, mirroring the hadoopConf setup that Spark's
  * own `ParquetScan.createReaderFactory` performs (read-support class,
  * requested schema, converter flags). Those helpers
  * (`ParquetReadSupport`/`ParquetWriteSupport` objects) are
  * package-private, so this shim lives in the parquet package — same
  * pattern as [[org.apache.spark.sql.GraftBridge]].
  */
object GraftParquetSupport {

  /** The session Hadoop configuration set up to read `readDataSchema`
    * from parquet, broadcast once per scan: both reader factories of a
    * scan share it, and so do its executor-side delete-vector reads
    * (opening a bucket's sidecar needs nothing else). */
  def readConf(spark: SparkSession, readDataSchema: StructType)
      : Broadcast[SerializableConfiguration] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val hadoopConf = session.sessionState.newHadoopConf()

    val readDataSchemaAsJson = readDataSchema.json
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchemaAsJson)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchemaAsJson)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readDataSchema, hadoopConf)
    // flags for ParquetToSparkSchemaConverter
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)

    session.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
  }

  /** @param conf [[readConf]] of the same `readDataSchema`.
    * @param filters data-column predicates the caller pushed down;
    *   forwarded to [[ParquetPartitionReaderFactory]], which turns them
    *   into parquet FilterPredicates for ROW-GROUP pruning (gated by
    *   the session's parquetFilterPushDown conf, like Spark's own
    *   scans). Advisory only — the engine re-evaluates them post-scan. */
  def readerFactory(spark: SparkSession,
                    conf: Broadcast[SerializableConfiguration],
                    dataSchema: StructType,
                    readDataSchema: StructType,
                    readPartitionSchema: StructType,
                    filters: Array[org.apache.spark.sql.sources.Filter])
      : PartitionReaderFactory = {
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetPartitionReaderFactory(
      sqlConf, conf, dataSchema, readDataSchema, readPartitionSchema,
      filters, None, new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** The WRITE-side twin: an [[org.apache.spark.sql.execution.datasources.OutputWriterFactory]]
    * (serializable) plus the prepared Hadoop configuration it needs on
    * the executor — exactly what Spark's own parquet write path builds
    * via `ParquetUtils.prepareWrite` (write-support class, schema,
    * codec, committer flags). Graft's streaming SINK ships the conf
    * broadcast and opens per-bucket writers with
    * `factory.newInstance(path, schema, taskAttemptContext)`. */
  def writerFactory(spark: SparkSession, dataSchema: StructType)
      : (org.apache.spark.sql.execution.datasources.OutputWriterFactory,
         org.apache.hadoop.conf.Configuration) = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      session.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, dataSchema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    (factory, job.getConfiguration)
  }
}
