package graft.store

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A v1 file index over files whose lengths the caller already knows — a
  * snapshot's manifest records every live file's (path, length). A plain
  * `spark.read.parquet(paths)` learns the same by listing: one driver
  * stat per file, and past 32 paths
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) a
  * "Listing leaf files" Spark job. This index lists nothing, the same way
  * Spark's own `MetadataLogFileIndex` serves a streaming sink's log.
  * Partition values are still inferred from the paths under `basePath`
  * (typed by the caller's schema), exactly as the listed read infers
  * them, and the scan keeps partition pruning and `_metadata` columns.
  * A file deleted since the manifest was read (vacuumed) fails the scan
  * task that opens it. */
private[store] final class ManifestFileIndex(spark: SparkSession,
                                             basePath: Path,
                                             files: Seq[FileStatus],
                                             schema: StructType)
    extends PartitioningAwareFileIndex(spark,
      Map("basePath" -> basePath.toString), Some(schema)) {
  override val rootPaths: Seq[Path] = Seq(basePath)
  override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  private lazy val spec = inferPartitioning()
  override def partitionSpec(): PartitionSpec = spec
  override def refresh(): Unit = ()
}

private[store] object ManifestFileIndex {
  /** Parquet read of `files` ((absolute path, length) pairs under
    * `basePath`) with the given full schema — data columns plus the
    * partition columns their directories encode — equal to
    * `spark.read.option("basePath", …).schema(schema).parquet(paths)`
    * without its listing. */
  def read(spark: SparkSession, basePath: String, files: Seq[(String, Long)],
           schema: StructType): DataFrame = {
    val base = new Path(basePath)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(base)
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 0, 0L, 0L, fs.makeQualified(new Path(p)))
    }
    val index = new ManifestFileIndex(spark, qualified, statuses, schema)
    val partCols = index.partitionSchema.fieldNames.toSet
    val dataSchema = GraftBridge.asNullable(
      StructType(schema.fields.filterNot(f => partCols.contains(f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, dataSchema, None, new ParquetFileFormat,
      Map("basePath" -> qualified.toString))(spark))
  }
}
