package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.util.SerializableConfiguration

/** Delete-vector support for the DSv2 scan path: masks are applied
  * INSIDE the per-file partition readers — no join, no shuffle, no
  * change to the scan's KeyGroupedPartitioning — so storage-partitioned
  * joins, runtime bucket pruning, and streaming reads keep their plans
  * while never surfacing a tombstoned row.
  *
  * The DRIVER never opens a sidecar: scan planning puts only the DV
  * file PATHS (already recorded in the manifest — zero IO to resolve)
  * into each [[KeyedFilePartition]], and each task loads its OWN
  * bucket's masks in `createReader` (the Iceberg model: the driver
  * plans delete-file paths, executors read delete-file content). Task
  * descriptors therefore stay O(file names), and a 100 TB table's
  * tombstone volume — bounded only as a FRACTION of live rows by the
  * auto-compaction policy — never funnels through the driver or rides
  * inside serialized tasks. */
private[store] object DeleteVectors {

  /** The key a data file's mask is filed under: its bucket directory
    * and name (`pb_bucket=<b>/<file>`) — names are only unique within a
    * bucket, and one partition of a packed scan reads several buckets. */
  def maskKey(file: Path): String = s"${file.getParent.getName}/${file.getName}"

  /** [[maskKey]] → ascending row ordinals to drop, from the given DV
    * sidecar files (absolute paths). Runs on the EXECUTOR that reads the
    * files — a few footer+page reads over sidecars whose total size the
    * compaction policy bounds per bucket. A sidecar's entries name data
    * files of its own bucket directory. */
  def masks(conf: Configuration,
            dvPaths: Seq[String]): Map[String, Array[Long]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val acc = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    dvPaths.foreach { p =>
      val path = new Path(p)
      val reader = ParquetReader
        .builder(new GroupReadSupport(), path).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val f = maskKey(new Path(path.getParent, g.getString("file", 0)))
          val pos = g.getLong("pos", 0)
          acc.getOrElseUpdate(f,
            scala.collection.mutable.ArrayBuffer.empty) += pos
          g = reader.read()
        }
      } finally reader.close()
    }
    acc.view.mapValues(_.toArray.sorted).toMap
  }
}

/** Wraps the parquet reader factory: partitions carrying DV paths read
  * row-based, file by file, with tombstoned ordinals skipped; clean
  * partitions delegate untouched (columnar included — the no-DV case
  * costs nothing). Masked files read through the NO-FILTER delegate:
  * pushed predicates could row-group-skip and the emitted-row counter
  * below must equal the true file ordinal (parquet's row index,
  * which is what the DV writer recorded). Spark re-applies
  * every predicate above the scan — filters here are an IO reduction,
  * never a correctness surface. `conf` ships the session Hadoop
  * configuration (broadcast once per scan) so executors can open their
  * bucket's sidecars themselves. */
private[store] class DvMaskReaderFactory(
    withFilters: PartitionReaderFactory,
    noFilters: PartitionReaderFactory,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {

  /** Row-based for the WHOLE scan whenever any partition of it carries
    * a mask (the planner sets `rowOnly` on every partition of such a
    * scan — Spark refuses to mix columnar and row partitions). A
    * mask-free scan/micro-batch through this factory keeps the
    * delegate's columnar path. Bounded by policy — compaction rewrites
    * DV-heavy buckets, returning the table to the columnar path. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition match {
      case k: KeyedFilePartition =>
        !k.rowOnly && withFilters.supportColumnarReads(partition)
      case p => withFilters.supportColumnarReads(p)
    }

  override def createColumnarReader(partition: InputPartition) =
    withFilters.createColumnarReader(partition)

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case k: KeyedFilePartition if k.dvPaths.nonEmpty =>
      // executor-side: THIS task resolves its own buckets' tombstones
      val masks = DeleteVectors.masks(conf.value.value, k.dvPaths.toSeq)
      new DvChainedReader(k.files, k.index, masks, withFilters, noFilters)
    case p => withFilters.createReader(p)
  }
}

/** Reads a partition's files sequentially, applying each file's mask
  * (if any) by counting emitted rows — valid because masked files read
  * unfiltered, in file order. */
private[store] class DvChainedReader(
    files: Array[PartitionedFile], index: Int,
    masks: Map[String, Array[Long]],
    withFilters: PartitionReaderFactory,
    noFilters: PartitionReaderFactory)
    extends PartitionReader[InternalRow] {

  private var i = 0
  private var cur: PartitionReader[InternalRow] = _

  private def open(f: PartitionedFile): PartitionReader[InternalRow] = {
    val sub = FilePartition(index, Array(f))
    masks.get(DeleteVectors.maskKey(f.filePath.toPath)) match {
      case Some(mask) => new DvMaskedReader(noFilters.createReader(sub), mask)
      case None => withFilters.createReader(sub)
    }
  }

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (i >= files.length) return false
        cur = open(files(i)); i += 1
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false // unreachable
  }

  override def get(): InternalRow = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Skips the masked ordinals of ONE file's unfiltered, in-order row
  * stream. O(1) amortized per row: one counter, one cursor into the
  * ascending mask. */
private[store] class DvMaskedReader(r: PartitionReader[InternalRow],
                                    mask: Array[Long])
    extends PartitionReader[InternalRow] {
  private var pos = -1L
  private var mi = 0

  override def next(): Boolean = {
    while (r.next()) {
      pos += 1
      while (mi < mask.length && mask(mi) < pos) mi += 1
      if (mi >= mask.length || mask(mi) != pos) return true
    }
    false
  }

  override def get(): InternalRow = r.get()
  override def close(): Unit = r.close()
}
