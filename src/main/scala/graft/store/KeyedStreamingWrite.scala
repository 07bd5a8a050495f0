package graft.store

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, Pmod, XxHash64}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The keyed table as a NATIVE Structured Streaming SINK
  * (`df.writeStream.table("graft.t")` / `.format(keyed source)`), with
  * EXACTLY-ONCE semantics over micro-batch replay:
  *
  *  - executors write each micro-batch's rows straight into per-bucket
  *    staged parquet (one writer per bucket per task — the same bucket
  *    layout every other write path produces), computing each row's
  *    bucket with the store's own hash (`pmod(xxhash64(pk…), buckets)`)
  *    so the sink scales with the cluster, not the driver;
  *  - the driver commits the epoch as ONE manifest flip that both
  *    extends the touched buckets' file lists (the append protocol) AND
  *    records `(queryId → epochId)` in the manifest's `streams` map —
  *    so a restarted query replaying an epoch it already committed
  *    recognizes the high-water mark and makes the replay a NO-OP
  *    (the Delta/Iceberg idempotent-sink model: the epoch ledger and
  *    the data commit are the same atomic write);
  *  - only files named in successful tasks' commit messages are moved
  *    in (a zombie task's partial output is deleted at commit), and a
  *    failed epoch aborts by deleting its staging directory — the
  *    table never sees a half batch.
  *
  * Validation matches the batch append contract: intra-epoch duplicate
  * PKs and overlap with stored keys fail the epoch (delta-bounded
  * jobs), CHECK constraints are enforced, and a changelog-enabled
  * table logs the epoch's rows as one `insert` image batch. */
/** `upsertMode` (write option `sink_mode=upsert`): each epoch UPSERTS
  * by PK via the merge-on-read decomposition — matched stored rows'
  * positions tombstone, the epoch's staged files are their post-images
  * — which is what `outputMode(Update)` windowed aggregates and CDC
  * folds need from a native sink (the builder's
  * SupportsStreamingUpdateAsAppend marker admits Update mode; changed
  * rows then arrive as appends and upsert into place).
  *
  * `autoCompact` (write option `auto_compact=true|false`): whether the
  * auto-compaction policy runs after each committed epoch (manifest
  * arithmetic — a no-op until a bucket breaches the file-count or
  * delete-fraction bound). Defaults ON for upsert mode (its epochs are
  * already non-additive — position deletes change the DV set — so
  * inline compaction costs downstream consumers nothing extra, and a
  * long-running update stream must not accumulate DVs or small files
  * without bound) and OFF for append mode: a compaction commit is
  * NON-additive, so it would break any consumer tailing the table
  * through [[KeyedTable.readIncremental]] or the streaming source
  * (their append-only-window contract refuses, loudly, across it).
  * An append sink with no tailing incremental consumers should set
  * `auto_compact=true` — otherwise each epoch adds one-plus file per
  * touched bucket forever and the operator owns scheduling
  * [[KeyedTable.compact]] externally (e.g. between consumer cursor
  * bumps, which keeps the rewrite outside every polled window). */
private[store] class KeyedStreamingWrite(meta: TableMeta, tableDir: String,
                                         dataDir: String, queryId: String,
                                         inputSchema: StructType,
                                         upsertMode: Boolean = false,
                                         autoCompact: Option[Boolean] = None)
    extends StreamingWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** PK-clustered input in `buckets` partitions: without this every
    * shuffle partition of the upstream query writes its own file into
    * every bucket it touches (shuffle.partitions × buckets staged files
    * PER EPOCH — the small-files treadmill that forces compaction every
    * trigger). Clustering caps the writer task count at the table's
    * bucket count, so an epoch stages ≤ buckets files per bucket and
    * typically far fewer. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      meta.pk.map(c => org.apache.spark.sql.connector.expressions.Expressions
        .column(c): org.apache.spark.sql.connector.expressions.Expression)
        .toArray)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def requiredNumPartitions(): Int =
    Manifest.current(SparkSession.active, tableDir).buckets

  if (meta.autoIndex)
    throw new StoreException(
      "streaming write into an auto-index table is not supported: id " +
      "assignment needs the table's global high-water mark per batch — " +
      "use a natural PK for streaming sinks, or foreachBatch + toSql")
  meta.pk.foreach { c =>
    if (!inputSchema.fieldNames.contains(c))
      throw new StoreException(
        s"streaming write is missing primary-key column $c " +
        s"(input: ${inputSchema.fieldNames.mkString(", ")})")
  }

  /** Data schema the staged files carry: the table's columns, in table
    * order (the synthetic bucket rides as the staging DIRECTORY, like
    * every other write path). */
  private val dataSchema = StructType(
    meta.schema.fields.filter(f => inputSchema.fieldNames.contains(f.name)))

  /** Same fields under their PHYSICAL names — what the staged parquet
    * must carry (see [[TableMeta.renames]]); row binding stays on the
    * logical [[dataSchema]], and field order is identical. */
  private val fileSchema = StructType(
    dataSchema.fields.map(f => f.copy(name = meta.physName(f.name))))

  // bucket count pinned at query start; a rebucket racing the stream
  // is detected at every commit and fails the epoch loudly
  private val buckets: Int =
    Manifest.current(SparkSession.active, tableDir).buckets

  private val stagingRoot = s"$tableDir/.staging-stream-$queryId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val (owf, conf) =
      org.apache.spark.sql.execution.datasources.parquet.GraftParquetSupport
        .writerFactory(spark, fileSchema)
    new KeyedStreamWriterFactory(owf,
      org.apache.spark.sql.GraftBridge.broadcastConf(spark.sparkContext, conf),
      inputSchema, dataSchema, fileSchema, meta.pk, buckets, stagingRoot)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val files: Set[String] = messages.toSeq.collect {
      case m: KeyedStreamCommitMessage => m.files
    }.flatten.toSet
    KeyedTable.commitStreamEpoch(SparkSession.active, tableDir, dataDir,
      queryId, epochId, s"$stagingRoot/epoch=$epochId", buckets, files,
      upsertMode = upsertMode)
    if (autoCompact.getOrElse(upsertMode)) {
      // maintenance rides the stream: a no-op (one manifest read) until
      // a bucket actually breaches the layout/delete-fraction bounds
      val (wh, ref) = KeyedTable.refOf(tableDir)
      KeyedTable.compactIfNeeded(SparkSession.active, wh, ref,
        maxFilesPerBucket = 16): Unit
    }
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new Path(s"$stagingRoot/epoch=$epochId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true): Unit
  }
}

/** One staged file a successful task wrote: bucket dir + bare name —
  * the driver moves in ONLY files named by a commit message, so a
  * zombie task's partial output can never reach the table. */
private[store] case class KeyedStreamCommitMessage(files: Seq[String])
    extends WriterCommitMessage

private[store] class KeyedStreamWriterFactory(
    owf: OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration],
    inputSchema: StructType, dataSchema: StructType,
    fileSchema: StructType,
    pk: Seq[String], buckets: Int, stagingRoot: String)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new KeyedStreamDataWriter(owf, conf.value.value, inputSchema,
      dataSchema, fileSchema, pk, buckets, s"$stagingRoot/epoch=$epochId",
      partitionId, taskId)
}

/** Executor-side writer: routes each row to its bucket's staged parquet
  * file (opened lazily — a task writes only the buckets it actually
  * sees), using the store's own bucket hash so the staged layout is
  * bit-compatible with every other write path. */
private[store] class KeyedStreamDataWriter(
    owf: OutputWriterFactory,
    conf: org.apache.hadoop.conf.Configuration,
    inputSchema: StructType, dataSchema: StructType,
    fileSchema: StructType,
    pk: Seq[String], buckets: Int, epochDir: String,
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val fieldIdx = inputSchema.fieldNames.zipWithIndex.toMap
  private val dataRefs = dataSchema.fields.map { f =>
    val i = fieldIdx(f.name)
    BoundReference(i, inputSchema(i).dataType, nullable = true)
  }
  // the write path's bucket function, evaluated per row over the PK
  // slots of the INCOMING schema — identical expressions to
  // KeyedTable.withBucket, so the staged layout always agrees
  private val bucketExpr = Pmod(
    XxHash64(pk.map { c =>
      val i = fieldIdx(c)
      BoundReference(i, inputSchema(i).dataType, nullable = true)
    }, 42L),
    Literal(buckets.toLong))

  private val writers = scala.collection.mutable.Map.empty[Int, OutputWriter]
  private val written = scala.collection.mutable.ArrayBuffer.empty[String]
  private val fs = new Path(epochDir).getFileSystem(conf)

  private def writerFor(b: Int): OutputWriter =
    writers.getOrElseUpdate(b, {
      val dir = new Path(epochDir, s"${KeyedTable.BucketCol}=$b")
      fs.mkdirs(dir)
      val name = f"part-$partitionId%05d-$taskId-$b.parquet"
      val path = new Path(dir, name)
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-stream", 0), TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt)
      written += s"${KeyedTable.BucketCol}=$b/$name"
      owf.newInstance(path.toString, fileSchema,
        new TaskAttemptContextImpl(conf, attempt))
    })

  override def write(row: InternalRow): Unit = {
    val b = bucketExpr.eval(row).asInstanceOf[Long].toInt
    // project the table's data columns out of the incoming row; write
    // immediately (the parquet writer copies into its own buffers), so
    // the reused UnsafeRow underneath is never retained
    val vals = new Array[Any](dataRefs.length)
    var i = 0
    while (i < dataRefs.length) { vals(i) = dataRefs(i).eval(row); i += 1 }
    writerFor(b).write(new GenericInternalRow(vals))
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    KeyedStreamCommitMessage(written.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach { w =>
      try w.close() catch { case scala.util.control.NonFatal(_) => () }
    }
    written.foreach(rel => fs.delete(new Path(epochDir, rel), false))
  }

  override def close(): Unit = ()
}
