package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** A manifest-version offset: the stream's position IS the snapshot
  * version it has fully consumed (-1 = nothing yet — the first batch
  * then delivers the whole current snapshot). */
private[store] case class KeyedVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[store] object KeyedVersionOffset {
  private val Re = """\{\s*"version"\s*:\s*(-?\d+)\s*\}""".r
  def parse(json: String): KeyedVersionOffset = json match {
    case Re(v) => KeyedVersionOffset(v.toLong)
    case _ => throw new StoreException(s"bad keyed-table stream offset: $json")
  }
}

/** The keyed table as a Structured Streaming SOURCE — the Delta-style
  * "table is also a stream" move, built on the manifest snapshot log:
  *
  *  - An offset is a manifest VERSION. `latestOffset` is one tiny
  *    pointer read per trigger — no listing, no file diffing, however
  *    large the table.
  *  - A micro-batch (start, end] reads exactly the files the commits
  *    in that window ADDED, resolved from the two manifests alone
  *    (the same math as [[KeyedTable.readIncremental]]): a derived
  *    pipeline tailing a 100 TB table reads megabytes per trigger.
  *  - Append-only windows are the contract. A non-additive commit in
  *    the window (upsert rewrite, delete, compaction, Z-order,
  *    rebucket) makes "added files" mean re-delivered old rows, so the
  *    batch REFUSES loudly and points at the row-level changelog
  *    ([[KeyedTable.readChangelog]] / streaming CDC) — never a silent
  *    double-count.
  *  - Restarting from a checkpoint needs the cursor version's manifest
  *    to still exist: tag it ([[KeyedTable.tagSnapshot]]) to make the
  *    position vacuum-proof.
  *
  * `sinceVersion` read option: "latest" starts at the snapshot current
  * when the stream starts (new commits only); a number starts just
  * after that version; absent, the first batch is the full snapshot.
  * `endingVersion` bounds consumption: the stream never reads past it,
  * so (sinceVersion, endingVersion] is an exact, replayable window.
  *
  * Filters: Spark's DSv2 filter pushdown is a batch-optimizer rule and
  * does NOT reach streaming scans, so each micro-batch reads every
  * added file and predicates run above the source (pinned by spec).
  * The scan still carries the batch path's manifest-stat file skipping
  * so it activates automatically if Spark ever pushes filters into
  * streaming scans. */
private[store] class KeyedMicroBatchStream(
    meta: TableMeta, dataDir: String,
    readDataSchema: StructType, readPartitionSchema: StructType,
    dataFilters: Array[Filter],
    fileMayMatch: ManifestFile => Boolean,
    streamOpts: Map[String, String],
    tableDir0: String = null)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val sinceVersion: Option[String] = streamOpts.get("sinceVersion")

  /** Admission control: at most this many manifest VERSIONS per
    * micro-batch — a backfill over a long commit history then proceeds
    * in bounded, checkpointed steps instead of one giant first batch.
    * (Versions, not rows: a version is the store's commit quantum and
    * the offset's unit, so the bound is exact and replayable.) */
  private val maxVersionsPerTrigger: Option[Long] =
    streamOpts.get("maxVersionsPerTrigger").map { s =>
      val v = s.toLongOption.getOrElse(throw new StoreException(
        s"bad maxVersionsPerTrigger '$s': a positive number"))
      if (v <= 0) throw new StoreException(
        s"bad maxVersionsPerTrigger '$s': a positive number")
      v
    }

  /** Bounded replay: never consume past this version — with
    * `sinceVersion` it pins an exact, deterministic commit window
    * (sinceVersion, endingVersion] however long the stream runs and
    * whatever lands meanwhile. */
  private val endingVersion: Option[Long] =
    streamOpts.get("endingVersion").map { s =>
      s.toLongOption.getOrElse(throw new StoreException(
        s"bad endingVersion '$s': a version number"))
    }

  private def posLongOpt(key: String): Option[Long] =
    streamOpts.get(key).map { s =>
      val v = s.toLongOption.getOrElse(throw new StoreException(
        s"bad $key '$s': a positive number"))
      if (v <= 0) throw new StoreException(
        s"bad $key '$s': a positive number")
      v
    }

  /** VOLUME admission (the Delta `maxBytesPerTrigger`/
    * `maxFilesPerTrigger` knobs): bound each micro-batch by the BYTES
    * (or file count) its commit window ADDED — answered from manifest
    * arithmetic alone, zero data IO. Versions stay the offset quantum
    * (a commit is never split), so the budget is soft by at most one
    * version: the walk admits versions while the running added-bytes/
    * files total stays within budget, and always admits at least one
    * pending version (a single commit larger than the budget still
    * proceeds — bounded progress, never a stall). Unlike
    * `maxVersionsPerTrigger` (exact but blind to size — one version can
    * be a 10 TB backfill), this is the knob that holds a tailing
    * pipeline's per-trigger cluster load steady at 100 TB; all three
    * caps compose (the tightest wins). */
  private val maxBytesPerTrigger: Option[Long] = posLongOpt("maxBytesPerTrigger")
  private val maxFilesPerTrigger: Option[Long] = posLongOpt("maxFilesPerTrigger")

  // for a BRANCH handle the manifest chain lives under the ref's own
  // dir, not dataDir's parent (branches share the base's data files)
  private val tableDir: String =
    if (tableDir0 != null) tableDir0
    else new Path(dataDir).getParent.toString
  private def spark: SparkSession = SparkSession.active

  /** Trigger.AvailableNow pins the horizon ONCE at stream start; the
    * run then drains (start, horizon] — in maxVersionsPerTrigger-sized
    * steps when set — and stops, even while new commits keep landing. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Manifest.current(spark, tableDir).version)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KeyedVersionOffset].version
    val live = Manifest.current(spark, tableDir).version
    val capped = (availableNowCap.toSeq ++ endingVersion.toSeq)
      .foldLeft(live)(math.min)
    val vCap =
      maxVersionsPerTrigger.fold(capped)(m => math.min(capped, from + m))
    KeyedVersionOffset(
      if (maxBytesPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty) vCap
      else admitByVolume(from, vCap))
  }

  /** Walk versions (from, cap] admitting while the running ADDED
    * bytes/files stay within the trigger budgets — manifest reads only
    * (each cached), cost ∝ versions admitted, not table size. The walk
    * is pure manifest arithmetic, so a replayed `latestOffset` after a
    * driver restart re-derives the identical end offset. */
  private def admitByVolume(from: Long, cap: Long): Long = {
    if (cap <= from) return cap
    var prevNames: Map[Int, Set[String]] =
      if (from < 0) Map.empty
      else Manifest.atKnown(spark, tableDir, from).files
        .view.mapValues(_.map(_.name).toSet).toMap
    var admitted = from
    var bytes = 0L
    var files = 0L
    var v = from + 1
    var stop = false
    while (!stop && v <= cap) {
      val m = Manifest.atKnown(spark, tableDir, v)
      val added = m.files.toSeq.flatMap { case (b, fls) =>
        val old = prevNames.getOrElse(b, Set.empty)
        fls.filterNot(f => old(f.name))
      }
      bytes += added.map(_.len).sum
      files += added.size
      val over = maxBytesPerTrigger.exists(bytes > _) ||
        maxFilesPerTrigger.exists(files > _)
      // always admit at least one version; an over-budget LATER version
      // waits for the next trigger
      if (!over || admitted == from) {
        admitted = v
        prevNames = m.files.view.mapValues(_.map(_.name).toSet).toMap
      }
      if (over) stop = true else v += 1
    }
    admitted
  }

  override def reportLatestOffset(): Offset =
    KeyedVersionOffset(Manifest.current(spark, tableDir).version)

  override def initialOffset(): Offset = {
    val v = sinceVersion match {
      case None => -1L
      case Some(s) if s.equalsIgnoreCase("latest") =>
        Manifest.current(spark, tableDir).version
      case Some(s) => s.toLongOption.getOrElse(throw new StoreException(
        s"bad sinceVersion '$s': a version number or 'latest'"))
    }
    KeyedVersionOffset(v)
  }

  // the no-limit overload is unused once SupportsAdmissionControl is
  // implemented, but keep it truthful for any direct caller
  override def latestOffset(): Offset = reportLatestOffset()

  override def deserializeOffset(json: String): Offset =
    KeyedVersionOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val sinceV = start.asInstanceOf[KeyedVersionOffset].version
    val toV = end.asInstanceOf[KeyedVersionOffset].version
    if (toV <= sinceV) return Array.empty
    val to = Manifest.at(spark, tableDir, toV)
    val since =
      if (sinceV < 0) Manifest(-1L, to.buckets, Map.empty)
      else Manifest.at(spark, tableDir, sinceV)
    def nonAdditive(why: String): Nothing = throw new StoreException(
      s"keyed-table stream: snapshots $sinceV..$toV of $tableDir are " +
      s"not append-only ($why); a micro-batch of added files would " +
      "re-deliver surviving rows — consume the row-level changelog " +
      "(KeyedTable.readChangelog / streaming CDC) instead")
    if (to.buckets != since.buckets)
      nonAdditive(s"bucket count changed ${since.buckets} -> ${to.buckets}")
    // merge-on-read deletes: the INITIAL full-snapshot batch applies
    // the head snapshot's delete vectors in its readers — the driver
    // plans only the sidecar PATHS (manifest names, zero IO); each task
    // loads its own bucket's masks executor-side. A table with live DVs
    // streams from scratch exactly as it reads. An INCREMENTAL window
    // that changes the DV set is refused like any non-additive commit:
    // rows already delivered cannot be retracted.
    val dvPathsByBucket: Map[Int, Array[String]] =
      if (sinceV < 0) {
        to.dvs.map { case (b, fls) =>
          b -> fls.map(f =>
            s"$dataDir/${KeyedTable.BucketCol}=$b/${f.name}").toArray
        }
      } else {
        if (since.dvs.view.mapValues(_.map(_.name).toSet).toMap !=
            to.dvs.view.mapValues(_.map(_.name).toSet).toMap)
          nonAdditive("delete vectors changed (merge-on-read delete)")
        Map.empty
      }
    (since.files.keySet ++ to.files.keySet).toSeq.sorted.flatMap { b =>
      val old = since.files.getOrElse(b, Nil).map(_.name).toSet
      val cur = to.files.getOrElse(b, Nil)
      if (!old.subsetOf(cur.map(_.name).toSet))
        nonAdditive(s"bucket $b lost files")
      val key = new GenericInternalRow(Array[Any](b))
      val files = cur.filterNot(f => old.contains(f.name))
        .filter(fileMayMatch)
        .map { mfF =>
          val p = new Path(dataDir, s"${KeyedTable.BucketCol}=$b/${mfF.name}")
          new PartitionedFile(key, SparkPath.fromPath(p),
            0L, mfF.len, Array.empty[String], 0L, mfF.len,
            Map.empty[String, Any])
        }.toArray
      if (files.isEmpty) None
      else Some(new KeyedFilePartition(b, files, key,
        dvPathsByBucket.getOrElse(b, Array.empty[String]),
        rowOnly = dvPathsByBucket.nonEmpty): InputPartition)
    }.toArray
  }

  // the masked initial batch needs the DV-aware factory; incremental
  // windows carry no masks and pass through it untouched
  override def createReaderFactory(): PartitionReaderFactory =
    KeyedTableSource.readerFactory(spark, meta, readDataSchema,
      readPartitionSchema, dataFilters, masked = true, onDriver = false)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object KeyedTableStream {
  /** Streaming DataFrame tailing a keyed table (see
    * [[KeyedMicroBatchStream]]). `sinceVersion`: None = full snapshot
    * first, Some(-1L) idem; pass the poll cursor to resume a derived
    * pipeline without a checkpoint. */
  def readStream(spark: SparkSession, warehouse: String, table: String,
                 sinceVersion: Option[Long] = None,
                 maxVersionsPerTrigger: Option[Long] = None,
                 endingVersion: Option[Long] = None,
                 maxBytesPerTrigger: Option[Long] = None,
                 maxFilesPerTrigger: Option[Long] = None) = {
    var r = spark.readStream.format(classOf[KeyedTableSource].getName)
      .option("warehouse", warehouse).option("table", table)
    sinceVersion.foreach(v => r = r.option("sinceVersion", v.toString))
    maxVersionsPerTrigger.foreach(m =>
      r = r.option("maxVersionsPerTrigger", m.toString))
    endingVersion.foreach(v => r = r.option("endingVersion", v.toString))
    maxBytesPerTrigger.foreach(m =>
      r = r.option("maxBytesPerTrigger", m.toString))
    maxFilesPerTrigger.foreach(m =>
      r = r.option("maxFilesPerTrigger", m.toString))
    r.load()
  }
}
