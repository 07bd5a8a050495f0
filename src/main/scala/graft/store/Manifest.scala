package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Min/max of a file's leading-PK-column values (Long, Double, or
  * String — normalized from the parquet footer's physical types), the
  * file-skipping statistic of the Iceberg/Delta model: hash bucketing
  * spreads every key range across all buckets, but each APPEND's files
  * cover only that delta's key range — so a time-ordered ingest prunes
  * to its few overlapping files per bucket at PLANNING time, before any
  * footer is opened. Absent (None) stats always keep the file. */
final case class ColStats(min: Any, max: Any)

/** One live data file of a bucket: name WITHIN the bucket directory plus
  * its byte length (recorded so scan planning and size statistics never
  * touch the filesystem — at 100 TB, "list two million files to plan a
  * query" is the latency floor a manifest exists to remove), its row
  * count (so `COUNT(*)` and Catalyst's row estimates are pure driver
  * arithmetic over the snapshot — zero footer opens), optional
  * leading-PK [[ColStats]], and optional EXTRA per-column stats for the
  * table's configured stat columns ([[TableMeta.statsCols]] — the
  * Iceberg per-column-metrics model: predicates on NON-key columns then
  * file-skip at planning time too, which is what makes Z-order
  * clustering pay off at the FILE level, not just row groups). Row
  * count and all stats come from the same one footer read each commit
  * already pays per new file. */
/** @param nulls per-column NULL counts for the tracked stat columns
  *   (leading PK + [[TableMeta.statsCols]]), from the same one footer
  *   read as min/max — the Iceberg column-metrics model's third number.
  *   What min/max cannot express: a pushed `IS NULL` skips files whose
  *   count is 0, a pushed `IS NOT NULL` skips files that are ALL null
  *   (which also have NO min/max entry, so range bounds alone could
  *   never prune them). Absent entries (unset parquet null counts) are
  *   never pruned on. */
final case class ManifestFile(name: String, len: Long,
                              rows: Option[Long] = None,
                              stats: Option[ColStats] = None,
                              extra: Map[String, ColStats] = Map.empty,
                              nulls: Map[String, Long] = Map.empty) {
  /** Could this file hold a leading-PK value in [lo, hi]? (null bound =
    * unbounded; files without stats or uncomparable bounds are always
    * kept — pruning is an IO reduction, never a correctness surface.) */
  def mayOverlap(lo: Option[Any], hi: Option[Any]): Boolean =
    Manifest.overlaps(stats, lo, hi)

  /** Same question for a named extra stat column. Files recorded before
    * the column joined [[TableMeta.statsCols]] have no entry → kept. */
  def mayOverlapOn(c: String, lo: Option[Any], hi: Option[Any]): Boolean =
    Manifest.overlaps(extra.get(c), lo, hi)

  /** Could this file hold a row where column `c` IS (`wantNull` true) /
    * IS NOT (false) null? Conservative: no recorded count (or no row
    * count for the all-null test) keeps the file. */
  def mayMatchNull(c: String, wantNull: Boolean): Boolean =
    nulls.get(c) match {
      case None => true
      case Some(n) =>
        if (wantNull) n > 0L
        else rows.forall(r => n < r)
    }
}

/** A versioned SNAPSHOT of a keyed table's physical layout: the bucket
  * count plus, per bucket, exactly the parquet files that are live in
  * this version. This is the store's read-isolation mechanism (the
  * Iceberg/Delta move, re-expressed minimally):
  *
  *  - Writers never delete or overwrite a live file. A mutation renames
  *    its staged output files INTO the bucket dirs under commit-unique
  *    names (additive — invisible to every reader, because no manifest
  *    references them yet) and then commits by writing manifest
  *    version N+1 in one atomic file rename. The flip IS the commit.
  *  - Readers resolve the file set through the CURRENT manifest (one
  *    small JSON read — no directory walking), so a reader racing a
  *    mutation sees either snapshot N or snapshot N+1, never a partial
  *    state — even on object stores with no atomic directory rename,
  *    which is exactly where the old swap protocol's window widened
  *    from milliseconds to minutes.
  *  - Superseded files stay on disk until [[KeyedTable.vacuum]] reaps
  *    them (bounded by `olderThanMs`, so in-flight readers of recent
  *    snapshots are undisturbed). Old manifests double as time-travel
  *    snapshots until vacuumed ([[KeyedTable.readSql]] `asOfVersion`).
  *
  * Create commits version 0, so every table has a manifest; a table
  * dir without one fails [[Manifest.current]] loudly.
  */
/** `dvs` — DELETE VECTORS (merge-on-read): per bucket, the positional
  * tombstone sidecar files a MoR delete committed instead of rewriting
  * the bucket (the Iceberg-v2 position-delete model on this manifest
  * protocol). Each DV file is ordinary parquet in the bucket dir with
  * rows `(file STRING, pos BIGINT)` — the NAME of a live data file of
  * that bucket and a row ordinal within it (Spark's
  * `_metadata.row_index`). Readers anti-join the union of a bucket's
  * DVs; rewriting commits (upsert/update/compact/zorder/rebucket/CoW
  * delete) read through the mask and DROP the bucket's DVs — the
  * rewrite materializes them. Because data file names are
  * commit-unique, a DV entry can never resurrect against a
  * re-inserted key: the new row lives in a NEW file the entry does
  * not name. `rows` on a DV entry is its position count, so live-row
  * arithmetic (COUNT(*), statistics, history) stays pure driver math:
  * live = data rows − DV rows. */
/** `streams` — last committed streaming-sink epoch per query id (see
  * [[KeyedStreamingWrite]]): carried forward on every commit so a
  * restarted streaming query can recognize an epoch it already
  * committed and make its replay a no-op (exactly-once sink semantics
  * over at-least-once micro-batch replay). */
/** `segs` — populated only when this snapshot was READ FROM (or
  * WRITTEN AS) the SEGMENTED on-disk form (format 4): per bucket, the
  * immutable `_manifests/seg-*.json` file its entries came from. The
  * next commit reuses a bucket's segment VERBATIM (no write, no
  * serialization) when the bucket's file+DV entries are unchanged —
  * commit metadata cost becomes ∝ touched buckets + one small list,
  * instead of O(live files): the Iceberg manifest-list move. Purely
  * physical bookkeeping: never part of snapshot semantics, recomputed
  * by every commit, and excluded from the correctness surface (two
  * snapshots with the same files are the same snapshot). */
final case class Manifest(version: Long, buckets: Int,
                          files: Map[Int, Seq[ManifestFile]],
                          op: Option[String] = None,
                          tsMs: Option[Long] = None,
                          dvs: Map[Int, Seq[ManifestFile]] = Map.empty,
                          streams: Map[String, Long] = Map.empty,
                          segs: Map[Int, String] = Map.empty) {

  /** The READER format version this snapshot requires (the Iceberg
    * format-version gate): 1 = plain file lists; 2 = carries delete
    * vectors (a reader that ignored `dvs` would silently resurrect
    * deleted rows); 3 = carries streaming-sink epochs (a writer that
    * dropped `streams` would break a sink's exactly-once replay);
    * 4 = segmented (per-bucket entries live in `seg-*.json` files a
    * format-3 reader would not resolve). */
  def formatVersion: Int =
    if (segs.nonEmpty) 4
    else if (streams.nonEmpty) 3 else if (dvs.nonEmpty) 2 else 1

  /** (absolute path, length) of every live file (order: bucket, then
    * name) — all a v1 file index needs, so reads never list. */
  def absoluteFiles(dataDir: String): Seq[(String, Long)] =
    Manifest.withPaths(files, dataDir)

  /** (absolute path, length) of every delete-vector file, restricted to
    * buckets that still hold live data files (a DV without data is
    * dead). */
  def dvFiles(dataDir: String): Seq[(String, Long)] =
    Manifest.withPaths(dvs.filter(kv => files.contains(kv._1)), dataDir)

  /** Total deleted-position count of the live buckets' DVs; None when
    * some DV entry lacks a recorded row count (never written by this
    * code — defensive for hand-edited manifests). */
  def dvRows: Option[Long] = {
    val live = dvs.valuesIterator.flatten.toSeq
    if (live.forall(_.rows.isDefined)) Some(live.flatMap(_.rows).sum)
    else None
  }

  def totalBytes: Long = files.valuesIterator.flatten.map(_.len).sum

  def toJson: String = compact(render(JObject(
    List("version" -> (JInt(version): JValue),
      "buckets" -> (JInt(buckets): JValue)) ++
    // format gate: written only when this snapshot needs capabilities a
    // format-1 reader lacks — older binaries then REJECT it loudly in
    // fromJson instead of parsing the file, ignoring the new field, and
    // returning wrong data (resurrected rows / replayed epochs).
    // The INLINE form is never format 4 (that is the segmented list's
    // gate, [[Manifest.commit]]); `segs` is physical bookkeeping from
    // wherever this snapshot was read and does not survive re-encoding
    {
      val inlineFormat =
        if (streams.nonEmpty) 3 else if (dvs.nonEmpty) 2 else 1
      if (inlineFormat > 1)
        List("format" -> (JInt(inlineFormat): JValue)) else Nil
    } ++
    op.map(o => "op" -> (JString(o): JValue)).toList ++
    tsMs.map(t => "ts_ms" -> (JInt(t): JValue)).toList ++
    (if (streams.isEmpty) Nil
     else List("streams" -> (JObject(streams.toList.sortBy(_._1).map {
       case (q, e) => q -> (JInt(e): JValue)
     }): JValue))) ++
    // delete vectors, same [name, len, rows] arity encoding as files;
    // absent entirely when the snapshot carries none (older manifests
    // and the common no-deletes case parse identically)
    (if (dvs.isEmpty) Nil
     else List("dvs" -> (JObject(dvs.toList.sortBy(_._1).map { case (b, fs) =>
       b.toString -> (JArray(fs.toList.map(Manifest.fileEntryJson)): JValue)
     }): JValue))) :+
    "files" -> (JObject(files.toList.sortBy(_._1).map { case (b, fs) =>
      b.toString -> JArray(fs.toList.map(Manifest.fileEntryJson))
    }): JValue))))
}

object Manifest {
  val DirName = "_manifests"

  private def withPaths(byBucket: Map[Int, Seq[ManifestFile]],
                        dataDir: String): Seq[(String, Long)] =
    byBucket.toSeq.sortBy(_._1).flatMap { case (b, fs) =>
      fs.map(mf => s"$dataDir/${KeyedTable.BucketCol}=$b/${mf.name}" -> mf.len)
    }

  /** One file entry's JSON. Arity encodes presence: [name, len] |
    * [name, len, rows] | [name, len, rows, min, max] (stats imply
    * rows — same footer) | [name, len, rows, min|null, max|null,
    * {col: [min, max], …}] (extra per-column stats; leading slots
    * JNull when absent) | [name, len, rows, min|null, max|null,
    * {col: [min, max], …}, {col: nulls, …}] (per-column null counts;
    * the extras slot encodes `{}` when only null counts exist — an
    * all-null stat column has a count but no bounds). Shared by the
    * inline manifest form, the DV lists (whose entries never carry
    * stats, so they encode to the historical [name, len, rows] shape
    * unchanged), and the format-4 segment files. */
  private[store] def fileEntryJson(f: ManifestFile): JValue = {
    val base = List(JString(f.name), JInt(f.len)) ++
      f.rows.map(r => JInt(r): JValue).toList
    val lead = f.stats match {
      case Some(ColStats(mn, mx)) =>
        List(statJson(mn), statJson(mx))
      case None if f.extra.nonEmpty || f.nulls.nonEmpty => List(JNull, JNull)
      case None => Nil
    }
    val ext =
      if (f.extra.isEmpty && f.nulls.isEmpty) Nil
      else List(JObject(f.extra.toList.sortBy(_._1).map { case (c, s) =>
        c -> (JArray(List(statJson(s.min), statJson(s.max))): JValue)
      }): JValue)
    val nc =
      if (f.nulls.isEmpty) Nil
      else List(JObject(f.nulls.toList.sortBy(_._1).map { case (c, n) =>
        c -> (JInt(n): JValue)
      }): JValue)
    JArray(base ++ lead ++ ext ++ nc)
  }

  /** [[fileEntryJson]]'s decoder (all arities). */
  private[store] def fileEntryFromJson(j: JValue): ManifestFile = {
    def lead(mn: JValue, mx: JValue): Option[ColStats] = (mn, mx) match {
      case (JNull, _) | (_, JNull) => None
      case _ => Some(ColStats(statValue(mn), statValue(mx)))
    }
    def extras(o: JValue): Map[String, ColStats] = o match {
      case JObject(cs) => cs.map {
        case (c, JArray(List(mn, mx))) =>
          c -> ColStats(statValue(mn), statValue(mx))
        case (c, bad) =>
          throw new StoreException(s"bad extra stats for $c: $bad")
      }.toMap
      case bad => throw new StoreException(s"bad extra stats: $bad")
    }
    def nullCounts(o: JValue): Map[String, Long] = o match {
      case JObject(cs) => cs.map {
        case (c, JInt(n)) => c -> n.toLong
        case (c, bad) =>
          throw new StoreException(s"bad null count for $c: $bad")
      }.toMap
      case bad => throw new StoreException(s"bad null counts: $bad")
    }
    j match {
      case JArray(List(JString(n), JInt(l))) =>
        ManifestFile(n, l.toLong)
      case JArray(List(JString(n), JInt(l), JInt(r))) =>
        ManifestFile(n, l.toLong, Some(r.toLong))
      case JArray(List(JString(n), JInt(l), JInt(r), mn, mx)) =>
        ManifestFile(n, l.toLong, Some(r.toLong), lead(mn, mx))
      case JArray(List(JString(n), JInt(l), JInt(r), mn, mx, ext)) =>
        ManifestFile(n, l.toLong, Some(r.toLong), lead(mn, mx),
          extras(ext))
      case JArray(List(JString(n), JInt(l), JInt(r), mn, mx, ext, nc)) =>
        ManifestFile(n, l.toLong, Some(r.toLong), lead(mn, mx),
          extras(ext), nullCounts(nc))
      case o => throw new StoreException(s"bad manifest file entry: $o")
    }
  }

  /** Could a file with these stats hold a value in [lo, hi]? (null
    * bound = unbounded; missing stats or uncomparable bounds keep the
    * file — pruning is an IO reduction, never a correctness surface.) */
  private[store] def overlaps(st: Option[ColStats],
                              lo: Option[Any], hi: Option[Any]): Boolean =
    st match {
      case None => true
      case Some(ColStats(mn, mx)) =>
        def le(a: Any, b: Any): Option[Boolean] = (a, b) match {
          case (x: Long, y: Long) => Some(x <= y)
          case (x: Long, y: Double) => Some(x.toDouble <= y)
          case (x: Double, y: Long) => Some(x <= y.toDouble)
          case (x: Double, y: Double) => Some(x <= y)
          // unsigned UTF-8 byte order — how parquet stats AND Spark's
          // UTF8String compare; Java's UTF-16 String order disagrees for
          // supplementary-plane characters and would wrongly prune
          case (x: String, y: String) => Some(Manifest.utf8Le(x, y))
          case _ => None
        }
        val aboveLo = lo.forall(l => le(l, mx).getOrElse(true))
        val belowHi = hi.forall(h => le(mn, h).getOrElse(true))
        aboveLo && belowHi
    }

  /** a <= b in unsigned UTF-8 byte order — the comparator parquet
    * binary statistics and Spark's UTF8String use. */
  private[store] def utf8Le(a: String, b: String): Boolean = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(ab.length, bb.length)
    while (i < n) {
      val x = ab(i) & 0xFF
      val y = bb(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    ab.length <= bb.length
  }

  /** Normalize a predicate/range bound to the stat value domain (Long /
    * Double / String); None for types stats don't cover — callers then
    * skip pruning on that bound, which is always safe. */
  def normBound(v: Any): Option[Any] = v match {
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case s: String => Some(s)
    case _ => None
  }

  /** Parsed-manifest cache: a manifest file is immutable once renamed
    * into place, so the full path is a safe cache key. BOUNDED — a
    * long-lived driver touching many tables/versions (history, time
    * travel, vacuumed snapshots) must not accumulate one parsed
    * manifest per version forever; on overflow the whole map clears
    * (crude but safe: a miss merely re-reads one small JSON file). */
  private val MaxCached = 256
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private def cachePut(key: String, m: Manifest): Unit = {
    if (cache.size >= MaxCached) cache.clear()
    cache.put(key, m): Unit
  }

  /** Parsed-SEGMENT cache (format 4): segment files are immutable and
    * SHARED across manifest versions — that sharing is the whole
    * point — so one parse serves every version referencing the
    * segment. Same bounded-clear policy as the manifest cache. */
  private val segCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[ManifestFile], Seq[ManifestFile])]()

  private def segCachePut(key: String,
                          v: (Seq[ManifestFile], Seq[ManifestFile])): Unit = {
    if (segCache.size >= MaxCached) segCache.clear()
    segCache.put(key, v): Unit
  }

  /** Drop every cached manifest under `tableDir` — the immutability
    * argument above fails when the DIRECTORY is recycled: dropping a
    * table and recreating it under the same name re-mints `v0` at the
    * identical path, and a stale hit would resolve the new table's
    * reads to the old table's (deleted) files. dropTable/renameTable
    * call this; a same-JVM recreate then re-reads cleanly. */
  private[store] def invalidate(tableDir: String): Unit = {
    val prefix = dir(tableDir).toString + "/"
    val it = cache.keySet.iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    val it2 = segCache.keySet.iterator()
    while (it2.hasNext) if (it2.next().startsWith(prefix)) it2.remove()
  }

  def dir(tableDir: String): Path = new Path(tableDir, DirName)

  /** Zero-padded so lexicographic name order = numeric version order. */
  private def nameOf(version: Long): String = f"v$version%019d.json"

  /** The on-disk file name of a given snapshot version (vacuum needs it
    * to protect the current manifest while expiring old ones). */
  private[store] def versionName(version: Long): String = nameOf(version)

  /** True when `name` is a committed manifest file name (`v<N>.json`) —
    * vacuum's expiry loop must only ever touch these. */
  private[store] def isVersionName(name: String): Boolean =
    versionOf(name).isDefined

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      name.stripPrefix("v").stripSuffix(".json").toLongOption
    else None

  private def fsOf(spark: SparkSession, tableDir: String): FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[store] def statJson(v: Any): JValue = v match {
    case l: Long => JInt(l)
    case d: Double => JDouble(d)
    case s: String => JString(s)
    case o => throw new StoreException(s"unstorable file stat: $o")
  }

  private def statValue(j: JValue): Any = j match {
    case JInt(i) => i.toLong
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JString(s) => s
    case o => throw new StoreException(s"bad file stat: $o")
  }

  /** Highest manifest format this binary understands (see
    * [[Manifest.formatVersion]]). */
  val SupportedFormat = 4

  /** Parse an INLINE manifest. Format-4 (segmented) lists need a
    * filesystem to resolve their segments — only [[read]] can load
    * those; handing one here fails loudly rather than returning an
    * empty file set. */
  def fromJson(s: String): Manifest =
    parse(s, name => throw new StoreException(
      s"segmented manifest references $name but no segment loader is " +
      "available — read it through Manifest.read/at/current"))

  private def parse(s: String,
                    loadSeg: String => (Seq[ManifestFile], Seq[ManifestFile]))
      : Manifest = {
    val j = JsonMethods.parse(s)
    // the format gate comes FIRST: a snapshot demanding a newer reader
    // must fail loudly before any field is interpreted
    (j \ "format") match {
      case JInt(f) if f.toInt > SupportedFormat =>
        throw new StoreException(
          s"manifest requires format $f but this reader supports up to " +
          s"$SupportedFormat — upgrade the graft library before reading " +
          "this table (refusing to parse: ignoring unknown fields could " +
          "silently return wrong data)")
      case _ => ()
    }
    val JInt(version) = (j \ "version"): @unchecked
    val JInt(buckets) = (j \ "buckets"): @unchecked
    // optional commit metadata (older manifests lack it)
    val op = (j \ "op") match { case JString(o) => Some(o); case _ => None }
    val ts = (j \ "ts_ms") match { case JInt(t) => Some(t.toLong); case _ => None }
    val streams: Map[String, Long] = (j \ "streams") match {
      case JObject(qs) => qs.map {
        case (q, JInt(e)) => q -> e.toLong
        case (q, o) => throw new StoreException(s"bad manifest stream epoch $q: $o")
      }.toMap
      case _ => Map.empty
    }
    (j \ "segs") match {
      case JObject(sgs) =>
        // format-4 SEGMENTED list: per-bucket entries live in immutable
        // seg-*.json files; buckets absent from `segs` hold no files
        val segs: Map[Int, String] = sgs.map {
          case (b, JString(n)) => b.toInt -> n
          case (b, o) => throw new StoreException(s"bad manifest segment $b: $o")
        }.toMap
        val loaded: Map[Int, (Seq[ManifestFile], Seq[ManifestFile])] =
          segs.map { case (b, n) => b -> loadSeg(n) }
        Manifest(version.toLong, buckets.toInt,
          loaded.collect { case (b, (fls, _)) if fls.nonEmpty => b -> fls },
          op, ts,
          loaded.collect { case (b, (_, dvl)) if dvl.nonEmpty => b -> dvl },
          streams, segs)
      case _ =>
        val JObject(fields) = (j \ "files"): @unchecked
        val dvs: Map[Int, Seq[ManifestFile]] = (j \ "dvs") match {
          case JObject(ds) => ds.map {
            case (b, JArray(fs)) => b.toInt -> fs.map(fileEntryFromJson)
            case (b, o) => throw new StoreException(s"bad manifest dv bucket $b: $o")
          }.toMap
          case _ => Map.empty
        }
        Manifest(version.toLong, buckets.toInt,
          fields.map {
            case (b, JArray(fs)) => b.toInt -> fs.map(fileEntryFromJson)
            case (b, o) => throw new StoreException(s"bad manifest bucket $b: $o")
          }.toMap, op, ts, dvs, streams)
    }
  }

  /** One bucket's segment file content (format 4): the bucket's live
    * data-file entries plus its delete-vector entries, in the shared
    * arity encoding. Segment files are IMMUTABLE once renamed into
    * `_manifests/` — commits reference them, never rewrite them. */
  private def segmentJson(files: Seq[ManifestFile],
                          dvs: Seq[ManifestFile]): String =
    compact(render(JObject(
      List("files" -> (JArray(files.toList.map(fileEntryJson)): JValue)) ++
      (if (dvs.isEmpty) Nil
       else List("dvs" -> (JArray(dvs.toList.map(fileEntryJson)): JValue))))))

  private def segmentFromJson(s: String)
      : (Seq[ManifestFile], Seq[ManifestFile]) = {
    val j = JsonMethods.parse(s)
    val fls = (j \ "files") match {
      case JArray(fs) => fs.map(fileEntryFromJson)
      case o => throw new StoreException(s"bad segment files: $o")
    }
    val dvl = (j \ "dvs") match {
      case JArray(fs) => fs.map(fileEntryFromJson)
      case _ => Nil
    }
    (fls, dvl)
  }

  /** The format-4 manifest LIST: version header + per-bucket segment
    * references. Size ∝ bucket count (a few dozen bytes per bucket),
    * never ∝ live files. */
  private def listJson(m: Manifest): String = compact(render(JObject(
    List("version" -> (JInt(m.version): JValue),
      "buckets" -> (JInt(m.buckets): JValue),
      "format" -> (JInt(4): JValue)) ++
    m.op.map(o => "op" -> (JString(o): JValue)).toList ++
    m.tsMs.map(t => "ts_ms" -> (JInt(t): JValue)).toList ++
    (if (m.streams.isEmpty) Nil
     else List("streams" -> (JObject(m.streams.toList.sortBy(_._1).map {
       case (q, e) => q -> (JInt(e): JValue)
     }): JValue))) :+
    "segs" -> (JObject(m.segs.toList.sortBy(_._1).map { case (b, n) =>
      b.toString -> (JString(n): JValue)
    }): JValue))))

  /** All committed versions, ascending (one listing). */
  def versions(spark: SparkSession, tableDir: String): Seq[Long] = {
    val f = fsOf(spark, tableDir)
    val d = dir(tableDir)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq
      .flatMap(st => versionOf(st.getPath.getName)).sorted
  }

  /** [[at]] without the per-call existence LISTING — for callers that
    * already hold the version list (the streaming admission walk reads
    * several manifests per trigger; one listing serves them all). The
    * listing is skipped only on the happy path: if the open fails (a
    * long-idle stream's cursor version vacuum-expired underneath it),
    * the ERROR path pays one listing to rethrow `at`'s friendly
    * available-versions StoreException instead of a raw file-open
    * error. */
  private[store] def atKnown(spark: SparkSession, tableDir: String,
                             version: Long): Manifest =
    try read(spark, tableDir, version)
    catch {
      case e: java.io.IOException =>
        val vs = versions(spark, tableDir)
        if (vs.contains(version)) throw e // transient IO, not expiry
        throw new StoreException(
          s"no manifest version $version (available: ${vs.mkString(", ")})")
    }

  private def read(spark: SparkSession, tableDir: String,
                   version: Long): Manifest = {
    val p = new Path(dir(tableDir), nameOf(version))
    val key = p.toString
    val hit = cache.get(key)
    if (hit != null) return hit
    val f = fsOf(spark, tableDir)
    val m = parse(SmallFile.readUtf8(f, p), loadSegment(f, tableDir, _))
    cachePut(key, m)
    m
  }

  /** Resolve one segment reference of a format-4 list (cached: segment
    * files are immutable and shared across versions). */
  private def loadSegment(f: FileSystem, tableDir: String, name: String)
      : (Seq[ManifestFile], Seq[ManifestFile]) = {
    val p = new Path(dir(tableDir), name)
    val key = p.toString
    val hit = segCache.get(key)
    if (hit != null) return hit
    val v = segmentFromJson(SmallFile.readUtf8(f, p))
    segCachePut(key, v)
    v
  }

  /** Latest committed snapshot. Every table commits version 0 at
    * create, so a table dir with no version is damaged (its
    * `_manifests/` was removed): StoreException naming the dir. */
  def current(spark: SparkSession, tableDir: String): Manifest =
    latest(spark, tableDir).getOrElse(throw new StoreException(
      s"table at $tableDir has no manifest snapshot (no version under " +
      s"${dir(tableDir)}); the table cannot be read or written"))

  /** Latest committed snapshot, None before the first commit lands —
    * only [[KeyedTable.vacuum]] needs that state: it reaps the debris
    * of a first commit that failed. */
  private[store] def latest(spark: SparkSession,
                            tableDir: String): Option[Manifest] =
    versions(spark, tableDir).lastOption.map(read(spark, tableDir, _))

  /** Every surviving snapshot, ascending — ONE directory listing for
    * the whole set (vacuum's union-liveness and history both need all
    * of them; per-version `at` calls would re-list per version). */
  def all(spark: SparkSession, tableDir: String): Seq[Manifest] =
    versions(spark, tableDir).map(read(spark, tableDir, _))

  /** A specific snapshot for time travel; StoreException names the
    * versions that ARE available when `version` is missing (vacuumed or
    * never existed). */
  def at(spark: SparkSession, tableDir: String, version: Long): Manifest = {
    val vs = versions(spark, tableDir)
    if (!vs.contains(version))
      throw new StoreException(
        s"no manifest version $version (available: ${vs.mkString(", ")})")
    read(spark, tableDir, version)
  }

  /** Newest snapshot committed at or before `millis` (wall-clock of the
    * manifest file itself) — the resolution rule behind SQL
    * `TIMESTAMP AS OF`. StoreException when the table has no snapshot
    * that old (all later, or all expired by vacuum). */
  def atTimestamp(spark: SparkSession, tableDir: String,
                  millis: Long): Manifest = {
    val f = fsOf(spark, tableDir)
    val d = dir(tableDir)
    val candidates =
      if (!f.exists(d)) Nil
      else f.listStatus(d).toSeq.flatMap { st =>
        versionOf(st.getPath.getName)
          .filter(_ => st.getModificationTime <= millis)
      }
    candidates.sorted.lastOption match {
      case Some(v) => read(spark, tableDir, v)
      case None => throw new StoreException(
        s"no snapshot committed at or before $millis " +
        s"(available versions: ${versions(spark, tableDir).mkString(", ")})")
    }
  }

  /** Session conf dialing when a commit switches to the SEGMENTED
    * (format 4) on-disk form: once total file+DV entries reach this
    * count, per-bucket segments + a small list replace the inline
    * JSON, and commit metadata cost becomes ∝ touched buckets. Small
    * tables stay inline (one file per commit, simplest to operate);
    * a segmented chain stays segmented (reuse needs the previous
    * version's segment names). */
  val SegmentThresholdConf = "spark.graft.manifest.segmentThreshold"
  val SegmentThresholdDefault = 512

  /** Atomically publish a snapshot: ONE [[CommitArbiter]] put-if-absent
    * of `_manifests/v<N>.json` — the commit point of every mutation.
    * The arbiter (`spark.graft.commit.arbiter`) is the SAME primitive
    * the write lock acquires through, so even on storage where the
    * lock is advisory (object stores under the default `atomic`
    * arbiter) a duplicate version can never silently win: the losing
    * writer gets a [[ConcurrentWriteException]] and the table stays on
    * exactly one linear history. Under the `conditional` arbiter the
    * put itself is a conditional write (If-None-Match) — hard
    * exactly-one-winner on object stores, proven by CommitArbiterSpec
    * racing committers over an injected non-atomic filesystem.
    *
    * SEGMENTED form (format 4, past [[SegmentThresholdConf]]): each
    * bucket's entries serialize into an immutable
    * `_manifests/seg-<uuid>.json`, and v<N>.json holds only the
    * per-bucket references. A bucket whose file+DV entries are
    * UNCHANGED from version N−1 reuses that version's segment file
    * verbatim — zero bytes written — so a one-bucket commit on a
    * million-file table writes one small segment plus one small list
    * instead of re-serializing the full live-file inventory (the
    * Iceberg manifest-list model). Segment files are written via
    * tmp + rename (never partial under any crash) and become garbage
    * only when no surviving snapshot references them — [[KeyedTable
    * .vacuum]] reaps those with the manifests. `m0.segs` is ignored
    * on input and recomputed: segment references never transfer
    * across directories (branch fork/publish re-segments in the
    * target chain).
    *
    * GUARD-RAIL for every new mutation verb: (a) any create-if-absent
    * or version flip MUST route through `CommitArbiter.putIfAbsent` —
    * never a raw create/rename (CommitArbiterSpec's racy-filesystem
    * races are the template; a raw primitive silently reintroduces the
    * lost-commit hazard on object stores); and (b) a mutation's staged
    * files — data and delete-vector sidecars alike — are listed and
    * their footers read OUTSIDE the lock (`KeyedTable.stageFiles`);
    * inside it `KeyedTable.flip` only renames them in and builds the
    * manifest — in-lock listing or footer IO turns the brief flip into
    * a writer outage proportional to the staged file count. */
  def commit(spark: SparkSession, tableDir: String, m0: Manifest): Manifest = {
    // stamp the commit wall-clock once, here (the mtime-independent
    // timestamp history/$history surface; atTimestamp keeps using the
    // file mtime, which exists for pre-metadata manifests too)
    val m1 = (if (m0.tsMs.isDefined) m0
              else m0.copy(tsMs = Some(System.currentTimeMillis())))
      .copy(segs = Map.empty)
    val f = fsOf(spark, tableDir)
    val d = dir(tableDir)
    f.mkdirs(d)
    val arbiter = CommitArbiter.resolve(spark)
    val finalPath = new Path(d, nameOf(m1.version))
    if (f.exists(finalPath))
      throw new ConcurrentWriteException(
        s"manifest version ${m1.version} already exists at $finalPath — a " +
        "concurrent writer committed it first; re-read the table and retry")
    val thresholdStr = spark.conf.get(SegmentThresholdConf,
      SegmentThresholdDefault.toString)
    // validated, not bare .toInt: a malformed conf value would fail
    // EVERY subsequent commit at the flip, and zero/negative would
    // silently force segmentation of every table
    val threshold = thresholdStr.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new StoreException(
        s"$SegmentThresholdConf must be a positive integer, " +
        s"got '$thresholdStr'"))
    val entries = m1.files.valuesIterator.map(_.size).sum +
      m1.dvs.valuesIterator.map(_.size).sum
    val prev: Option[Manifest] =
      if (m1.version <= 0) None
      else try Some(read(spark, tableDir, m1.version - 1))
      catch { case scala.util.control.NonFatal(_) => None }
    val segmented = entries >= threshold || prev.exists(_.segs.nonEmpty)
    val m =
      if (!segmented) m1
      else {
        val segs: Map[Int, String] =
          (m1.files.keySet ++ m1.dvs.keySet).iterator.map { b =>
            val fls = m1.files.getOrElse(b, Nil)
            val dvl = m1.dvs.getOrElse(b, Nil)
            // verbatim reuse: the bucket's entries are IDENTICAL to the
            // previous snapshot's — the untouched-bucket common case
            val reuse = prev.flatMap(p => p.segs.get(b).filter(_ =>
              p.files.getOrElse(b, Nil) == fls &&
              p.dvs.getOrElse(b, Nil) == dvl))
            val name = reuse.getOrElse {
              // fresh UUID names never contend — the arbiter is used
              // for its complete-before-visible write, not arbitration
              val n = s"seg-${UUID.randomUUID()}.json"
              val segPath = new Path(d, n)
              val segWon =
                try arbiter.putIfAbsent(f, segPath,
                  segmentJson(fls, dvl).getBytes("UTF-8"))
                catch {
                  case e: java.io.IOException => throw new StoreException(
                    s"could not write manifest segment $segPath ($e); " +
                    "table unchanged (the previous snapshot is still current)")
                }
              if (!segWon)
                throw new StoreException(
                  s"could not write manifest segment $segPath (a file with " +
                  "this fresh name already exists?); table unchanged (the " +
                  "previous snapshot is still current)")
              segCachePut(segPath.toString, (fls, dvl))
              n
            }
            b -> name
          }.toMap
        m1.copy(segs = segs)
      }
    val body = if (segmented) listJson(m) else m.toJson
    // THE commit point: one-winner publish of the version file. A false
    // return is a concurrent committer winning this exact version —
    // possible only when the write lock was advisory (object stores) or
    // broken; the loser's staged work is orphaned garbage for vacuum,
    // never corruption, and its retry re-reads the winner's snapshot.
    val won =
      try arbiter.putIfAbsent(f, finalPath, body.getBytes("UTF-8"))
      catch {
        case e: java.io.IOException => throw new StoreException(
          s"could not commit manifest $finalPath ($e); table unchanged " +
          "(the previous snapshot is still current)")
      }
    if (!won)
      throw new ConcurrentWriteException(
        s"manifest version ${m1.version} already exists at $finalPath — a " +
        "concurrent writer committed it first (lost the commit race); " +
        "table unchanged by this writer — re-read and retry")
    cachePut(finalPath.toString, m)
    m
  }
}
