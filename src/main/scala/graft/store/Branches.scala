package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Table BRANCHES over the manifest snapshot store — the Iceberg
  * branch / write-audit-publish model, re-expressed on graft's own
  * commit protocol:
  *
  *  - A branch is a named ref at `<table>/_branches/<name>` holding its
  *    OWN meta + manifest chain (+ tags, changelog, write lock) but
  *    sharing the BASE table's immutable data files — every path in a
  *    manifest resolves against the base `data/` dir
  *    ([[KeyedTable.dataDir]] strips the `@branch` suffix).
  *  - FORK ([[create]]) copies one manifest + the meta: O(1) metadata,
  *    zero data IO, at any scale.
  *  - Branch WRITES are ordinary mutations addressed as `t@branch`
  *    (toSql append/upsert, merge, delete, update, zorder, compact —
  *    the whole surface): they stage into the shared data dir under
  *    commit-unique names (additive, invisible to base readers — the
  *    same invariant concurrent base writers already rely on) and flip
  *    manifests only under the branch dir. Base and branch writers
  *    hold DIFFERENT locks and never conflict.
  *  - AUDIT is just reading `t@branch` (readSql, time travel, SQL via
  *    the catalog) — full snapshot isolation from the base.
  *  - PUBLISH ([[fastForward]]) flips the base to the branch head in
  *    ONE manifest commit + meta write, guarded against divergence:
  *    the base must still sit at the fork point (version AND meta),
  *    else the caller re-forks. After publish the fork point advances,
  *    so a long-lived branch supports continuous WAP cycles.
  *  - DROP ([[drop]]) deletes the ref; files only the branch
  *    referenced become unreferenced and the base's [[KeyedTable.vacuum]]
  *    (whose liveness set spans base + every branch) reaps them after
  *    the age bound.
  *
  * CDC composes with WAP: a publish on a changelog-maintained table
  * SYNTHESIZES the exact row-image batch its snapshot flip represents
  * (one manifest-pruned diff of fork-point vs branch head over the
  * shared data dir — [[KeyedTable.stageWapImages]]) and commits it to
  * the base's changelog after the flip, so the every-mutation-logs-a-
  * batch invariant holds across publishes — including a SCHEMA-EVOLVED
  * branch: its images synthesize under the branch head's schema, and
  * batches logged before the evolution surface NULL for the new
  * columns through [[KeyedTable.readChangelog]]'s mergeSchema (the
  * correct pre-image of a column before its birth).
  */
object Branches {

  val DirName = "_branches"
  private val ForkFile = "_fork"

  private def baseOnly(table: String): String = {
    val (t, br) = KeyedTable.splitRef(table)
    if (br.isDefined)
      throw new StoreException(
        s"'$table' is already a branch ref; pass the base table name")
    t
  }

  private def branchDirOf(baseDir: String, branch: String): String =
    s"$baseDir/$DirName/$branch"

  /** `publishedBranchVersion`: the BRANCH-chain head version the last
    * fork/publish synchronized to — the correct "nothing new" cursor
    * for [[fastForward]]. `baseVersion` alone cannot express it: the
    * two chains number independently after the first branch commit, so
    * comparing the branch head against a BASE version would let a
    * repeated no-op publish slip through whenever the numbers happen
    * to diverge (and commit redundant identical base snapshots). */
  private final case class Fork(baseVersion: Long, baseMetaJson: String,
                                publishedBranchVersion: Long)

  private def writeFork(spark: SparkSession, branchDir: String,
                        fk: Fork): Unit = {
    SmallFile.replace(spark.sparkContext.hadoopConfiguration,
      new Path(branchDir, ForkFile), compact(render(JObject(
        "baseVersion" -> (JInt(fk.baseVersion): JValue),
        "baseMetaJson" -> (JString(fk.baseMetaJson): JValue),
        "publishedBranchVersion" ->
          (JInt(fk.publishedBranchVersion): JValue))))
        .getBytes("UTF-8"), "fork", "fork record")
  }

  private def readFork(spark: SparkSession, branchDir: String): Fork = {
    val p = new Path(branchDir, ForkFile)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val j = JsonMethods.parse(SmallFile.readUtf8(f, p))
    (j \ "baseVersion", j \ "baseMetaJson") match {
      case (JInt(v), JString(m)) =>
        // records written before the field existed: at fork time the
        // branch head IS the base fork version (the chains share
        // numbering until the first branch commit), so it is the only
        // backward-compatible cursor available
        val pub = (j \ "publishedBranchVersion") match {
          case JInt(b) => b.toLong
          case _ => v.toLong
        }
        Fork(v.toLong, m, pub)
      case _ => throw new StoreException(s"unreadable fork record at $p")
    }
  }

  /** Fork a branch off the table's current (or a pinned) snapshot:
    * one manifest copy + one meta copy under the base write lock —
    * metadata-only at any scale. Returns the fork version. */
  def create(spark: SparkSession, warehouse0: String, tableName: String,
             branch: String, schema: Option[String] = None,
             atVersion: Option[Long] = None): Long = {
    if (Names.cleanName(branch) != branch)
      throw new StoreException(
        s"Illegal characters in branch name: $branch. " +
        s"try: ${Names.cleanName(branch)}")
    val wh = KeyedTable.schemaDir(warehouse0, schema)
    val baseDir = KeyedTable.tableDir(wh, baseOnly(tableName))
    if (!TableMeta.exists(spark, baseDir))
      throw new StoreException(s"no such table: $tableName")
    WriteLock.withLock(spark, baseDir, s"branch($branch)") {
      val meta = TableMeta.read(spark, baseDir)
      val head = Manifest.current(spark, baseDir)
      val m = atVersion.map(Manifest.at(spark, baseDir, _)).getOrElse(head)
      val brDir = branchDirOf(baseDir, branch)
      if (TableMeta.exists(spark, brDir))
        throw new StoreException(
          s"branch '$branch' already exists on $tableName")
      // a crashed earlier fork may have left a meta-less dir (the meta
      // marker is written LAST below, so a torn attempt is invisible to
      // exists/list/vacuum) — clean it so this fork starts whole
      val brPath = new Path(brDir)
      val f = brPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(brPath)) f.delete(brPath, true)
      // mark-after-content: fork record + manifest first, the meta
      // marker (what makes the branch EXIST) last — a crash anywhere
      // in between leaves a dir the next create cleans, never a branch
      // that lists but cannot resolve
      writeFork(spark, brDir, Fork(m.version, meta.toJson, m.version))
      Manifest.commit(spark, brDir,
        m.copy(op = Some("fork"), tsMs = None))
      TableMeta.write(spark, brDir, meta)
      m.version
    }
  }

  /** All branches of a table: (branch, fork_version, head_version). */
  def list(spark: SparkSession, warehouse0: String, tableName: String,
           schema: Option[String] = None): DataFrame = {
    val wh = KeyedTable.schemaDir(warehouse0, schema)
    val baseDir = KeyedTable.tableDir(wh, baseOnly(tableName))
    val rows = branchDirs(spark, baseDir).map { case (name, brDir) =>
      Row(name, readFork(spark, brDir).baseVersion,
        Manifest.current(spark, brDir).version)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.sortBy(_.getString(0)), 1),
      StructType(Seq(
        StructField("branch", StringType, nullable = false),
        StructField("fork_version", LongType, nullable = false),
        StructField("head_version", LongType, nullable = false))))
  }

  /** Fork version of a branch dir — the `t$branches` metadata table's
    * row source. */
  private[store] def forkVersionOf(spark: SparkSession,
                                   branchDir: String): Long =
    readFork(spark, branchDir).baseVersion

  /** Every existing (name, dir) branch ref of a base table — vacuum's
    * union-liveness and [[list]] both resolve through here. */
  private[store] def branchDirs(spark: SparkSession,
                                baseDir: String): Seq[(String, String)] = {
    val d = new Path(baseDir, DirName)
    val f = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq.filter(_.isDirectory)
      .map(st => st.getPath.getName -> st.getPath.toUri.getPath)
      .filter { case (_, brDir) => TableMeta.exists(spark, brDir) }
  }

  /** Delete a branch ref. Data files only this branch referenced stay
    * on disk until the BASE table's vacuum reaps them (its liveness
    * set no longer includes the dropped branch's manifests). */
  def drop(spark: SparkSession, warehouse0: String, tableName: String,
           branch: String, schema: Option[String] = None): Unit = {
    val wh = KeyedTable.schemaDir(warehouse0, schema)
    val baseDir = KeyedTable.tableDir(wh, baseOnly(tableName))
    val brDir = branchDirOf(baseDir, branch)
    val p = new Path(brDir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!TableMeta.exists(spark, brDir))
      throw new StoreException(s"no such branch: $tableName@$branch")
    // same protocol as dropTable: lock out an in-flight branch mutator,
    // then remove the ref (the lock file goes with the dir)
    WriteLock.withLock(spark, brDir, "dropBranch") {
      f.delete(p, true)
    }
    Manifest.invalidate(brDir)
  }

  /** PUBLISH: fast-forward the base table to the branch head — one
    * manifest commit (the branch head's file set, already living in
    * the base data dir) + the branch's meta, under BOTH write locks.
    * Refused when the base moved past the fork point (version or
    * meta) — re-fork to rebase. CDC composes: on a changelog-maintained
    * ref the publish synthesizes the exact row-image batch its flip
    * represents ([[KeyedTable.stageWapImages]] — a zero-exchange,
    * manifest-pruned diff of fork point vs branch head over the shared
    * data dir) and commits it to the base's changelog after the flip —
    * a schema-EVOLVED branch included: the diff plans BOTH snapshots
    * under the branch head's schema (the fork point's files simply
    * read NULL for columns born after them), so its batch carries the
    * evolved column set and earlier batches merge as NULL images.
    * Returns the new base version; the branch's fork point advances so
    * the next WAP cycle can continue on the same branch. */
  def fastForward(spark: SparkSession, warehouse0: String,
                  tableName: String, branch: String,
                  schema: Option[String] = None): Long = {
    val wh = KeyedTable.schemaDir(warehouse0, schema)
    val baseDir = KeyedTable.tableDir(wh, baseOnly(tableName))
    val brDir = branchDirOf(baseDir, branch)
    if (!TableMeta.exists(spark, brDir))
      throw new StoreException(s"no such branch: $tableName@$branch")
    WriteLock.withLock(spark, baseDir, s"fastForward($branch)") {
      WriteLock.withLock(spark, brDir, "fastForward(publish)") {
        val fk = readFork(spark, brDir)
        val baseMeta = TableMeta.read(spark, baseDir)
        val brMeta = TableMeta.read(spark, brDir)
        // CDC composes with WAP: the publish SYNTHESIZES the exact
        // row-image batch its flip represents (below) — under the
        // branch HEAD's schema when the branch evolved, which the
        // changelog absorbs (readChangelog merges batch schemas;
        // pre-evolution batches read NULL images for the new columns)
        val cdc = baseMeta.changelog || brMeta.changelog
        val baseHead = Manifest.current(spark, baseDir)
        if (baseHead.version != fk.baseVersion)
          throw new StoreException(
            s"cannot fast-forward: $tableName advanced to version " +
            s"${baseHead.version} since the branch forked at " +
            s"${fk.baseVersion} — re-fork to rebase")
        // parsed, not textual: a fork record written while the meta
        // still carried the bucket count must not read as a change
        if (baseMeta != TableMeta.fromJson(fk.baseMetaJson))
          throw new StoreException(
            s"cannot fast-forward: $tableName's metadata changed since " +
            "the branch forked (schema/constraint evolution) — re-fork " +
            "to rebase")
        val brHead = Manifest.current(spark, brDir)
        // nothing-new compares within the BRANCH chain: the head the
        // last fork/publish synchronized to (never a cross-chain
        // version comparison — see Fork.publishedBranchVersion)
        if (brHead.version == fk.publishedBranchVersion) baseHead.version
        else {
          // CDC: synthesize the publish's image batch BEFORE the flip
          // (the pre-image reads the from-snapshot's files, which the
          // flip doesn't disturb, but staging-before-commit is the
          // ordering every mutation uses). `from` is the branch-chain
          // snapshot the base currently equals — the fork guard above
          // proved the base never moved — so the diff runs entirely in
          // the branch chain over the SHARED data dir.
          val f = new Path(baseDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val clCommit: Option[(Path, Path)] =
            if (!cdc) None
            else Some(KeyedTable.stageWapImages(spark, wh,
              s"${baseOnly(tableName)}@$branch", baseDir, brMeta,
              Manifest.at(spark, brDir, fk.publishedBranchVersion), brHead))
          try {
            // crash ordering: manifest commit FIRST (the flip IS the
            // publish — readers resolve the new file set atomically),
            // meta second (a crash between the two leaves the base
            // readable under its pre-publish schema: parquet columns the
            // old schema lacks are simply not projected), fork record
            // last (a crash before it makes the NEXT publish fail the
            // divergence check — the safe failure: re-fork, never a
            // double-publish or a torn base), changelog batch rename
            // after everything (a torn publish leaves no phantom batch)
            val published = Manifest.commit(spark, baseDir, brHead.copy(
              version = baseHead.version + 1,
              op = Some("fastForward"), tsMs = None))
            TableMeta.write(spark, baseDir, brMeta)
            writeFork(spark, brDir,
              Fork(published.version, brMeta.toJson, brHead.version))
            clCommit.foreach { case (src, dst) =>
              KeyedTable.commitChangelogBatchRef(f, "fastForward", src, dst)
            }
            published.version
          } finally clCommit.foreach { case (src, _) => f.delete(src, true) }
        }
      }
    }
  }
}
