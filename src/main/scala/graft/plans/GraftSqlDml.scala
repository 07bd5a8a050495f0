package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.BooleanType

import graft.store.{KeyedTable, KeyedTableSource, StoreException, TableMeta}

/** SQL `UPDATE` and `MERGE INTO` for graft keyed tables — the custom
  * `Rule[LogicalPlan]` path (SparkSessionExtensions): Spark's own
  * row-level rewrites only fire for `SupportsRowLevelOperations`
  * sources, so the analyzed [[UpdateTable]] / [[MergeIntoTable]] nodes
  * over our tables would otherwise die at planning with "not
  * supported". This rule recognizes them during resolution and lowers
  * them onto the store's OWN mutation primitives —
  * [[KeyedTable.update]] (bucket-pruned predicate update) and
  * [[KeyedTable.merge]] (one-commit change-feed apply) — so SQL DML
  * gets the identical commit protocol, CDC capture, and write-lock
  * contract as the programmatic API, completing the DML matrix
  * (SELECT + time travel, INSERT, DELETE, UPDATE, MERGE).
  *
  * MERGE supports the change-feed shape the store's merge expresses:
  * an equality join on the FULL primary key, at most one `WHEN MATCHED
  * [AND c] THEN UPDATE`, at most one `WHEN MATCHED [AND c] THEN
  * DELETE` (conditions read only source columns; DELETE must come
  * first when both appear so tombstone priority matches SQL's
  * first-clause-wins), at most one `WHEN NOT MATCHED [AND c] THEN
  * INSERT`, with UPDATE and INSERT assigning the SAME source
  * expression per column (`SET *` / `INSERT *` — the CDC-apply idiom —
  * always qualifies), and at most one `WHEN NOT MATCHED BY SOURCE
  * THEN DELETE | UPDATE` (target-only expressions — the full-snapshot
  * sync idiom). An absent clause is NO ACTION, exactly as SQL says:
  * partial shapes route matched/unmatched rows with one pre-filter
  * join against the target's key set (the unconditional full shape
  * stays join-free). Everything else raises a clear unsupported error
  * rather than planning something subtly different.
  *
  * Star actions expand (in Spark's analyzer, before this rule runs)
  * against the table's SQL shape, which includes the synthetic
  * `pb_bucket` column — a star-form source therefore carries a NULL
  * `pb_bucket` slot, the same contract as positional `INSERT INTO`;
  * assignments to it are dropped here (the store derives the real
  * bucket itself). Explicit column lists need no such slot.
  */
class GraftSqlDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def target(plan: LogicalPlan): Option[(String, String, Seq[String])] =
    plan.collectFirst { case r: DataSourceV2Relation => r }
      .flatMap(r => KeyedTableSource.storeTarget(r.table))

  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case u @ UpdateTable(t, assignments, condition)
        if u.resolved && target(t).isDefined =>
      val Some((wh, name, pk)) = target(t): @unchecked
      val sets = assignments.flatMap { a =>
        val k = a.key match {
          case ar: AttributeReference => ar.name
          case o => throw new StoreException(
            s"graft SQL UPDATE: unsupported assignment target $o")
        }
        (a.key, a.value) match {
          // identity assignment (alignment fills untouched columns with
          // themselves): not an update
          case (ka: AttributeReference, va: AttributeReference)
              if ka.exprId == va.exprId => None
          // the synthetic bucket column is derived, never assigned
          case _ if k == KeyedTable.BucketCol => None
          case _ => Some(k -> a.value)
        }
      }
      GraftUpdateCommand(wh, name, sets, condition)

    case m @ MergeIntoTable(t, source, cond, matched, notMatched,
        notMatchedBySource, withSchemaEvolution)
        if m.resolved && target(t).isDefined =>
      val Some((wh, name, pk)) = target(t): @unchecked
      def unsupported(what: String): Nothing = throw new StoreException(
        s"graft SQL MERGE: $what is not supported (the store's merge " +
        "applies a change feed: full-PK equality join, unconditional " +
        "UPDATE/INSERT assigning the same source expressions, DELETE " +
        "condition over source columns only)")
      if (withSchemaEvolution) unsupported("WITH SCHEMA EVOLUTION")
      val targetIds = t.outputSet
      val sourceIds = source.outputSet
      def sourceOnly(e: Expression): Boolean =
        e.references.subsetOf(sourceIds)
      // merge condition: conjunction of target-PK = source-attr pairs
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case o => Seq(o)
      }
      val keyPairs: Seq[(String, AttributeReference)] = conjuncts(cond).map {
        case EqualTo(l: AttributeReference, r: AttributeReference)
            if targetIds.contains(l) && sourceIds.contains(r) => l.name -> r
        case EqualTo(l: AttributeReference, r: AttributeReference)
            if targetIds.contains(r) && sourceIds.contains(l) => r.name -> l
        case o => unsupported(s"merge condition term $o")
      }
      if (keyPairs.map(_._1).toSet != pk.toSet)
        unsupported(s"merge condition on ${keyPairs.map(_._1)} (the full " +
          s"primary key $pk is required)")
      // two ON conjuncts constraining the SAME target key column with
      // DIFFERENT source expressions (t.k = s.a AND t.k = s.b) cannot
      // lower onto a single per-column join key — refuse rather than
      // silently joining on fewer conditions than the statement wrote
      keyPairs.groupBy(_._1).foreach { case (c, ps) =>
        val exprs = ps.map(_._2)
        if (exprs.exists(e => !e.semanticEquals(exprs.head)))
          unsupported(s"the ON clause equating target key column $c " +
            s"with multiple different source expressions (${exprs.mkString(", ")})")
      }
      // actions
      val (updates, deletes) = (
        matched.collect { case a: UpdateAction => a },
        matched.collect { case a: DeleteAction => a })
      if (updates.size + deletes.size != matched.size)
        unsupported("a matched action other than UPDATE/DELETE")
      if (updates.size > 1 || deletes.size > 1)
        unsupported("multiple matched actions of the same kind")
      // a conditional WHEN MATCHED UPDATE rides the feed as a boolean
      // column (matched & !cond = no action); source-only, like DELETE
      val updWhen: Option[Expression] = updates.headOption.flatMap(_.condition)
        .map { c =>
          if (!sourceOnly(c))
            unsupported(s"an UPDATE condition referencing target columns ($c)")
          c
        }
      // SQL gives the FIRST matching clause priority; the store's merge
      // gives tombstones priority — those agree only when DELETE comes
      // first (the CDC-apply pattern: WHEN MATCHED AND del THEN DELETE,
      // WHEN MATCHED THEN UPDATE)
      if (updates.nonEmpty && deletes.nonEmpty &&
          !matched.head.isInstanceOf[DeleteAction])
        unsupported("WHEN MATCHED UPDATE ordered before DELETE (the " +
          "delete clause must come first for tombstone priority to " +
          "match SQL's first-clause-wins)")
      val inserts = notMatched.collect { case a: InsertAction => a }
      if (inserts.size != notMatched.size || inserts.size > 1)
        unsupported("a not-matched action other than one INSERT")
      // a conditional WHEN NOT MATCHED INSERT is source-only by nature
      // (there is no matched target row to reference)
      val insWhen: Option[Expression] = inserts.headOption.flatMap(_.condition)
        .map { c =>
          if (!sourceOnly(c))
            unsupported(s"an INSERT condition referencing target columns ($c)")
          c
        }
      val delWhen: Option[Expression] = deletes.headOption.map { d =>
        val c = d.condition.getOrElse(Literal(true, BooleanType))
        if (!sourceOnly(c))
          unsupported(s"a DELETE condition referencing target columns ($c)")
        c
      }
      if (updates.isEmpty && inserts.isEmpty && deletes.isEmpty &&
          notMatchedBySource.isEmpty)
        unsupported("a MERGE with no actions")
      // per-column source expression: UPDATE and INSERT must agree —
      // one feed row carries one value per column for both paths.
      // Identity update assignments (alignment's keep-stored fill) on
      // non-key columns are only expressible when INSERT agrees or is
      // absent; key columns must be assigned the join key itself.
      def assignMap(as: Seq[Assignment], kind: String): Map[String, Expression] =
        as.map { a =>
          val k = a.key match {
            case ar: AttributeReference => ar.name
            case o => unsupported(s"$kind assignment target $o")
          }
          // alignment may fill untouched columns with the TARGET attr
          // (keep stored): drop those — absent from the feed means
          // exactly "keep stored" in the store's partial-column merge
          a.value match {
            case va: AttributeReference if targetIds.contains(va) &&
                va.name == k => k -> null
            case v =>
              if (!sourceOnly(v))
                unsupported(s"$kind assignment for $k referencing target columns")
              k -> v
          }
        }.filter(_._2 != null).toMap
      val updMap = updates.headOption.map(a => assignMap(a.assignments, "UPDATE"))
      val insMap = inserts.headOption.map(a => assignMap(a.assignments, "INSERT"))
      val keyExpr = keyPairs.toMap
      // key columns: any explicit assignment must be the join key
      // (alignment may wrap values in type casts — compare through them)
      def stripCast(e: Expression): Expression = e match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast => stripCast(c.child)
        // alignment guards non-nullable key assignments with a null check
        case a: org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull =>
          stripCast(a.child)
        case o => o
      }
      (updMap.toSeq ++ insMap.toSeq).foreach(_.foreach { case (c, e) =>
        if (pk.contains(c) && !stripCast(e).semanticEquals(keyExpr(c)))
          unsupported(s"assigning key column $c to anything but the join key (got $e)")
      })
      val valueCols: Seq[(String, Expression)] = (updMap, insMap) match {
        case (Some(u), Some(i)) =>
          val cols = (u.keySet ++ i.keySet)
            .filterNot(pk.contains).filterNot(_ == KeyedTable.BucketCol)
          cols.toSeq.sorted.map { c =>
            (u.get(c), i.get(c)) match {
              case (Some(ue), Some(ie)) if ue.semanticEquals(ie) => c -> ue
              case (Some(_), Some(_)) => unsupported(
                s"UPDATE and INSERT assigning different expressions to $c")
              case (Some(_), None) | (None, Some(_)) => unsupported(
                s"column $c assigned by only one of UPDATE/INSERT " +
                "(the feed carries one value per column for both paths)")
              case (None, None) => unsupported("unreachable")
            }
          }
        case (Some(u), None) => u.toSeq.filterNot(p => pk.contains(p._1)).sortBy(_._1)
        case (None, Some(i)) => i.toSeq.filterNot(p => pk.contains(p._1)).sortBy(_._1)
        case (None, None) => Nil // delete-only merge
      }
      // the synthetic bucket column is derived by the store, never fed
      // (SET * / INSERT * naturally pick it up from a source that
      // mirrors the table's SQL shape)
      val valueCols2 = valueCols.filterNot(_._1 == KeyedTable.BucketCol)
      // WHEN NOT MATCHED BY SOURCE (target rows without a source match;
      // the full-snapshot-sync idiom): at most one action — DELETE, or
      // UPDATE over target-only expressions whose assigned columns the
      // feed already carries (so the by-source rows union in with the
      // same schema; unassigned columns keep their current values read
      // off the target scan). Conditions may reference target columns
      // ONLY — there is no source row to reference.
      def targetOnly(e: Expression): Boolean =
        e.references.subsetOf(targetIds)
      val bySource: Option[BySourceAction] = notMatchedBySource match {
        case Seq() => None
        case Seq(a) =>
          val (isDel, cond, sets) = a match {
            case d: DeleteAction => (true, d.condition, Nil)
            case u: UpdateAction => (false, u.condition,
              u.assignments.flatMap { as =>
                val k = as.key match {
                  case ar: AttributeReference => ar.name
                  case o => unsupported(s"BY SOURCE assignment target $o")
                }
                if (pk.contains(k))
                  unsupported(s"a BY SOURCE UPDATE assigning key column $k")
                if (k == KeyedTable.BucketCol) None
                else as.value match {
                  // identity (alignment fill): keep stored, not a set
                  case va: AttributeReference if va.name == k &&
                      targetIds.contains(va) => None
                  case v =>
                    if (!targetOnly(v))
                      unsupported(s"a BY SOURCE assignment for $k " +
                        s"referencing source columns ($v)")
                    Some(k -> v)
                }
              })
            case o => unsupported(s"BY SOURCE action $o")
          }
          cond.foreach(c => if (!targetOnly(c))
            unsupported(s"a BY SOURCE condition referencing source columns ($c)"))
          val missing = sets.map(_._1).filterNot(valueCols2.map(_._1).contains)
          if (missing.nonEmpty)
            unsupported(s"BY SOURCE UPDATE assigning ${missing.mkString(", ")} " +
              "which the matched/not-matched clauses do not carry (the " +
              "feed holds one value slot per assigned column)")
          if (!isDel && sets.isEmpty && valueCols2.nonEmpty)
            unsupported("a BY SOURCE UPDATE with only identity assignments")
          Some(BySourceAction(isDel, cond, sets))
        case _ => unsupported("multiple WHEN NOT MATCHED BY SOURCE actions")
      }
      // the feed: one projection over the source — key columns from the
      // join pairs, value columns from the agreed assignments, the
      // tombstone flag, plus the optional clause-condition flags
      val DelCol = "_graft_sql_del"
      val UpdCol = "_graft_sql_upd"
      val InsCol = "_graft_sql_ins"
      val feedCols: Seq[Alias] =
        pk.map(c => Alias(keyExpr(c), c)()) ++
        valueCols2.map { case (c, e) => Alias(e, c)() } ++
        Seq(Alias(delWhen.getOrElse(Literal(false, BooleanType)), DelCol)()) ++
        updWhen.map(c => Alias(c, UpdCol)()) ++
        insWhen.map(c => Alias(c, InsCol)())
      GraftMergeCommand(wh, name, Project(feedCols, source), DelCol, pk,
        valueColNames = valueCols2.map(_._1),
        hasUpdate = updates.nonEmpty, hasInsert = inserts.nonEmpty,
        hasDelete = deletes.nonEmpty,
        updCondCol = updWhen.map(_ => UpdCol),
        insCondCol = insWhen.map(_ => InsCol),
        bySource = bySource)
  }
}

/** The parsed `WHEN NOT MATCHED BY SOURCE` action: DELETE, or UPDATE
  * with target-only SET expressions (re-resolved by name against the
  * store's own target read at run time). */
case class BySourceAction(isDelete: Boolean, condition: Option[Expression],
                          sets: Seq[(String, Expression)])

/** `UPDATE <graft table> SET … [WHERE …]` lowered onto
  * [[KeyedTable.update]]: bucket-pruned rewrite, typed SET casts, CDC
  * images under the table's changelog property — identical to the
  * programmatic call. */
case class GraftUpdateCommand(warehouse: String, table: String,
                              sets: Seq[(String, Expression)],
                              condition: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (sets.isEmpty) return Seq.empty // all-identity SET: a no-op
    val cond = condition.map(GraftSqlDml.byName).getOrElse(lit(true))
    val setMap = sets.map { case (c, e) => c -> GraftSqlDml.byName(e) }.toMap
    // commit_mode=optimistic routes SQL UPDATE onto the bucket-level
    // optimistic twin: the rewrite stages outside the write lock and a
    // racing disjoint-bucket statement commits right through it. An
    // overlapping-bucket conflict auto-retries (bounded by
    // spark.graft.sql.maxRetries) — each attempt re-stages against the
    // fresh snapshot, so the statement semantics stay one-shot.
    if (TableMeta.read(spark,
        KeyedTable.tableDir(warehouse, table)).optimisticDml)
      KeyedTable.retrying(s"UPDATE $table", KeyedTable.sqlRetries(spark),
          KeyedTable.SqlMaxRetriesConf) {
        KeyedTable.updateConcurrent(spark, warehouse, table, cond, setMap)
      }: Unit
    else
      KeyedTable.update(spark, warehouse, table, cond, setMap): Unit
    Seq.empty
  }
}

/** `MERGE INTO <graft table>` lowered onto [[KeyedTable.merge]]: the
  * pre-validated feed projection (key columns, agreed value columns,
  * tombstone flag) executes as its own plan; one store commit, one
  * changelog batch.
  *
  * SQL MERGE treats an ABSENT clause as "no action", while the store's
  * merge applies every feed row (update-or-insert, tombstone deletes).
  * When both UPDATE and INSERT are present every source row IS an
  * action and the feed flows through whole (the CDC-apply fast path —
  * no extra join). A partial clause set pre-filters the feed against
  * the target's PINNED snapshot key set with one left join. On the
  * LOCKED path, routing and commit pin the same version — ANY racing
  * commit aborts the merge with ConcurrentWriteException instead of
  * silently mis-routing (strict serializable). Under
  * `commit_mode=optimistic` the pin is enforced at STAGE-START and the
  * flip re-validates only the touched buckets, so the statement is
  * write-serializable: a concurrent insert into an UNTOUCHED bucket
  * survives a full-snapshot-sync `WHEN NOT MATCHED BY SOURCE` that
  * raced it (the row was not in the pinned routing set, so it is
  * neither updated nor deleted — Delta's WriteSerializable anomaly).
  * Dial `spark.graft.merge.bySourceStrict=true` to make BY SOURCE
  * shapes abort on ANY version movement under optimistic mode too
  * (auto-retry then re-pins, restoring the locked path's contract at
  * the cost of retries under sustained ingest):
  * rows that match the target survive only if UPDATE is present (or
  * DELETE, for rows the delete condition selects); rows that don't
  * match survive only if INSERT is present. In every shape the store
  * merge runs with deleteOnlyMatched: a WHEN MATCHED DELETE applies
  * only to matched rows, so an unmatched source row satisfying the
  * delete condition inserts when an INSERT clause selects it and is a
  * no-op otherwise — standard SQL clause semantics, pinned by
  * SqlUpdateMergeSpec. */
case class GraftMergeCommand(warehouse: String, table: String,
                             feed: LogicalPlan, delCol: String,
                             pk: Seq[String], valueColNames: Seq[String],
                             hasUpdate: Boolean, hasInsert: Boolean,
                             hasDelete: Boolean,
                             updCondCol: Option[String] = None,
                             insCondCol: Option[String] = None,
                             bySource: Option[BySourceAction] = None)
    extends LeafRunnableCommand {
  // the WHOLE body retries on a routing/window conflict (bounded by
  // spark.graft.sql.maxRetries): each attempt re-pins the routing
  // snapshot and re-runs the pre-filter join against it, so a retry can
  // never mis-route rows planned against a stale key set. Applies to
  // both modes — the locked path's commit-time pin (a racing commit
  // between the routing read and the lock) aborts with the same
  // ConcurrentWriteException and is equally safe to re-plan.
  override def run(spark: SparkSession): Seq[Row] =
    KeyedTable.retrying(s"MERGE INTO $table", KeyedTable.sqlRetries(spark),
      KeyedTable.SqlMaxRetriesConf)(runOnce(spark))

  private def runOnce(spark: SparkSession): Seq[Row] = {
    val df: DataFrame = GraftBridge.ofRows(spark, feed)
    val del: Column = coalesce(col(delCol), lit(false))
    // the unconditional full shape needs no matched/unmatched routing:
    // every source row acts (update-or-insert or — matched only —
    // tombstone delete; merge's deleteOnlyMatched turns an unmatched
    // tombstone into the insert SQL requires of it)
    val fastPath = hasUpdate && hasInsert &&
      updCondCol.isEmpty && insCondCol.isEmpty && bySource.isEmpty
    // pin routing and commit to ONE snapshot: the pre-filter join below
    // reads this version, and merge refuses to commit if the table
    // moved past it meanwhile (ConcurrentWriteException — retry), so a
    // commit racing this statement can never silently mis-route rows
    val pinned: Option[Long] =
      if (fastPath) None
      else Some(graft.store.Manifest.current(spark,
        KeyedTable.tableDir(warehouse, table)).version)
    val pre: DataFrame =
      if (fastPath) df
      else {
        val marker = "_graft_sql_matched"
        val target = KeyedTable.readSql(spark, warehouse, table,
          asOfVersion = pinned)
        val tgtKeys = target.select(pk.map(col): _*)
          .withColumn(marker, lit(true))
        // matched: DELETE wins (clause order enforces delete-first),
        // then a (possibly conditional) UPDATE, else no action;
        // unmatched: a (possibly conditional) INSERT, else no action
        val updCond: Column = updCondCol
          .map(c => coalesce(col(c), lit(false))).getOrElse(lit(true))
        val insCond: Column = insCondCol
          .map(c => coalesce(col(c), lit(false))).getOrElse(lit(true))
        val keepMatched: Column =
          (if (hasDelete) del else lit(false)) ||
          (if (hasUpdate) updCond else lit(false))
        val keepUnmatched: Column =
          if (hasInsert) insCond else lit(false)
        val main = df.join(tgtKeys, pk.toSeq, "left")
          .filter(when(col(marker).isNotNull, keepMatched)
            .otherwise(keepUnmatched))
          .drop((marker +: (updCondCol.toSeq ++ insCondCol.toSeq)): _*)
        bySource match {
          case None => main
          case Some(bs) =>
            // target rows WITHOUT a source match: anti-join on the pk,
            // optional target-only condition, then either tombstones or
            // updated values (unassigned columns keep their current
            // values, read off the same target scan — no second pass)
            val anti0 = target.join(df.select(pk.map(col): _*), pk.toSeq,
              "left_anti")
            val anti = bs.condition
              .map(c => anti0.filter(GraftSqlDml.byName(c))).getOrElse(anti0)
            val sets = bs.sets.map { case (c, e) =>
              c -> GraftSqlDml.byName(e)
            }.toMap
            val bsRows = anti.select(
              (pk.map(col) ++
                valueColNames.map(c => sets.getOrElse(c, col(c)).as(c)) :+
                lit(bs.isDelete).as(delCol)): _*)
            main.unionByName(bsRows)
        }
      }
    // commit_mode=optimistic: the full-outer merge stages outside the
    // write lock; the pinned routing version transfers to the twin's
    // snapshot-at-start guard, and the bucket-window flip covers the
    // rest (feed rows route by their own PK, whose bucket is touched)
    if (TableMeta.read(spark,
        KeyedTable.tableDir(warehouse, table)).optimisticDml)
      KeyedTable.mergeConcurrent(pre, warehouse, table,
        deleteWhen = coalesce(col(delCol), lit(false)),
        strictUtc = false,
        deleteOnlyMatched = true,
        expectedVersion = pinned,
        // BY SOURCE reads the whole snapshot; the strict dial restores
        // the locked path's any-movement abort for those shapes (class
        // doc: the WriteSerializable anomaly) — auto-retry re-pins
        strictVersion = bySource.isDefined &&
          GraftSqlDml.bySourceStrict(spark)): Unit
    else
      KeyedTable.merge(pre, warehouse, table,
        deleteWhen = coalesce(col(delCol), lit(false)),
        strictUtc = false, // values already passed the table's write checks
        // SQL clause semantics: a WHEN MATCHED DELETE never applies to
        // an unmatched source row — with an INSERT clause present, that
        // row inserts (standard SQL), never a silent no-op tombstone
        deleteOnlyMatched = true,
        expectedVersion = pinned): Unit
    Seq.empty
  }
}

object GraftSqlDml {
  /** Isolation dial for optimistic `WHEN NOT MATCHED BY SOURCE` merges:
    * false (default) = write-serializable (touched-bucket window only;
    * see [[GraftMergeCommand]]'s class doc for the anomaly); true =
    * strict — abort on ANY version movement between stage-start and the
    * flip, exactly the locked path's rule. */
  val BySourceStrictConf = "spark.graft.merge.bySourceStrict"

  private[graft] def bySourceStrict(spark: SparkSession): Boolean =
    spark.conf.get(BySourceStrictConf, "false").toLowerCase match {
      case "true" => true
      case "false" => false
      case v => throw new graft.store.StoreException(
        s"$BySourceStrictConf must be true/false, got '$v'")
    }

  /** Re-resolve an analyzed expression against the store's own read of
    * the table: attribute references become by-name lookups (the store
    * re-reads the table inside update/merge, so the original exprIds
    * are meaningless there). */
  private[plans] def byName(e: Expression): Column =
    GraftBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
}
