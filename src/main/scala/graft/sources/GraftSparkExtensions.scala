package graft.sources

import graft.ops.Layout
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL `MERGE INTO` and `UPDATE` for `graft.`-catalog tables — the
  * statement surface of [[Layout.mergeRowLevel]], the engine's one
  * manifest-targeted keyed-mutation transaction (copy-on-write, or
  * deletion vector under `graft.merge.mode=dv`). Spark only executes
  * these against tables implementing full row-level-operation plumbing;
  * this extension instead rewrites the analyzed [[MergeIntoTable]] /
  * [[UpdateTable]] into a command that calls the engine's own machinery —
  * keeping its scale contract (a file is rewritten only if some delta key
  * falls inside its [min, max]; pure inserts append; untouched files are
  * never planned) that a generic group-based rewrite would forfeit.
  *
  * Enabled by [[graft.GraftExtensions]] at session build:
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (analyzer
  * rules cannot attach to a live session).
  *
  * The canonical whole-row upsert compiles to [[Layout.mergeKeyed]], the
  * keyed form of that transaction whose delta is the whole action set —
  * no matched-pair join (the reference's REPLACE-style
  * delete-then-insert, Synchronizer.php:496-507):
  * {{{
  * MERGE INTO graft.`/t` t USING src s ON t.k = s.k
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  * Every other standard MERGE shape routes through the general row-level
  * rewrite ([[GraftMergeRowCommand]] / [[Layout.mergeRowLevel]]):
  * conditional WHEN MATCHED UPDATE (partial SET, conditions over target
  * and source) / DELETE, conditional WHEN NOT MATCHED INSERT (column
  * lists), and conditional WHEN NOT MATCHED BY SOURCE UPDATE / DELETE
  * (target-only scope; the one shape that semantically plans the whole
  * table — the commit still narrows to affected files). Scope violations,
  * non-equality ON conditions, and merge-key reassignment fail TYPED at
  * analysis, never silently half-merge.
  */
final case class GraftMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.childrenResolved =>
      EliminateSubqueryAliases(m.targetTable) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftMutableTable] =>
          rewrite(m, r, r.table.asInstanceOf[GraftMutableTable])
        case _ => m
      }
    case u @ UpdateTable(table, assignments, condition) if u.childrenResolved &&
        assignments.forall(_.resolved) && condition.forall(_.resolved) =>
      EliminateSubqueryAliases(table) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftMutableTable] =>
          rewriteUpdate(r, r.table.asInstanceOf[GraftMutableTable],
            assignments, condition)
        case _ => u
      }
    // DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`):
    // Spark's own exec needs full DSv2 batch-write plumbing; route it to
    // the engine's atomic delete+insert commit instead — replaced
    // partitions are derived from the STAGED data's own `k=v/` dirs
    // ([[Layout.OverwriteDynamicPartitions]]), so the incoming query runs
    // exactly once. The analyzer already aligned the query to the table's
    // columns; the projection pins the table's (logical) names.
    case o: OverwritePartitionsDynamic if o.childrenResolved &&
        o.query.resolved =>
      EliminateSubqueryAliases(o.table) match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftMutableTable] &&
            o.query.output.length == r.output.length =>
          val t = r.table.asInstanceOf[GraftMutableTable]
          val aligned = Project(o.query.output.zip(r.output).map {
            case (q, tAttr) => Alias(q, tAttr.name)()
          }, o.query)
          GraftDynamicOverwriteCommand(t.tableRoot, aligned)
        case _ => o
      }
    case other => other
  }

  /** SQL `UPDATE t SET ... WHERE ...` as a read-modify-write through the
    * SAME keyed COW upsert: the delta is the matched rows with assignments
    * applied (computed over the snapshot-pinned relation — copy-on-write
    * isolation by construction), then [[Layout.mergeKeyed]] replaces them
    * in place. The merge key must not be assigned (changing a key is a
    * delete+insert, not an update — fail typed, never silently duplicate).
    * The read side is one pushed-filter scan; the write side rewrites only
    * the files whose key range contains an updated key.
    */
  private def rewriteUpdate(r: DataSourceV2Relation, tbl: GraftMutableTable,
                            assignments: Seq[Assignment],
                            condition: Option[Expression]): LogicalPlan = {
    val keys = graft.ops.Manifest.currentKeyCols(spark, tbl.tableRoot)
      .getOrElse(fail(s"UPDATE on ${tbl.tableRoot} needs a manifest snapshot"))
    val keyCol = keys.head
    val assignByName = assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => fail(s"assignment target must be a column, got ${other.sql}")
      }
      if (name == keyCol)
        fail(s"UPDATE must not assign the merge key `$keyCol` — a key change " +
          "is a DELETE + INSERT, not an in-place update")
      name -> a.value
    }.toMap
    val exprs = r.output.map { tc =>
      assignByName.get(tc.name) match {
        case None => tc
        case Some(e) =>
          val cast = if (e.dataType == tc.dataType) e
            else Cast(e, tc.dataType, Some(conf.sessionLocalTimeZone))
          Alias(cast, tc.name)()
      }
    }
    // Read the target THROUGH the deletion vector (same output exprIds, so
    // the Filter/Project above resolve unchanged): computing the delta over
    // the raw relation would resurrect DV-deleted rows into the update.
    val read = GraftDvRead.dvPlanFor(spark, r).getOrElse(r: LogicalPlan)
    val matched = condition.fold(read)(c => Filter(c, read))
    GraftMergeIntoCommand(tbl.tableRoot, keyCol, Project(exprs, matched),
      refuseNullKeys = true)
  }

  private def fail(why: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_0035",
      messageParameters = Map("message" ->
        (s"graft MERGE: $why — supported shapes: ON t.key = s.key with any " +
          "number of [conditional] WHEN MATCHED THEN UPDATE SET (whole-row " +
          "or partial) / DELETE clauses, [conditional] WHEN NOT MATCHED " +
          "THEN INSERT clauses, and [conditional] WHEN NOT MATCHED BY " +
          "SOURCE THEN UPDATE / DELETE clauses (target-only scope)")))

  /** The merge key: ON must be a conjunction of equalities, each between
    * one target attribute and one source attribute — the (possibly
    * COMPOSITE) key identity the keyed COW machinery replaces rows on
    * (the reference's PK is a column list, TableConnection.php:635-656).
    * Returns the (targetKeyAttr, sourceKeyAttr) pairs in ON order;
    * duplicate target columns and non-equality shapes fail typed.
    */
  private def keyOf(m: MergeIntoTable, r: DataSourceV2Relation)
      : Seq[(AttributeReference, AttributeReference)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, rr) => conjuncts(l) ++ conjuncts(rr)
      case other => Seq(other)
    }
    val pairs = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if r.outputSet.contains(a) && m.sourceTable.outputSet.contains(b) =>
        (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if r.outputSet.contains(b) && m.sourceTable.outputSet.contains(a) =>
        (b, a)
      case other => fail(s"every ON conjunct must be a target-key = " +
        s"source-key equality, got ${other.sql}")
    }
    if (pairs.map(_._1.name).distinct.length != pairs.length)
      fail(s"ON binds a target column more than once: " +
        pairs.map(_._1.name).mkString(", "))
    pairs
  }

  /** Per-target-column replacement expressions (over SOURCE attributes
    * only), recovered from one action's assignments — or None for a
    * still-unexpanded star action (replace = source column of the same
    * name).
    */
  private def replacementsOf(action: MergeAction, targetCols: Seq[Attribute],
                             source: LogicalPlan): Option[Map[String, Expression]] =
    action match {
      case UpdateStarAction(None) => None
      case InsertStarAction(None) => None
      case UpdateAction(None, assigns, _) => Some(byName(assigns, source))
      case InsertAction(None, assigns) => Some(byName(assigns, source))
      case other => fail(s"unsupported action ${other.getClass.getSimpleName}" +
        (if (other.condition.isDefined) " (action conditions are not supported)"
         else ""))
    }

  private def byName(assigns: Seq[Assignment],
                     source: LogicalPlan): Map[String, Expression] =
    assigns.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => fail(s"assignment target must be a column, got ${other.sql}")
      }
      if (!a.value.references.subsetOf(source.outputSet))
        fail(s"assignment to `$name` references target columns — only " +
          "whole-row replacement from the source is expressible as a keyed upsert")
      name -> a.value
    }.toMap

  private def rewrite(m: MergeIntoTable, r: DataSourceV2Relation,
                      tbl: GraftMutableTable): LogicalPlan =
    wholeRowFastPath(m, r, tbl).getOrElse(rewriteGeneral(m, r, tbl))

  /** The original single-shape rewrite — one unconditional whole-row
    * UPDATE + one unconditional whole-row INSERT that agree column-wise —
    * kept as a FAST PATH: it compiles to [[Layout.mergeKeyed]], whose
    * delta (materialized once) is the action set, with no matched-pair
    * join at all. Any shape it cannot express (conditions, DELETE,
    * partial updates, multiple clauses, branch disagreement) returns None
    * and routes to the general
    * row-level rewrite instead of failing.
    */
  private def wholeRowFastPath(m: MergeIntoTable, r: DataSourceV2Relation,
                               tbl: GraftMutableTable): Option[LogicalPlan] =
    (m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions) match {
      case (Seq(u), Seq(i), Seq()) if u.condition.isEmpty && i.condition.isEmpty =>
        try {
          val keyCol = keyOf(m, r) match {
            case Seq((t, _)) => t.name
            case _ => fail("composite ON keys route to the row-level rewrite")
          }
          val targetCols = r.output
          val upd = replacementsOf(u, targetCols, m.sourceTable)
          val ins = replacementsOf(i, targetCols, m.sourceTable)
          val sourceByName = m.sourceTable.output.map(a => a.name -> a).toMap
          // The delta row each target column receives — identical in both
          // branches (update replaces the row, insert creates it: one shape).
          val exprs = targetCols.map { tc =>
            def pick(repl: Option[Map[String, Expression]]): Expression =
              repl match {
                case None => sourceByName.getOrElse(tc.name,
                  fail(s"source has no column `${tc.name}` for SET * / INSERT *"))
                case Some(map) => map.getOrElse(tc.name,
                  fail(s"assignments must cover every target column (missing `${tc.name}`)"))
              }
            val uE = pick(upd)
            val iE = pick(ins)
            if (!uE.semanticEquals(iE))
              fail(s"UPDATE and INSERT disagree on `${tc.name}`")
            val cast = if (uE.dataType == tc.dataType) uE
              else Cast(uE, tc.dataType, Some(conf.sessionLocalTimeZone))
            Alias(cast, tc.name)()
          }
          Some(GraftMergeIntoCommand(tbl.tableRoot, keyCol,
            Project(exprs, m.sourceTable)))
        } catch { case _: org.apache.spark.sql.AnalysisException => None }
      case _ => None
    }

  /** The general multi-clause rewrite: validates and normalizes every WHEN
    * clause into (condition, action) specs over RESOLVED expressions, then
    * hands them to [[GraftMergeRowCommand]] / [[Layout.mergeRowLevel]].
    * Clause semantics follow the SQL standard: matched rows take the FIRST
    * matched clause whose condition holds (none → the row survives
    * untouched), unmatched source rows the first insert clause whose
    * condition holds. Partial UPDATE SET keeps unassigned columns from the
    * target row; INSERT leaves unassigned columns NULL.
    */
  private def rewriteGeneral(m: MergeIntoTable, r: DataSourceV2Relation,
                             tbl: GraftMutableTable): LogicalPlan = {
    val keyPairs = keyOf(m, r)
    val targetCols = r.output
    val sourceByName = m.sourceTable.output.map(a => a.name -> (a: Expression)).toMap
    val bothSets = r.outputSet ++ m.sourceTable.outputSet
    def starMap: Map[String, Expression] = targetCols.map { tc =>
      tc.name -> sourceByName.getOrElse(tc.name,
        fail(s"source has no column `${tc.name}` for SET * / INSERT *"))
    }.toMap
    def assignMap(assigns: Seq[Assignment],
                  scope: AttributeSet, what: String): Map[String, Expression] =
      assigns.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => fail(s"assignment target must be a column, got ${other.sql}")
        }
        if (!a.value.references.subsetOf(scope))
          fail(s"$what assignment to `$name` references columns outside its " +
            s"scope: ${a.value.sql}")
        name -> a.value
      }.toMap
    def checkCond(c: Expression, scope: AttributeSet, what: String): Unit =
      if (!c.references.subsetOf(scope))
        fail(s"$what condition references columns outside its scope: ${c.sql}")
    val matched: Seq[(Option[Expression], Option[Map[String, Expression]])] =
      m.matchedActions.map { a =>
        a.condition.foreach(checkCond(_, bothSets, "WHEN MATCHED"))
        a match {
          case DeleteAction(cond) => (cond, None)
          case UpdateStarAction(cond) => (cond, Some(starMap))
          case UpdateAction(cond, assigns, _) =>
            (cond, Some(assignMap(assigns, bothSets, "UPDATE")))
          case other =>
            fail(s"unsupported WHEN MATCHED action ${other.getClass.getSimpleName}")
        }
      }
    // The merge key is row identity: reassigning any component is a
    // delete+insert in disguise. Allowed only when the assigned value IS
    // that component's source key — a no-op under the ON equality (the
    // SET * shape).
    matched.foreach {
      case (_, Some(repl)) => keyPairs.foreach { case (tKey, sKey) =>
        repl.get(tKey.name).foreach { v =>
          if (!v.semanticEquals(sKey))
            fail(s"UPDATE must not assign the merge key `${tKey.name}` — a key " +
              "change is a DELETE + INSERT, not an in-place update")
        }
      }
      case _ => ()
    }
    val notMatched: Seq[(Option[Expression], Map[String, Expression])] =
      m.notMatchedActions.map { a =>
        // A NOT MATCHED row has no target side — conditions and values may
        // reference the source only (the SQL standard's scoping).
        a.condition.foreach(checkCond(_, m.sourceTable.outputSet, "WHEN NOT MATCHED"))
        a match {
          case InsertStarAction(cond) => (cond, starMap)
          case InsertAction(cond, assigns) =>
            (cond, assignMap(assigns, m.sourceTable.outputSet, "INSERT"))
          case other =>
            fail(s"unsupported WHEN NOT MATCHED action ${other.getClass.getSimpleName}")
        }
      }
    // NOT MATCHED BY SOURCE rows have no source side — target-only scope.
    // None value = DELETE (like the matched specs).
    val bySource: Seq[(Option[Expression], Option[Map[String, Expression]])] =
      m.notMatchedBySourceActions.map { a =>
        a.condition.foreach(checkCond(_, r.outputSet, "WHEN NOT MATCHED BY SOURCE"))
        a match {
          case DeleteAction(cond) => (cond, None)
          case UpdateAction(cond, assigns, _) =>
            val mp = assignMap(assigns, r.outputSet, "BY SOURCE UPDATE")
            keyPairs.find(p => mp.contains(p._1.name)).foreach(p =>
              fail(s"BY SOURCE UPDATE must not assign the merge key `${p._1.name}`"))
            (cond, Some(mp))
          case other => fail("unsupported WHEN NOT MATCHED BY SOURCE action " +
            other.getClass.getSimpleName)
        }
      }
    GraftMergeRowCommand(tbl.tableRoot, targetCols, m.sourceTable,
      m.mergeCondition, keyPairs, matched, notMatched, bySource)
  }
}

/** The executed side of a dynamic partition overwrite: stage the query's
  * rows, read the touched `k=v/` partitions off the staged layout, and
  * commit delete+insert atomically ([[Layout.overwriteWhere]]).
  */
final case class GraftDynamicOverwriteCommand(path: String, query: LogicalPlan)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_replaced", IntegerType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)(),
    AttributeReference("rows_inserted", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val r = Layout.overwriteWhere(session, path,
      Layout.OverwriteDynamicPartitions, ColumnShim.ofRows(session, query))
    Seq(Row(r.filesReplaced, r.rowsDeleted, r.rowsInserted))
  }
}

/** `graft.merge.mode`, parsed once for every MERGE/UPDATE command: `cow`
  * (the default) rewrites matched files; `dv` is merge-on-read — matched
  * positions land on the deletion-vector sidecar and the action rows
  * append, zero data files rewritten (fold via CALL
  * graft.system.compact_deletes). True for `dv`.
  */
private[sources] object GraftMergeMode {
  def dv(session: SparkSession): Boolean =
    session.conf.get("graft.merge.mode", "cow").trim.toLowerCase match {
      case "cow" => false
      case "dv" => true
      case other => throw new IllegalArgumentException(
        s"graft.merge.mode must be `cow` (copy-on-write) or `dv` " +
          s"(merge-on-read deletion vector), got `$other`")
    }
}

/** The executed half of the whole-row MERGE / UPDATE rewrite: hands the
  * query as the delta frame to [[Layout.mergeKeyed]] (or
  * [[Layout.mergeKeyedDv]] under [[GraftMergeMode]]) — journaled commit,
  * manifest-targeted file picking, history retention, identical to the
  * Scala API call. Returns the merge outcome as the statement result.
  */
final case class GraftMergeIntoCommand(path: String, keyCol: String,
                                       query: LogicalPlan,
                                       refuseNullKeys: Boolean = false)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_rewritten", IntegerType, nullable = false)(),
    AttributeReference("files_total", IntegerType, nullable = false)(),
    AttributeReference("rows_updated", LongType, nullable = false)(),
    AttributeReference("rows_inserted", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val delta = ColumnShim.ofRows(session, query)
    // refuseNullKeys (UPDATE only): a matched NULL-key row cannot be
    // replaced by the keyed upsert — the merge verifies it inside its one
    // grouped action pass (no extra job). MERGE keeps NULL-key source
    // rows: legitimate "not matched" inserts under SQL MERGE semantics.
    val res =
      if (GraftMergeMode.dv(session))
        Layout.mergeKeyedDv(session, path, keyCol, delta, refuseNullKeys)
      else Layout.mergeKeyed(session, path, keyCol, delta, refuseNullKeys)
    Seq(Row(res.filesRewritten, res.filesTotal, res.rowsUpdated, res.rowsInserted))
  }
}

/** The executed half of the GENERAL multi-clause MERGE rewrite. All clause
  * logic runs as one declarative frame computation inside
  * [[Layout.mergeRowLevel]]'s locked transaction:
  *
  *   1. the source query materializes ONCE;
  *   2. the manifest picks the files whose key range intersects the source
  *      keys — only those are read for the matched-pair join (files without
  *      matched keys never plan);
  *   3. matched pairs take the FIRST matched clause whose condition holds
  *      (a CaseWhen action index — one pass, no per-clause re-join of the
  *      table); rows with no applicable clause survive untouched;
  *   4. unmatched source rows take the first applicable insert clause;
  *   5. update results + inserts land and delete keys drop in ONE journaled
  *      COW commit.
  *
  * Resolved target-attribute references rebind by NAME onto the picked-file
  * read (the command executes against the locked live snapshot, not the
  * analysis-time relation); source references keep their exprIds (the source
  * plan is executed as analyzed).
  */
final case class GraftMergeRowCommand(
    path: String,
    targetOutput: Seq[Attribute],
    source: LogicalPlan,
    mergeCondition: Expression,
    keyPairs: Seq[(AttributeReference, AttributeReference)],
    matched: Seq[(Option[Expression], Option[Map[String, Expression]])],
    notMatched: Seq[(Option[Expression], Map[String, Expression])],
    bySource: Seq[(Option[Expression], Option[Map[String, Expression]])] = Nil)
  extends LeafRunnableCommand {

  private def keyCols: Seq[String] = keyPairs.map(_._1.name)

  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_rewritten", IntegerType, nullable = false)(),
    AttributeReference("files_total", IntegerType, nullable = false)(),
    AttributeReference("rows_updated", LongType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)(),
    AttributeReference("rows_inserted", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    val dvMode = GraftMergeMode.dv(session)
    val srcDf = ColumnShim.ofRows(session, source).localCheckpoint(true)
    var acted: List[org.apache.spark.sql.DataFrame] = Nil
    try {
      // Source key tuples under the TARGET key names (mergeRowLevel's
      // composite-key contract; raw-typed — identity, not stat domain).
      val sourceKeys = srcDf.select(keyPairs.map { case (tk, sk) =>
        ColumnShim.column(sk).as(tk.name) }: _*)
      val res = Layout.mergeRowLevel(session, path, keyCols, Some(sourceKeys),
        pickAll = bySource.nonEmpty, dvMode = dvMode) { picked =>
        val pickedAttrs = picked.queryExecution.analyzed.output
          .map(a => a.name -> (a: Attribute)).toMap
        val bind: Map[ExprId, Attribute] =
          targetOutput.map(a => a.exprId -> pickedAttrs(a.name)).toMap
        def rb(e: Expression): Expression = e.transform {
          case a: AttributeReference if bind.contains(a.exprId) => bind(a.exprId)
        }
        def c(e: Expression): org.apache.spark.sql.Column = ColumnShim.column(e)
        val tz = Some(session.sessionState.conf.sessionLocalTimeZone)
        def castTo(e: Expression, tc: Attribute): Expression =
          if (e.dataType == tc.dataType) e else Cast(e, tc.dataType, tz)
        // First-true-clause-wins action index over the matched pairs,
        // materialized ONCE (every clause's rows filter from it).
        val mConds = matched.map { case (cond, _) =>
          cond.map(e => c(rb(e))).getOrElse(lit(true)) }
        val action = mConds.zipWithIndex.foldRight(lit(-1)) {
          case ((cc, i), els) => when(cc, lit(i)).otherwise(els)
        }
        val pairs = picked.join(srcDf, c(rb(mergeCondition)), "inner")
          .withColumn("__action", action).localCheckpoint(true)
        acted = pairs :: acted
        // SQL MERGE cardinality (the standard's, and Delta/Iceberg's): a
        // target row matched by MORE THAN ONE source row must not resolve
        // to any action — which source row "wins" would be arbitrary.
        // Pairs that all resolve to no clause (action -1) are fine.
        if (matched.nonEmpty) {
          val tKeyCols = keyPairs.map(p => c(bind(p._1.exprId)))
          val viol = pairs.groupBy(tKeyCols: _*)
            .agg(count(lit(1)).as("__n"), max(col("__action")).as("__ma"))
            .filter(col("__n") > 1 && col("__ma") >= 0)
          require(viol.isEmpty,
            s"MERGE on $path: some target row matches more than one source " +
              "row and a WHEN MATCHED clause applies — the standard's " +
              "cardinality violation; dedup the source on the ON key")
        }
        val updFrames = matched.zipWithIndex.collect {
          case ((_, Some(repl)), i) =>
            val proj = targetOutput.map { tc =>
              // Unassigned columns KEEP the target row's value (partial
              // UPDATE SET — the standard's semantics).
              val e = repl.get(tc.name).map(rb).getOrElse(bind(tc.exprId))
              c(castTo(e, tc)).as(tc.name)
            }
            pairs.filter(col("__action") === i).select(proj: _*)
        }
        // Delete-key frames carry the RAW key tuple under the key names
        // (mergeRowLevel's identity contract).
        def keyTupleOf(df: org.apache.spark.sql.DataFrame) =
          df.select(keyPairs.map(p => c(bind(p._1.exprId)).as(p._1.name)): _*)
        val delIdx = matched.zipWithIndex.collect { case ((_, None), i) => i }
        val delKeys =
          if (delIdx.isEmpty) None
          else Some(keyTupleOf(pairs.filter(col("__action").isin(delIdx: _*))))
        // NOT MATCHED = source rows with no matching target row among the
        // picked files (non-picked files cannot contain a matching key, by
        // the manifest's range targeting).
        val iConds = notMatched.map { case (cond, _) =>
          cond.map(c).getOrElse(lit(true)) }
        val iAction = iConds.zipWithIndex.foldRight(lit(-1)) {
          case ((cc, i), els) => when(cc, lit(i)).otherwise(els)
        }
        val unmatched = srcDf.join(picked, c(rb(mergeCondition)), "left_anti")
          .withColumn("__iaction", iAction)
        val insFrames = notMatched.zipWithIndex.map { case ((_, vals), i) =>
          val proj = targetOutput.map { tc =>
            // Unassigned columns insert NULL (the standard's semantics).
            val e = vals.get(tc.name).map(castTo(_, tc))
              .getOrElse(Literal.create(null, tc.dataType))
            c(e).as(tc.name)
          }
          unmatched.filter(col("__iaction") === i).select(proj: _*)
        }
        // NOT MATCHED BY SOURCE: target rows with no matching source row —
        // the anti image of the matched join, under the same
        // first-true-clause-wins resolution (target-only expressions).
        val (bsUpd, bsDel) = if (bySource.isEmpty) (Nil, None) else {
          val bsConds = bySource.map { case (cond, _) =>
            cond.map(e => c(rb(e))).getOrElse(lit(true)) }
          val bsAction = bsConds.zipWithIndex.foldRight(lit(-1)) {
            case ((cc, i), els) => when(cc, lit(i)).otherwise(els)
          }
          val unmatchedTarget = picked.join(srcDf, c(rb(mergeCondition)), "left_anti")
            .withColumn("__bsaction", bsAction).localCheckpoint(true)
          acted = unmatchedTarget :: acted
          // A NULL-key target row is always "not matched by source", but the
          // keyed apply cannot replace or drop it (NULL joins nothing) —
          // acting on one would silently duplicate (UPDATE) or skip (DELETE).
          val anyKeyNull = keyPairs.map(p => c(bind(p._1.exprId)).isNull)
            .reduce(_ || _)
          require(unmatchedTarget.filter(col("__bsaction") >= 0 && anyKeyNull)
              .isEmpty,
            s"MERGE BY SOURCE on $path: a clause applies to a target row " +
              s"with a NULL key component (${keyCols.mkString(", ")}), which " +
              "a keyed apply cannot replace or drop — exclude NULL keys in " +
              "the clause condition")
          val upd = bySource.zipWithIndex.collect {
            case ((_, Some(repl)), i) =>
              val proj = targetOutput.map { tc =>
                val e = repl.get(tc.name).map(rb).getOrElse(bind(tc.exprId))
                c(castTo(e, tc)).as(tc.name)
              }
              unmatchedTarget.filter(col("__bsaction") === i).select(proj: _*)
          }
          val delIdx2 = bySource.zipWithIndex.collect { case ((_, None), i) => i }
          val del = if (delIdx2.isEmpty) None
            else Some(keyTupleOf(
              unmatchedTarget.filter(col("__bsaction").isin(delIdx2: _*))))
          (upd, del)
        }
        val upserts = (updFrames ++ insFrames ++ bsUpd).reduceOption(_.unionByName(_))
          .getOrElse(session.createDataFrame(new java.util.ArrayList[Row](),
            org.apache.spark.sql.types.StructType(targetOutput.map(a =>
              org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable)))))
        (upserts, (delKeys ++ bsDel).reduceOption(_.unionByName(_)))
      }
      Seq(Row(res.filesRewritten, res.filesTotal, res.rowsUpdated,
        res.rowsDeleted, res.rowsInserted))
    } finally {
      acted.foreach(graft.ops.Caching.release)
      graft.ops.Caching.release(srcDf)
    }
  }
}
