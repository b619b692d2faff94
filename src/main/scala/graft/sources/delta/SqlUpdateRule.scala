package graft.sources.delta

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.ColumnBridge

/** SQL `UPDATE graft.ns.t SET … WHERE …` for graft-delta tables.
  *
  * Spark's own v2 UPDATE rewrite requires `SupportsRowLevelOperations`
  * (a full copy-on-write/delta-write planning framework); the engine
  * already HAS a row-level UPDATE ([[DeltaTable.update]]: stats +
  * partition candidate pruning, per-file match probe, CDF capture), so
  * the idiomatic seam is a post-hoc resolution rule — registered by
  * `graft.GraftExtensions` — that rewrites a resolved [[UpdateTable]]
  * over a graft-delta relation into a driver command calling it.
  * Everything else (analysis, name resolution, type checking of the
  * assignments) stays Spark's. Tables from other sources are left
  * untouched and keep Spark's "UPDATE not supported" behavior. */
case class SqlUpdateRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // bail-out: UpdateTable / MergeIntoTable both extend Command, whose
    // nodePatterns carry COMMAND — the cached-bitmask check means a plain
    // query (no DML anywhere) costs one bit test per analyzer iteration,
    // not a full-tree traversal
    if (!plan.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.COMMAND)) plan
    else rewrite(plan)
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    // INSERT INTO a table with generated/identity columns: by post-hoc
    // time Spark has NULL-filled the omitted columns, so the v2 sink
    // would land NULLs as real values. Route the resolved query through
    // the engine's DataFrame write path instead, whose
    // [[GeneratedColumns.prepareWrite]] computes/allocates per row
    // (NULL → computed; the sink refuses these tables as the backstop).
    case a: org.apache.spark.sql.catalyst.plans.logical.AppendData
        if a.query.resolved && (a.table match {
          case r: DataSourceV2Relation => r.table.isInstanceOf[DeltaStreamTable]
          case _ => false
        }) =>
      val t = a.table.asInstanceOf[DataSourceV2Relation]
        .table.asInstanceOf[DeltaStreamTable]
      if (!GeneratedColumns.hasAny(t.schema())) a
      else GraftGeneratedInsertCommand(t.path, a.query)

    case u @ UpdateTable(rel, assignments, condition) if u.resolved =>
      rel.collectFirst {
        case r: DataSourceV2Relation if r.table.isInstanceOf[DeltaStreamTable] =>
          r.table.asInstanceOf[DeltaStreamTable]
      } match {
        case None => u // not ours: leave for Spark to handle (or refuse)
        case Some(t) =>
          val set = assignments.map { a =>
            a.key match {
              case attr: AttributeReference =>
                attr.name -> ColumnBridge.column(unresolve(a.value))
              case other => throw new UnsupportedOperationException(
                s"graft-delta: UPDATE of nested field $other is not supported")
            }
          }.toMap
          val cond = condition
            .map(c => ColumnBridge.column(unresolve(c)))
            .getOrElse(org.apache.spark.sql.functions.lit(true))
          GraftUpdateCommand(t.path, set, cond)
      }

    // SQL MERGE. Every clause combination over (matched UPDATE/DELETE,
    // not-matched INSERT, not-matched-by-source UPDATE/DELETE, each
    // optionally conditional; `SET *` / `INSERT *` arrive as their
    // resolution-expanded assignments) translates clause-by-clause to
    // [[DeltaTable.mergeInto]], the engine's one MERGE. MERGE WITH SCHEMA
    // EVOLUTION needs no clause-side handling here: by post-hoc
    // resolution time Spark's ResolveMergeIntoSchemaEvolution has
    // already widened the table through GraftCatalog.alterTable
    // (AddColumn) and re-resolved the assignments against the evolved
    // schema, so the flag's value no longer matters.
    case m @ MergeIntoTable(target, source, cond, matchedActions,
        notMatchedActions, notMatchedBySourceActions, _) if m.resolved =>
      target.collectFirst {
        case r: DataSourceV2Relation if r.table.isInstanceOf[DeltaStreamTable] =>
          (r.table.asInstanceOf[DeltaStreamTable], r)
      } match {
        case None => m
        case Some((t, rel)) =>
          translateMerge(t, rel, source, cond, matchedActions,
            notMatchedActions, notMatchedBySourceActions).getOrElse(m)
      }
  }

  /** The resolved MERGE clauses → a driver command, or None for shapes
    * the engine does not take (non-equi ON, nested-field assignment) —
    * those fall back to `m`, keeping Spark's refusal. */
  private def translateMerge(t: DeltaStreamTable, rel: DataSourceV2Relation,
                             source: LogicalPlan, cond: Expression,
                             matchedActions: Seq[MergeAction],
                             notMatchedActions: Seq[MergeAction],
                             notMatchedBySourceActions: Seq[MergeAction]): Option[LogicalPlan] = {
    val sourceAttrs = source.output
    // the engine skips files on the key equality: ON t.k = s.k (either
    // side order, any names)
    val keys = cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (tSide, sSide) =
          if (sourceAttrs.exists(_.exprId == b.exprId)) (a, b) else (b, a)
        if (rel.outputSet.contains(tSide) &&
            sourceAttrs.exists(_.exprId == sSide.exprId))
          Some((tSide.name, sSide.name))
        else None
      case _ => None
    }
    keys.map { case (targetKey, sourceKey) =>
      def assignMap(assigns: Seq[Assignment]): Map[String, Column] =
        assigns.map { a =>
          a.key match {
            case attr: AttributeReference =>
              attr.name -> ColumnBridge.column(unresolveMerge(a.value, sourceAttrs))
            case other => throw new UnsupportedOperationException(
              s"graft-delta: MERGE assignment to nested field $other is not supported")
          }
        }.toMap
      def condCol(c: Option[Expression]): Option[Column] =
        c.map(e => ColumnBridge.column(unresolveMerge(e, sourceAttrs)))
      def updateOrDelete(a: MergeAction, clause: String): MergeClause = a match {
        case UpdateAction(c, assigns, _) =>
          MergeClause.Update(condCol(c), assignMap(assigns))
        case DeleteAction(c) => MergeClause.Delete(condCol(c))
        case other => throw new UnsupportedOperationException(
          s"graft-delta: unsupported $clause action $other")
      }
      val matched = matchedActions.map(updateOrDelete(_, "WHEN MATCHED"))
      val inserts = notMatchedActions.map {
        case InsertAction(c, assigns) =>
          MergeClause.Insert(condCol(c), assignMap(assigns))
        case other => throw new UnsupportedOperationException(
          s"graft-delta: unsupported WHEN NOT MATCHED action $other")
      }
      val bySource = notMatchedBySourceActions.map(
        updateOrDelete(_, "WHEN NOT MATCHED BY SOURCE"))
      GraftMergeIntoCommand(t.path, source, targetKey, sourceKey,
        matched, inserts, bySource)
    }
  }

  /** [[unresolve]] for merge-clause expressions: source attributes (by
    * exprId) become the [[DeltaTable.SrcPrefix]]-prefixed names
    * [[DeltaTable.mergeInto]] resolves against its joined frame; target
    * attributes stay bare. */
  private def unresolveMerge(e: Expression,
                             sourceAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Expression =
    e.transform {
      case a: AttributeReference if sourceAttrs.exists(_.exprId == a.exprId) =>
        UnresolvedAttribute.quoted(DeltaTable.SrcPrefix + a.name)
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }

  /** The analyzed expressions carry THIS plan's attribute ids;
    * [[DeltaTable.update]] re-resolves by NAME against its own scan, so
    * strip references back to unresolved names. */
  private def unresolve(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
  }
}

/** Driver command executing the engine's row-level UPDATE. */
case class GraftUpdateCommand(path: String, set: Map[String, Column],
                              cond: Column) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    DeltaTable.update(spark, path, cond, set)
    Seq.empty
  }
}

/** INSERT INTO a generated/identity-column table, rerouted to the
  * engine's append path (see the AppendData case above). */
case class GraftGeneratedInsertCommand(path: String, query: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    DeltaTable.write(ColumnBridge.ofRows(spark, query), path,
      org.apache.spark.sql.SaveMode.Append)
    Seq.empty
  }
}

/** Driver command executing the engine's multi-clause MERGE
  * ([[DeltaTable.mergeInto]]) with the resolved SOURCE sub-plan as the
  * source relation; clause Columns were re-anchored by name
  * ([[SqlUpdateRule.unresolveMerge]]) so they resolve against the
  * engine's joined frame. */
case class GraftMergeIntoCommand(path: String, source: LogicalPlan,
                                 targetKey: String, sourceKey: String,
                                 matched: Seq[MergeClause],
                                 notMatched: Seq[MergeClause.Insert],
                                 notMatchedBySource: Seq[MergeClause])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    DeltaTable.mergeInto(ColumnBridge.ofRows(spark, source), path,
      targetKey, sourceKey, matched, notMatched, notMatchedBySource)
    Seq.empty
  }
}
