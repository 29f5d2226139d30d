package graft.sql

import org.apache.spark.sql.{Column, GraftDmlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, CommonExpressionRef, ExprId, Expression, With}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import graft.lake.{Layout, Merge}

/** SQL `MERGE INTO` / `UPDATE` for the lake — the Delta-shaped wiring
  * (an injected resolution rule + a `RunnableCommand`, the public
  * precedent for out-of-tree row-level SQL DML on Spark): the analyzer
  * fully resolves and aligns the statement against the catalog table
  * — star expansion, assignment alignment, type coercion are all
  * Spark's — and this rule then captures the resolved
  * [[MergeIntoTable]]/[[UpdateTable]] whose target is a
  * [[GraftLakeTable]] and replaces it with a command that executes
  * through [[graft.lake.Merge]]: the SAME one-atomic-record
  * DV+append machinery, locks, conflict retries, expectations and
  * cardinality rule as the typed Scala API — `MERGE INTO` through SQL
  * and `upsertLakeByKey` through Scala produce the identical log
  * shape.
  *
  * Expression binding: clause expressions arrive resolved against the
  * catalog relation's attributes; target references are rewritten to
  * alias-qualified unresolved attributes (`__graft_t.col`) so they
  * re-resolve against the engine's OWN snapshot-with-row-identity
  * frame on every conflict retry, while source references stay
  * resolved against the statement's source plan (executed verbatim
  * via [[GraftDmlBridge.frame]] — one execution, the merge core
  * materializes its action table once).
  *
  * Registered by `graft.functions.GraftExtensions`
  * (`injectPostHocResolutionRule`) — MERGE/UPDATE SQL therefore needs
  * the extensions configured at session build
  * (`spark.sql.extensions=graft.functions.GraftExtensions`); the
  * imperative `GraftExtensions.register` cannot add analyzer rules to
  * a live session (a Spark limitation, same as every extension). */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved && lakeOf(m.targetTable).isDefined =>
      if (m.withSchemaEvolution) throw new UnsupportedOperationException(
        "MERGE … WITH SCHEMA EVOLUTION is not supported — evolve first " +
          "(ALTER TABLE … ADD COLUMNS), then MERGE")
      val names = targetNames(m.targetTable)
      GraftMergeCommand(lakeOf(m.targetTable).get, m.sourceTable,
        toCol(m.mergeCondition, names),
        m.matchedActions.map(clauseOf(_, names)),
        m.notMatchedActions.map(clauseOf(_, names)),
        m.notMatchedBySourceActions.map(clauseOf(_, names)))
    case u: UpdateTable if u.resolved && lakeOf(u.table).isDefined =>
      val names = targetNames(u.table)
      GraftUpdateCommand(lakeOf(u.table).get,
        u.assignments.map(a => keyName(a) -> toCol(a.value, names)).toMap,
        u.condition.map(toCol(_, names)))
  }

  private def lakeOf(target: LogicalPlan): Option[Layout] =
    EliminateSubqueryAliases(target) match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftLakeTable => Some(t.layout)
        case _ => None
      }
      case _ => None
    }

  private def targetNames(target: LogicalPlan): Map[ExprId, String] =
    target.output.map(a => a.exprId -> a.name).toMap

  /** Resolved expression → Column: target attribute references become
    * alias-qualified UNRESOLVED names (re-bindable against each retry's
    * fresh target frame); everything else — source attributes included
    * — stays resolved. */
  private def toCol(e: Expression, target: Map[ExprId, String]): Column =
    GraftDmlBridge.column(inlineShared(e, target).transform {
      case ar: AttributeReference if target.contains(ar.exprId) =>
        UnresolvedAttribute(Seq(Merge.SqlTargetAlias, target(ar.exprId)))
    })

  /** `BETWEEN` resolves to a `With` (one shared operand, two
    * comparisons), and a `With` re-types its references from its
    * definitions whenever it is rebuilt — which fails once a
    * definition holds an unresolved target column. Such definitions
    * are inlined into their references first; a nondeterministic one
    * would then be evaluated once per reference, so it refuses. */
  private def inlineShared(e: Expression, target: Map[ExprId, String]): Expression =
    e.transformUp {
      case w: With if w.defs.exists(_.references.exists(a => target.contains(a.exprId))) =>
        if (!w.defs.forall(_.deterministic)) throw new UnsupportedOperationException(
          "a nondeterministic BETWEEN operand over target columns is not supported")
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform {
          case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id)
        }
    }

  private def keyName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"only top-level lake columns are assignable, got $other")
  }

  private def clauseOf(a: MergeAction,
      target: Map[ExprId, String]): Merge.Clause = a match {
    case UpdateAction(c, assigns, _) => Merge.Update(c.map(toCol(_, target)),
      assigns.map(as => keyName(as) -> toCol(as.value, target)).toMap)
    case DeleteAction(c) => Merge.Delete(c.map(toCol(_, target)))
    case InsertAction(c, assigns) => Merge.Insert(c.map(toCol(_, target)),
      assigns.map(as => keyName(as) -> toCol(as.value, target)).toMap)
    case other => throw new UnsupportedOperationException(
      s"unsupported MERGE action: $other")
  }
}

/** The captured MERGE statement as an eagerly-executed command —
  * `source` is the statement's analyzed source plan, executed once;
  * clause expressions are pre-bound ([[GraftDmlRule.toCol]]). */
case class GraftMergeCommand(layout: Layout, source: LogicalPlan, on: Column,
    matched: Seq[Merge.Clause], notMatched: Seq[Merge.Clause],
    notMatchedBySource: Seq[Merge.Clause]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Merge.mergeIntoLake(spark, layout,
      GraftDmlBridge.frame(spark, source), on,
      matched, notMatched, notMatchedBySource,
      targetAlias = Merge.SqlTargetAlias, sourceAlias = "__graft_s")
    Seq.empty
  }
}

/** The captured UPDATE statement — a broadcast-dummy merge
  * ([[Merge.updateLake]]): one target scan, one DV+append record. */
case class GraftUpdateCommand(layout: Layout, set: Map[String, Column],
    condition: Option[Column]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Merge.updateLake(spark, layout, set, condition,
      targetAlias = Merge.SqlTargetAlias)
    Seq.empty
  }
}
