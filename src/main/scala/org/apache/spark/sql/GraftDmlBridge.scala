package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The SQL-DML seam into Spark's `private[sql]` surface — the exact
  * two constructors every out-of-tree lakehouse with SQL
  * MERGE/UPDATE support uses (Delta Lake's `MergeIntoCommand` is the
  * public precedent: an injected resolution rule captures the
  * analyzed `MergeIntoTable` and a `RunnableCommand` executes it with
  * `Dataset.ofRows`; Spark offers no public-API equivalent —
  * `SupportsRowLevelOperations` would force a second, executor-side
  * parquet write path instead of reusing the engine's one staged
  * commit protocol):
  *
  *  - [[frame]] — a `LogicalPlan` (the MERGE statement's analyzed
  *    source) back to a `DataFrame`, so the engine's one commit path
  *    ([[graft.lake.Merge]]) executes the user's source query as a
  *    plain frame; it also turns the catalog's logged entries (a
  *    local relation) and the distribution's log-backed relation
  *    ([[graft.lake.LogFileIndex]]) into frames;
  *  - [[column]] — a resolved catalyst `Expression` (a merge
  *    condition / assignment, rewritten to alias-qualified form) as a
  *    `Column`, so clause evaluation composes with the public
  *    DataFrame API.
  *
  * Kept in one place, like [[GraftStreamingBridge]], so the rest of
  * the repo never reaches into Spark internals. */
object GraftDmlBridge {
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse of [[column]] — a `Column`'s underlying catalyst
    * expression, for structural inspection (the merge file-pruner
    * walks the ON condition's conjuncts). Converted EAGERLY through
    * the session converter: `ExpressionUtils.expression` would return
    * a lazy `ColumnNodeExpression` wrapper whose tree is opaque to
    * pattern matching. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
