package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

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
  *  - [[rebind]] — a planned frame's rows as a frame of another
  *    session, so a stream's micro-batch runs on the session that
  *    started the stream ([[graft.streaming.CallerSession]]);
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

  /** `batch`'s rows, as its session plans them, as a frame of `spark`
    * with `batch`'s columns: a scan of the planned rows, with no second
    * plan of `batch` and no conversion of its rows. */
  def rebind(spark: SparkSession, batch: DataFrame): DataFrame = {
    val qe = batch.queryExecution
    frame(spark, LogicalRDD(qe.analyzed.output, qe.toRdd)(spark.asInstanceOf[classic.SparkSession]))
  }

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

  /** Runs `body` under `spark`'s job artifact state, as Spark runs each
    * SQL execution of the session: the jobs it submits run on the
    * session's executor class loader, so code generated for the
    * session's plans is reused there instead of compiled again. */
  def withArtifacts[T](spark: SparkSession)(body: => T): T =
    spark.asInstanceOf[classic.SparkSession].artifactManager.withResources(body)

  /** The options the JSON data source writes with in `spark` when the
    * writer sets none. */
  def jsonWriteOptions(spark: SparkSession): JSONOptions = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    SQLConf.withExistingConf(conf)(
      new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
        conf.columnNameOfCorruptRecord))
  }

  /** The JSON data source's line writer: each row of `schema` as the
    * line `df.write.json` writes for it, into `writer`. */
  final class JsonLines(schema: StructType, writer: java.io.Writer, options: JSONOptions) {
    private val gen = new JacksonGenerator(schema, writer, options)
    def write(row: InternalRow): Unit = { gen.write(row); gen.writeLineEnding() }
    def flush(): Unit = gen.flush()
    def close(): Unit = { gen.close(); writer.close() }
  }
}
