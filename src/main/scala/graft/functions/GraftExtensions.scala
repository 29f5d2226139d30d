package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — registers the engine's native
  * expressions into the SQL function registry, so plain SQL users get
  * them too:
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *     ...
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) ...")
  * }}}
  *
  * (Injected functions are the (b)-tier of the custom-operator ladder
  * in SURVEY.md §7.3. The ONE analyzer rule this engine injects is
  * [[graft.sql.GraftDmlRule]] — SQL MERGE/UPDATE have no public
  * connector API that reuses a driver-side commit protocol, so the
  * rule+command wiring Delta uses is the (c)-tier escape hatch; the
  * DataFrame surface plus the expressions cover everything else.)
  *
  * It also injects one optimizer rule,
  * [[graft.lake.LogFileIndex.CountFromLog]] (pre-CBO, run once, pruned
  * to plans holding an aggregate): a plain `count(*)` of a
  * distribution subscription ([[graft.lake.Distribution.subscribeSnapshot]])
  * becomes the row count its commits logged, a metadata-only answer
  * with no scan and no Spark job, as Delta answers `COUNT(*)` from its
  * add actions. A session without this extension counts the same view
  * by scanning it, with the same answer.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // the change-feed table-valued function: SELECT * FROM
    // table_changes('catalog_or_root', from[, to])
    ext.injectTableFunction(graft.sql.TableChanges.descriptor)
    // CALL-style maintenance verbs: lake_optimize / lake_vacuum /
    // lake_checkpoint / lake_materialize_deletes
    graft.sql.Maintenance.descriptors.foreach(ext.injectTableFunction)
    // SQL MERGE INTO / UPDATE on graft.lake → the one-record DV+append
    // merge core (rule-based, the Delta wiring — see GraftDmlRule)
    ext.injectPostHocResolutionRule(s => new graft.sql.GraftDmlRule(s))
    // RESTORE TABLE … TO VERSION|TIMESTAMP AS OF — the one statement
    // Spark's grammar lacks; a delegating parser (the DeltaSqlParser
    // pattern) adds the verb and passes everything else through
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    // count(*) of a distribution subscription from the rows its commits
    // logged: a one-row local relation, no scan and no Spark job
    // (graft.lake.LogFileIndex.CountFromLog). Without this extension
    // the same count scans the files.
    ext.injectPreCBORule(_ => graft.lake.LogFileIndex.CountFromLog)
  }
}

object GraftExtensions {
  type FunctionDescriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val cosineSimDescriptor: FunctionDescriptor = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_sim takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  val distinctCharBigramsDescriptor: FunctionDescriptor = (
    FunctionIdentifier("distinct_char_bigrams"),
    new ExpressionInfo(classOf[DistinctCharBigrams].getName, "distinct_char_bigrams"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "distinct_char_bigrams takes exactly 1 argument")
      DistinctCharBigrams(children.head)
    })

  /** `redact_pii(text)` — the SQL face of [[graft.ops.Pipeline.redactPii]]:
    * the same chained regexp_replace tree built directly in Catalyst
    * (a registry builder must return a RESOLVED expression, so the
    * Column composition can't be reused here), with the patterns
    * shared from `Pipeline`, so SQL and DataFrame callers scrub
    * byte-identically (pinned in FunctionsSpec). */
  val redactPiiDescriptor: FunctionDescriptor = (
    FunctionIdentifier("redact_pii"),
    new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace].getName,
      "redact_pii"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "redact_pii takes exactly 1 argument")
      import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
      import graft.ops.Pipeline
      Seq(Pipeline.EmailPattern -> "<EMAIL>",
          Pipeline.Ipv4Pattern -> "<IP>",
          Pipeline.PhonePattern -> "<PHONE>")
        .foldLeft(children.head) { case (e, (pat, rep)) =>
          RegExpReplace(e, Literal(pat), Literal(rep))
        }
    })

  /** `fastcdc_chunks(text)` — the byte-level CDC chunker as a SQL
    * function (→ ARRAY<STRUCT<len, fp>>), so the SQL-text surface can
    * run storage-dedup audits directly. */
  val fastCdcChunksDescriptor: FunctionDescriptor = (
    FunctionIdentifier("fastcdc_chunks"),
    new ExpressionInfo(classOf[FastCdcChunks].getName, "fastcdc_chunks"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "fastcdc_chunks takes exactly 1 argument")
      FastCdcChunks(children.head)
    })

  /** `simhash_fields(tokens, nBands)` — the native SimHash fingerprint
    * as a SQL function (→ ARRAY<BIGINT>, one 16-bit band field per
    * element). `nBands` must be a foldable integer literal (it sizes
    * the fingerprint at plan time). */
  val simHashFieldsDescriptor: FunctionDescriptor = (
    FunctionIdentifier("simhash_fields"),
    new ExpressionInfo(classOf[SimHashFields].getName, "simhash_fields"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "simhash_fields takes exactly 2 arguments")
      val nBands = children(1) match {
        case lit: org.apache.spark.sql.catalyst.expressions.Literal =>
          lit.value.toString.toInt
        case other => throw new IllegalArgumentException(
          s"simhash_fields: nBands must be an integer literal, got $other")
      }
      SimHashFields(children.head, nBands)
    })

  val descriptors: Seq[FunctionDescriptor] =
    Seq(cosineSimDescriptor, distinctCharBigramsDescriptor, redactPiiDescriptor,
      fastCdcChunksDescriptor, simHashFieldsDescriptor)

  /** Imperative registration for an existing session (tests, REPL):
    * the scalar functions AND the `table_changes` TVF. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    descriptors.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
    spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
      "table_changes", graft.sql.TableChanges.descriptor._3, "built-in")
    graft.sql.Maintenance.descriptors.foreach { case (id, _, builder) =>
      spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }
  }
}
