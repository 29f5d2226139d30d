package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftDmlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A file index whose files, sizes and `source=` partition values come
  * from the manifest log, not from a listing: planning a read over it
  * lists no directory, makes no status call and starts no Spark job
  * (the Delta Lake rule, VLDB 2020 §3–4: a snapshot is the log's add
  * actions). Every path is a published file of one source under
  * `root`, `source=<v>/<name>`; the one partition column is the string
  * `source`, whose value is `source` (None for Hive's default
  * partition). `rows` is the files' row count when the log knows it
  * ([[LogFileIndex.CountFromLog]] answers `count(*)` from it). */
private[graft] final class LogFileIndex(root: Path, source: Option[String], files: Seq[FileStatus],
    val rows: Option[Long]) extends FileIndex {

  private val partition = PartitionDirectory(
    InternalRow(source.map(UTF8String.fromString).orNull), files.map(FileStatusWithMetadata(_)))

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType = LogFileIndex.partitionSchema

  /** Prunes on the partition filters, interpreted (no generated code);
    * data filters are left to the scan. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = Predicate.createInterpreted(
      partitionFilters.reduceOption(And).getOrElse(Literal(true)).transform {
        case _: AttributeReference => BoundReference(0, StringType, nullable = true)
      })
    if (files.nonEmpty && keep.eval(partition.values)) Seq(partition) else Seq.empty
  }

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum
}

private[graft] object LogFileIndex {
  val partitionSchema: StructType = StructType(Seq(StructField("source", StringType)))

  /** The `source` value a `source=<v>` directory name carries (escaped
    * the way Spark writes partition directories; Hive's default
    * partition name is null). */
  def sourceOf(dirName: String): Option[String] =
    Some(ExternalCatalogUtils.unescapePathName(dirName.stripPrefix("source=")))
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)

  /** A `format` read of one source's files with `dataSchema` plus
    * `source`, planned from the given statuses alone. */
  def read(spark: SparkSession, root: Path, format: FileFormat, dataSchema: StructType,
      source: Option[String], files: Seq[FileStatus], rows: Option[Long]): DataFrame = {
    val relation = HadoopFsRelation(new LogFileIndex(root, source, files, rows), partitionSchema,
      dataSchema, None, format, Map.empty)(spark)
    GraftDmlBridge.frame(spark, LogicalRelation(relation))
  }

  /** `count(*)` from the log: an ungrouped aggregate whose every output
    * is a plain `count` of non-null literals (`count(*)`, `count(1)`),
    * over nothing but projections of a [[LogFileIndex]] relation whose
    * row count the log knows, becomes a one-row local relation — no
    * file is opened and no Spark job runs. Any other shape (a filter,
    * a grouping, a distinct or filtered count, an unknown count) is
    * left to the scan. Like Delta's metadata-only count, the answer is
    * the snapshot's logged rows: a live file deleted behind the log's
    * back still counts here, while a scan of it fails. */
  object CountFromLog extends Rule[LogicalPlan] {
    private def isRowCount(e: Expression): Boolean = e match {
      case Alias(AggregateExpression(Count(args), _, false, None, _), _) =>
        args.nonEmpty && args.forall {
          case l: Literal => l.value != null
          case _ => false
        }
      case _ => false
    }

    private def loggedRows(plan: LogicalPlan): Option[Long] = plan match {
      case Project(_, child) => loggedRows(child)
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location match {
          case i: LogFileIndex => i.rows
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformWithPruning(_.containsPattern(AGGREGATE)) {
        case a @ Aggregate(Nil, aggs, child, _) if aggs.nonEmpty && aggs.forall(isRowCount) =>
          loggedRows(child).fold[LogicalPlan](a) { n =>
            LocalRelation(a.output, Seq(InternalRow.fromSeq(aggs.map(_ => n))))
          }
      }
  }
}
