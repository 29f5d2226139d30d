package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftDmlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A file index whose files, sizes and `source=` partition values come
  * from the manifest log, not from a listing: planning a read over it
  * lists no directory and opens no footer (the Delta Lake rule, VLDB
  * 2020 §3–4: a snapshot is the log's add actions). Every path is a
  * published file under `root`, `source=<v>/<name>`; the one partition
  * column is the string `source`. */
private[lake] final class LogFileIndex(root: Path, files: Seq[FileStatus]) extends FileIndex {

  private val bySource: Seq[(InternalRow, Seq[FileStatusWithMetadata])] =
    files.groupBy(f => LogFileIndex.sourceOf(f.getPath.getParent.getName)).toSeq
      .map { case (src, fs) =>
        (InternalRow(src.map(UTF8String.fromString).orNull), fs.map(FileStatusWithMetadata(_)))
      }

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
    bySource.collect { case (values, fs) if keep.eval(values) => PartitionDirectory(values, fs) }
  }

  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_.getLen).sum
}

private[lake] object LogFileIndex {
  val partitionSchema: StructType = StructType(Seq(StructField("source", StringType)))

  /** The `source` value a `source=<v>` directory name carries (escaped
    * the way Spark writes partition directories; Hive's default
    * partition name is null). */
  def sourceOf(dirName: String): Option[String] =
    Some(ExternalCatalogUtils.unescapePathName(dirName.stripPrefix("source=")))
      .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)

  /** A parquet read of `files` with `dataSchema` plus `source`, planned
    * from the given statuses alone. */
  def read(spark: SparkSession, root: Path, dataSchema: StructType,
      files: Seq[FileStatus]): DataFrame = {
    val relation = HadoopFsRelation(new LogFileIndex(root, files), partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark)
    GraftDmlBridge.frame(spark, LogicalRelation(relation))
  }
}
