package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.TaskContext
import org.apache.spark.graft.ConfBridge
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftDmlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The distribution publish's write ([[Catalog.commitIngest]],
  * [[Catalog.commitDist]], [[Replay]]): one Spark job over rows with a
  * `source` column — a batch's planned rows, or the records a replay's
  * tasks read — whose tasks write each row's other columns as a JSON line
  * straight into the commit's stage, `<stage>/<source dir>/`, one file
  * per source directory a task meets, and return what they wrote. The record's
  * files, sizes, rows per source directory and catalog entries come
  * from those results, as a Delta Lake commit takes its add actions
  * from its writer tasks (VLDB 2020 §3): no output committer, no
  * listing of the stage, no `_SUCCESS` file, no sort and no
  * observation.
  *
  * A line is what the JSON data source writes for the row's columns
  * other than `source`, in the batch's order
  * ([[GraftDmlBridge.JsonLines]]), so a file holds the same bytes as a
  * `partitionBy("source").json` write of the same batch.
  *
  * A file is `part-<partition>-<attempt>-<uuid>.json`, so a retried or
  * speculative attempt writes its own file and only the attempt whose
  * result the job keeps is published. The others stay in the stage,
  * which the commit deletes and [[Catalog.recoverAppends]] sweeps when
  * no commit claims it. */
private[lake] object DistWrite {

  /** What a write staged: `(source dir/file, bytes)` and
    * `(source dir, rows)`, both sorted, and the distinct
    * `(source, key)` pairs when the write was asked for them. */
  final case class Staged(files: Seq[(String, Long)], rows: Seq[(String, Long)],
      keys: Set[(String, String)])

  /** One task's result: `(source dir/file, bytes, rows)` per file, and
    * its distinct `(source, key)` pairs. */
  private final case class TaskOut(files: Array[(String, Long, Long)],
      keys: Array[(String, String)])

  /** A file one task writes, and the rows it has written into it. */
  private final class Out(val rel: String, val stream: FSDataOutputStream,
      val lines: GraftDmlBridge.JsonLines) {
    var rows = 0L
  }

  /** Write `batch` into `stage` (`distribution/_staged/<uuid>`),
    * partitioned by its `source` column, collecting the `(source, key)`
    * pairs of its `key` column when `keys` is set: [[apply]] over the
    * rows the batch's plan produces, `source` first. */
  def apply(batch: DataFrame, stage: Path, uuid: String, keys: Boolean): Staged = {
    // a line holds every column but `source`, in the batch's order
    val line = StructType(batch.schema.filter(_.name != "source"))
    val columns = line.fieldNames.toSeq.map(n => col(s"`${n.replace("`", "``")}`"))
    apply(batch.sparkSession, line, stage, uuid, keys)(_ =>
      batch.select(col("source").cast("string") +: columns: _*).queryExecution.toRdd)
  }

  /** Write the rows `rows` makes — a string `source`, then the columns
    * of `line` — into `stage`, collecting the `(source, key)` pairs of
    * `line`'s `key` column when `keys` is set. `rows` is made, and its
    * one job run, under `spark`'s artifact state, with a description
    * naming the stage; its tasks read the session's Hadoop
    * configuration from one broadcast, which `rows` is given to read
    * it from too.
    * A task that fails fails the write: nothing is returned, and what
    * the stage holds is left to the sweep. */
  def apply(spark: SparkSession, line: StructType, stage: Path, uuid: String, keys: Boolean)(
      rows: (() => Configuration) => RDD[InternalRow]): Staged = {
    val sc = spark.sparkContext
    val options = GraftDmlBridge.jsonWriteOptions(spark)
    val root = stage.toString
    val keyAt = if (keys) line.fieldIndex("key") else -1
    val conf = sc.broadcast(ConfBridge.serializable(sc.hadoopConfiguration))
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"distribution publish _staged/$uuid")
    val out = try GraftDmlBridge.withArtifacts(spark) {
      sc.runJob(rows(() => conf.value.value), (ctx: TaskContext, it: Iterator[InternalRow]) =>
        writeTask(ctx, it, root, uuid, conf.value.value, options, line, keyAt))
    } finally {
      sc.setLocalProperty("spark.job.description", description)
      conf.destroy()
    }
    val files = out.flatMap(_.files)
    Staged(files.map(f => (f._1, f._2)).sortBy(_._1).toSeq,
      files.groupMapReduce(f => f._1.substring(0, f._1.indexOf('/')))(_._3)(_ + _).toSeq.sorted,
      out.iterator.flatMap(_.keys).toSet)
  }

  /** Write `rows` (`source`, then the columns of `line`), returning the
    * files and, when `keyAt` is a column of `line`, the pairs. */
  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow], stage: String,
      uuid: String, conf: Configuration, options: JSONOptions, line: StructType,
      keyAt: Int): TaskOut = {
    val name = f"part-${ctx.partitionId()}%05d-${ctx.attemptNumber()}-$uuid.json"
    // null and "" share Hive's default partition directory, so files are
    // kept per directory and found per source value
    val byDir = new java.util.LinkedHashMap[String, Out]()
    val bySource = new java.util.HashMap[UTF8String, Out]()
    val seen = new java.util.HashSet[(UTF8String, UTF8String)]()
    lazy val fs = new Path(stage).getFileSystem(conf)
    def open(dir: String): Out = {
      val rel = s"$dir/$name"
      val stream = fs.create(new Path(stage, rel), false)
      new Out(rel, stream, new GraftDmlBridge.JsonLines(line,
        new java.io.OutputStreamWriter(stream, java.nio.charset.StandardCharsets.UTF_8), options))
    }
    val types = line.fields.map(_.dataType)
    val fields = new GenericInternalRow(types.length)
    var written = false
    try {
      rows.foreach { row =>
        val source = if (row.isNullAt(0)) null else row.getUTF8String(0)
        var out = bySource.get(source)
        if (out == null) {
          val dir = Layout.sourceDir(if (source == null) null else source.toString)
          out = byDir.computeIfAbsent(dir, open)
          bySource.put(if (source == null) null else source.clone(), out)
        }
        var i = 0
        while (i < types.length) {
          fields.update(i, if (row.isNullAt(i + 1)) null else row.get(i + 1, types(i)))
          i += 1
        }
        out.lines.write(fields)
        out.rows += 1
        if (keyAt >= 0) {
          val key = fields.getUTF8String(keyAt)
          if (!seen.contains((source, key)))
            seen.add((if (source == null) null else source.clone(), if (key == null) null else key.clone()))
        }
      }
      val files = byDir.values.asScala.map { o =>
        o.lines.flush()
        val bytes = o.stream.getPos
        o.lines.close()
        (o.rel, bytes, o.rows)
      }.toArray
      written = true
      TaskOut(files, seen.asScala.iterator.map { case (s, k) =>
        (if (s == null) null else s.toString, if (k == null) null else k.toString) }.toArray)
    } finally if (!written) byDir.values.forEach { o =>
      try o.stream.close() catch { case _: java.io.IOException => () }
    }
  }
}
