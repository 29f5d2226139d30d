package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.TaskContext
import org.apache.spark.graft.ConfBridge
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Time-range replay — the engine form of the reference's
  * event_replayer + Replay branch (O11–O13,
  * `/root/reference/src/event_replayer/lambda_function.py:15-54`,
  * `/root/reference/src/event_recorder/lambda_function.py:94-99`).
  *
  * Semantics preserved (SURVEY.md §2.3 items 1–2):
  *  - replay granularity is the OBJECT (catalog key), not the event —
  *    all records of every matched object are re-published;
  *  - replay does NOT re-append to the catalog (no replay storms).
  *
  * The reference's SQS hop (one message per matched item, O12)
  * collapses: the matched key set drives the read directly. The
  * re-publish is a manifest-log commit, like every distribution
  * write, so [[Distribution.subscribeSnapshot]] returns the replayed
  * records and [[Compaction.compactSourceCommitted]] compacts them.
  *
  * Cost per call, one pass:
  *  - the matched keys come from the log's per-source `ts` index
  *    ([[Catalog.rangeEntries]]): no catalog file, no Spark job, no
  *    query plan. The driver holds one key per matched object, as it
  *    holds every logged entry. An empty range returns 0 here,
  *    claiming nothing;
  *  - one status call per matched object, on the driver, which packs
  *    the objects into tasks by Spark's own file-scan rule
  *    ([[FilePartition.getFilePartitions]]): a replay runs as many
  *    tasks, and writes as many files, as a scan of the same objects
  *    would. A missing object fails the call here, before anything is
  *    written or claimed;
  *  - ONE read of the matched bronze objects, by the publish itself —
  *    the call's one Spark job ([[DistWrite]]), with no SQL execution:
  *    its tasks open each object, decompress it by its extension,
  *    split its records ([[ConcatJson.split]]) and write the
  *    distribution files with no output committer, committed as one
  *    manifest-log record. The tasks report what they read as task
  *    input, as a file scan does;
  *  - the returned count is the rows those tasks report writing
  *    ([[Catalog.commitDist]]), not counted by a second read or an
  *    observation; the record logs it per source, so a subscriber's
  *    `count(*)` over the replayed rows is answered from the log
  *    (in a session with [[graft.functions.GraftExtensions]]).
  */
object Replay {

  /** The columns a replayed record is published with, after its source. */
  private val line = StructType(Seq(StructField("key", StringType), StructField("json", StringType)))

  /** Replay [t0, t1] of `source` into the distribution area; returns
    * the number of re-published records. The re-published records land
    * as one manifest-log commit ([[Catalog.commitDist]]), so the replay
    * is atomic to [[Distribution.subscribeSnapshot]] readers and safe
    * to run concurrently with [[Compaction.compactSourceCommitted]] —
    * the log's claim order serializes the two commits, and the
    * compaction's remove set can never name the replay's file (it was
    * fixed at the compaction's own snapshot read). */
  def replayCommitted(spark: SparkSession, layout: Layout, source: String,
      t0: java.sql.Timestamp, t1: java.sql.Timestamp): Long = {
    // each matched object once; a null key names no object to re-read
    val keys = Catalog.rangeEntries(spark, layout, source, t0, t1).iterator
      .map(_.key).filter(_ != null).distinct.toSeq
    if (keys.isEmpty) return 0L
    val tasks = packed(spark, keys)
    // NOTE deliberately no Catalog.append here (§2.3 item 2).
    Catalog.commitDistWith(spark, layout, Seq.empty)(DistWrite(spark, line, _, _, keys = false)(conf =>
      spark.sparkContext.parallelize(tasks, tasks.size).mapPartitions(records(source, conf))))
  }

  /** `keys` grouped into tasks as a scan of whole objects groups them:
    * largest first, packed up to Spark's split size. */
  private def packed(spark: SparkSession, keys: Seq[String]): Seq[Array[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = keys.map(SparkPath.fromUrlString)
    val statuses = paths.map { p =>
      val path = p.toPath
      path.getFileSystem(conf).getFileStatus(path)
    }
    val files = paths.zip(statuses).map { case (p, st) =>
      PartitionedFile(InternalRow.empty, p, 0L, st.getLen, Array.empty[String],
        st.getModificationTime, st.getLen)
    }.sortBy(-_.length)
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray)))
    FilePartition.getFilePartitions(spark, files, maxSplit).map(_.files.map(_.filePath.urlEncoded))
  }

  /** The `(source, key, json)` records of the objects a task reads,
    * counted as its input. */
  private def records(source: String, conf: () => Configuration)(
      tasks: Iterator[Array[String]]): Iterator[InternalRow] = {
    val hconf = conf()
    val codecs = new CompressionCodecFactory(hconf)
    val counted = ConfBridge.inputCounter(TaskContext.get())
    val src = UTF8String.fromString(source)
    tasks.flatMap(_.iterator).flatMap { key =>
      val path = SparkPath.fromUrlString(key).toPath
      val raw = path.getFileSystem(hconf).open(path)
      val bytes = try {
        val codec = codecs.getCodec(path)
        val in = if (codec == null) raw else codec.createInputStream(raw)
        try in.readAllBytes() finally in.close()
      } finally raw.close()
      counted()
      val k = UTF8String.fromString(key)
      // invalid UTF-8 decodes to U+FFFD, as the text source's string does
      ConcatJson.split(new String(bytes, UTF_8)).iterator
        .map(json => InternalRow(src, k, UTF8String.fromString(json)))
    }
  }
}
