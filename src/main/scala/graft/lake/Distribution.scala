package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.types.StructType

/** Per-source fan-out — the engine form of the reference's SNS
  * topic-per-source publish (O8–O10,
  * `src/event_recorder/lambda_function.py:55-65`): every record of
  * source s is delivered once under the source's distribution path
  * `distribution/source=<s>/`.
  *
  * The manifest log is the one distribution surface. Every file is
  * published by a log commit — [[Catalog.commitIngest]] (stream
  * ingest), [[Catalog.commitDist]] ([[Replay.replayCommitted]],
  * [[Compaction.compactSourceCommitted]]) or
  * [[Catalog.commitDistPrestaged]] (the erase rewrite), each logging
  * its files' sizes and its rows per source. The first two take them
  * from the tasks that wrote the files ([[DistWrite]]: one Spark job,
  * no output committer, no listing); the erase rewrite lists its
  * stage. Every pull read plans from the log ([[subscribeSnapshot]],
  * [[subscribeAsOf]]), never from a directory listing, and counts
  * from it (Delta Lake, VLDB 2020 §3). Two readers still list the
  * source's directory:
  * [[pushSubscribe]], a file stream, and the erase rewrite, which must
  * reach every physical copy of a subject's records.
  *
  * The reference's per-record SNS publish loop has a shadowing bug
  * (`for content in content[source]` clobbers the dict, mis-iterating
  * multi-source batches — SURVEY.md §2.3 item 6); the *intent* — every
  * record of every source published exactly once — is what a
  * `partitionBy(source)` commit gives, shuffle-free and per-record
  * (JSON-lines: one line = one delivered message).
  *
  * The "topic registry" (SSM parameter per source, O10) degenerates to
  * the deterministic path mapping below — resolvable without lookup on
  * both publisher and subscriber side.
  */
object Distribution {

  /** O10: topic-ARN equivalent for a source: its escaped
    * `source=<v>` directory ([[Layout.sourceDir]]). */
  def topicPath(layout: Layout, source: String): String =
    s"${layout.distributionDir}/${Layout.sourceDir(source)}"

  /** SNAPSHOT-ISOLATED subscriber view (the reference's
    * `src/test_subscriber/lambda_function.py:8-9`): the file set comes
    * from the lake manifest log: every committed add minus every
    * committed remove, resolved atomically at plan time. A compaction
    * ([[Compaction.compactSourceCommitted]]) or replay running
    * CONCURRENTLY with this read cannot change the returned rows —
    * the reader sees either the pre- or post-compaction file set,
    * both byte-identical in content; physical deletion is deferred to
    * [[Catalog.vacuumDist]] so even an in-flight read of the old
    * snapshot completes.
    *
    * Planning reads only the log: the files, their sizes and their
    * `source` values come from its records through a [[LogFileIndex]],
    * so it lists no `distribution/` directory, makes no status call
    * (one per file of a record written before sizes were logged) and
    * starts no Spark job. The statuses are built once per parsed log
    * and `(source, version)` ([[Catalog.distSourceAsOf]]), so a repeated
    * subscription at the same head builds none. The data read is a
    * JSON scan of exactly the source's live files.
    *
    * `count()` of the view, in a session with
    * [[graft.functions.GraftExtensions]], is answered on the driver
    * from the rows each commit logged ([[LogFileIndex.CountFromLog]]):
    * no file is opened and no Spark job runs. Where the log does not
    * know the rows (a record written before rows were logged, or a
    * commit group that is only partly live) or the session lacks the
    * extension, the count scans. Like Delta's metadata-only count, the
    * answer is the snapshot's: a live file deleted behind the log's
    * back still counts, while `collect()` fails on it and `lake_fsck`'s
    * `dist_files_exist` reports it. */
  def subscribeSnapshot(spark: SparkSession, layout: Layout, source: String): DataFrame =
    subscribeAsOf(spark, layout, source, Long.MaxValue)

  /** [[subscribeSnapshot]] at an historical commit version — the
    * distribution-side `VERSION AS OF`, planned and counted the same
    * way from the records at or below `version`. Physical reach is
    * bounded by [[Catalog.vacuumDist]]'s grace. */
  def subscribeAsOf(spark: SparkSession, layout: Layout, source: String,
      version: Long): DataFrame = {
    val live = Catalog.distSourceAsOf(spark, layout, source, version)
    read(spark, layout, source, live.statuses, live.rows)
  }

  /** The record schema of a distribution file, in the column order an
    * inferred read gives. */
  private[lake] val recordSchema = StructType.fromDDL("json STRING, key STRING")

  /** `source`'s distribution files (statuses under the area's
    * qualified root, [[Catalog.DistSource]]) read with [[recordSchema]]
    * plus the `source` partition column — the `(json, key, source)` of
    * an inferred read — through a [[LogFileIndex]] that knows `rows`.
    * No file gives an empty frame with the same columns. */
  private[lake] def read(spark: SparkSession, layout: Layout, source: String,
      files: Seq[FileStatus], rows: Option[Long]): DataFrame = {
    val root = new Path(layout.distributionDir)
    val qualified = root.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(root)
    LogFileIndex.read(spark, qualified, new JsonFileFormat, recordSchema,
      Option(source).filter(_.nonEmpty), files, rows)
  }

  /** PUSH-based subscriber delivery — the SNS→Lambda push analogue
    * (the reference's `serverless_datalake_stack.py:233-265`, handler
    * `src/test_subscriber/lambda_function.py:8-9`), closing the
    * latency gap of the polling [[subscribeSnapshot]] view: a streaming
    * file source watches the source's topic partition and the handler
    * is INVOKED per micro-batch of newly published records, with
    * checkpointed offsets so each record is delivered exactly once
    * per subscription (stronger than SNS's at-least-once; a redelivery
    * after a handler crash re-invokes with the same batch, which is
    * exactly SNS retry semantics).
    *
    * Delivery is per FILE PATH, not per record: the stream lists the
    * directory, not the manifest log. A commit that rewrites files —
    * [[Compaction.compactSourceCommitted]] or an erase rewrite
    * ([[Erase.eraseWhere]]) — adds new paths holding records already
    * delivered, so the subscription delivers those records AGAIN.
    *
    * Scale: discovery cost is the file listing per trigger — the same
    * contract as the ingest stream; handler work is whatever the
    * subscriber's frame plan does, fully distributed.
    *
    * The handler gets `(json, key)` batches on the stream's own cloned
    * session, so a temp view or conf it sets stays private to this
    * subscription. */
  def pushSubscribe(spark: SparkSession, layout: Layout, source: String,
      subscriberName: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))(
      handler: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(recordSchema)
      .format("json")
      .load(topicPath(layout, source))
      .writeStream
      .option("checkpointLocation",
        s"${layout.checkpointDir}/subscriber-$subscriberName-$source")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) handler(batch)
      }
      .start()
}
