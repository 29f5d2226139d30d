package graft.streaming

import graft.lake.{Catalog, Ingest, Layout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest — the reference's stages 3–9 collapsed into ONE
  * Structured Streaming query (SURVEY.md §3.1): file source discovers
  * new bronze objects per micro-batch (replacing the S3→SQS
  * notification hop, O3), and each batch is (a) appended to the
  * catalog and (b) fanned out to the per-source distribution area —
  * exactly the event_recorder's job
  * (`/root/reference/src/event_recorder/lambda_function.py:68-92`),
  * with checkpointed exactly-once source progress (vs the reference's
  * at-least-once SQS redelivery) and marker-idempotent batch commits —
  * see [[processBatch]] for the precise delivery guarantee.
  *
  * The 60 s default trigger mirrors the reference's Firehose buffer
  * interval (`serverless_datalake_stack.py:139`).
  */
object StreamIngest {

  /** Start the bronze→(catalog, distribution) ingest stream.
    *
    * Each micro-batch runs on `spark` itself, not on the stream's
    * cloned session ([[CallerSession]]): Spark gives every session id
    * its own executor class loader, and the generated-code cache is
    * keyed by (class loader, source), so batches run on the clone
    * would recompile their generated classes at every start of the
    * stream — once per arrival under `Trigger.AvailableNow`. The
    * default long-running trigger keeps one clone, so there the
    * re-bind saves only the first batch's compiles. */
  def start(spark: SparkSession, layout: Layout,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    // finish any catalog append a crashed previous driver left between
    // CLAIM and DONE (idempotent; see Catalog.recoverAppends) before
    // new micro-batches append behind it
    Catalog.recoverAppends(spark, layout)
    val lines = Ingest.split(
      spark.readStream.options(Ingest.objectReads).text(s"${layout.bronzeDir}/*"),
      layout.bronzeDir)

    lines.writeStream
      .option("checkpointLocation", s"${layout.checkpointDir}/ingest")
      .trigger(trigger)
      .foreachBatch(CallerSession(spark) { (batch, batchId) =>
        processBatch(batch, layout, System.currentTimeMillis(), batchId)
      })
      .start()
  }

  /** One micro-batch = one reference SQS delivery: catalog-append the
    * distinct objects, publish every record per source. Factored out so
    * batch tests exercise the same code path the stream runs — SURVEY
    * §7.4 risk 3.
    *
    * Cost: ONE pass over the batch and one Spark job, with no shuffle
    * — the tombstone gate is a filter inside that pass. The job's
    * tasks write the distribution files themselves, with no output
    * committer ([[graft.lake.DistWrite]]), and return the files, their
    * rows and the batch's objects; the catalog entries are kept
    * in the commit record, one line per object, with no catalog file
    * ([[graft.lake.Catalog.commitIngest]]). The driver holds one
    * catalog key per object in the batch, the order of the file list
    * the stream's file source already holds there.
    *
    * Delivery semantics: END-TO-END EXACTLY-ONCE. The source side is
    * exactly-once (checkpointed file-stream offsets), and the sink
    * side is ONE [[graft.lake.Catalog.commitIngest]] manifest-log
    * commit spanning the catalog append, the distribution publish, and
    * the batch-completion marker — so there is no window between "two
    * appends" for a crash to land in. A crash before CLAIM leaves only
    * invisible staging (redelivery re-runs cleanly); a crash after
    * CLAIM is finished — marker included — by
    * [[graft.lake.Catalog.recoverAppends]] at the next [[start]], and
    * the redelivered batch then skips on its marker. Strictly stronger
    * than the reference's unatomic DynamoDB-put + SNS-publish pair
    * (`/root/reference/src/event_recorder/lambda_function.py:46-65`). */
  def processBatch(batch: DataFrame, layout: Layout, arrivalMs: Long,
      batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    // Hadoop FileSystem API (not java.io.File): the checkpoint dir may
    // be HDFS/S3 on a real cluster, where File.exists() is always
    // false and the idempotency guard would silently disappear
    val hconf = spark.sparkContext.hadoopConfiguration
    val markersDir = new org.apache.hadoop.fs.Path(s"${layout.checkpointDir}/markers")
    val fs = markersDir.getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(markersDir, batchId.toString)
    if (batchId >= 0 && fs.exists(marker)) return // replayed completed batch
    // the standing-erasure gate: records matching a registered
    // tombstone never enter the catalog or the distribution area —
    // with lake/Erase.eraseWhere clearing existing copies, erasure
    // stays complete while ingestion keeps running. The set is read
    // per batch (tiny, driver-side) so a tombstone takes effect at
    // the NEXT micro-batch without a stream restart.
    val tombs = graft.lake.Erase.tombstones(spark, layout)
    val gated = if (tombs.isEmpty) batch else {
      val drop = graft.lake.Erase.recordMatcher(tombs)
      import spark.implicits._
      batch.select("source", "key", "json").as[(String, String, String)]
        .filter(r => !drop(r._1, r._3))
        .toDF("source", "key", "json")
    }
    // ONE atomic commit: catalog entries + distribution fan-out +
    // completion marker, all under a single manifest-log record —
    // see the delivery-semantics contract above
    Catalog.commitIngest(spark, layout, gated, arrivalMs, batchId,
      if (batchId >= 0) Some(marker.toString) else None)
    if (batchId >= 0) {
      pruneMarkers(fs, markersDir, batchId)
      // periodic log maintenance: fold the committed catalog-log
      // prefix into one checkpoint and drop the folded records, so
      // a long-lived stream's log replay cost stays O(1) + tail
      // instead of O(total commits). Best-effort — a failed fold
      // only delays the next one. NonFatal (not just IOException):
      // a stray file in _log surfaces as NumberFormatException etc.,
      // and maintenance must never crash-loop a committed batch.
      if (batchId > 0 && batchId % checkpointEvery == 0)
        try {
          // waitMs=0: best-effort maintenance must never stall a
          // micro-batch behind the fold/prune mutex (a stale lock
          // only clears at the 10-min TTL steal — blocking here
          // would add up to 2×waitMs of trigger latency); a fold
          // already running bounds the tail for us
          Catalog.checkpoint(spark, layout, waitMs = 0L)
          Catalog.pruneLog(spark, layout, waitMs = 0L)
        } catch {
          case _: graft.lake.LockBusyException => () // another fold runs
          case scala.util.control.NonFatal(e) =>
          System.err.println(s"[StreamIngest] catalog-log maintenance failed (deferred): $e")
        }
    }
  }

  /** Catalog-log checkpoint cadence (in micro-batches). */
  val checkpointEvery: Long = 100L

  /** Markers strictly older than (committed − keep) can never be
    * replayed again (the source checkpoint has moved past them) —
    * prune so the marker dir doesn't grow unboundedly with stream
    * lifetime. Best-effort: a failed prune only leaves extra files. */
  private def pruneMarkers(fs: org.apache.hadoop.fs.FileSystem,
      markersDir: org.apache.hadoop.fs.Path, committedBatchId: Long, keep: Long = 100L): Unit =
    try {
      fs.listStatus(markersDir).foreach { st =>
        val id = st.getPath.getName.toLongOption
        if (id.exists(_ < committedBatchId - keep)) fs.delete(st.getPath, false)
      }
    } catch { case _: java.io.IOException => () }

  /** Deduplicating event-time view over parsed events, for
    * at-least-once upstreams (SURVEY §2.3 item 7): watermark + drop
    * duplicate event ids within the lateness bound. State is bounded
    * by the watermark horizon — safe at 100 TB/day rates. */
  def dedupedByEventId(parsed: DataFrame, idCol: String, tsCol: String,
      lateness: String = "10 minutes"): DataFrame =
    parsed.withWatermark(tsCol, lateness)
      .dropDuplicates(idCol, tsCol)
}
