package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-source fan-out — the engine form of the reference's SNS
  * topic-per-source publish (O8–O10,
  * `/root/reference/src/event_recorder/lambda_function.py:55-65`):
  * every record of source s is delivered once under the source's
  * distribution path; subscribers are downstream readers (batch or
  * `readStream`) of `distribution/source=<s>/`.
  *
  * The reference's per-record SNS publish loop has a shadowing bug
  * (`for content in content[source]` clobbers the dict, mis-iterating
  * multi-source batches — SURVEY.md §2.3 item 6); the *intent* — every
  * record of every source published exactly once — is what
  * `partitionBy(source)` gives, shuffle-free and per-record
  * (JSON-lines: one line = one delivered message).
  *
  * The "topic registry" (SSM parameter per source, O10) degenerates to
  * the deterministic path mapping below — resolvable without lookup on
  * both publisher and subscriber side.
  */
object Distribution {

  /** O10: topic-ARN equivalent for a source. */
  def topicPath(layout: Layout, source: String): String =
    s"${layout.distributionDir}/source=$source"

  /** O8+O9: publish a batch of (source, …) records to the per-source
    * distribution area. Rows with the same source co-locate by the
    * partitionBy layout without a shuffle. */
  def publish(batch: DataFrame, layout: Layout): Unit =
    batch.write.mode("append").partitionBy("source").format("json")
      .save(layout.distributionDir)

  /** Subscriber view of one source's stream (the test_subscriber
    * equivalent, `/root/reference/src/test_subscriber/lambda_function.py:8-9`).
    *
    * Compaction-aware, PLAN-TIME BEST-EFFORT: [[Compaction
    * .compactSource]]'s swap is two renames, so there is a window
    * where `source=X` is absent while a `_`-prefixed transient sibling
    * exists. The quiescence check here runs once, when the view is
    * constructed — it narrows the silently-empty-view race (a swap in
    * flight NOW is detected, waited out, and fails loudly if stuck)
    * but does not close it: the returned frame is lazy, so a swap that
    * begins after this check and before the caller's action can still
    * yield an empty view or a FileNotFoundException at read time.
    * Callers that need the read itself to be consistent use
    * [[subscribeConsistent]]. An absent partition with NO marker still
    * means "no data yet", which stays a valid empty view. */
  def subscribe(spark: SparkSession, layout: Layout, source: String,
      maxWaitMs: Long = 10000L, pollMs: Long = 50L): DataFrame = {
    Compaction.awaitQuiescent(spark, layout, source, maxWaitMs, pollMs)
    read(spark, layout, layout.distributionDir).filter(col("source") === source)
  }

  /** Action-time-consistent subscriber view: materializes the read NOW
    * (localCheckpoint truncates lineage, so the returned frame no
    * longer depends on files a later compaction may delete) and
    * re-verifies afterwards that the result is trustworthy. A snapshot
    * is suspect only when it came back EMPTY while the partition dir
    * or a transient compaction marker exists — i.e. the listing ran
    * inside a swap window that opened after the plan-time check; such
    * snapshots (and reads that die on files deleted mid-read) are
    * retried until `maxWaitMs`, then the failure surfaces. A
    * genuinely empty source — no partition, no marker — returns its
    * empty view immediately, as with [[subscribe]]. */
  def subscribeConsistent(spark: SparkSession, layout: Layout, source: String,
      maxWaitMs: Long = 10000L, pollMs: Long = 50L): DataFrame = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var lastFailure: Throwable = null
    while (System.nanoTime() <= deadline) {
      Compaction.awaitQuiescent(spark, layout, source, maxWaitMs, pollMs)
      try {
        val snap = read(spark, layout, layout.distributionDir)
          .filter(col("source") === source)
          .localCheckpoint(true)
        if (!snap.isEmpty || !Compaction.swapSuspect(spark, layout, source))
          return snap
        lastFailure = new java.io.IOException(
          s"subscribeConsistent($source): empty read raced a compaction swap")
      } catch {
        // a swap that starts mid-read deletes files the listing
        // already captured — Spark surfaces that as a (wrapped)
        // FileNotFoundException; anything else still fails after the
        // deadline below, so a persistent real error is never masked
        case e: Exception => lastFailure = e
      }
      Thread.sleep(pollMs)
    }
    throw new java.io.IOException(
      s"subscribeConsistent($source): no consistent read within ${maxWaitMs} ms", lastFailure)
  }

  /** SNAPSHOT-ISOLATED subscriber view — the committed-surface read:
    * instead of listing the partition directory (which can race a
    * compaction's swap or double-count a not-yet-vacuumed rewrite),
    * the file set comes from the lake manifest log
    * ([[Catalog.distLiveFiles]]): every committed add minus every
    * committed remove, resolved atomically at plan time. A compaction
    * ([[Compaction.compactSourceCommitted]]) or replay running
    * CONCURRENTLY with this read cannot change the returned rows —
    * the reader sees either the pre- or post-compaction file set,
    * both byte-identical in content; physical deletion is deferred to
    * [[Catalog.vacuumDist]] so even an in-flight read of the old
    * snapshot completes.
    *
    * Scale: the log read is O(commits-since-checkpoint) tiny driver
    * records (the Delta replay bound); the data read is a normal
    * parquet-style pruned scan over exactly the live files. */
  def subscribeSnapshot(spark: SparkSession, layout: Layout, source: String): DataFrame =
    subscribeAsOf(spark, layout, source, Long.MaxValue)

  /** [[subscribeSnapshot]] at an historical commit version — the
    * distribution-side `VERSION AS OF` ([[Catalog.distFilesAsOf]]).
    * Physical reach is bounded by [[Catalog.vacuumDist]]'s grace. */
  def subscribeAsOf(spark: SparkSession, layout: Layout, source: String,
      version: Long): DataFrame = {
    val live = Catalog.distFilesAsOf(spark, layout, version)
      .filter(_.startsWith(s"source=$source/"))
    if (live.isEmpty) {
      import spark.implicits._
      return Seq.empty[(String, String, String)].toDF("json", "key", "source")
    }
    read(spark, layout, live.map(rel => s"${layout.distributionDir}/$rel"): _*)
  }

  /** The record schema of a distribution file, in the column order an
    * inferred read gives. */
  private[lake] val recordSchema = "json STRING, key STRING"

  /** Distribution files under `paths`, read with [[recordSchema]] plus
    * the discovered `source` partition column — the
    * `(json, key, source)` of an inferred read, without the inference
    * job that would read every file before the caller's own action. */
  private[lake] def read(spark: SparkSession, layout: Layout, paths: String*): DataFrame =
    spark.read.option("basePath", layout.distributionDir)
      .schema(recordSchema).format("json")
      .load(paths: _*)

  /** PUSH-based subscriber delivery — the SNS→Lambda push analogue
    * (`/root/reference/serverless_datalake/serverless_datalake_stack.py:233-265`,
    * handler `src/test_subscriber/lambda_function.py:8-9`), closing
    * the latency gap of the polling [[subscribe]] view: a streaming
    * file source watches the source's topic partition and the handler
    * is INVOKED per micro-batch of newly published records, with
    * checkpointed offsets so each record is delivered exactly once
    * per subscription (stronger than SNS's at-least-once; a redelivery
    * after a handler crash re-invokes with the same batch, which is
    * exactly SNS retry semantics).
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
