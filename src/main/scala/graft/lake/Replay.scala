package graft.lake

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

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
  * collapses: the matched key set drives the read directly.
  *
  * Scale: the matched key list is only collected when small (it is a
  * *file* list — bounded by objects-per-range, not events). Above
  * [[maxCollectedKeys]] the replay switches to reading the source's
  * bronze partition and semi-joining on `input_file_name()` — no
  * driver materialization at any range size.
  *
  * Cost per call, one pass:
  *  - ONE catalog query, with no shuffle: a collect bounded at
  *    `maxCollectedKeys + 1` rows, which both lists a small range and
  *    tells a big one apart; an empty range returns 0 here, claiming
  *    nothing;
  *  - ONE read of the matched bronze objects, by the publish itself;
  *  - the returned count is observed on that publish write (an
  *    `Observation`), not counted by a second read.
  */
object Replay {

  val maxCollectedKeys = 10000

  /** Replay [t0, t1] of `source` into the distribution area; returns
    * the number of re-published records. */
  def replay(spark: SparkSession, layout: Layout, source: String,
      t0: java.sql.Timestamp, t1: java.sql.Timestamp): Long =
    replayImpl(spark, layout, source, t0, t1, committed = false)

  /** [[replay]] onto the COMMITTED distribution surface: the
    * re-published records land as one manifest-log commit
    * ([[Catalog.commitDist]]), so the replay is atomic to
    * [[Distribution.subscribeSnapshot]] readers and safe to run
    * concurrently with [[Compaction.compactSourceCommitted]] — the
    * log's claim order serializes the two commits, and the
    * compaction's remove set can never name the replay's file (it was
    * fixed at the compaction's own snapshot read). */
  def replayCommitted(spark: SparkSession, layout: Layout, source: String,
      t0: java.sql.Timestamp, t1: java.sql.Timestamp): Long =
    replayImpl(spark, layout, source, t0, t1, committed = true)

  private def replayImpl(spark: SparkSession, layout: Layout, source: String,
      t0: java.sql.Timestamp, t1: java.sql.Timestamp, committed: Boolean): Long = {
    val matched = Catalog.rangeQuery(spark, layout, source, t0, t1).select(col("key"))
    // one catalog query, no shuffle: a small range needs its key list
    // anyway, and one row past the cap is enough to tell a big range
    // apart. The rows are deduplicated here, on the driver; counting
    // duplicates toward the cap only sends a range to the semi-join
    // early, which tolerates them.
    val rows = matched.limit(maxCollectedKeys + 1).collect().map(_.getString(0))
    if (rows.isEmpty) return 0L

    val records: DataFrame =
      if (rows.length <= maxCollectedKeys) readObjects(spark, rows.distinct, source)
      else {
        // big range: list/scan ONLY this source's bronze partition
        // (path-level pruning — a filter above the split flatMap would
        // not reach the file listing), keep matched files via semi-join
        val all = Ingest.readBronzeSource(spark, layout, source)
        all.join(matched.withColumnRenamed("key", "mkey"),
            col("key") === col("mkey"), "left_semi")
      }
    // one bronze read: the publish counts its own rows as it writes
    val published = Observation()
    val out = records.select(col("source"), col("key"), col("json"))
      .observe(published, count(lit(1)).as("n"))
    if (committed) Catalog.commitDist(spark, layout, out)
    else Distribution.publish(out, layout)
    // NOTE deliberately no Catalog.append here (§2.3 item 2).
    // Reached only after the write returned: `get` blocks until the
    // write's metrics arrive, and a failed write never sends them.
    published.get("n").asInstanceOf[Long]
  }

  /** Re-read whole objects by key (replay unit = object). */
  private def readObjects(spark: SparkSession, keys: Array[String], source: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", "true")
      .textFile(scala.collection.immutable.ArraySeq.unsafeWrapArray(keys): _*)
      .withColumn("key", input_file_name())
    raw.select(col("key"), col("value")).as[(String, String)]
      .flatMap { case (key, content) =>
        ConcatJson.split(content).map(json => (source, key, json)) }
      .toDF("source", "key", "json")
  }
}
