package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming drift monitor: maintain the per-type value histograms of
  * the batch PSI query (`q_value_drift`,
  * [[graft.ops.Analytics.valueDrift]]) incrementally — the fourth
  * member of the monoid cell-store family ([[StreamSketch]]:
  * frequencies, [[StreamKmv]]: cardinalities, [[StreamQuantile]]:
  * order statistics, this: distribution shape). A REFERENCE store is
  * frozen once (the training window); the CURRENT store keeps folding
  * arrivals; the PSI read compares them at any moment.
  *
  * Exactness: cells are counts over the same clamped bucket grid as
  * the batch query and merge by cell-wise sum (a monoid), so the
  * merged stores are EXACTLY the two filtered aggregations the batch
  * query computes — and the PSI read calls the batch query's own
  * [[graft.ops.Analytics.psiFromCounts]] fold, so stream ≡ batch is
  * one code path, not two implementations agreeing (pinned in
  * StreamDriftSpec under multi-batch shuffled framings).
  *
  * Contracts shared with the store family: per-batch partitions are
  * overwrite-idempotent (`batch=<id>` dirs — checkpoint replay of a
  * batch rewrites the same cells), and the batch-count growth folds
  * away through the same [[SnapshotStore]] compaction protocol. */
object StreamDrift {

  /** Fixed bucket grid — MUST match the batch query's defaults. */
  val NBuckets: Int = 10
  val BucketCents: Int = 5000

  /** A batch's cells: per-(event_type, clamped bucket) counts, the
    * identical bucket expression as the batch query. */
  def batchCells(df: DataFrame): DataFrame =
    df.select(col("event_type"),
        least(floor(round(col("value") * 100) / lit(BucketCents)),
          lit(NBuckets - 1).cast("double")).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Start folding the streaming frame (with `event_type` and `value`
    * columns) into the cell store at `storeDir`. */
  def start(events: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(CallerSession(events.sparkSession) { (batch, batchId) =>
        batchCells(batch)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
        ()
      })
      .start()

  /** The merged store: cell-wise sums across batch partitions. */
  def mergedCells(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("n")).cast("long").as("n"))

  /** PSI of the current store against the frozen reference store —
    * the batch query's own fold over the same materialized grid
    * (absent cells as 0 so their smoothing mass counts). */
  def psi(spark: SparkSession, refDir: String, curDir: String): DataFrame = {
    import spark.implicits._
    val grid = graft.Tables.eventTypes.toDF("event_type")
      .crossJoin((0 until NBuckets).map(_.toLong).toDF("bucket"))
    val joined = grid
      .join(mergedCells(spark, refDir).withColumnRenamed("n", "a"),
        Seq("event_type", "bucket"), "left")
      .join(mergedCells(spark, curDir).withColumnRenamed("n", "b"),
        Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("a"), lit(0L)).as("a"), coalesce(col("b"), lit(0L)).as("b"))
    graft.ops.Analytics.psiFromCounts(joined, NBuckets)
  }
}
