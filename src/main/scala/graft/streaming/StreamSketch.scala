package graft.streaming

import graft.ops.Sketch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming Count-Min sketch: maintain key frequencies over an
  * unbounded stream in O(d·w) state per batch. Each micro-batch is
  * collapsed to its d×w cell table ([[Sketch.cellsOf]] — a monoid) and
  * written to `store/batch=<id>/`; readers merge by cell-wise sum.
  *
  * Exactly-once without any transaction log: a batch directory is
  * OVERWRITTEN keyed by its batch id, so a replayed micro-batch after a
  * checkpoint-recovery rewrites the same bytes instead of double
  * counting — the same marker-idempotence contract StreamIngest
  * documents for its catalog appends.
  *
  * Scale: the shuffle per batch carries at most d·w cells regardless of
  * batch size (map-side partial agg does the collapse), and the store
  * grows one fixed-size partition per batch — compact with a cell-sum
  * rewrite when batch count dwarfs d·w.
  */
object StreamSketch {

  /** Start folding `key` of the streaming frame `events` into a cell
    * store at `storeDir`. */
  def start(events: DataFrame, key: Column, storeDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(CallerSession(events.sparkSession) { (batch, batchId) =>
        Sketch.cellsOf(batch, key)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
        ()
      })
      .start()

  /** The merged sketch: cell-wise sum across every batch partition. */
  def mergedCells(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("row_no"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Rewrite the store as ONE pre-merged cell partition and drop every
    * per-batch partition — run when batch count dwarfs d·w. The merged
    * sketch is BOUNDED at d·w cells (the whole point of the
    * structure). Commit protocol, crash windows and the
    * stream-stopped precondition: [[SnapshotStore]] (shared with the
    * KMV store — one implementation, one set of guarantees). */
  def compact(spark: SparkSession, storeDir: String): Unit =
    SnapshotStore.compact(spark, storeDir) { paths =>
      spark.read.parquet(paths: _*)
        .groupBy(col("row_no"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
    }

  /** Finish any interrupted compaction — see [[SnapshotStore.recover]]. */
  def recover(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    SnapshotStore.recover(fs, root)

  /** Point estimate for each key in `keys` from the merged store:
    * min over the d cells the key hashes to — never an undercount.
    * Probes LEFT-join the cell table with absent cells counting as 0,
    * so a never-seen key returns est = 0 (instead of vanishing) and a
    * key with some empty cells takes the true min over all d cells. */
  def estimate(spark: SparkSession, storeDir: String, keys: DataFrame,
      key: Column): DataFrame = {
    val probes = keys.select(key.as("key")).distinct()
      .select(col("key"), explode(array((0 until Sketch.Depth).map(i =>
        struct(lit(i).as("row_no"), Sketch.bucketOf(i, col("key")).as("bucket"))): _*)).as("p"))
      .select(col("key"), col("p.row_no").as("row_no"), col("p.bucket").as("bucket"))
    probes.join(mergedCells(spark, storeDir), Seq("row_no", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
