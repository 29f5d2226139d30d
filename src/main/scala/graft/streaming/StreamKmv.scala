package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming KMV distinct sketch: maintain per-group distinct-count
  * estimates over an unbounded stream in O(groups · k) state — the
  * streaming twin of the batch query `q_kmv_distinct`
  * ([[graft.ops.Sketch.kmvDistinct]]), completing the sketch-store
  * pair next to the streaming CMS ([[StreamSketch]]: frequencies;
  * this: cardinalities).
  *
  * Each micro-batch collapses to its per-group `k` smallest distinct
  * 32-bit key hashes and overwrites `store/batch=<id>/` — the same
  * overwrite-idempotence contract as the CMS store, so a replayed
  * batch after checkpoint recovery rewrites identical bytes instead
  * of perturbing the sketch. KMV sketches are a monoid under
  * "union, keep k smallest": merging batch sketches gives EXACTLY the
  * sketch of the union (a hash in the union's k smallest is in the
  * k smallest of the batch that contributed it), so the merged
  * estimate equals what a single batch pass over the whole stream
  * would produce — pinned stream ≡ batch in StreamKmvSpec.
  *
  * Scale: the per-batch shuffle carries (group, hash) pairs already
  * partially deduped map-side; each batch partition holds ≤ groups·k
  * rows regardless of batch size. [[compact]] folds the store through
  * the crash-safe [[SnapshotStore]] protocol. */
object StreamKmv {

  /** Sketch size — shared with the batch query so the two surfaces
    * estimate identically. */
  val K: Int = graft.ops.Sketch.KmvK

  /** First 32 md5 bits of the key as a non-negative long — the
    * [[graft.ops.Sketch.kmvDistinct]] hash, verbatim. */
  private def hashOf(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long")

  /** A batch's sketch: per-group `K` smallest distinct key hashes. */
  def batchSketch(df: DataFrame, grp: Column, key: Column): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    df.select(grp.as("grp"), hashOf(key).as("h")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("grp"), col("h"))
  }

  /** Start folding (`grp`, `key`) of the streaming frame into a
    * sketch store at `storeDir`. */
  def start(events: DataFrame, grp: Column, key: Column, storeDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(CallerSession(events.sparkSession) { (batch, batchId) =>
        batchSketch(batch, grp, key)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
        ()
      })
      .start()

  /** The merged sketch: distinct union of every batch's hashes, keep
    * the per-group `K` smallest. */
  def mergedSketch(spark: SparkSession, storeDir: String): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    spark.read.parquet(storeDir)
      .select(col("grp"), col("h")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
  }

  /** Per-group distinct estimate from the merged store: the classic
    * `(k−1)·2³² / h₍ₖ₎`, exact fallback when a group holds fewer than
    * `K` hashes (then the sketch IS the full distinct hash set). */
  def estimate(spark: SparkSession, storeDir: String): DataFrame =
    mergedSketch(spark, storeDir)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === K, col("h"))).as("kth"))
      .select(col("grp"),
        when(col("n_kept") < K, col("n_kept"))
          .otherwise(expr(s"(${K - 1} * 4294967296) DIV kth")).as("kmv_est"))

  /** Fold the store to one snapshot partition (estimates unchanged —
    * the sketch is a monoid); protocol: [[SnapshotStore]]. */
  def compact(spark: SparkSession, storeDir: String): Unit =
    SnapshotStore.compact(spark, storeDir) { paths =>
      val w = Window.partitionBy(col("grp")).orderBy(col("h"))
      spark.read.parquet(paths: _*)
        .select(col("grp"), col("h")).distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= K)
        .select(col("grp"), col("h"))
    }
}
