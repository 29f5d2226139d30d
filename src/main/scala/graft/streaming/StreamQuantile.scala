package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming quantile store: maintain per-group p50/p90/p99 over an
  * unbounded stream in O(groups · bins) state — the third member of
  * the sketch-store family ([[StreamSketch]]: frequencies,
  * [[StreamKmv]]: cardinalities, this: order statistics), sharing
  * their contracts: per-batch overwrite-idempotent partitions, a
  * monoid merge, and the crash-safe [[SnapshotStore]] compaction.
  *
  * The sketch is a fixed-width histogram over integer-cent values
  * (`bin = cents DIV binCents`): per-batch, per-(group, bin) counts.
  * Histogram cells are a monoid under cell-wise sum, so the merged
  * store is EXACTLY the histogram a single batch pass would build —
  * stream ≡ batch bit-for-bit (pinned in StreamQuantileSpec), and
  * the quantile read is a deterministic integer function of it: the
  * rank-⌈q·n⌉ bin's lower bound. Resolution (one bin width) is the
  * only approximation; counts and ranks are exact.
  *
  * Scale: each micro-batch shuffles (group, bin) partial counts —
  * map-side combined, ≤ groups·bins rows land regardless of batch
  * size; the estimate scans batch-count × groups·bins cells until
  * [[compact]] folds them to one. This is the classic fixed-histogram
  * quantile (the t-digest/KLL role with a deliberately deterministic
  * structure — mergeable sketches whose merge is EXACT, not
  * order-dependent, so replay and parallelism cannot perturb it). */
object StreamQuantile {

  /** Bin width in integer cents — 50 value units of 100 cents. */
  val BinCents: Long = 5000L

  /** Quantiles served by [[estimate]], in ppm of the rank space. */
  val QuantilesPpm: Seq[(String, Long)] =
    Seq("p50" -> 500000L, "p90" -> 900000L, "p99" -> 990000L)

  /** A batch's histogram: per-(group, bin) row counts over integer
    * cents. Floor division on possibly-negative cents must be FLOOR
    * (Spark DIV truncates toward zero): use floor(cents / width). */
  def batchHist(df: DataFrame, grp: Column, value: Column): DataFrame =
    df.select(grp.as("grp"),
        floor(round(value * 100).cast("long") / lit(BinCents.toDouble))
          .cast("long").as("bin"))
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as("n"))

  /** Start folding (`grp`, `value`) of the streaming frame into a
    * histogram store at `storeDir`. */
  def start(events: DataFrame, grp: Column, value: Column, storeDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(CallerSession(events.sparkSession) { (batch, batchId) =>
        batchHist(batch, grp, value)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
        ()
      })
      .start()

  /** The merged histogram: cell-wise sums across every batch
    * partition (the monoid fold). */
  def mergedHist(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("grp"), col("bin"))
      .agg(sum(col("n")).as("n"))

  /** Per-group quantile estimates from the merged store: for each
    * quantile q, the LOWER BOUND in cents of the first bin whose
    * cumulative count reaches rank ⌈q·n⌉ — the deterministic
    * histogram order statistic (exact rank, bin-width resolution). */
  def estimate(spark: SparkSession, storeDir: String): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col("bin"))
    val wTot = Window.partitionBy(col("grp"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = mergedHist(spark, storeDir)
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wTot))
    val qCols = QuantilesPpm.map { case (name, ppm) =>
      // rank = ceil(ppm·total / 1e6) in pure integers
      min(when(col("cum") * 1000000L >= col("total") * ppm,
        col("bin") * BinCents)).as(s"${name}_cents")
    }
    val aggCols = max(col("total")).as("n_rows") +: qCols
    cum.groupBy(col("grp"))
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Fold the store to one snapshot partition (cell sums — estimates
    * unchanged); protocol: [[SnapshotStore]]. */
  def compact(spark: SparkSession, storeDir: String): Unit =
    SnapshotStore.compact(spark, storeDir) { paths =>
      spark.read.parquet(paths: _*)
        .groupBy(col("grp"), col("bin"))
        .agg(sum(col("n")).as("n"))
    }
}
