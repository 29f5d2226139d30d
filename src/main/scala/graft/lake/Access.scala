package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** API-key access control + usage plan for the ingest edge — the
  * engine form of the reference's `TestApiKey` / usage plan /
  * `api_key_required=True`
  * (`/root/reference/serverless_datalake/serverless_datalake_stack.py:155-167,183`):
  * every POST must present a key that is (a) registered, (b) bound to
  * the source it posts to, and (c) under its usage-plan quota.
  *
  * Both checks are RELATIONAL, which is what makes them scale-safe:
  * the key registry is a tiny broadcast-joined table (API keys are
  * human-provisioned — thousands at most), and quota enforcement is a
  * per-key window rank against the remaining budget, one hash shuffle
  * of the batch on `api_key`. Rejections are returned as data (with a
  * 401/403/429-equivalent reason column), not exceptions — the edge
  * logs them; they must never kill the stream.
  *
  * The registry stores only SHA-256 digests — the edge never persists
  * a plaintext key, so a leaked lake is not a leaked credential.
  */
object Access {

  /** Usage-plan window: one UTC day, like the reference's default
    * throttle accounting granularity. */
  private def windowOf(tsMs: Column): Column =
    to_date(timestamp_millis(tsMs)).cast("string")

  private def keyHash(key: Column): Column = sha2(key.cast("binary"), 256)

  private def registryPath(layout: Layout) = s"${layout.root}/_access/keys"
  private def usagePath(layout: Layout) = s"${layout.root}/_access/usage"

  /** Provision `apiKey` for `source` with a per-day `quota` — the
    * CreateApiKey + UsagePlan step. Append-only; the newest row per
    * key hash wins (so quota can be raised/lowered by re-registering). */
  def register(spark: SparkSession, layout: Layout, source: String,
      apiKey: String, quota: Long, registeredMs: Long): Unit = {
    import spark.implicits._
    Seq((source, apiKey, quota, registeredMs)).toDF("source", "k", "quota", "registered_ms")
      .select(col("source"), keyHash(col("k")).as("key_hash"), col("quota"), col("registered_ms"))
      .write.mode("append").parquet(registryPath(layout))
  }

  /** The effective registry: newest registration per key hash. */
  def registry(spark: SparkSession, layout: Layout): DataFrame = {
    val raw = spark.read.parquet(registryPath(layout))
    raw.groupBy(col("key_hash"))
      .agg(max(struct(col("registered_ms"), col("source"), col("quota"))).as("r"))
      .select(col("key_hash"), col("r.source").as("source"), col("r.quota").as("quota"))
  }

  /** Gate one edge batch of requests `(api_key, source, env)` against
    * the registry and the usage ledger. Returns (accepted, rejected):
    * `accepted` carries the envelope rows that may proceed to the
    * bronze buffer; `rejected` carries `(source, reason)` —
    * `missing_key` (401), `wrong_source` (403: key exists but is bound
    * to a different source), `over_quota` (429). Acceptance under
    * quota is deterministic: requests rank per key by envelope bytes,
    * and only the `quota - already_used` lowest ranks pass, so a
    * replayed batch gates identically.
    *
    * Callers then [[recordUsage]] the accepted frame — split from the
    * gate so a failed downstream write is not billed. */
  def gate(spark: SparkSession, layout: Layout, requests: DataFrame,
      nowMs: Long): (DataFrame, DataFrame) = {
    val reg = registry(spark, layout)
    val used = usedToday(spark, layout, nowMs)
    val keyed = requests
      .withColumn("key_hash", keyHash(col("api_key")))
      .join(broadcast(reg.withColumnRenamed("source", "reg_source")), Seq("key_hash"), "left")
      .join(broadcast(used), Seq("key_hash"), "left")
      .withColumn("already_used", coalesce(col("n_used"), lit(0L)))
    // bind first, THEN rank: only bindable requests may consume quota
    // slots (a wrong-source request must not push a valid one over)
    val bound = keyed.withColumn("bind_reason",
      when(col("reg_source").isNull, lit("missing_key"))
        .when(col("reg_source") =!= col("source"), lit("wrong_source")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key_hash")).orderBy(col("env"), col("source"))
    val judged = bound.filter(col("bind_reason").isNull)
      .withColumn("rk", row_number().over(w))
      .withColumn("reason",
        when(col("already_used") + col("rk") > col("quota"), lit("over_quota")))
    val accepted = judged.filter(col("reason").isNull)
      .select(col("api_key"), col("key_hash"), col("source"), col("env"))
    val rejected = bound.filter(col("bind_reason").isNotNull)
      .select(col("source"), col("bind_reason").as("reason"))
      .unionByName(judged.filter(col("reason").isNotNull)
        .select(col("source"), col("reason")))
    (accepted, rejected)
  }

  /** Bill accepted requests to the usage ledger, partitioned by UTC
    * day (`usage/day=YYYY-MM-DD/`) — the gate then reads exactly ONE
    * day partition, never the full history. Append-only: one tiny
    * parquet file per batch, so a long-lived edge runs
    * [[compactUsage]] periodically; totals are merge-by-sum, so
    * folding never changes a gate decision. */
  def recordUsage(spark: SparkSession, layout: Layout, accepted: DataFrame,
      nowMs: Long): Unit =
    accepted.groupBy(col("key_hash"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day", windowOf(lit(nowMs)))
      .write.mode("append").partitionBy("day").parquet(usagePath(layout))

  private def dayDirOf(layout: Layout, nowMs: Long): String = {
    val day = java.time.Instant.ofEpochMilli(nowMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    s"${usagePath(layout)}/day=$day"
  }

  /** Per-key accepted count for `nowMs`'s UTC day — a scan of that
    * day's partition only. */
  def usedToday(spark: SparkSession, layout: Layout, nowMs: Long): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(dayDirOf(layout, nowMs))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      return spark.range(0).select(lit("").as("key_hash"), lit(0L).as("n_used"))
    spark.read.parquet(dir.toString)
      .groupBy(col("key_hash"))
      .agg(sum(col("n")).as("n_used"))
  }

  /** Fold one UTC day's usage appends into a single file — the
    * small-files maintenance of the edge ledger, by a checked
    * two-rename swap of its own: the folded partition is written to a
    * `_`-prefixed sibling (invisible to readers), the live dir is
    * moved aside, the fold swapped in, and only then is the backup
    * deleted; every rename failure restores or preserves the
    * original. Totals are merge-by-sum, so a gate running before,
    * during (it sees either the old files or the fold, never both), or
    * after compaction decides identically.
    * Run from the maintenance cadence, not the hot path. */
  def compactUsage(spark: SparkSession, layout: Layout, nowMs: Long): Unit = {
    val dirStr = dayDirOf(layout, nowMs)
    val dir = new org.apache.hadoop.fs.Path(dirStr)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val day = dirStr.substring(dirStr.lastIndexOf('=') + 1)
    val tmp = new org.apache.hadoop.fs.Path(s"${usagePath(layout)}/_compacting_day=$day")
    val bak = new org.apache.hadoop.fs.Path(s"${usagePath(layout)}/_old_day=$day")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)
    spark.read.parquet(dirStr)
      .groupBy(col("key_hash")).agg(sum(col("n")).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(dir, bak))
      throw new java.io.IOException(s"compactUsage: cannot move $dirStr aside")
    if (!fs.rename(tmp, dir)) {
      if (!fs.rename(bak, dir))
        throw new java.io.IOException(
          s"compactUsage: swap AND restore failed — ledger preserved at $bak, manual rename required")
      throw new java.io.IOException(s"compactUsage: cannot swap in folded $dirStr (restored original)")
    }
    fs.delete(bak, true)
  }
}
