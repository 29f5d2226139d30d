package graft.ops

import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Lineage truncation for plans that would otherwise re-execute a
  * shared subtree per consumer (self-joined indexes, iterative
  * frontiers, multi-branch histograms), with a DURABILITY POSTURE FLAG:
  *
  *  - default (`spark.graft.durableTruncate` unset/false):
  *    `localCheckpoint(eager = false)` — partitions land in executor
  *    storage at the FIRST action, zero extra I/O, and explain-only
  *    consumers (plan dumps, audits) never execute anything. Right for
  *    local mode; on a multi-executor cluster a lost executor may fail
  *    the job (localCheckpoint severs the recompute lineage, so
  *    executor loss IS job loss) — use the durable posture there.
  *  - durable (`spark.graft.durableTruncate=true`): a parquet
  *    round-trip under `spark.graft.truncateDir` (defaults to the JVM
  *    tmpdir locally; point it at job scratch on shared storage for a
  *    real cluster) — the [[Artifacts]] posture applied to iteration
  *    state: any executor can re-read it, so one executor loss
  *    mid-iteration costs a task retry, not the whole PageRank/BFS/
  *    band-tune run.
  *
  * Both paths return a frame with identical rows and a truncated
  * lineage; the flag changes fault tolerance, never results.
  *
  * `spark.graft.truncate.enabled=false` disables truncation entirely
  * (identity) — for plan audits that must see the full lineage below
  * the cut. Results are identical either way, only the number of times
  * shared subtrees execute changes.
  *
  * STORAGE DISCIPLINE (round 15): checkpointed blocks live in executor
  * storage until released. A long-lived JVM running many queries (the
  * bench, Verify) must call [[release]] after each query's action, or
  * the blocks accumulate — measured r14→r15: a full 228-query bench
  * run without release ended with multi-GB of dead MEMORY_AND_DISK
  * blocks evicting each other, a global slowdown. Callers must only
  * release frames they are completely done with: a released local
  * checkpoint cannot be recomputed (the lineage is gone).
  *
  * The same contract binds any long-lived JVM (a service, a notebook
  * kernel, a streaming driver): nothing releases on its own, so the
  * registered ids and their blocks grow with every truncating query
  * until the JVM calls [[release]] between its queries. */
object Truncate {

  /** True when the durable posture is on for this session. */
  def durable(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.durableTruncate", "false").toBoolean

  /** True unless truncation is disabled for this session. */
  def enabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.truncate.enabled", "true").toBoolean

  /** Ids of checkpointed RDDs this JVM created and has not yet
    * released (resolved against `getPersistentRDDs` at release time,
    * so an already-GC'd or already-unpersisted id is a no-op). */
  private val liveRddIds =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Integer]()

  /** Truncate `df`'s lineage per the session posture. `tag` names the
    * scratch dir (uniquified per call — iterations never overwrite a
    * frame a later stage still reads). Every scratch dir is registered
    * for JVM-exit deletion (`FileSystem.deleteOnExit`), so iterative
    * callers (PageRank per 5 iters, BFS per hop, MMR per pick) cannot
    * leak dirs ACROSS runs; within a run they stay readable — a later
    * stage may still scan an earlier iteration's frame. A long-lived
    * service JVM that never exits should point `spark.graft.truncateDir`
    * at job-scoped scratch and reclaim it per job. */
  def apply(df: DataFrame, tag: String): DataFrame = apply(df, tag, big = false)

  /** As [[apply]]; `big = true` marks a checkpoint whose row count
    * scales with token/shingle POSITIONS rather than documents (the
    * substring-overlap window table, shingle sets, bigram postings).
    * Locally these fit and keep the default level; on a cluster point
    * `spark.graft.truncate.bigStorageLevel` at DISK_ONLY so a
    * corpus-scale checkpoint can never evict execution memory —
    * the level changes cost, never results. */
  def apply(df: DataFrame, tag: String, big: Boolean): DataFrame =
    if (!enabled(df)) df
    else if (!durable(df)) {
      // lazy: materializes inside the first consuming job (one compute
      // per partition — the block manager serializes concurrent
      // readers per block), so construction/explain stays free.
      // localCheckpoint registers its persist immediately, so the id
      // diff around the call captures exactly the new checkpoint RDD.
      val sc = df.sparkSession.sparkContext
      val level = org.apache.spark.storage.StorageLevel.fromString(
        if (big) df.sparkSession.conf.get(
          "spark.graft.truncate.bigStorageLevel", "MEMORY_AND_DISK")
        else "MEMORY_AND_DISK")
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(false, level)
      (sc.getPersistentRDDs.keySet -- before).foreach(id =>
        liveRddIds.add(Int.box(id)))
      out
    } else {
      val spark = df.sparkSession
      val root = spark.conf.get("spark.graft.truncateDir",
        s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft-truncate")
      val dir = s"$root/$tag-${java.util.UUID.randomUUID().toString.take(8)}"
      df.write.mode("overwrite").parquet(dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(p)
      spark.read.parquet(dir)
    }

  /** Unpersist every checkpoint block [[apply]] created since the last
    * release — harness hygiene BETWEEN queries (never mid-query: a
    * released local checkpoint cannot be recomputed). Returns the
    * number of RDDs released. */
  def release(): Int = {
    val persisted = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.getPersistentRDDs)
      .getOrElse(Map.empty[Int, org.apache.spark.rdd.RDD[_]])
    var n = 0
    var id = liveRddIds.poll()
    while (id != null) {
      persisted.get(id.intValue()).foreach { rdd =>
        try { rdd.unpersist(false); n += 1 }
        catch { case NonFatal(_) => () } // context stopped: nothing to free
      }
      id = liveRddIds.poll()
    }
    n
  }
}
