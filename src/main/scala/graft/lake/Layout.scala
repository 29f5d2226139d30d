package graft.lake

/** Lake directory layout. Mirrors the reference's storage design
  * (`/root/reference/serverless_datalake/serverless_datalake_stack.py:144`:
  * one object-store prefix per source) as Hive-style partition dirs,
  * which Catalyst prunes before listing at any scale.
  *
  *  - `bronze/` — raw ingested objects as arrived (gzip JSON), laid out
  *    `bronze/<source>/<object>`; the source is carried by the path,
  *    exactly like the reference's S3 key prefix.
  *  - `lake/` — canonical parquet, `partitionBy(source)`.
  *  - `catalog/` — the manifest log (`catalog/_log`) every commit
  *    claims; the queryable metadata table (O6/O7/O11) is the entry
  *    lines its records carry, with no data files of its own.
  *  - `distribution/` — per-source fan-out area (the SNS-topic
  *    equivalent, `serverless_datalake_stack.py:233-248`); its files
  *    are published, read and compacted through the manifest log
  *    ([[Distribution]]).
  */
final case class Layout(root: String) {
  val bronzeDir: String = s"$root/bronze"
  val lakeDir: String = s"$root/lake"
  val catalogDir: String = s"$root/catalog"
  val distributionDir: String = s"$root/distribution"
  val checkpointDir: String = s"$root/_checkpoints"

  def bronzeSourceDir(source: String): String = s"$bronzeDir/$source"
}

object Layout {

  /** The directory, relative to its area, that a `partitionBy("source")`
    * write puts `source`'s files in: `source=<v>`, with `v` escaped the
    * way Spark escapes partition values (`a:b` is `source=a%3Ab`; null
    * and the empty string go to Hive's default partition). Every
    * reader, lock and rewrite that names a source's directory builds
    * it here. */
  def sourceDir(source: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString("source", source)
}

/** Thrown when a [[SourceLock]] acquisition times out because another
  * maintenance job holds the mutex — the BENIGN contention outcome.
  * A typed class (not an error-message substring) so best-effort
  * callers like auto-compaction can skip silently without coupling to
  * the message text, while real lock-path failures stay loud. */
final class LockBusyException(msg: String) extends java.io.IOException(msg)

/** Per-source maintenance mutex shared by committed compaction and the
  * erase rewrite legs: both read a snapshot of the live file set and
  * later commit `adds + removes(snapshot)` — two such writers racing on
  * one source would each commit adds for the same inputs (doubled
  * records), and an erase racing a compaction would leave the
  * compacted file live while re-adding rewritten copies of its inputs
  * (the erased subject survives). A stale lock from a crashed holder is
  * stealable after `lockTtlMs`. */
private[lake] object SourceLock {
  import org.apache.spark.sql.SparkSession
  import org.apache.hadoop.fs.{FileSystem, Path}

  def withLock[T](spark: SparkSession, layout: Layout, source: String,
      lockTtlMs: Long = 10 * 60 * 1000L, waitMs: Long = 0L)(body: => T): T = {
    val fs = new Path(s"${layout.catalogDir}/_log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLockFs(fs, layout, source, lockTtlMs, waitMs)(body)
  }

  /** Run `body` holding the `_compact-<source>.lock` mutex. Waits up to
    * `waitMs` for a contended lock (0 = fail immediately with
    * [[LockBusyException]], the compaction posture: a maintenance job
    * skipping a busy source is fine; an ERASE must not silently skip,
    * so erase waits).
    *
    * Acquisition is an ATOMIC exclusive create, not check-then-act,
    * DISPATCHED THROUGH THE SAME PER-STORE SEAM AS EVERY MANIFEST-LOG
    * CLAIM ([[Catalog.exclusiveCreate]]): hard-link claim on the local
    * FS, `create(overwrite=false)` where a namenode arbitrates it
    * (HDFS-like), and the registered conditional-PUT committer on
    * object-store schemes — where the pre-round-14 direct
    * `fs.create(p, false)` was exists()-then-PUT, so two JVMs could
    * both "hold" a lock that is LOAD-BEARING for correctness
    * (`excludeCommittedDvRows` relies on "the committed DV set cannot
    * move" under it to stop two DELETEs committing the same
    * `(file, pos)` twice, double-retracting the CDF). A scheme with no
    * atomic primitive and no registered committer REFUSES LOUD, exactly
    * like a log claim would. An ambiguity the committer cannot resolve
    * (IOException after its retry budget) counts as NOT ACQUIRED: worst
    * case our PUT landed and the lock file orphans holder-less until
    * the TTL steal — the documented TTL-lock hazard, never a double
    * hold. Lock bodies are writer-unique so read-back arbitration of an
    * ambiguous PUT is sound.
    *
    * The round-10 overwrite-token protocol (write, sleep, read back) had
    * two real defects the stress spec reproduced: a racer's re-create
    * mid-read escaped as a ChecksumException from the maintenance job,
    * and mutual back-off could ORPHAN the lock file (exists, fresh
    * mtime, no holder) — starving every contender until the TTL. With
    * exclusive create the file exists iff a holder owns it, so neither
    * failure mode exists. Stealing a stale lock is arbitrated by a
    * MARKER file keyed by the stale lock's mtime — its incarnation
    * identity: atomic create of the marker grants exactly one stealer
    * the right to delete exactly that incarnation (a rename-based claim
    * was tried and rejected: the staleness-check→rename window can
    * contain another stealer's entire steal-plus-create, so the rename
    * grabs a FRESH holder's lock). The one accepted hazard is inherent
    * to every TTL lock: a live holder stalled past the TTL can be
    * stolen from; callers size lockTtlMs far above any legitimate
    * critical-section duration. */
  private[lake] def withLockFs[T](fs: FileSystem, layout: Layout,
      source: String, lockTtlMs: Long = 10 * 60 * 1000L,
      waitMs: Long = 0L)(body: => T): T = {
    val lockDir = new Path(s"${layout.catalogDir}/_log")
    fs.mkdirs(lockDir)
    // the source escaped like its directory: a raw `a:b` is no file name
    val name = Layout.sourceDir(source).stripPrefix("source=")
    val lock = new Path(lockDir, s"_compact-$name.lock")
    def atomicCreate(p: Path): Boolean =
      // seam dispatch (local hard-link / HDFS create / registered
      // committer / LOUD UnsupportedOperationException — propagated).
      // IOException = the committer exhausted its ambiguity budget:
      // treat as not-acquired (see scaladoc), never as held.
      try Catalog.exclusiveCreate(fs, p,
        s"holder ${java.util.UUID.randomUUID()}")
      catch { case _: java.io.IOException => false }
    def mtimeOf(p: Path): Option[Long] =
      try Some(fs.getFileStatus(p).getModificationTime)
      catch { case _: java.io.IOException => None }
    def trySteal(staleMtime: Long): Unit = {
      val marker = new Path(lockDir, s"_compact-$name.steal-$staleMtime")
      if (atomicCreate(marker)) {
        try {
          // delete ONLY the incarnation the marker names: a fresh lock
          // acquired since the staleness check has a different mtime
          // and must survive
          if (mtimeOf(lock).contains(staleMtime)) fs.delete(lock, false)
        } finally fs.delete(marker, false)
      } else {
        // a crashed stealer's leftover marker: it only ever blocked the
        // steal of one dead incarnation — clear it once stale itself
        if (mtimeOf(marker).exists(m => System.currentTimeMillis() - m > lockTtlMs))
          fs.delete(marker, false)
      }
    }
    def tryLock(): Boolean =
      atomicCreate(lock) || {
        mtimeOf(lock)
          .filter(m => System.currentTimeMillis() - m > lockTtlMs)
          .foreach(trySteal)
        // whether or not we won a steal, compete fairly for the create
        atomicCreate(lock)
      }
    val deadline = System.currentTimeMillis() + waitMs
    var locked = tryLock()
    while (!locked && System.currentTimeMillis() < deadline) {
      Thread.sleep(50 + scala.util.Random.nextInt(50))
      locked = tryLock()
    }
    if (!locked)
      throw new LockBusyException(
        s"SourceLock($source): another maintenance job holds the lock")
    try body finally fs.delete(lock, false)
  }
}

/** Small-file compaction for the distribution area — streaming
  * ingest at a 60 s trigger writes one file per micro-batch per
  * source; over days that is thousands of small files per partition,
  * and at 100 TB the per-file open cost dominates reads. Compaction
  * rewrites a source's committed-live files to `targetFiles` files
  * ([[compactSourceCommitted]]). All paths go through the Hadoop
  * FileSystem API, so the same code runs against HDFS/S3A, not just
  * the local FS. */
object Compaction {
  import org.apache.spark.sql.SparkSession

  /** COMMITTED compaction with no reader-visible window: the
    * compacted file is staged and committed in ONE log record that
    * atomically adds it and removes the inputs
    * ([[Catalog.commitDist]]), so a
    * [[Distribution.subscribeSnapshot]] reader concurrent with the
    * compaction (or with a replay publishing new files) sees either
    * the old file set or the new one — byte-identical content either
    * way. Old files are only logically removed here; physical space is
    * reclaimed by [[Catalog.vacuumDist]] after its grace period, so a
    * reader that already planned against the old snapshot finishes.
    *
    * Concurrent COMPACTIONS of the same source are serialized by a
    * stale-stealable lock file (two compactions reading the same
    * inputs would otherwise both commit adds for the same content —
    * doubled records); concurrent PUBLISHES need no lock: a file
    * committed between this compaction's snapshot read and its commit
    * is simply not in the remove set and stays live.
    *
    * One read of the inputs: the live files are planned from the log
    * ([[Distribution.read]]; no listing), and the returned count is
    * the rows its write tasks report ([[Catalog.commitDist]]), which the
    * record also logs as the new file's rows, so a subscriber's
    * `count(*)` stays a log lookup after compaction. Returns records
    * compacted (0 when already at or under `targetFiles`). */
  def compactSourceCommitted(spark: SparkSession, layout: Layout, source: String,
      targetFiles: Int = 1, lockTtlMs: Long = 10 * 60 * 1000L): Long =
    SourceLock.withLock(spark, layout, source, lockTtlMs) {
      val live = Catalog.distSourceAsOf(spark, layout, source, Long.MaxValue)
      if (live.files.size <= targetFiles) 0L
      else Catalog.commitDist(spark, layout,
        Distribution.read(spark, layout, source, live.statuses, rows = None).coalesce(targetFiles),
        removes = live.files.map(_._1))
    }
}
