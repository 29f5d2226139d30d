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
  *  - `catalog/` — the queryable metadata table (O6/O7/O11),
  *    `partitionBy(source)` so the replay range scan prunes to one
  *    partition like DynamoDB's partition-key equality.
  *  - `distribution/` — per-source fan-out area (the SNS-topic
  *    equivalent, `serverless_datalake_stack.py:233-248`); subscribers
  *    are just readers of `distribution/source=<s>/`.
  */
final case class Layout(root: String) {
  val bronzeDir: String = s"$root/bronze"
  val lakeDir: String = s"$root/lake"
  val catalogDir: String = s"$root/catalog"
  val distributionDir: String = s"$root/distribution"
  val checkpointDir: String = s"$root/_checkpoints"

  def bronzeSourceDir(source: String): String = s"$bronzeDir/$source"
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
    val lock = new Path(lockDir, s"_compact-$source.lock")
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
      val marker = new Path(lockDir, s"_compact-$source.steal-$staleMtime")
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

/** Small-file compaction for the lake's partition dirs — streaming
  * ingest at a 60 s trigger writes one file per micro-batch per
  * source; over days that is thousands of small files per partition,
  * and at 100 TB the file-listing + per-file open cost dominates
  * scans. Compaction rewrites a partition to `targetFiles` files.
  *
  * Consistency contract (deliberately NOT claimed atomic): the swap is
  * two directory renames, so a reader that lists `source=X` in the
  * window between them sees the partition briefly ABSENT (never
  * partial, never doubled). Transient dirs are `_`-prefixed siblings —
  * Spark's file listing skips `_`/`.` paths, so whole-directory
  * partition discovery over the distribution root can never pick them
  * up as bogus partition values. All paths go through the Hadoop
  * FileSystem API, so the same code runs against HDFS/S3A, not just
  * the local FS. */
object Compaction {
  import org.apache.spark.sql.SparkSession
  import org.apache.hadoop.fs.Path

  private[lake] def transientPaths(layout: Layout, source: String): Seq[Path] = Seq(
    new Path(s"${layout.distributionDir}/_compacting_source=$source"),
    new Path(s"${layout.distributionDir}/_old_source=$source"))

  /** Reader-side detection hook for the swap window: if `source=X` is
    * absent but a transient compaction sibling exists, a swap is in
    * flight — poll until the partition reappears (the window is two
    * renames, normally sub-millisecond), and throw after `maxWaitMs`
    * so a crashed compaction surfaces as an error instead of as a
    * silently empty subscriber view. No marker + no partition is NOT
    * an error: that is a genuinely empty source. */
  def awaitQuiescent(spark: SparkSession, layout: Layout, source: String,
      maxWaitMs: Long = 10000L, pollMs: Long = 50L): Unit = {
    val dir = new Path(s"${layout.distributionDir}/source=$source")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    while (!fs.exists(dir) && transientPaths(layout, source).exists(fs.exists)) {
      if (System.nanoTime() > deadline)
        throw new java.io.IOException(
          s"subscribe($source): compaction swap appears stuck — partition absent but " +
            s"transient compaction dirs remain after ${maxWaitMs} ms; " +
            s"recover by renaming the surviving _old/_compacting dir back to source=$source")
      Thread.sleep(pollMs)
    }
  }

  /** True when an empty subscriber read is NOT trustworthy: the
    * partition dir exists (the listing must have raced the swap's
    * first rename) or a transient compaction sibling exists (a swap is
    * in flight right now). No dir + no marker = genuinely empty. */
  private[lake] def swapSuspect(spark: SparkSession, layout: Layout,
      source: String): Boolean = {
    val dir = new Path(s"${layout.distributionDir}/source=$source")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(dir) || transientPaths(layout, source).exists(fs.exists)
  }

  /** COMMITTED compaction — the manifest-log form of [[compactSource]]
    * with no reader-visible window at all: the compacted file is
    * staged and committed in ONE log record that atomically adds it
    * and removes the inputs ([[Catalog.commitDist]]), so a
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
    * is simply not in the remove set and stays live. Returns records
    * compacted (0 when already at or under `targetFiles`). */
  def compactSourceCommitted(spark: SparkSession, layout: Layout, source: String,
      targetFiles: Int = 1, lockTtlMs: Long = 10 * 60 * 1000L): Long =
    SourceLock.withLock(spark, layout, source, lockTtlMs) {
      val live = Catalog.distLiveFiles(spark, layout)
        .filter(_.startsWith(s"source=$source/"))
      if (live.size <= targetFiles) 0L
      else {
        val df = Distribution.read(spark, layout,
          live.map(rel => s"${layout.distributionDir}/$rel"): _*)
        val n = df.count()
        Catalog.commitDist(spark, layout, df.coalesce(targetFiles), removes = live)
        n
      }
    }

  def compactSource(spark: SparkSession, layout: Layout, source: String,
      targetFiles: Int = 1): Long = {
    val dirStr = s"${layout.distributionDir}/source=$source"
    val df = spark.read.format("json").load(dirStr)
    val n = df.count()
    val dir = new Path(dirStr)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // shared with awaitQuiescent so the reader-side marker check can
    // never drift from the writer-side transient names
    val Seq(tmp, bak) = transientPaths(layout, source)
    // clear leftovers of a crashed prior run BEFORE writing, so the
    // renames below cannot fail against stale targets
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)
    df.coalesce(targetFiles).write.mode("overwrite").format("json").save(tmp.toString)
    // every rename is checked: on failure the original data is intact
    // (or restorable from the backup) and we fail loudly — the one
    // unrecoverable mistake would be deleting the backup after a
    // failed swap-in.
    if (!fs.rename(dir, bak))
      throw new java.io.IOException(s"compaction: cannot move $dirStr aside")
    if (!fs.rename(tmp, dir)) {
      // the restore itself can fail (transient FS error) — then the
      // data sits only in the _-prefixed backup, which listings skip:
      // say so explicitly instead of reporting just the swap failure
      if (!fs.rename(bak, dir))
        throw new java.io.IOException(
          s"compaction: swap-in AND restore failed — data preserved at $bak, manual rename required")
      throw new java.io.IOException(s"compaction: cannot swap in compacted $dirStr (restored original)")
    }
    fs.delete(bak, true)
    n
  }
}
