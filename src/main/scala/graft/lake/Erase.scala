package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path

/** Record-level right-to-erasure (GDPR art. 17) across every copy the
  * lake holds of a subject's records: the raw BRONZE objects, the
  * canonical LAKE parquet, and the DISTRIBUTION fan-out area. The
  * reference has no erasure story at all (S3 objects are immutable
  * blobs; a delete request would mean manual object surgery) — this is
  * the operation a production deployment is legally required to run,
  * so it is first-class here.
  *
  * Design constraints honored:
  *  - **Object keys are stable.** Bronze objects are rewritten IN
  *    PLACE (same key, matching records removed), so every catalog row
  *    and replay reference stays valid; an object whose records are
  *    all erased becomes an EMPTY object, not a deleted key. The
  *    catalog is metadata (source, ts, key) — it carries no subject
  *    data and is untouched.
  *  - **Bounded driver state.** The affected-object search is a
  *    distributed scan; only the matched KEYS are collected, capped at
  *    `maxAffectedObjects` with a loud failure (the [[Replay]]
  *    `maxCollectedKeys` rule).
  *  - **Atomic per object.** Each bronze rewrite is
  *    write-temp → original→trash → temp→original → drop trash; file
  *    renames are atomic, both transient names are `_`-prefixed
  *    (invisible to readers), and a crash leaves either the intact
  *    original or a finished rewrite plus sweepable `_` files — never
  *    a partial object. The lake and distribution rewrites are each
  *    one manifest-log commit that adds the rewritten files and
  *    removes the old ones, so a snapshot reader sees the partition
  *    before or after, never partial.
  *  - **Schema-on-read erasure predicate.** Bronze/lake/distribution
  *    all store the payload as JSON text, and the reference never
  *    validates payloads — so the predicate is a function over the raw
  *    record string. [[jsonFieldEquals]] builds the common
  *    "field == value" predicate with a real JSON parse (Jackson, from
  *    Spark's own classpath), robust to key order and whitespace.
  *
  * Scale: the search is one pruned partition scan; rewrites touch only
  * matched objects, in parallel (one task per object, objects are
  * Firehose-buffer bounded ~10 MB); the partition rewrites are one
  * filter+write each. Nothing is driver-side except the matched key
  * list and the final counts.
  *
  * **The three storage legs above are NOT the whole erasure surface.**
  * Two more places hold a subject's bytes/values, each with its own
  * tested mechanism, and [[eraseEverywhere]] orchestrates all of them
  * in one call:
  *  - **Shared derived artifacts** (`shared/…`: near-dup pair tables,
  *    PQ codes, IVF assignments): corpus-fingerprint-keyed, so the
  *    subject's derived rows survive in the PRE-erase key's dirs after
  *    any corpus rewrite — [[graft.ops.Artifacts.eraseKeys]] (known
  *    stale keys) / [[graft.ops.Artifacts.vacuumFor]] (retention to
  *    the live corpus) delete them.
  *  - **Maintained views** ([[Mv]]): an incrementally-maintained
  *    aggregate keeps the erased rows' contribution (for tracked
  *    extrema, possibly the erased VALUE itself). The lake leg stamps
  *    its rewrite commit with the `"erase"` note, so [[Mv.refresh]]
  *    self-heals by rebuilding — and [[eraseEverywhere]] rebuilds
  *    registered views immediately rather than at next refresh. */
object Erase {

  final case class EraseReport(
      source: String,
      bronzeObjectsRewritten: Long,
      bronzeRecordsDropped: Long,
      lakeRowsDropped: Long,
      distributionRecordsDropped: Long) {
    def totalDropped: Long =
      bronzeRecordsDropped + lakeRowsDropped + distributionRecordsDropped
  }

  /** Predicate: does this JSON record's top-level `field` equal
    * `value` (string compare of the JSON value's text form)? Parses
    * with Jackson — key order, whitespace, and escaping cannot fool
    * it the way a substring match would. Malformed records never
    * match (they are not the subject's data provably, and erasure
    * must not destroy what it cannot attribute). */
  def jsonFieldEquals(field: String, value: String): String => Boolean =
    new JsonFieldEquals(field, value)

  /** Serializable predicate with a per-JVM lazy mapper (ObjectMapper
    * itself is not serializable; rebuilding it per record would
    * dominate the rewrite cost). */
  private final class JsonFieldEquals(field: String, value: String)
      extends (String => Boolean) with Serializable {
    @transient private lazy val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()
    override def apply(json: String): Boolean =
      try {
        val v = mapper.readTree(json).path(field)
        !v.isMissingNode && v.asText() == value
      } catch { case _: Exception => false }
  }

  /** Distribution-line adapter: a published row carries the original
    * record as its `json` string field — apply the subject predicate
    * to that payload; rows without one (foreign schemas) are matched
    * on the whole line. */
  private final class DistLineMatches(matches: String => Boolean)
      extends (String => Boolean) with Serializable {
    @transient private lazy val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()
    override def apply(line: String): Boolean =
      try {
        val payload = mapper.readTree(line).path("json")
        if (payload.isTextual) matches(payload.asText()) else matches(line)
      } catch { case _: Exception => matches(line) }
  }

  // --------------------------------------------------------------------
  // Tombstones: standing erasure for FUTURE arrivals
  // --------------------------------------------------------------------

  /** A standing erasure rule: records of `source` whose top-level
    * `field` equals `value` are dropped at streaming intake
    * ([[graft.streaming.StreamIngest.processBatch]] applies the
    * current set to every micro-batch). [[eraseWhere]] clears the
    * copies that already exist; a tombstone stops new ones — together
    * they are complete erasure under continuous ingestion. */
  final case class Tombstone(source: String, field: String, value: String)

  def tombstonesDir(layout: Layout): String = s"${layout.root}/_tombstones"

  /** Register a tombstone (one tiny json file, atomic create). */
  def addTombstone(spark: SparkSession, layout: Layout, t: Tombstone): Unit = {
    val dir = new Path(tombstonesDir(layout))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("source", t.source); node.put("field", t.field); node.put("value", t.value)
    val p = new Path(dir, s"ts-${java.util.UUID.randomUUID().toString.take(12)}.json")
    val out = fs.create(p, false)
    try out.write(m.writeValueAsBytes(node)) finally out.close()
  }

  /** The current tombstone set (driver-side; erasure registries are
    * human-scale — thousands, not billions). */
  def tombstones(spark: SparkSession, layout: Layout): Seq[Tombstone] = {
    val dir = new Path(tombstonesDir(layout))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".json")).toSeq
      .sortBy(_.getPath.getName)
      .map { st =>
        val in = fs.open(st.getPath)
        val node = try m.readTree(in) finally in.close()
        Tombstone(node.path("source").asText(), node.path("field").asText(),
          node.path("value").asText())
      }
  }

  /** Apply pending tombstones to HISTORY and RE-apply them to late
    * bronze arrivals — the maintenance half of erasure automation, run
    * on a cadence. The intake gate keeps matched records out of the
    * catalog and distribution from the moment a tombstone lands, but
    * the raw BRONZE objects are written by the external producer
    * upstream of the gate — so an object landing AFTER a tombstone's
    * first application can still carry the subject's raw records.
    * Hence each application records a WATERMARK (the `.applied`
    * sibling's content = the scan-start epoch-millis), and every
    * subsequent run re-applies the tombstone to bronze objects
    * modified since `watermark − reapplySlackMs` (the slack absorbs
    * clock skew between the producer and this job), then advances the
    * watermark. Idempotent at every step ([[eraseWhere]] and
    * [[rewriteObject]] match nothing on a re-run); a crash between
    * erase and marker just re-runs a no-op erase.
    *
    * Returns the number of tombstones that DID WORK this run: first
    * applications, plus re-applications that dropped at least one
    * late-arriving record. A quiescent re-run returns 0. */
  def applyTombstones(spark: SparkSession, layout: Layout,
      reapplySlackMs: Long = 60000L): Long = {
    val dir = new Path(tombstonesDir(layout))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val names = fs.listStatus(dir).map(_.getPath.getName).toSet
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    var applied = 0L
    names.filter(_.endsWith(".json")).toSeq.sorted.foreach { n =>
      val markerName = n.stripSuffix(".json") + ".applied"
      val marker = new Path(dir, markerName)
      val in = fs.open(new Path(dir, n))
      val node = try m.readTree(in) finally in.close()
      val source = node.path("source").asText()
      val pred = jsonFieldEquals(node.path("field").asText(), node.path("value").asText())
      val startMs = System.currentTimeMillis()
      def writeMarker(): Unit = {
        val out = fs.create(marker, true)
        try out.write(startMs.toString.getBytes("UTF-8")) finally out.close()
      }
      if (!names.contains(markerName)) {
        eraseWhere(spark, layout, source, pred)
        writeMarker()
        applied += 1
      } else {
        // re-apply the BRONZE leg to objects newer than the watermark
        // (catalog/distribution arrivals are already gated at intake)
        val wmIn = fs.open(marker)
        val wm = try scala.io.Source.fromInputStream(wmIn, "UTF-8").mkString.trim
          .toLongOption.getOrElse(0L) finally wmIn.close()
        val dropped = eraseBronzeModifiedSince(spark, layout, source, pred,
          wm - reapplySlackMs)
        writeMarker() // advance the watermark even when nothing matched
        if (dropped > 0) applied += 1
      }
    }
    applied
  }

  /** Re-apply an erasure predicate to bronze objects of `source`
    * modified at or after `cutoffMs` — the bounded re-application leg
    * of [[applyTombstones]]: only late arrivals are read, one rewrite
    * task per object. Returns records dropped. */
  private def eraseBronzeModifiedSince(spark: SparkSession, layout: Layout,
      source: String, matches: String => Boolean, cutoffMs: Long): Long = {
    val dir = new Path(layout.bronzeSourceDir(source))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    val recent = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") && st.getModificationTime >= cutoffMs)
      .map(_.getPath.toString)
    if (recent.isEmpty) return 0L
    val conf = org.apache.spark.graft.ConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext
      .parallelize(recent.toSeq, math.min(recent.length, 64))
      .map(key => rewriteObject(conf.value, key, matches))
      .sum().toLong
  }

  /** Serializable (source, json) => drop? matcher over a tombstone
    * set — predicates are prebuilt once, not per record. */
  def recordMatcher(ts: Seq[Tombstone]): (String, String) => Boolean = {
    val bySource: Map[String, Seq[String => Boolean]] =
      ts.groupBy(_.source).map { case (s, rules) =>
        s -> rules.map(r => jsonFieldEquals(r.field, r.value))
      }
    (source, json) => bySource.get(source).exists(_.exists(_(json)))
  }

  /** Erase every record of `source` matching `matches` from bronze,
    * lake, and distribution. Idempotent: a second run matches nothing
    * and rewrites nothing. */
  def eraseWhere(spark: SparkSession, layout: Layout, source: String,
      matches: String => Boolean, maxAffectedObjects: Int = 100000): EraseReport = {
    val bronzeStats = eraseBronze(spark, layout, source, matches, maxAffectedObjects)
    // the lake/distribution rewrite legs hold the per-source
    // maintenance lock: a compactSourceCommitted committing between
    // this erase's file-set snapshot and its own commit would leave
    // the compacted add live while the erase re-adds rewritten copies
    // of the same inputs — doubled content AND the erased subject
    // surviving in the still-live compacted file. Erase WAITS for a
    // contended lock (up to 10 min) rather than failing: skipping an
    // erasure is not an option.
    val (lakeDropped, distDropped) =
      SourceLock.withLock(spark, layout, source, waitMs = 10 * 60 * 1000L) {
        val lk = eraseLake(spark, layout, source, matches)
        val distDir = new Path(Distribution.topicPath(layout, source))
        val dist =
          if (distDir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(distDir))
            eraseDistribution(spark, layout, source, matches)
          else 0L
        (lk, dist)
      }
    EraseReport(source, bronzeStats._1, bronzeStats._2, lakeDropped, distDropped)
  }

  /** A maintained view registered for post-erase rebuild — the
    * [[Mv]] parameters that identify one view. */
  final case class MvRef(stateDir: String, keyCols: Seq[String],
      valueCol: String, trackExtrema: Boolean = false)

  final case class EraseEverywhereReport(
      lake: EraseReport,
      artifactDirsDeleted: Long,
      mvsRebuilt: Long)

  /** COMPLETE erasure in one call — the orchestration over the five
    * places a subject's data can live:
    *
    *  1. bronze + lake + distribution via [[eraseWhere]] (the lake leg
    *     stamps the `"erase"` commit note);
    *  2. shared derived artifacts: [[graft.ops.Artifacts.eraseKeys]]
    *     for `staleArtifactKeys` — the pre-erase corpus fingerprints,
    *     captured by the caller BEFORE rewriting a derived corpus
    *     (e.g. via [[graft.ops.Artifacts.liveKeysFor]]) — plus
    *     [[graft.ops.Artifacts.vacuumFor]] retention for each of
    *     `corpusDirs` (keeps only the now-live fingerprints, so every
    *     stale key goes even when the caller didn't record it);
    *  3. maintained views: every view in the layout's registry
    *     ([[Mv.registered]] — populated automatically by every
    *     refresh/rebuild, flat AND joined) is rebuilt from the
    *     post-erase snapshot via [[Mv.rebuildView]], immediately — no
    *     caller knowledge needed. `mvs` remains for state dirs
    *     maintained by pre-registry code; a view in neither place
    *     still self-heals at its next [[Mv.refresh]] via the commit
    *     note.
    *
    * Steps 2–3 are each idempotent and independently safe to re-run;
    * a crash mid-call re-runs the whole thing (step 1 re-matches
    * nothing). Tombstones for FUTURE arrivals remain a separate,
    * standing registration ([[addTombstone]]) — this call clears what
    * exists now. */
  def eraseEverywhere(spark: SparkSession, layout: Layout, source: String,
      matches: String => Boolean,
      staleArtifactKeys: Set[String] = Set.empty,
      corpusDirs: Seq[String] = Seq.empty,
      artifactRoot: String = graft.ops.Artifacts.sharedRoot,
      mvs: Seq[MvRef] = Seq.empty,
      maxAffectedObjects: Int = 100000): EraseEverywhereReport = {
    val lakeReport = eraseWhere(spark, layout, source, matches, maxAffectedObjects)
    val erasedDirs = graft.ops.Artifacts.eraseKeys(spark, staleArtifactKeys, artifactRoot)
    val vacuumed = corpusDirs
      .map(d => graft.ops.Artifacts.vacuumFor(spark, d, artifactRoot)).sum
    // registry first (it knows joined-view geometry); explicit MvRefs
    // only add state dirs the registry has never seen
    val views = (Mv.registered(spark, layout) ++
      mvs.map(m => Mv.ViewDef(m.stateDir, m.keyCols, m.valueCol, m.trackExtrema)))
      .foldLeft(Vector.empty[Mv.ViewDef]) { (acc, v) =>
        if (acc.exists(_.stateDir == v.stateDir)) acc else acc :+ v
      }
    views.foreach(v => Mv.rebuildView(spark, layout, v))
    EraseEverywhereReport(lakeReport, erasedDirs + vacuumed, views.size.toLong)
  }

  /** Bronze leg: distributed search for affected objects, then one
    * rewrite task per object. Returns (objects rewritten, records
    * dropped). */
  private def eraseBronze(spark: SparkSession, layout: Layout, source: String,
      matches: String => Boolean, maxAffectedObjects: Int): (Long, Long) = {
    import spark.implicits._
    val bronzeDir = new Path(layout.bronzeSourceDir(source))
    if (!bronzeDir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(bronzeDir))
      return (0L, 0L) // derived-only source: nothing raw to rewrite
    val affected = Ingest.readBronzeSource(spark, layout, source)
      .as[(String, String, String)]
      .filter(r => matches(r._3))
      .map(_._2).distinct()
    val keys = affected.limit(maxAffectedObjects + 1).collect()
    if (keys.length > maxAffectedObjects)
      sys.error(s"Erase($source): more than $maxAffectedObjects affected objects — " +
        "raise the cap or erase in key-range slices")
    if (keys.isEmpty) return (0L, 0L)
    val conf = org.apache.spark.graft.ConfBridge.serializable(
      spark.sparkContext.hadoopConfiguration)
    val dropped = spark.sparkContext
      .parallelize(keys.toSeq, math.min(keys.length, 64))
      .map { key => rewriteObject(conf.value, key, matches) }
      .sum().toLong
    (keys.length.toLong, dropped)
  }

  /** Rewrite one bronze object in place, removing matching records.
    * Returns the number of records dropped. Runs inside a task. */
  private[lake] def rewriteObject(conf: org.apache.hadoop.conf.Configuration,
      key: String, matches: String => Boolean): Long = {
    val path = new Path(key)
    val fs = path.getFileSystem(conf)
    val gz = key.endsWith(".gz")
    // read + split
    val in = fs.open(path)
    val content = try {
      val stream = if (gz) new java.util.zip.GZIPInputStream(in) else in
      new String(stream.readAllBytes(), "UTF-8")
    } finally in.close()
    val records = ConcatJson.split(content)
    val kept = records.filterNot(matches)
    if (kept.length == records.length) return 0L
    // write temp (invisible `_` name), then atomic double-rename swap
    val dir = path.getParent
    val tmp = new Path(dir, s"_erase-${path.getName}")
    val trash = new Path(dir, s"_trash-${path.getName}")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    if (fs.exists(trash)) fs.delete(trash, false)
    val out = fs.create(tmp, true)
    try {
      val stream: java.io.OutputStream =
        if (gz) new java.util.zip.GZIPOutputStream(out) else out
      stream.write(kept.mkString.getBytes("UTF-8"))
      stream.close()
    } catch { case e: Exception => out.close(); throw e }
    if (!fs.rename(path, trash))
      throw new java.io.IOException(s"erase: cannot move $key aside")
    if (!fs.rename(tmp, path)) {
      if (!fs.rename(trash, path))
        throw new java.io.IOException(
          s"erase: swap-in AND restore failed for $key — data preserved at $trash")
      throw new java.io.IOException(s"erase: cannot swap in rewritten $key (restored)")
    }
    fs.delete(trash, false)
    (records.length - kept.length).toLong
  }

  /** Distribution leg, LOG-COMMITTED (round-7): the rewrite lands as
    * one manifest-log commit — adds = the filtered files, removes =
    * the pre-rewrite file set — so [[Distribution.subscribeSnapshot]]
    * readers and concurrent committed publishes/compactions are never
    * raced (the old dir-swap could delete a file a concurrent replay
    * appended between the read and the swap). Differences from normal
    * maintenance ([[Compaction.compactSourceCommitted]]):
    *  - the content read and the physical deletion are pinned to the
    *    file list SNAPSHOTTED up front, so files published
    *    concurrently are neither doubled nor destroyed (their records
    *    are already gated at intake by the tombstone);
    *  - old files are deleted IMMEDIATELY after the commit, not
    *    vacuum-deferred — erasure is a legal deletion, and an
    *    in-flight reader of the old snapshot failing mid-read is the
    *    correct trade;
    *  - raw JSON lines are kept byte-identical (staged as text and
    *    renamed to `.json`), so unknown record schemas survive.
    * The CALLER ([[eraseWhere]]) holds the per-source [[SourceLock]],
    * serializing this rewrite against [[Compaction.compactSourceCommitted]]
    * — without it a compaction committing between this leg's file-set
    * snapshot and its commit would keep the subject alive in the
    * compacted file. Returns records dropped. */
  private def eraseDistribution(spark: SparkSession, layout: Layout, source: String,
      matches: String => Boolean): Long = {
    val part = Layout.sourceDir(source)
    val dir = new Path(s"${layout.distributionDir}/$part")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // snapshot the physical file list: the content read, the log
    // removes, and the deletion all operate on exactly this set.
    // CRASH RULE: a file the log already marks REMOVED is logically
    // dead — its content lives in the commit that removed it (a
    // previous erase/compaction that crashed before its physical
    // delete). Re-reading it would DOUBLE that content, so it is
    // finished off (deleted) here instead of read.
    val removed = Catalog.distRemovedFiles(spark, layout)
    val (dead, oldFiles) = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
      .partition(p => removed.contains(s"$part/${p.getName}"))
    dead.foreach(p => fs.delete(p, false)) // finish the interrupted delete
    if (oldFiles.isEmpty) return 0L
    val lineMatches = new DistLineMatches(matches)
    val df = spark.read.textFile(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(oldFiles.map(_.toString)): _*)
    val total = df.count()
    val keptDf = df.filter(line => !lineMatches(line))
    val keptCount = keptDf.count()
    if (keptCount == total) return 0L
    // stage kept lines byte-identically as source=X/*.json
    val uuid = java.util.UUID.randomUUID().toString
    val stageTmp = new Path(s"${layout.distributionDir}/_staged/$uuid-txt")
    val stagePart = new Path(s"${layout.distributionDir}/_staged/$uuid/$part")
    keptDf.write.mode("overwrite").text(stageTmp.toString)
    fs.mkdirs(stagePart)
    fs.listStatus(stageTmp)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .foreach { st =>
        val name = st.getPath.getName.replaceAll("\\.txt$", "") + ".json"
        if (!fs.rename(st.getPath, new Path(stagePart, name)))
          throw new java.io.IOException(s"erase: cannot stage ${st.getPath}")
      }
    fs.delete(stageTmp, true)
    val removes = oldFiles.map(p => s"$part/${p.getName}").toSeq
    // the kept count is the rewrite's rows: a subscriber counts from the log
    Catalog.commitDistPrestaged(spark, layout, uuid, removes, rows = Seq(part -> keptCount))
    // erasure deletes NOW (no vacuum grace): the subject's bytes must go
    oldFiles.foreach(p => fs.delete(p, false))
    total - keptCount
  }

  /** Lake leg, LOG-COMMITTED (mirrors [[eraseDistribution]]): the
    * rewrite is one manifest-log commit — adds = the filtered parquet,
    * removes = the snapshotted pre-rewrite file set — with immediate
    * physical deletion of the old files (erasure is legal deletion,
    * not maintenance). Files committed concurrently are neither read,
    * doubled, nor destroyed; directory readers of `lake/source=X`
    * stay correct because the rewrite lands under the same partition
    * dir. Runs under the caller's per-source [[SourceLock]], like the
    * distribution leg. Returns rows dropped. */
  private def eraseLake(spark: SparkSession, layout: Layout, source: String,
      matches: String => Boolean): Long = {
    import spark.implicits._
    val part = Layout.sourceDir(source)
    val dirStr = s"${layout.lakeDir}/$part"
    val dir = new Path(dirStr)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L
    // same crash rule as the distribution leg: logically-removed files
    // are finished off, never re-read (re-reading doubles content)
    val removed = Catalog.lakeRemovedFiles(spark, layout)
    val (dead, oldFiles) = fs.listStatus(dir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
      .partition(p => removed.contains(s"$part/${p.getName}"))
    dead.foreach(p => fs.delete(p, false))
    if (oldFiles.isEmpty) return 0L
    // read through committed deletion vectors: this rewrite copies
    // surviving rows under a NEW file name, so a DV keyed on the old
    // (file, pos) would stop applying — without this, rows a DV
    // deleted would resurrect in the rewritten file.
    // lakeScan: a partition holding pre- and post-evolution files must
    // rewrite with the UNION schema (a single-file schema pick would
    // silently drop newer columns), and one holding pre- and
    // post-WIDENING files cannot go through plain mergeSchema at all —
    // the epoch-merged explicit-schema read covers both, and the
    // rewrite lands wide
    val rels = oldFiles.map(p => s"$part/${p.getName}").toIndexedSeq
    // name map: the rewrite lands in the new name epoch, so the staged
    // files must carry the column names in force NOW
    val df = Catalog.applyNameMap(spark, layout,
      Catalog.applyCommittedDvs(spark, layout,
        Catalog.lakeScan(spark, layout, rels)), Long.MaxValue)
    require(df.columns.contains("json"),
      s"eraseLake($source): the erasure predicate matches the raw record " +
        "'json' column, which this lake partition lacks")
    val total = df.count()
    // keep EVERY column (evolution columns, typed side columns): the
    // rewrite only drops matched ROWS, it must not narrow the schema
    val keptDf = df.filter((r: org.apache.spark.sql.Row) =>
      !matches(r.getAs[String]("json")))
    val keptCount = keptDf.count()
    if (keptCount == total) return 0L
    val removes = oldFiles.map(p => s"$part/${p.getName}").toSeq
    // note = "erase": the ONE rewrite kind the change feed cannot make
    // view-preserving — incremental consumers detect it via
    // [[Catalog.commitNotes]] and rebuild instead of refreshing across
    Catalog.commitLake(spark, layout,
      keptDf.withColumn("source", org.apache.spark.sql.functions.lit(source)),
      removes, note = Some("erase"))
    // erasure deletes NOW (no vacuum grace): the subject's bytes must go
    oldFiles.foreach(p => fs.delete(p, false))
    if (keptCount == 0) {
      // full erasure: keep the partition dir READABLE for directory
      // consumers (a schema-bearing empty parquet; 0 rows, so the
      // committed-snapshot surface is unaffected)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          keptDf.schema)
        .coalesce(1).write.mode("append").parquet(dirStr)
    }
    total - keptCount
  }
}
