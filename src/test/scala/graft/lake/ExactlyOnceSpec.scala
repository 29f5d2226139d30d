package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import org.apache.hadoop.fs.Path
import java.sql.Timestamp

/** Round-7 lake hardening:
  *  - the UNIFIED ingest commit (catalog + distribution + marker in
  *    one manifest-log record) survives a crash between CLAIM and
  *    publish with exactly-once end-to-end delivery;
  *  - checkpoint records are terminator-validated (a torn checkpoint
  *    is ignored and never a prune horizon) and capped at the
  *    contiguous fully-done prefix (a recovered commit can never be
  *    orphaned by a later prune);
  *  - the committed distribution surface gives snapshot-isolated
  *    reads under concurrent compaction + replay;
  *  - tombstones RE-apply to bronze objects that land after the first
  *    application (the external-producer hole). */
class ExactlyOnceSpec extends SparkTestBase {

  private def batchOf(rows: Seq[(String, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("source", "key", "json")
  }

  /** The catalog entry lines an ingest commit logs for `batch`
    * arriving at `ms`: one per object. */
  private def entryLines(batch: org.apache.spark.sql.DataFrame, ms: Long): Seq[String] =
    CatalogOracle.entriesFor(batch, ms).collect().toSeq
      .map(e => s"catent ${ms * 1000L} $ms ${e.source} ${e.key}").sorted

  /** Every file or directory under the catalog directory outside its `_log`. */
  private def catalogData(layout: Layout): Seq[String] =
    Option(new java.io.File(layout.catalogDir).list()).toSeq.flatten.filter(_ != "_log")

  test("crash between CLAIM and publish: recovery finishes catalog+distribution+marker " +
      "exactly once, and the redelivered batch skips") {
    val layout = Layout(tmpDir("xo-crash"))
    val fs = new Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = batchOf(Seq(
      ("clicks", "obj-1", """{"u":"A","v":1}"""),
      ("clicks", "obj-1", """{"u":"B","v":2}"""),
      ("tweets", "obj-2", """{"u":"A","v":3}""")))

    // simulate the torn commit by hand: stage the distribution leg,
    // claim the v2 record (exactly what commitIngest writes: the
    // marker, the staged files and one catalog entry per object), then
    // "crash" before any publish rename
    val entries = entryLines(batch, 1704067200000L)
    val distStage = new Path(s"${layout.distributionDir}/_staged/u-dist")
    batch.write.mode("overwrite").partitionBy("source").format("json")
      .save(distStage.toString)
    val distFiles = Catalog.stagedFiles(fs, distStage, suffix = ".json")
    assert(entries.nonEmpty && distFiles.nonEmpty)
    val marker = s"${layout.checkpointDir}/markers/7"
    val body = (Seq(s"v2 7 1704067200000", s"marker $marker", "dist u-dist") ++ distFiles ++
      entries).mkString("\n")
    Catalog.claimBody(fs, layout, body)

    // torn state: nothing visible anywhere
    assert(Catalog.versions(spark, layout).isEmpty)
    assert(Catalog.distLiveFiles(spark, layout).isEmpty)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 0)
    assert(!fs.exists(new Path(marker)))

    // recovery (what StreamIngest.start runs before the stream resumes)
    Catalog.recoverAppends(spark, layout)
    assert(Catalog.versions(spark, layout) == Seq(1L))
    assert(Catalog.load(spark, layout).count() == 2, "two distinct objects cataloged")
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2)
    assert(Distribution.subscribeSnapshot(spark, layout, "tweets").count() == 1)
    assert(fs.exists(new Path(marker)), "recovery must recreate the batch marker")
    assert(!fs.exists(distStage) && catalogData(layout).isEmpty)

    // the redelivered micro-batch (same batchId) now SKIPS on its marker
    StreamIngest.processBatch(batch, layout, 1704067300000L, 7L)
    assert(Catalog.load(spark, layout).count() == 2, "no duplicate catalog rows")
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2,
      "no duplicate delivery")
    // recovery is idempotent too
    Catalog.recoverAppends(spark, layout)
    assert(Distribution.subscribeSnapshot(spark, layout, "tweets").count() == 1)
  }

  test("processBatch commits catalog+distribution atomically and is idempotent per batchId") {
    val layout = Layout(tmpDir("xo-idem"))
    val batch = batchOf(Seq(
      ("clicks", "k1", """{"n":1}"""), ("clicks", "k1", """{"n":2}""")))
    StreamIngest.processBatch(batch, layout, 1704067200000L, 3L)
    StreamIngest.processBatch(batch, layout, 1704067200000L, 3L) // redelivery
    assert(Catalog.load(spark, layout).count() == 1)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2)
    // the one commit is a single log record covering both legs
    assert(Catalog.versions(spark, layout) == Seq(1L))
  }

  test("a torn checkpoint is ignored by readers and never used as a prune horizon") {
    val layout = Layout(tmpDir("xo-torncp"))
    val s = spark
    import s.implicits._
    def entries(n: Int, off: Int) = (0 until n).map(i =>
      CatalogEntry("clicks", new Timestamp(1704067200000L + i),
        (1704067200000L + i).toString, s"obj-${off + i}")).toDS()
    Catalog.append(spark, layout, entries(3, 0))
    Catalog.append(spark, layout, entries(2, 100))

    // a crash mid-checkpoint-write leaves a record with no terminator
    val fs = new Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new Path(s"${layout.catalogDir}/_log/${"%020d".format(2)}.checkpoint")
    val out = fs.create(torn, true)
    try out.write("CE 1 1704067200000000 1704067200000 clicks bogus".getBytes("UTF-8"))
    finally out.close()

    assert(Catalog.versions(spark, layout) == Seq(1L, 2L),
      "torn checkpoint must not hijack the log read")
    assert(Catalog.loadAsOf(spark, layout, 2).count() == 5)
    assert(Catalog.pruneLog(spark, layout) == 0L,
      "no prune against an unvalidated checkpoint")
    // a real checkpoint replaces the torn record and pruning works
    assert(Catalog.checkpoint(spark, layout) == Some(2L))
    assert(Catalog.pruneLog(spark, layout) == 4L)
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L))
    assert(Catalog.loadAsOf(spark, layout, 1).count() == 3)
  }

  test("checkpoint stops at the contiguous fully-done prefix; a recovered commit " +
      "is never orphaned by a later prune") {
    val layout = Layout(tmpDir("xo-gap"))
    val s = spark
    import s.implicits._
    def entries(n: Int, off: Int) = (0 until n).map(i =>
      CatalogEntry("clicks", new Timestamp(1704067200000L + i),
        (1704067200000L + i).toString, s"obj-${off + i}")).toDS()
    Catalog.append(spark, layout, entries(2, 0)) // seq 1, done

    // claimed-but-unfinished commit at seq 2 (concurrent writer crash)
    val fs = new Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Catalog.claimBody(fs, layout, ("v2 -1 1704067200000" +: (0 until 3).map { i =>
      s"catent ${(1704067200000L + i) * 1000L} ${1704067200000L + i} clicks obj-${500 + i}"
    }).mkString("\n"))

    Catalog.append(spark, layout, entries(4, 900)) // seq 3, done

    // the fold must cap BELOW the undone claim
    assert(Catalog.checkpoint(spark, layout) == Some(1L),
      "checkpoint past an undone claim would orphan it on the next prune")
    Catalog.pruneLog(spark, layout)
    // the claimed commit survives pruning and recovery promotes it
    Catalog.recoverAppends(spark, layout)
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L))
    assert(Catalog.loadAsOf(spark, layout, 3).count() == 9)
    // and now the full prefix folds
    assert(Catalog.checkpoint(spark, layout) == Some(3L))
    Catalog.pruneLog(spark, layout)
    assert(Catalog.loadAsOf(spark, layout, 2).count() == 5)
  }

  test("committed compaction concurrent with committed replay: no lost or doubled delivery") {
    val layout = Layout(tmpDir("xo-compact"))
    // seed bronze + ingest through the unified commit so the
    // distribution area is log-tracked end to end
    def writeBronze(name: String, content: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir("clicks")); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    (0 until 4).foreach { i =>
      writeBronze(s"o$i.json", s"""{"id":${2 * i}}{"id":${2 * i + 1}}""")
    }
    val bronze = Ingest.readBronze(spark, layout)
    StreamIngest.processBatch(bronze, layout, 1704067200000L, 1L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 8)

    val t0 = new Timestamp(1704067100000L)
    val t1 = new Timestamp(1704067300000L)
    // run several committed compactions in a background thread while
    // replay re-publishes the full range on the main thread
    @volatile var compactErr: Throwable = null
    val compactor = new Thread(() => {
      try {
        (0 until 5).foreach { _ =>
          try Compaction.compactSourceCommitted(spark, layout, "clicks")
          catch { case e: java.io.IOException
              if e.getMessage.contains("holds the lock") => () }
          Thread.sleep(5)
        }
      } catch { case e: Throwable => compactErr = e }
    })
    compactor.start()
    val replayed = Replay.replayCommitted(spark, layout, "clicks", t0, t1)
    compactor.join()
    assert(compactErr == null, s"compaction failed: $compactErr")
    assert(replayed == 8L)

    // snapshot read: original 8 + replayed 8, each id exactly twice
    val snap = Distribution.subscribeSnapshot(spark, layout, "clicks")
      .selectExpr("get_json_object(json, '$.id') AS id")
      .groupBy("id").count().collect()
    assert(snap.length == 8, s"ids lost: ${snap.length}")
    assert(snap.forall(_.getLong(1) == 2L),
      s"every id delivered exactly twice: ${snap.map(r => (r.getString(0), r.getLong(1))).toSeq}")

    // physical cleanup after grace keeps the snapshot identical
    Catalog.vacuumDist(spark, layout, graceMs = 0L)
    val after = Distribution.subscribeSnapshot(spark, layout, "clicks").count()
    assert(after == 16L, s"vacuum must not change the committed view (got $after)")
    // and a fresh compaction leaves one file with everything
    Compaction.compactSourceCommitted(spark, layout, "clicks")
    Catalog.vacuumDist(spark, layout, graceMs = 0L)
    assert(Catalog.distLiveFiles(spark, layout)
      .count(_.startsWith("source=clicks/")) == 1)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 16L)
  }

  test("atomic batch ingest: lake parquet + catalog entries are one commit; " +
      "concurrent ingests never clobber each other") {
    val layout = Layout(tmpDir("xo-lakeingest"))
    def writeBronze(src: String, name: String, content: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    writeBronze("clicks", "a.json", """{"v":1}{"v":2}""")
    writeBronze("tweets", "b.json", """{"v":3}""")
    val n = Ingest.ingestBatch(spark, layout, 1704067200000L)
    assert(n == 3L)
    // directory surface and committed snapshot agree
    assert(spark.read.parquet(layout.lakeDir).count() == 3)
    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 3)
    assert(Catalog.load(spark, layout).count() == 2, "one catalog row per object")
    // the lake rows and catalog rows share ONE version
    assert(Catalog.versions(spark, layout) == Seq(1L))

    // two concurrent batch ingests (fresh objects) both land completely —
    // the shared-_temporary hazard of mode("append") is gone
    writeBronze("clicks", "c.json", """{"v":4}""")
    @volatile var err: Throwable = null
    val threads = Seq(0, 1).map { _ =>
      new Thread(() => {
        try Ingest.ingestBatch(spark, layout, 1704067260000L)
        catch { case e: Throwable => err = e }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(err == null, s"concurrent ingest failed: $err")
    // both ingests re-read all bronze (4 records each); both commits land
    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 3 + 4 + 4)
    assert(spark.read.parquet(layout.lakeDir).count() == 11)
  }

  test("a torn lake ingest is invisible until recovery promotes it atomically") {
    val layout = Layout(tmpDir("xo-lakecrash"))
    val fs = new Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch = batchOf(Seq(("clicks", "k1", """{"v":1}""")))
    // stage the lake leg + claim by hand (the record commitLakeIngest
    // writes: the staged files and one catalog entry per object),
    // crash before publish
    val lakeStage = new Path(s"${layout.lakeDir}/_staged/u-lake")
    batch.write.mode("overwrite").partitionBy("source").parquet(lakeStage.toString)
    val lakeFiles = Catalog.stagedFiles(fs, lakeStage)
    val body = (Seq("v2 -1 1704067200000", "lake u-lake") ++ lakeFiles ++
      entryLines(batch, 1704067200000L)).mkString("\n")
    Catalog.claimBody(fs, layout, body)

    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 0)
    assert(Catalog.versions(spark, layout).isEmpty)
    Catalog.recoverAppends(spark, layout)
    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 1)
    assert(Catalog.load(spark, layout).count() == 1)
    assert(!fs.exists(lakeStage) && catalogData(layout).isEmpty)
  }

  test("distribution time travel: subscribeAsOf replays each committed version; " +
      "compaction preserves historical content until vacuum") {
    val layout = Layout(tmpDir("xo-disttravel"))
    StreamIngest.processBatch(batchOf(Seq(("clicks", "k1", """{"v":1}"""))),
      layout, 1704067200000L, 1L) // version 1
    StreamIngest.processBatch(batchOf(Seq(("clicks", "k2", """{"v":2}"""),
      ("clicks", "k2", """{"v":3}"""))), layout, 1704067260000L, 2L) // version 2
    val v2 = Compaction.compactSourceCommitted(spark, layout, "clicks")
    assert(v2 == 3L)

    assert(Distribution.subscribeAsOf(spark, layout, "clicks", 1L).count() == 1)
    assert(Distribution.subscribeAsOf(spark, layout, "clicks", 2L).count() == 3)
    // the compaction version is byte-equivalent to the one before it
    def rows(v: Long) = Distribution.subscribeAsOf(spark, layout, "clicks", v)
      .select("key", "json").collect().map(_.toString).sorted.toSeq
    assert(rows(3L) == rows(2L), "compaction must never change content")
    // vacuum bounds PHYSICAL time travel, not the head snapshot
    Catalog.vacuumDist(spark, layout, graceMs = 0L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 3)
  }

  test("an erase that crashed between its log commit and its physical delete " +
      "never doubles content on re-run (logically-removed files are finished, not re-read)") {
    val layout = Layout(tmpDir("xo-erasecrash"))
    val fs = new Path(layout.distributionDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamIngest.processBatch(batchOf(Seq(
      ("clicks", "k1", """{"user":"A","v":1}"""),
      ("clicks", "k1", """{"user":"B","v":2}"""))), layout, 1704067200000L, 1L)
    val oldLive = Catalog.distLiveFiles(spark, layout)
    assert(oldLive.nonEmpty)

    // simulate the crashed erase: stage the KEPT line, commit
    // {add staged, remove old}, then "crash" before deleting old
    val uuid = "crashed-erase"
    val stagePart = new Path(s"${layout.distributionDir}/_staged/$uuid/source=clicks")
    fs.mkdirs(stagePart)
    val out = fs.create(new Path(stagePart, "part-kept.json"), true)
    try out.write("""{"key":"k1","json":"{\"user\":\"B\",\"v\":2}"}""".getBytes("UTF-8"))
    finally out.close()
    Catalog.commitDistPrestaged(spark, layout, uuid, removes = oldLive)
    // crash point: the logically-removed files are still physically present
    val deadPaths = oldLive.map(rel => new Path(s"${layout.distributionDir}/$rel"))
    assert(deadPaths.forall(fs.exists))
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 1)

    // re-run the erase: it must finish the delete, read ONLY live
    // files, and end with B exactly once everywhere
    Erase.eraseWhere(spark, layout, "clicks", Erase.jsonFieldEquals("user", "A"))
    assert(deadPaths.forall(p => !fs.exists(p)), "dead files must be finished off")
    val snap = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(snap.count() == 1, "no doubled content after crash recovery")
    // the physical partition holds exactly one B record in total
    val lines = fs.listStatus(new Path(s"${layout.distributionDir}/source=clicks"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
    assert(lines.length == 1 && lines.head.contains("B") && !lines.exists(_.contains("A")),
      s"exactly one physical copy of B, zero of A: ${lines.toSeq}")
  }

  test("tombstones re-apply to bronze objects that land after the first application") {
    val layout = Layout(tmpDir("xo-reapply"))
    def writeBronze(name: String, content: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir("clicks")); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    writeBronze("a.json", """{"user":"A","v":1}{"user":"B","v":2}""")
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "A"))
    assert(Erase.applyTombstones(spark, layout) == 1L, "first application erases history")
    assert(Erase.applyTombstones(spark, layout) == 0L, "quiescent re-run does no work")

    // the external producer writes a LATE object carrying the subject
    writeBronze("b.json", """{"user":"A","v":3}{"user":"C","v":4}""")
    assert(Erase.applyTombstones(spark, layout) == 1L,
      "re-application must catch the late bronze arrival")
    val left = Ingest.readBronze(spark, layout).collect().map(_.getString(2)).sorted.toSeq
    assert(left == Seq("""{"user":"B","v":2}""", """{"user":"C","v":4}"""),
      s"subject A fully erased from bronze, others byte-intact: $left")
    assert(Erase.applyTombstones(spark, layout) == 0L)
  }

  test("time travel below a compaction survives a log checkpoint " +
      "(removed adds are kept in the folded record)") {
    val layout = Layout(tmpDir("xo-cptravel"))
    StreamIngest.processBatch(batchOf(Seq(("clicks", "k1", """{"v":1}"""))),
      layout, 1704067200000L, 1L) // version 1
    StreamIngest.processBatch(batchOf(Seq(("clicks", "k2", """{"v":2}"""),
      ("clicks", "k2", """{"v":3}"""))), layout, 1704067260000L, 2L) // version 2
    Compaction.compactSourceCommitted(spark, layout, "clicks") // version 3 removes v1+v2 files
    val before = (1L to 3L).map(v =>
      Distribution.subscribeAsOf(spark, layout, "clicks", v).count())
    assert(before == Seq(1L, 3L, 3L))

    assert(Catalog.checkpoint(spark, layout).isDefined)
    assert(Catalog.pruneLog(spark, layout) > 0L)
    // as-of reads between an add and its remove must still see the
    // pre-removal file set after the fold — the documented contract
    (1L to 3L).zip(before).foreach { case (v, n) =>
      assert(Distribution.subscribeAsOf(spark, layout, "clicks", v).count() == n,
        s"version $v must replay identically from the checkpoint")
    }
    // and vacuum still reclaims the removed files from the R lines
    assert(Catalog.vacuumDist(spark, layout, graceMs = 0L) > 0L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 3)
  }

  test("erase waits for (not skips, not races) a concurrent compaction's lock") {
    val layout = Layout(tmpDir("xo-eraselock"))
    StreamIngest.processBatch(batchOf(Seq(
      ("clicks", "k1", """{"user":"A","v":1}"""),
      ("clicks", "k1", """{"user":"B","v":2}"""))), layout, 1704067200000L, 1L)
    // hold the per-source maintenance lock, as a live compaction would
    val fs = new Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(s"${layout.catalogDir}/_log/_compact-clicks.lock")
    fs.create(lock, false).close()

    @volatile var report: Erase.EraseReport = null
    @volatile var err: Throwable = null
    val eraser = new Thread(() => {
      try report = Erase.eraseWhere(spark, layout, "clicks",
        Erase.jsonFieldEquals("user", "A"))
      catch { case e: Throwable => err = e }
    })
    eraser.start()
    Thread.sleep(500)
    assert(report == null && err == null,
      "the erase rewrite legs must block while the lock is held")
    fs.delete(lock, false) // compaction finishes
    eraser.join(60000)
    assert(err == null, s"erase failed: $err")
    assert(report != null && report.distributionRecordsDropped == 1L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 1)
  }

  test("batch ingest is tombstone-gated like the stream path") {
    val layout = Layout(tmpDir("xo-batchgate"))
    def writeBronze(name: String, content: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir("clicks")); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    writeBronze("a.json", """{"user":"A","v":1}{"user":"B","v":2}""")
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "A"))
    // the late bronze object is batch-ingested AFTER the tombstone:
    // the subject's records must not reach the lake or the catalog
    val n = Ingest.ingestBatch(spark, layout, 1704067200000L)
    assert(n == 1L, s"only the non-subject record ingests (got $n)")
    val lake = Catalog.loadLakeSnapshot(spark, layout)
    assert(lake.count() == 1)
    assert(!lake.select("json").collect().exists(_.getString(0).contains("\"A\"")))
  }

  test("erase keeps the committed distribution surface consistent") {
    val layout = Layout(tmpDir("xo-erasedist"))
    val batch = batchOf(Seq(
      ("clicks", "k1", """{"user":"A","v":1}"""),
      ("clicks", "k1", """{"user":"B","v":2}"""),
      ("clicks", "k2", """{"user":"A","v":3}""")))
    StreamIngest.processBatch(batch, layout, 1704067200000L, 1L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 3)

    val report = Erase.eraseWhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"))
    assert(report.distributionRecordsDropped == 2L)
    val snap = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(snap.count() == 1)
    assert(snap.selectExpr("get_json_object(json, '$.user')").collect()
      .head.getString(0) == "B")
    // every committed live file physically exists (no dangling entries)
    val fs = new Path(layout.distributionDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Catalog.distLiveFiles(spark, layout).foreach { rel =>
      assert(fs.exists(new Path(s"${layout.distributionDir}/$rel")), s"dangling $rel")
    }
  }
}
