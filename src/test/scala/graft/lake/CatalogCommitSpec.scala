package graft.lake

import graft.SparkTestBase
import java.sql.Timestamp

/** The manifest-log commit behind [[Catalog.append]] (a catalog-only
  * commit record, the format every commit path writes): concurrent
  * appends never lose each other's files (the `_temporary`-sharing
  * hazard of a naive `mode("append")`), crashes between CLAIM and DONE
  * are finished exactly by [[Catalog.recoverAppends]], pre-CLAIM
  * orphans and a done commit's leftover stage are swept once aged out,
  * and recovery over a clean log opens no record. */
class CatalogCommitSpec extends SparkTestBase {

  /** Stage-and-claim WITHOUT publishing — a writer that crashed
    * between CLAIM and DONE. The record is the catalog-only one
    * [[Catalog.append]] writes. */
  private def claimCatOnly(fs: org.apache.hadoop.fs.FileSystem, layout: Layout,
      uuid: String, staged: Seq[String]): Long =
    Catalog.claimBody(fs, layout,
      (Seq(s"v2 -1 ${System.currentTimeMillis()}", s"cat $uuid") ++ staged).mkString("\n"))

  private def entries(n: Int, offset: Int, sources: Seq[String]) = {
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      CatalogEntry(sources(i % sources.size),
        new Timestamp(1704067200000L + i), (1704067200000L + i).toString,
        s"obj-${offset + i}")
    }.toDS()
  }

  test("two concurrent appends both land completely, in claimed commit order") {
    val layout = Layout(tmpDir("cat-concurrent"))
    val sources = Seq("clicks", "tweets", "logs")
    @volatile var err: Throwable = null
    val threads = Seq(0, 1).map { t =>
      new Thread(() => {
        try {
          // several appends per writer: every one is a separate commit
          (0 until 3).foreach { r =>
            Catalog.append(spark, layout, entries(20, t * 1000 + r * 100, sources))
          }
        } catch { case e: Throwable => err = e }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(err == null, s"concurrent append failed: $err")

    val cat = Catalog.load(spark, layout)
    assert(cat.count() == 120, "no commit may lose rows to a concurrent writer")
    assert(cat.select("key").distinct().count() == 120)

    // the log carries one .commit + one .done per append, densely numbered
    val log = new java.io.File(s"${layout.catalogDir}/_log")
    val names = log.listFiles().map(_.getName).sorted.toSeq
    val commits = names.filter(_.endsWith(".commit"))
    val dones = names.filter(_.endsWith(".done"))
    assert(commits.size == 6 && dones.size == 6)
    assert(commits.map(_.stripSuffix(".commit").toLong).sorted == (1L to 6L),
      "claimed commit ids must be dense — every writer got its own slot")
    // no stray staging state survives a clean run
    assert(!new java.io.File(s"${layout.catalogDir}/_staged").exists() ||
      new java.io.File(s"${layout.catalogDir}/_staged").listFiles().isEmpty)
  }

  test("recoverAppends finishes a crash between CLAIM and DONE, exactly once") {
    val layout = Layout(tmpDir("cat-recover"))
    Catalog.append(spark, layout, entries(10, 0, Seq("clicks")))

    // simulate the crash: stage + claim a second batch, never publish
    val fs = new org.apache.hadoop.fs.Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val uuid = "crashed-batch"
    val stage = new org.apache.hadoop.fs.Path(s"${layout.catalogDir}/_staged/$uuid")
    entries(5, 500, Seq("clicks", "tweets")).toDF()
      .write.mode("overwrite").partitionBy("source").parquet(stage.toString)
    val staged = Catalog.stagedFiles(fs, stage)
    claimCatOnly(fs, layout, uuid, staged)

    // the unfinished commit's rows are invisible (staged under `_`)
    assert(Catalog.load(spark, layout).count() == 10)

    Catalog.recoverAppends(spark, layout)
    assert(Catalog.load(spark, layout).count() == 15,
      "recovery must finish the claimed commit from its record")
    // idempotent: a second recovery changes nothing
    Catalog.recoverAppends(spark, layout)
    assert(Catalog.load(spark, layout).count() == 15)
    assert(!fs.exists(stage), "the finished commit's staging dir is dropped")

    // and the catalog still appends normally after recovery
    Catalog.append(spark, layout, entries(3, 900, Seq("logs")))
    assert(Catalog.load(spark, layout).count() == 18)
  }

  test("recoverAppends sweeps a pre-CLAIM orphan staging dir (once aged out)") {
    val layout = Layout(tmpDir("cat-orphan"))
    Catalog.append(spark, layout, entries(4, 0, Seq("clicks")))
    val orphan = new org.apache.hadoop.fs.Path(s"${layout.catalogDir}/_staged/orphan-uuid")
    entries(2, 700, Seq("clicks")).toDF()
      .write.mode("overwrite").partitionBy("source").parquet(orphan.toString)
    val fs = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(orphan))
    // FRESH unclaimed stage = possibly a committer between its stage
    // write and its CLAIM: the age-gated sweep must leave it alone
    Catalog.recoverAppends(spark, layout)
    assert(fs.exists(orphan),
      "a stage younger than the grace window may belong to an in-flight commit")
    // backdate it past the grace window — now it is a crashed writer
    fs.setTimes(orphan, System.currentTimeMillis() - 3600_000L, -1L)
    Catalog.recoverAppends(spark, layout)
    assert(!fs.exists(orphan), "an aged unclaimed stage is a crashed writer — swept")
    assert(Catalog.load(spark, layout).count() == 4)
  }

  test("recoverAppends sweeps a DONE commit's leftover stage once aged out, and " +
      "finishes an UNDONE commit's stage without ever sweeping it") {
    val layout = Layout(tmpDir("cat-leftover"))
    val fs = new org.apache.hadoop.fs.Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 3600_000L
    // seq 1, committed and finished; then a crash between its DONE and
    // its stage delete leaves the (published, now empty) stage behind
    val leftover = new org.apache.hadoop.fs.Path(s"${layout.catalogDir}/_staged/done-uuid")
    entries(4, 0, Seq("clicks")).toDF()
      .write.mode("overwrite").partitionBy("source").parquet(leftover.toString)
    assert(claimCatOnly(fs, layout, "done-uuid", Catalog.stagedFiles(fs, leftover)) == 1L)
    Catalog.recoverAppends(spark, layout)
    assert(Catalog.versions(spark, layout) == Seq(1L) && !fs.exists(leftover))
    fs.mkdirs(new org.apache.hadoop.fs.Path(leftover, "source=clicks"))
    // an undone commit (seq 2) whose stage is older than the grace window
    val undone = new org.apache.hadoop.fs.Path(s"${layout.catalogDir}/_staged/undone-uuid")
    entries(3, 500, Seq("clicks", "tweets")).toDF()
      .write.mode("overwrite").partitionBy("source").parquet(undone.toString)
    assert(claimCatOnly(fs, layout, "undone-uuid", Catalog.stagedFiles(fs, undone)) == 2L)
    fs.setTimes(undone, old, -1L)

    // a fresh leftover is inside the grace window: kept; the undone
    // commit is finished from its record, its rows published
    Catalog.recoverAppends(spark, layout)
    assert(fs.exists(leftover), "a stage younger than the grace window is kept")
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L))
    assert(Catalog.load(spark, layout).count() == 7,
      "the undone commit's aged stage is finished, never swept")
    assert(!fs.exists(undone), "finishing drops the undone commit's stage")

    // aged out, the done commit's leftover is debris: swept
    fs.setTimes(leftover, old, -1L)
    Catalog.recoverAppends(spark, layout)
    assert(!fs.exists(leftover), "a done commit names no live stage")
    assert(Catalog.load(spark, layout).count() == 7)
  }

  test("recoverAppends over a clean log lists it once and opens no record") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val layout = Layout("countfs:" + tmpDir("cat-recover-reads"))
    (0 until 3).foreach(i => Catalog.append(spark, layout, entries(2, i * 10, Seq("clicks"))))
    CountingLocalFs.reset()
    Catalog.recoverAppends(spark, layout)
    assert(CountingLocalFs.logLists.get == 1)
    assert(CountingLocalFs.logOpens.get == 0,
      s"done records carry nothing recovery needs (opened ${CountingLocalFs.logOpens.get})")
    assert(Catalog.load(spark, layout).count() == 6)
  }

  test("loadAsOf reconstructs each committed snapshot exactly from the log") {
    val layout = Layout(tmpDir("cat-asof"))
    Catalog.append(spark, layout, entries(4, 0, Seq("clicks")))
    Catalog.append(spark, layout, entries(3, 100, Seq("tweets", "clicks")))
    Catalog.append(spark, layout, entries(5, 200, Seq("logs")))
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L))

    assert(Catalog.loadAsOf(spark, layout, 1).count() == 4)
    assert(Catalog.loadAsOf(spark, layout, 2).count() == 7)
    assert(Catalog.loadAsOf(spark, layout, 3).count() == 12)
    // version beyond head = head; version 0 = empty table
    assert(Catalog.loadAsOf(spark, layout, 99).count() == 12)
    assert(Catalog.loadAsOf(spark, layout, 0).count() == 0)
    // the snapshot keeps the partition column (basePath read)
    val v2 = Catalog.loadAsOf(spark, layout, 2)
    assert(v2.columns.contains("source"))
    assert(v2.filter(org.apache.spark.sql.functions.col("source") === "clicks").count() == 5)
    // snapshot at head == the live directory read, row for row
    val head = Catalog.load(spark, layout).select("source", "key")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val asOf = Catalog.loadAsOf(spark, layout, 3).select("source", "key")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(head == asOf)
  }

  test("checkpoint + prune: history survives in one record; appends continue above it") {
    val layout = Layout(tmpDir("cat-ckpt"))
    Catalog.append(spark, layout, entries(4, 0, Seq("clicks")))
    Catalog.append(spark, layout, entries(3, 100, Seq("tweets")))
    Catalog.append(spark, layout, entries(2, 200, Seq("clicks", "logs")))
    val beforeCp = (1L to 3L).map(v => Catalog.loadAsOf(spark, layout, v).count())

    assert(Catalog.checkpoint(spark, layout) == Some(3L))
    // checkpoint is idempotent
    assert(Catalog.checkpoint(spark, layout) == Some(3L))
    val dropped = Catalog.pruneLog(spark, layout)
    assert(dropped == 6L, s"3 .commit + 3 .done records fold away (got $dropped)")
    val log = new java.io.File(s"${layout.catalogDir}/_log")
    assert(log.listFiles().map(_.getName).count(_.endsWith(".commit")) == 0)

    // history below the checkpoint is EXACT from the one record
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L))
    (1L to 3L).zip(beforeCp).foreach { case (v, n) =>
      assert(Catalog.loadAsOf(spark, layout, v).count() == n,
        s"version $v must replay identically from the checkpoint")
    }

    // appends continue ABOVE the checkpoint seq (numbering survives
    // the pruned .commit records), and mixed checkpoint+tail reads work
    Catalog.append(spark, layout, entries(5, 300, Seq("logs")))
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L, 4L),
      "the next claimed id must be 4, not a reused 1")
    assert(Catalog.loadAsOf(spark, layout, 4).count() == 14)
    assert(Catalog.loadAsOf(spark, layout, 2).count() == beforeCp(1))
    assert(Catalog.load(spark, layout).count() == 14)

    // a second checkpoint folds the tail too
    assert(Catalog.checkpoint(spark, layout) == Some(4L))
    Catalog.pruneLog(spark, layout)
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L, 4L))
    assert(Catalog.loadAsOf(spark, layout, 3).count() == beforeCp(2))
  }

  test("stream ingest auto-checkpoints the catalog log on its cadence") {
    val layout = Layout(tmpDir("cat-autockpt"))
    val s = spark
    import s.implicits._
    def batchOf(n: Int, off: Int) = (0 until n)
      .map(i => ("clicks", s"obj-${off + i}", s"""{"v":${off + i}}"""))
      .toDF("source", "key", "json")
    // drive batch ids across one checkpoint boundary
    (1L to (graft.streaming.StreamIngest.checkpointEvery + 1L)).foreach { id =>
      // keep it cheap: only the batches near the boundary carry rows
      if (id >= graft.streaming.StreamIngest.checkpointEvery - 1)
        graft.streaming.StreamIngest.processBatch(
          batchOf(2, id.toInt * 10), layout, 1704067200000L + id, id)
      else if (id <= 2)
        graft.streaming.StreamIngest.processBatch(
          batchOf(1, id.toInt * 10), layout, 1704067200000L + id, id)
    }
    val log = new java.io.File(s"${layout.catalogDir}/_log")
    val names = log.listFiles().map(_.getName)
    assert(names.exists(_.endsWith(".checkpoint")),
      s"the cadence batch must have folded the log: ${names.toSeq.sorted}")
    // reads stay correct across the fold
    val total = Catalog.load(spark, layout).count()
    assert(Catalog.loadAsOf(spark, layout, Long.MaxValue).count() == total)
    assert(total > 0)
  }

  test("lake schema evolution: add-column merges at read time with null backfill; " +
      "snapshot below the evolution keeps the old schema; survives a checkpoint") {
    val layout = Layout(tmpDir("cat-evolve"))
    val s = spark
    import s.implicits._
    // v1: two rows in the original (source, key, json) schema
    val v1 = Catalog.commitLake(spark, layout,
      Seq(("clicks", "k1", """{"v":1}"""), ("clicks", "k2", """{"v":2}"""))
        .toDF("source", "key", "json"))
    // v2: the evolution — add a typed score column
    val v2 = Catalog.commitLakeAddColumn(spark, layout, "score", "bigint")
    assert(v2 == v1 + 1)
    // v3: a batch already carrying the new column
    val v3 = Catalog.commitLake(spark, layout,
      Seq(("clicks", "k3", """{"v":3}""", 7L))
        .toDF("source", "key", "json", "score"))

    // live read: merged schema, nulls backfilled on pre-evolution rows
    val live = Catalog.loadLakeSnapshot(spark, layout)
    assert(live.columns.sorted.toSeq == Seq("json", "key", "score", "source"))
    assert(live.count() == 3)
    assert(live.filter(org.apache.spark.sql.functions.col("score").isNull).count() == 2)
    assert(live.filter("score = 7").count() == 1)
    assert(live.schema("score").dataType.typeName == "long")

    // snapshot pinned BELOW the evolution: the v1 schema, exactly
    val old = Catalog.loadLakeSnapshot(spark, layout, v1)
    assert(old.columns.sorted.toSeq == Seq("json", "key", "source"),
      "a read below the evolution must keep the pre-evolution schema")
    assert(old.count() == 2)
    // at the evolution's own version: column present, all null
    val atEvo = Catalog.loadLakeSnapshot(spark, layout, v2)
    assert(atEvo.columns.contains("score") &&
      atEvo.filter("score IS NOT NULL").count() == 0)

    // the evolution record survives the checkpoint fold
    assert(Catalog.checkpoint(spark, layout) == Some(v3))
    Catalog.pruneLog(spark, layout)
    assert(Catalog.lakeAddedColumns(spark, layout).map(t => (t._2, t._3)) ==
      Seq(("score", "bigint")))
    assert(Catalog.loadLakeSnapshot(spark, layout, v1).columns.length == 3)
    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 3)

    // a bad DDL never reaches the log
    intercept[Exception](
      Catalog.commitLakeAddColumn(spark, layout, "bad", "no_such_type"))
  }

  test("loadAsOf never sees a claimed-but-unfinished commit; recovery promotes it") {
    val layout = Layout(tmpDir("cat-asof-crash"))
    Catalog.append(spark, layout, entries(6, 0, Seq("clicks")))
    // simulate a crash between CLAIM and DONE: stage + claim, no publish
    val df = entries(2, 500, Seq("tweets")).toDF()
    val stage = new org.apache.hadoop.fs.Path(s"${layout.catalogDir}/_staged/crash-uuid")
    df.write.mode("overwrite").partitionBy("source").parquet(stage.toString)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = Catalog.stagedFiles(fs, stage)
    claimCatOnly(fs, layout, "crash-uuid", staged)

    assert(Catalog.versions(spark, layout) == Seq(1L),
      "a torn commit must not be a readable version")
    assert(Catalog.loadAsOf(spark, layout, 99).count() == 6)

    Catalog.recoverAppends(spark, layout)
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L))
    assert(Catalog.loadAsOf(spark, layout, 2).count() == 8)
  }
}
