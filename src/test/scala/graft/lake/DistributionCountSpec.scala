package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A subscription plans from the manifest log and counts from it:
  * every distribution commit logs its files' sizes and its rows per
  * source directory, [[Distribution.subscribeAsOf]] reads through a
  * [[LogFileIndex]] built from them, and `count()` of the view is a
  * one-row local relation ([[LogFileIndex.CountFromLog]]) — no listing,
  * no status call, no Spark job. Wherever the log does not know the
  * rows, or the query is more than a count, the view scans. */
class DistributionCountSpec extends SparkTestBase {
  import spark.implicits._

  private val t0Ms = 1704067200000L

  private def jobsDuring[T](body: => T): (T, Int) = QueryExecutions.jobsDuring(spark)(body)

  private def rec(user: String, v: Int): String = s"""{"user":"$user","v":$v}"""

  /** One stream micro-batch of `(source, key, json)` rows. */
  private def ingest(layout: Layout, rows: Seq[(String, String, String)], ms: Long): Unit =
    StreamIngest.processBatch(rows.toDF("source", "key", "json"), layout, ms)

  /** `count()` of `source`'s view at `version`, which must start no
    * Spark job and equal a scan of the same snapshot. */
  private def loggedCount(layout: Layout, source: String, version: Long = Long.MaxValue): Long = {
    val df = Distribution.subscribeAsOf(spark, layout, source, version)
    val (n, jobs) = jobsDuring(df.count())
    assert(jobs == 0, s"count() of $source at $version ran $jobs Spark jobs")
    assert(n == df.collect().length, s"count() of $source at $version disagrees with its scan")
    n
  }

  /** `count()` that must scan (the log does not know the rows). */
  private def scannedCount(df: DataFrame): Long = {
    val (n, jobs) = jobsDuring(df.count())
    assert(jobs > 0, "the count was expected to scan")
    assert(n == df.collect().length)
    n
  }

  private def writeBronze(layout: Layout, source: String, obj: String, content: String): Unit = {
    val d = new java.io.File(layout.bronzeSourceDir(source)); d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, obj).toPath, content)
  }

  test("count() starts no Spark job after ingest, replay, compaction, erase and recoverAppends") {
    val layout = Layout(tmpDir("dcount-loop"))
    writeBronze(layout, "clicks", "o0.json", rec("A", 0) + rec("B", 1) + rec("A", 2))
    writeBronze(layout, "tweets", "t0.json", rec("C", 3))
    StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, t0Ms, 1L)
    assert(loggedCount(layout, "clicks") == 3 && loggedCount(layout, "tweets") == 1)
    writeBronze(layout, "clicks", "o1.json", rec("B", 4) + rec("C", 5))
    StreamIngest.processBatch(Ingest.readBronze(spark, layout)
      .filter(col("key").endsWith("/o1.json")), layout, t0Ms + 60000L, 2L)
    assert(loggedCount(layout, "clicks") == 5)

    // a replay re-publishes the first arrival's 3 records
    assert(Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(t0Ms - 1000L), new Timestamp(t0Ms + 1000L)) == 3L)
    assert(loggedCount(layout, "clicks") == 8)

    // compaction returns the rows its write observed, and logs them
    assert(Compaction.compactSourceCommitted(spark, layout, "clicks") == 8L)
    assert(Catalog.distLiveFiles(spark, layout).count(_.startsWith("source=clicks/")) == 1)
    assert(loggedCount(layout, "clicks") == 8)

    // the erase rewrite logs the rows it kept
    val report = Erase.eraseWhere(spark, layout, "clicks", Erase.jsonFieldEquals("user", "A"))
    assert(report.distributionRecordsDropped == 4L, s"$report")
    assert(loggedCount(layout, "clicks") == 4)

    // an ingest record claimed but not finished: invisible, then
    // finished by recovery with its logged sizes and rows
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"${layout.distributionDir}/_staged/u-crash")
    Seq(("tweets", "t1", rec("D", 6)), ("tweets", "t2", rec("E", 7)))
      .toDF("source", "key", "json")
      .write.mode("overwrite").partitionBy("source").format("json").save(stage.toString)
    val staged = Catalog.stagedSizes(fs, stage, ".json")
    Catalog.claimBody(fs, layout, (Seq(s"v2 -1 ${System.currentTimeMillis()}", "dist u-crash") ++
      staged.map { case (rel, n) => s"$n $rel" } :+ "distrows 2 source=tweets").mkString("\n"))
    assert(loggedCount(layout, "tweets") == 1)
    Catalog.recoverAppends(spark, layout)
    assert(loggedCount(layout, "tweets") == 3)
    assert(loggedCount(layout, "nobody") == 0)
  }

  test("subscribeAsOf counts every version from the log, across checkpoint and pruneLog") {
    val layout = Layout(tmpDir("dcount-asof"))
    val want = scala.collection.mutable.ArrayBuffer(0L) // clicks rows at version v
    def step(body: => Unit): Unit = {
      body
      assert(Catalog.headVersion(spark, layout) == want.size.toLong)
      want += Distribution.subscribeSnapshot(spark, layout, "clicks").collect().length
    }
    step(ingest(layout, Seq(("clicks", "k1", rec("A", 1)), ("clicks", "k1", rec("B", 2)),
      ("logs", "l1", rec("A", 3))), t0Ms))
    step(ingest(layout, Seq(("clicks", "k2", rec("C", 4))), t0Ms + 1000L))
    step(Catalog.commitDist(spark, layout,
      Seq(("clicks", "k1", rec("A", 1)), ("logs", "l1", rec("A", 3))).toDF("source", "key", "json")))
    step(Compaction.compactSourceCommitted(spark, layout, "clicks"))
    step(ingest(layout, Seq(("clicks", "k3", rec("D", 5)), ("clicks", "k3", rec("E", 6))), t0Ms + 2000L))
    assert(want == Seq(0L, 2L, 3L, 4L, 4L, 6L))
    def allVersions(): Unit = want.indices.foreach { v =>
      assert(loggedCount(layout, "clicks", v.toLong) == want(v), s"clicks at version $v")
    }
    allVersions()
    assert(Catalog.checkpoint(spark, layout).contains(5L))
    assert(Catalog.pruneLog(spark, layout) > 0L)
    allVersions()
    assert(loggedCount(layout, "logs") == 2)
  }

  test("a record written before sizes and rows were logged counts by scanning, exactly") {
    val layout = Layout(tmpDir("dcount-old"))
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"${layout.distributionDir}/_staged/u-old")
    Seq(("clicks", "k1", rec("A", 1)), ("clicks", "k2", rec("B", 2)), ("logs", "l1", rec("C", 3)))
      .toDF("source", "key", "json")
      .write.mode("overwrite").partitionBy("source").format("json").save(stage.toString)
    // the old form: bare paths, no sizes, no distrows line
    Catalog.claimBody(fs, layout, (Seq(s"v2 -1 ${System.currentTimeMillis()}", "dist u-old") ++
      Catalog.stagedFiles(fs, stage, suffix = ".json")).mkString("\n"))
    Catalog.recoverAppends(spark, layout)
    assert(scannedCount(Distribution.subscribeSnapshot(spark, layout, "clicks")) == 2)
    // a newer commit on top keeps the source unknown as a whole
    Catalog.commitDist(spark, layout, Seq(("clicks", "k3", rec("D", 4))).toDF("source", "key", "json"))
    assert(scannedCount(Distribution.subscribeSnapshot(spark, layout, "clicks")) == 3)
    assert(scannedCount(Distribution.subscribeSnapshot(spark, layout, "logs")) == 1)
    // a fold keeps an old file's unknown size and rows as they are
    assert(Catalog.checkpoint(spark, layout).isDefined)
    Catalog.pruneLog(spark, layout)
    assert(scannedCount(Distribution.subscribeSnapshot(spark, layout, "clicks")) == 3)
    // compaction rewrites the source with logged rows: a log count again
    assert(Compaction.compactSourceCommitted(spark, layout, "clicks") == 3L)
    assert(loggedCount(layout, "clicks") == 3)
  }

  test("a filter, groupBy or countDistinct over a subscription still scans") {
    val layout = Layout(tmpDir("dcount-shapes"))
    ingest(layout, Seq(("clicks", "k1", rec("A", 1)), ("clicks", "k1", rec("B", 2)),
      ("clicks", "k2", rec("A", 3))), t0Ms)
    val df = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(loggedCount(layout, "clicks") == 3)
    assert(scannedCount(df.filter(col("key") === "k1")) == 2)
    assert(scannedCount(df.where(col("source") === "clicks")) == 3)
    val (groups, gJobs) = jobsDuring(df.groupBy("key").count().collect())
    assert(gJobs > 0 && groups.map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("k1", 2L), ("k2", 1L)))
    val (distinct, dJobs) = jobsDuring(df.select(countDistinct("key")).head().getLong(0))
    assert(dJobs > 0 && distinct == 2L)
    val (nonNull, nJobs) = jobsDuring(df.select(count(col("key"))).head().getLong(0))
    assert(nJobs > 0 && nonNull == 3L)
    // the same count through SQL, over a temp view, is a log lookup
    df.createOrReplaceTempView("dcount_clicks")
    val (sqlCount, sJobs) = jobsDuring(
      spark.sql("SELECT count(*) AS n, count(1) AS m FROM dcount_clicks").head())
    assert(sJobs == 0 && sqlCount.getLong(0) == 3L && sqlCount.getLong(1) == 3L)
  }

  test("planning a subscription lists no distribution directory and makes no status call") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val layout = Layout("countfs:" + tmpDir("dcount-fs"))
    // 40 files in one commit: more than the 32 above which a listing
    // index starts a parallel-listing Spark job
    Catalog.commitDist(spark, layout, spark.range(0, 40, 1, 40)
      .select(lit("clicks").as("source"), col("id").cast("string").as("key"), lit("{}").as("json")))
    assert(Catalog.distLiveFiles(spark, layout).size == 40)
    val distDir = new Path(layout.distributionDir).toUri.getPath
    def touched(q: java.util.Collection[String]): Seq[String] =
      q.toArray(Array.empty[String]).toSeq.filter(_.startsWith(distDir))
    CountingLocalFs.reset()
    val (df, jobs) = jobsDuring {
      val df = Distribution.subscribeSnapshot(spark, layout, "clicks")
      df.queryExecution.executedPlan
      df
    }
    assert(jobs == 0, s"planning ran $jobs Spark jobs")
    assert(touched(CountingLocalFs.listed).isEmpty, touched(CountingLocalFs.listed))
    assert(touched(CountingLocalFs.statted).isEmpty, touched(CountingLocalFs.statted))
    assert(df.inputFiles.length == 40)
    CountingLocalFs.reset()
    assert(jobsDuring(df.count()) == ((40L, 0)))
    assert(touched(CountingLocalFs.opened).isEmpty, "the count opened a data file")
    assert(df.collect().length == 40)
  }

  test("a live file deleted behind the log still counts from it; a scan and fsck see it gone") {
    val layout = Layout(tmpDir("dcount-gone"))
    ingest(layout, Seq(("clicks", "k1", rec("A", 1)), ("clicks", "k2", rec("B", 2))), t0Ms)
    ingest(layout, Seq(("clicks", "k3", rec("C", 3))), t0Ms + 1000L)
    val victim = Catalog.distLiveFiles(spark, layout).head
    assert(new java.io.File(s"${layout.distributionDir}/$victim").delete())
    val df = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(jobsDuring(df.count()) == ((3L, 0)))
    intercept[Exception](df.collect())
    val fsck = Catalog.fsckLake(spark, layout).filter($"check" === "dist_files_exist").head()
    assert(!fsck.getBoolean(1) && fsck.getLong(2) == 1L && fsck.getString(3) == victim)
  }

  test("sources with escaped characters are subscribed, counted, compacted and erased") {
    val layout = Layout(tmpDir("dcount-escaped"))
    val sources = Seq("a:b", "k=v", "50%", "x y")
    sources.zipWithIndex.foreach { case (src, i) =>
      ingest(layout, Seq((src, s"k$i", rec("A", i)), (src, s"k$i", rec("B", i))), t0Ms)
    }
    sources.zipWithIndex.foreach { case (src, i) =>
      ingest(layout, Seq((src, s"j$i", rec("C", i))), t0Ms + 1000L)
    }
    assert(new java.io.File(layout.distributionDir).list().toSet.filter(_.startsWith("source=")) ==
      Set("source=a%3Ab", "source=k%3Dv", "source=50%25", "source=x y"))
    sources.foreach { src =>
      assert(Distribution.topicPath(layout, src) ==
        s"${layout.distributionDir}/${Layout.sourceDir(src)}")
      val got = Distribution.subscribeSnapshot(spark, layout, src).collect()
      assert(got.length == 3 && got.forall(_.getAs[String]("source") == src), s"$src: ${got.toSeq}")
      assert(loggedCount(layout, src) == 3)
      assert(Compaction.compactSourceCommitted(spark, layout, src) == 3L, src)
      assert(Catalog.distLiveFiles(spark, layout).count(_.startsWith(Layout.sourceDir(src) + "/")) == 1)
      assert(loggedCount(layout, src) == 3)
      val report = Erase.eraseWhere(spark, layout, src, Erase.jsonFieldEquals("user", "A"))
      assert(report.distributionRecordsDropped == 1L, s"$src: $report")
      assert(loggedCount(layout, src) == 2)
      assert(!Distribution.subscribeSnapshot(spark, layout, src).collect()
        .exists(_.getAs[String]("json").contains("\"user\":\"A\"")), src)
    }
  }
}
