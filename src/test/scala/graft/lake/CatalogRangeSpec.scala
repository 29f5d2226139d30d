package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.CodegenAccess
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Catalog reads plan from the manifest log: every commit records each
  * catalog file's size and `ts` bounds, and [[Catalog.rangeQuery]],
  * [[Catalog.load]] and [[Catalog.loadAsOf]] read through one
  * log-backed file index. A range read lists no catalog directory,
  * opens only the files its range overlaps, inlines no bound into
  * generated code, and returns exactly the committed rows in range. */
class CatalogRangeSpec extends SparkTestBase {

  private val t0Ms = 1704067200000L

  private def countFs(name: String): Layout = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    Layout("countfs:" + tmpDir(name))
  }

  private def entries(rows: Seq[(String, Timestamp, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (src, ts, key) => CatalogEntry(src, ts, ts.getTime.toString, key) }.toDS()
  }

  private def ofMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt); t
  }

  private def at(ms: Long, micros: Int = 0): Timestamp = ofMicros(ms * 1000L + micros)

  private def microsOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** The read the log-planned one must equal: every parquet file under
    * the catalog directory, filtered by source and `ts BETWEEN`. */
  private def listedRange(layout: Layout, src: String, lo: Timestamp, hi: Timestamp): DataFrame =
    spark.read.parquet(layout.catalogDir)
      .filter(col("source") === src && col("ts").between(lo, hi))

  private def rows(df: DataFrame): Seq[String] =
    df.select("ts", "tsRaw", "key", "source").collect().map(_.mkString("|")).toSeq.sorted

  /** Top-level paths the counting file system saw under the catalog's
    * data directories (its `_log` and `_staged` excluded). */
  private def catalogData(layout: Layout, seen: java.util.Collection[String]): Seq[String] = {
    val root = new Path(layout.catalogDir).toUri.getPath
    seen.asScala.toSeq.filter(p => p.startsWith(root) &&
      !p.startsWith(s"$root/_log") && !p.startsWith(s"$root/_staged"))
  }

  /** Plans `read` and returns it with the catalog data paths the
    * planning listed and stat'ed, then runs it and returns its rows and
    * the catalog data files the run opened. */
  private def traced(layout: Layout)(read: => DataFrame)
      : (Seq[String], Seq[String], Seq[String], Seq[String]) = {
    CountingLocalFs.reset()
    val df = read
    df.queryExecution.executedPlan
    val (listed, statted) = (catalogData(layout, CountingLocalFs.listed),
      catalogData(layout, CountingLocalFs.statted))
    CountingLocalFs.reset()
    val out = rows(df)
    (out, listed, statted, catalogData(layout, CountingLocalFs.opened).distinct)
  }

  private def keys(df: DataFrame): Seq[String] =
    df.select("key").collect().map(_.getString(0)).toSeq.sorted

  private def jobsDuring[T](body: => T): (T, Int) = QueryExecutions.jobsDuring(spark)(body)

  /** Stage `rows` and claim a catalog-only record for them the way a
    * writer before per-file sizes and bounds did (no `catstat` line),
    * without publishing: a crash between CLAIM and DONE. */
  private def claimWithoutStats(layout: Layout, uuid: String,
      rows: Seq[(String, Timestamp, String)]): (Long, Seq[String]) = {
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"${layout.catalogDir}/_staged/$uuid")
    entries(rows).toDF().write.mode("overwrite").partitionBy("source").parquet(stage.toString)
    val staged = Catalog.stagedFiles(fs, stage)
    val seq = Catalog.claimBody(fs, layout,
      (Seq(s"v2 -1 ${System.currentTimeMillis()}", s"cat $uuid") ++ staged).mkString("\n"))
    (seq, staged)
  }

  test("a second replayCommitted with new bounds compiles no generated class") {
    val layout = Layout(tmpDir("range-codegen"))
    def writeBronze(obj: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir("clicks")); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath,
        s"""{"obj":"$obj","i":0}{"obj":"$obj","i":1}""")
    }
    (0 until 3).foreach { i =>
      writeBronze(s"o$i")
      StreamIngest.processBatch(Ingest.readBronze(spark, layout)
        .filter(col("key").endsWith(s"/o$i.json")), layout, t0Ms + i * 60000L, i.toLong)
    }
    def replayArrival(i: Int): Long = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(t0Ms + i * 60000L - 1000L), new Timestamp(t0Ms + i * 60000L + 1000L))
    assert(replayArrival(0) == 2L)
    val before = CodegenAccess.compiles
    assert(replayArrival(1) == 2L)
    val compiled = CodegenAccess.compiles - before
    assert(compiled == 0L, s"a replay with new bounds compiled $compiled classes")
  }

  test("a narrow range lists no catalog directory and opens only the overlapping file") {
    val layout = countFs("range-narrow")
    (0 until 3).foreach { i =>
      Catalog.append(spark, layout, entries(Seq(
        ("clicks", at(t0Ms + i * 1000L), s"c$i"), ("clicks", at(t0Ms + i * 1000L + 10), s"d$i"),
        ("logs", at(t0Ms + i * 1000L), s"l$i"))))
    }
    val (lo, hi) = (at(t0Ms + 1000L), at(t0Ms + 1010L))
    val (got, listed, statted, opened) =
      traced(layout)(Catalog.rangeQuery(spark, layout, "clicks", lo, hi))
    assert(listed.isEmpty, s"listed $listed")
    assert(statted.isEmpty, s"every file's size is in its record: $statted")
    assert(opened.nonEmpty && opened.forall(_.contains("/source=clicks/c00000000000000000002-")),
      s"opened $opened")
    assert(got == rows(listedRange(layout, "clicks", lo, hi)) && got.size == 2)
  }

  test("rangeQuery equals the committed rows over seeded random ranges") {
    val layout = Layout(tmpDir("range-random"))
    val rng = new scala.util.Random(17)
    val sources = Seq("clicks", "logs", "a b", "x=y")
    val stamps = scala.collection.mutable.ArrayBuffer.empty[Timestamp]
    // every (source, ts, key) the test commits, as the oracle
    val committed = scala.collection.mutable.ArrayBuffer.empty[(String, Timestamp, String)]
    // appended commits: sub-millisecond timestamps, several sources
    (0 until 4).foreach { c =>
      val batch = (0 until 12).map { i =>
        val ts = at(t0Ms + c * 500L + rng.nextInt(400), rng.nextInt(1000))
        stamps += ts
        (sources(rng.nextInt(sources.size)), ts, s"k$c-$i")
      }
      Catalog.append(spark, layout, entries(batch))
      committed ++= batch
    }
    // a record without sizes or bounds, finished by recovery
    val legacy = Seq(
      ("clicks", at(t0Ms + 700L, 5), "legacy-0"), ("logs", at(t0Ms + 2100L), "legacy-1"))
    claimWithoutStats(layout, "legacy", legacy)
    Catalog.recoverAppends(spark, layout)
    committed ++= legacy
    // ingest commits: every entry at one arrival instant
    (0 until 2).foreach { i =>
      val s = spark
      import s.implicits._
      val ms = t0Ms + 900L + i * 800L
      stamps += new Timestamp(ms)
      StreamIngest.processBatch(Seq(("clicks", s"obj-$i", "{}"), ("logs", s"obj-$i", "{}"))
        .toDF("source", "key", "json"), layout, ms, 10L + i)
      committed ++= Seq(("clicks", new Timestamp(ms), s"obj-$i"), ("logs", new Timestamp(ms), s"obj-$i"))
    }
    // `ts BETWEEN lo AND hi` in microseconds, the unit of the stored
    // `ts` and of the predicate's literals
    def committedRange(src: String, lo: Timestamp, hi: Timestamp): Seq[String] =
      committed.toSeq.collect { case (s, ts, key) if s == src &&
          microsOf(lo) <= microsOf(ts) && microsOf(ts) <= microsOf(hi) =>
        s"$ts|${ts.getTime}|$key|$s"
      }.sorted
    def near(t: Timestamp): Timestamp = ofMicros(microsOf(t) + rng.nextInt(3) - 1)
    def endpoint(): Timestamp = rng.nextInt(4) match {
      case 0 => stamps(rng.nextInt(stamps.size))
      case 1 => near(stamps(rng.nextInt(stamps.size)))
      case 2 => // sub-microsecond digits, truncated like the filter's literal
        val t = new Timestamp(stamps(rng.nextInt(stamps.size)).getTime)
        t.setNanos(t.getNanos + rng.nextInt(1000000)); t
      case _ => at(t0Ms - 100L + rng.nextInt(2800))
    }
    (0 until 40).foreach { _ =>
      val (a, b) = (endpoint(), endpoint())
      val (lo, hi) = if (rng.nextInt(8) == 0 || a.after(b)) (b, a) else (a, b)
      val src = sources(rng.nextInt(sources.size))
      assert(rows(Catalog.rangeQuery(spark, layout, src, lo, hi)) ==
        committedRange(src, lo, hi), s"$src [$lo, $hi]")
    }
    assert(rows(Catalog.load(spark, layout)) ==
      committed.toSeq.map { case (s, ts, key) => s"$ts|${ts.getTime}|$key|$s" }.sorted)
  }

  test("a record without sizes or bounds reads exactly, at one status call per file") {
    val layout = countFs("range-legacy")
    Catalog.append(spark, layout, entries(Seq(("clicks", at(t0Ms), "new-0"))))
    claimWithoutStats(layout, "legacy", Seq(
      ("clicks", at(t0Ms + 10L), "old-0"), ("logs", at(t0Ms + 20L), "old-1")))
    Catalog.recoverAppends(spark, layout)
    val (lo, hi) = (at(t0Ms), at(t0Ms + 10L))
    val (got, listed, statted, _) =
      traced(layout)(Catalog.rangeQuery(spark, layout, "clicks", lo, hi))
    assert(listed.isEmpty, s"listed $listed")
    assert(statted.size == 1 && statted.head.contains("/c00000000000000000002-"),
      s"one status call for the one unsized clicks file: $statted")
    assert(got == rows(listedRange(layout, "clicks", lo, hi)) && got.size == 2)
    assert(rows(Catalog.load(spark, layout)) == rows(spark.read.parquet(layout.catalogDir)))
    assert(rows(Catalog.loadAsOf(spark, layout, 2)) == rows(Catalog.load(spark, layout)))
  }

  test("sizes and bounds survive checkpoint and pruneLog") {
    val layout = countFs("range-ckpt")
    (0 until 3).foreach { i =>
      Catalog.append(spark, layout, entries(Seq(("clicks", at(t0Ms + i * 1000L, 3), s"c$i"))))
    }
    assert(Catalog.checkpoint(spark, layout) == Some(3L))
    assert(Catalog.pruneLog(spark, layout) == 6L)
    Catalog.append(spark, layout, entries(Seq(("clicks", at(t0Ms + 3000L), "c3"))))
    val (lo, hi) = (at(t0Ms + 1000L, 3), at(t0Ms + 3000L))
    val (got, listed, statted, opened) =
      traced(layout)(Catalog.rangeQuery(spark, layout, "clicks", lo, hi))
    assert(listed.isEmpty, s"listed $listed")
    assert(statted.isEmpty, s"sizes come from the checkpoint: $statted")
    assert(opened.size == 3 && !opened.exists(_.contains("/c00000000000000000001-")),
      s"bounds come from the checkpoint: opened $opened")
    assert(got == rows(listedRange(layout, "clicks", lo, hi)) && got.size == 3)
  }

  test("an empty range and a 40-file catalog read start no Spark job for listing") {
    val layout = Layout(tmpDir("range-jobs"))
    Catalog.append(spark, layout, entries((0 until 40).map(i => (s"s$i", at(t0Ms + i), s"k$i"))))
    val (empty, emptyJobs) = jobsDuring {
      Catalog.rangeQuery(spark, layout, "s3", at(t0Ms + 100L), at(t0Ms + 200L)).collect()
    }
    assert(empty.isEmpty && emptyJobs == 0, s"an empty range ran $emptyJobs jobs")
    Seq[() => DataFrame](() => Catalog.load(spark, layout),
        () => Catalog.loadAsOf(spark, layout, 1L)).foreach { read =>
      val (df, jobs) = jobsDuring { val df = read(); df.queryExecution.executedPlan; df }
      assert(jobs == 0, s"planning a 40-file read ran $jobs jobs")
      assert(df.inputFiles.length == 40 && df.count() == 40L)
    }
  }

  test("loadAsOf a version with no catalog file has the catalog's columns") {
    val layout = Layout(tmpDir("range-asof-empty"))
    val (none, jobs) = jobsDuring(Catalog.loadAsOf(spark, layout, 0L).select("key").collect())
    assert(none.isEmpty && jobs == 0)
    Catalog.append(spark, layout, entries(Seq(("clicks", at(t0Ms), "k0"))))
    val v0 = Catalog.loadAsOf(spark, layout, 0L)
    assert(v0.columns.toSeq == Seq("ts", "tsRaw", "key", "source"))
    assert(v0.schema == Catalog.load(spark, layout).schema && v0.count() == 0L)
    assert(Catalog.loadAsOf(spark, layout, 1L).select("key").collect().toSeq == Seq(Row("k0")))
  }

  test("a claimed but undone commit's published files stay invisible until recoverAppends") {
    val layout = Layout(tmpDir("range-undone"))
    Catalog.append(spark, layout, entries(Seq(("clicks", at(t0Ms), "done-0"))))
    val (seq, staged) = claimWithoutStats(layout, "torn", Seq(("clicks", at(t0Ms + 5L), "torn-0")))
    // the crashed writer got as far as its publish renames, not its DONE
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    staged.foreach { rel =>
      val (part, name) = rel.splitAt(rel.indexOf('/'))
      assert(fs.rename(new Path(s"${layout.catalogDir}/_staged/torn/$rel"),
        new Path(f"${layout.catalogDir}/$part/c$seq%020d-${name.drop(1)}")))
    }
    assert(spark.read.parquet(layout.catalogDir).count() == 2L, "the torn file is in place")
    val (lo, hi) = (at(t0Ms), at(t0Ms + 5L))
    assert(keys(Catalog.load(spark, layout)) == Seq("done-0"))
    assert(keys(Catalog.rangeQuery(spark, layout, "clicks", lo, hi)) == Seq("done-0"))
    Catalog.recoverAppends(spark, layout)
    assert(keys(Catalog.load(spark, layout)) == Seq("done-0", "torn-0"))
    assert(keys(Catalog.rangeQuery(spark, layout, "clicks", lo, hi)) == Seq("done-0", "torn-0"))
  }
}
