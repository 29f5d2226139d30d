package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.CodegenAccess
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Catalog reads plan from the manifest log: every catalog row is an
  * entry in a commit record, and [[Catalog.rangeQuery]],
  * [[Catalog.load]] and [[Catalog.loadAsOf]] serve them from one log
  * read. A range read starts no Spark job, inlines no bound into
  * generated code, and returns exactly the committed rows in range;
  * an undone commit's rows stay hidden until recovery. */
class CatalogRangeSpec extends SparkTestBase {

  private val t0Ms = 1704067200000L

  private def entries(rows: Seq[(String, Timestamp, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (src, ts, key) =>
      CatalogEntry(src, ts, Option(ts).map(_.getTime.toString).orNull, key) }.toDS()
  }

  private def ofMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt); t
  }

  private def at(ms: Long, micros: Int = 0): Timestamp = ofMicros(ms * 1000L + micros)

  private def microsOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def rows(df: DataFrame): Seq[String] =
    df.select("ts", "tsRaw", "key", "source").collect().map(_.mkString("|")).toSeq.sorted

  private def keys(df: DataFrame): Seq[String] =
    df.select("key").collect().map(_.getString(0)).toSeq.sorted

  private def jobsDuring[T](body: => T): (T, Int) = QueryExecutions.jobsDuring(spark)(body)

  /** Claim a catalog-only record of `rows` (the record
    * [[Catalog.append]] writes) without finishing it: a crash between
    * CLAIM and DONE. The rest of the record is `legs`. */
  private def claimUndone(layout: Layout, rows: Seq[(String, Timestamp, String)],
      legs: Seq[String] = Seq.empty): Long = {
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Catalog.claimBody(fs, layout, ((s"v2 -1 ${System.currentTimeMillis()}" +: legs) ++
      rows.map { case (src, ts, key) => s"catent ${microsOf(ts)} ${ts.getTime} $src $key" })
      .mkString("\n"))
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
      val key = Ingest.readBronze(spark, layout).filter(col("key").endsWith(s"/o$i.json"))
        .select("key").head().getString(0)
      Catalog.append(spark, layout, entries(Seq(("clicks", at(t0Ms + i * 60000L), key))))
    }
    def replayArrival(i: Int): Long = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(t0Ms + i * 60000L - 1000L), new Timestamp(t0Ms + i * 60000L + 1000L))
    assert(replayArrival(0) == 2L)
    val before = CodegenAccess.compiles
    assert(replayArrival(1) == 2L)
    val compiled = CodegenAccess.compiles - before
    assert(compiled == 0L, s"a replay with new bounds compiled $compiled classes")
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
    // a record whose writer crashed before DONE, finished by recovery
    val recovered = Seq(
      ("clicks", at(t0Ms + 700L, 5), "recovered-0"), ("logs", at(t0Ms + 2100L), "recovered-1"))
    claimUndone(layout, recovered)
    Catalog.recoverAppends(spark, layout)
    committed ++= recovered
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

  test("rangeQuery's per-source index equals the linear filter, order included") {
    val layout = Layout(tmpDir("range-index"))
    val rng = new scala.util.Random(29)
    val sources = Seq("clicks", "logs", "a b", null)
    // few distinct instants, so many entries tie on `ts`
    val instants = (0 until 12).map(i => at(t0Ms + i * 7L, rng.nextInt(3)))
    def anyTs(): Timestamp = if (rng.nextInt(10) == 0) null else instants(rng.nextInt(instants.size))
    (0 until 5).foreach { c =>
      Catalog.append(spark, layout, entries((0 until 40).map(i =>
        (sources(rng.nextInt(sources.size)), anyTs(), s"k$c-$i"))))
      // a fold between commits: the index spans checkpoint and tail
      if (c == 2) assert(Catalog.checkpoint(spark, layout).isDefined)
    }
    // the oracle: every committed entry in log order, filtered
    // linearly, then stably ordered by `ts`
    val all = Catalog.load(spark, layout).select("ts", "tsRaw", "key", "source").collect().toSeq
    def linear(src: String, lo: Timestamp, hi: Timestamp): Seq[String] =
      if (src == null || lo == null || hi == null) Seq.empty
      else all.filter { r =>
        val ts = r.getAs[Timestamp]("ts")
        ts != null && r.getAs[String]("source") == src &&
          microsOf(lo) <= microsOf(ts) && microsOf(ts) <= microsOf(hi)
      }.sortBy(r => microsOf(r.getAs[Timestamp]("ts"))).map(_.mkString("|"))
    def endpoint(): Timestamp = rng.nextInt(5) match {
      case 0 => null
      case 1 => ofMicros(microsOf(instants(rng.nextInt(instants.size))) + rng.nextInt(3) - 1)
      case _ => instants(rng.nextInt(instants.size)) // exactly on an edge: inclusive
    }
    (0 until 200).foreach { _ =>
      val (lo, hi, src) = (endpoint(), endpoint(), sources(rng.nextInt(sources.size)))
      val got = Catalog.rangeQuery(spark, layout, src, lo, hi)
        .select("ts", "tsRaw", "key", "source").collect().toSeq.map(_.mkString("|"))
      assert(got == linear(src, lo, hi), s"$src [$lo, $hi]")
    }
  }

  test("an empty range and a 40-entry catalog read start no Spark job") {
    val layout = Layout(tmpDir("range-jobs"))
    Catalog.append(spark, layout, entries((0 until 40).map(i => (s"s$i", at(t0Ms + i), s"k$i"))))
    val (empty, emptyJobs) = jobsDuring {
      Catalog.rangeQuery(spark, layout, "s3", at(t0Ms + 100L), at(t0Ms + 200L)).collect()
    }
    assert(empty.isEmpty && emptyJobs == 0, s"an empty range ran $emptyJobs jobs")
    Seq[() => DataFrame](() => Catalog.load(spark, layout),
        () => Catalog.loadAsOf(spark, layout, 1L)).foreach { read =>
      val (df, jobs) = jobsDuring { val df = read(); df.queryExecution.executedPlan; df }
      assert(jobs == 0, s"planning a 40-entry read ran $jobs jobs")
      val (all, readJobs) = jobsDuring(df.collect())
      assert(readJobs == 0, s"reading a 40-entry catalog ran $readJobs jobs")
      assert(df.inputFiles.isEmpty && all.length == 40)
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
    // the record an ingest commit writes, a distribution leg and its
    // entry; the crashed writer got as far as its publish renames, not
    // its DONE
    val s = spark
    import s.implicits._
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(s"${layout.distributionDir}/_staged/torn")
    Seq(("clicks", "torn-0", "{}")).toDF("source", "key", "json")
      .write.partitionBy("source").json(stage.toString)
    val staged = Catalog.stagedFiles(fs, stage, suffix = ".json")
    val seq = claimUndone(layout, Seq(("clicks", at(t0Ms + 5L), "torn-0")), "dist torn" +: staged)
    staged.foreach { rel =>
      val (part, name) = rel.splitAt(rel.indexOf('/'))
      assert(fs.rename(new Path(s"$stage/$rel"),
        new Path(f"${layout.distributionDir}/$part/c$seq%020d-${name.drop(1)}")))
    }
    assert(spark.read.json(layout.distributionDir).count() == 1L, "the torn file is in place")
    val (lo, hi) = (at(t0Ms), at(t0Ms + 5L))
    assert(keys(Catalog.load(spark, layout)) == Seq("done-0"))
    assert(keys(Catalog.rangeQuery(spark, layout, "clicks", lo, hi)) == Seq("done-0"))
    Catalog.recoverAppends(spark, layout)
    assert(keys(Catalog.load(spark, layout)) == Seq("done-0", "torn-0"))
    assert(keys(Catalog.rangeQuery(spark, layout, "clicks", lo, hi)) == Seq("done-0", "torn-0"))
  }
}
