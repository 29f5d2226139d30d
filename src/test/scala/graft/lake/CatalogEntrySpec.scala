package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.CodegenAccess
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A stream micro-batch keeps its catalog entries in its commit record
  * ([[Catalog.commitIngest]]): it writes no catalog file, and every
  * catalog reader folds the entries from the log — [[Catalog.load]],
  * [[Catalog.loadAsOf]] and [[Catalog.rangeQuery]] serve them as a
  * local relation, with the entries [[Catalog.append]] logs,
  * [[Catalog.versions]] and [[Catalog.lakeHistory]] count them, a
  * checkpoint folds them, and an undone record's entries stay hidden. */
class CatalogEntrySpec extends SparkTestBase {

  private val t0Ms = 1704067200000L

  /** One committed catalog row: source, arrival (or append) time, key. */
  private type Committed = (String, Timestamp, String)

  private def batchOf(rows: Seq[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (src, key) => (src, key, "{}") }.toDF("source", "key", "json")
  }

  /** One micro-batch of `objects` arriving at `ms`, with no batch marker. */
  private def ingest(layout: Layout, ms: Long, objects: Seq[(String, String)]): Seq[Committed] = {
    StreamIngest.processBatch(batchOf(objects), layout, ms)
    objects.distinct.map { case (src, key) => (src, new Timestamp(ms), key) }
  }

  private def append(layout: Layout, rows: Seq[Committed]): Seq[Committed] = {
    val s = spark
    import s.implicits._
    Catalog.append(spark, layout, rows.map { case (src, ts, key) =>
      CatalogEntry(src, ts, ts.getTime.toString, key) }.toDS())
    rows
  }

  private def row(c: Committed): Row = Row(c._2, c._2.getTime.toString, c._3, c._1)

  private def rowsOf(df: DataFrame): Set[Row] = {
    assert(df.columns.toSeq == Seq("ts", "tsRaw", "key", "source"))
    val rows = df.collect()
    assert(rows.length == rows.distinct.length, s"duplicate rows: ${rows.toSeq}")
    rows.toSet
  }

  private def microsOf(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** `source = src AND ts BETWEEN lo AND hi` over the committed rows, in
    * microseconds like the predicate's literals; a null bound or source
    * matches nothing. */
  private def oracle(committed: Seq[Committed], src: String,
      lo: Timestamp, hi: Timestamp): Set[Row] =
    if (src == null || lo == null || hi == null) Set.empty
    else committed.filter { case (s, ts, _) =>
      s == src && microsOf(lo) <= microsOf(ts) && microsOf(ts) <= microsOf(hi)
    }.map(row).toSet

  private def jobsDuring[T](body: => T): (T, Int) = QueryExecutions.jobsDuring(spark)(body)

  /** Every file under the catalog directory outside its `_log`. */
  private def catalogFiles(layout: Layout): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.filter(_.getName != "_log").flatMap(walk)
      else Seq(f.getPath)
    walk(new java.io.File(layout.catalogDir))
  }

  private def writeBronze(layout: Layout, src: String, obj: String): Unit = {
    val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath,
      s"""{"obj":"$obj","i":0}{"obj":"$obj","i":1}""")
  }

  test("one processBatch starts one Spark job and writes no catalog file") {
    val layout = Layout(tmpDir("entry-one-job"))
    Seq("c0", "c1").foreach(writeBronze(layout, "clicks", _))
    writeBronze(layout, "logs", "l0")
    val batch = Ingest.readBronze(spark, layout)
    val (_, jobs) = jobsDuring(StreamIngest.processBatch(batch, layout, t0Ms, 1L))
    assert(jobs == 1, s"the micro-batch ran $jobs Spark jobs")
    assert(catalogFiles(layout).isEmpty, s"catalog files written: ${catalogFiles(layout)}")
    assert(Catalog.load(spark, layout).select("source", "key").collect()
      .map(r => (r.getString(0), r.getString(1).split('/').last)).toSet ==
      Set(("clicks", "c0.json"), ("clicks", "c1.json"), ("logs", "l0.json")))
  }

  test("replayCommitted over a stream-built catalog runs one job and compiles nothing new") {
    val layout = Layout(tmpDir("entry-replay"))
    (0 until 3).foreach { i =>
      writeBronze(layout, "clicks", s"o$i")
      StreamIngest.processBatch(Ingest.readBronze(spark, layout)
        .filter(col("key").endsWith(s"/o$i.json")), layout, t0Ms + i * 60000L, i.toLong)
    }
    def replayArrival(i: Int): Long = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(t0Ms + i * 60000L - 1000L), new Timestamp(t0Ms + i * 60000L + 1000L))
    assert(replayArrival(0) == 2L)
    val before = CodegenAccess.compiles
    val (n, jobs) = jobsDuring(replayArrival(1))
    val compiled = CodegenAccess.compiles - before
    assert(n == 2L)
    assert(jobs == 1, s"the replay ran $jobs Spark jobs; the publish is the only one")
    assert(compiled == 0L, s"a replay with new bounds compiled $compiled classes")
  }

  test("rangeQuery equals the committed entries and files over seeded random ranges") {
    val layout = Layout(tmpDir("entry-random"))
    val rng = new scala.util.Random(23)
    val sources = Seq("clicks", "logs", "a b", "x=y")
    val committed = scala.collection.mutable.ArrayBuffer.empty[Committed]
    (0 until 8).foreach { c =>
      val ms = t0Ms + c * 300L + rng.nextInt(200)
      val objects = (0 until 6).map(i => (sources(rng.nextInt(sources.size)), s"o$c-$i"))
      if (c % 3 == 2) committed ++= append(layout, objects.map { case (src, key) =>
        val ts = new Timestamp(ms + rng.nextInt(3)); ts.setNanos(ts.getNanos + rng.nextInt(1000) * 1000)
        (src, ts, key)
      })
      else committed ++= ingest(layout, ms, objects)
    }
    val stamps = committed.map(_._2).toIndexedSeq
    def endpoint(): Timestamp = rng.nextInt(5) match {
      case 0 | 1 => stamps(rng.nextInt(stamps.size)) // an inclusive edge
      case 2 => new Timestamp(stamps(rng.nextInt(stamps.size)).getTime + rng.nextInt(3) - 1)
      case 3 => // sub-microsecond digits, truncated like the predicate's literal
        val t = new Timestamp(stamps(rng.nextInt(stamps.size)).getTime)
        t.setNanos(t.getNanos + rng.nextInt(1000000)); t
      case _ => new Timestamp(t0Ms - 100L + rng.nextInt(2700))
    }
    (0 until 60).foreach { q =>
      val (a, b) = (endpoint(), endpoint())
      val (lo, hi) = q % 10 match {
        case 0 => (null, b)
        case 1 => (a, null)
        case 2 => (if (a.after(b)) a else b, if (a.after(b)) b else a) // reversed
        case _ => if (a.after(b)) (b, a) else (a, b)
      }
      val src = sources(rng.nextInt(sources.size))
      assert(rowsOf(Catalog.rangeQuery(spark, layout, src, lo, hi)) ==
        oracle(committed.toSeq, src, lo, hi), s"$src [$lo, $hi]")
    }
    assert(rowsOf(Catalog.rangeQuery(spark, layout, null,
      stamps.minBy(microsOf), stamps.maxBy(microsOf))).isEmpty)
    assert(rowsOf(Catalog.load(spark, layout)) == committed.map(row).toSet)
  }

  test("entries survive checkpoint and pruneLog; versions and loadAsOf include stream commits") {
    val layout = Layout(tmpDir("entry-ckpt"))
    val commits = Seq(
      ingest(layout, t0Ms, Seq(("clicks", "a0"), ("logs", "a1"))),
      append(layout, Seq(("clicks", new Timestamp(t0Ms + 5L), "b0"))),
      ingest(layout, t0Ms + 10L, Seq(("clicks", "c0"), ("clicks", "c1"), ("clicks", "c0"))))
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L))
    def asOf(v: Int): Set[Row] = commits.take(v).flatten.map(row).toSet
    def check(): Unit = {
      (0 to commits.size).foreach { v =>
        assert(rowsOf(Catalog.loadAsOf(spark, layout, v.toLong)) == asOf(v), s"as of $v")
      }
      assert(rowsOf(Catalog.load(spark, layout)) == asOf(commits.size))
      assert(rowsOf(Catalog.rangeQuery(spark, layout, "clicks",
        new Timestamp(t0Ms), new Timestamp(t0Ms + 10L))) ==
        oracle(commits.flatten, "clicks", new Timestamp(t0Ms), new Timestamp(t0Ms + 10L)))
    }
    check()
    val history = Catalog.lakeHistory(spark, layout).select("version", "n_catalog_added")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
    assert(history == Seq(1L -> 2, 2L -> 1, 3L -> 2), "one catalog add per logged entry")

    assert(Catalog.checkpoint(spark, layout) == Some(3L))
    assert(Catalog.pruneLog(spark, layout) == 6L)
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L))
    check()
    val more = ingest(layout, t0Ms + 20L, Seq(("logs", "d0")))
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L, 4L))
    assert(rowsOf(Catalog.load(spark, layout)) == (commits :+ more).flatten.map(row).toSet)
    // a second fold folds the first fold's entries again
    assert(Catalog.checkpoint(spark, layout) == Some(4L))
    Catalog.pruneLog(spark, layout)
    assert(rowsOf(Catalog.loadAsOf(spark, layout, 3L)) == asOf(3))
    assert(rowsOf(Catalog.load(spark, layout)) == (commits :+ more).flatten.map(row).toSet)
  }

  test("a claimed but undone record's entries stay hidden until recoverAppends") {
    val layout = Layout(tmpDir("entry-undone"))
    ingest(layout, t0Ms, Seq(("clicks", "done-0")))
    // the record a micro-batch writes, claimed by a writer that then crashed
    // before DONE; and a later commit above it
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = Catalog.claimBody(fs, layout,
      s"v2 -1 ${System.currentTimeMillis()}\ncatent ${(t0Ms + 5L) * 1000L} ${t0Ms + 5L} clicks torn-0")
    ingest(layout, t0Ms + 9L, Seq(("clicks", "later-0")))
    val range = (new Timestamp(t0Ms), new Timestamp(t0Ms + 10L))
    def keys(df: DataFrame): Seq[String] = df.select("key").collect().map(_.getString(0)).toSeq.sorted
    assert(keys(Catalog.load(spark, layout)) == Seq("done-0", "later-0"))
    assert(keys(Catalog.rangeQuery(spark, layout, "clicks", range._1, range._2)) ==
      Seq("done-0", "later-0"))
    assert(Catalog.versions(spark, layout) == Seq(1L, 3L))
    assert(Catalog.lakeHistory(spark, layout).select("version").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the fold stops below the undone record and keeps it out
    assert(Catalog.checkpoint(spark, layout) == Some(torn - 1))
    Catalog.pruneLog(spark, layout)
    assert(keys(Catalog.loadAsOf(spark, layout, torn)) == Seq("done-0"))
    Catalog.recoverAppends(spark, layout)
    assert(keys(Catalog.load(spark, layout)) == Seq("done-0", "later-0", "torn-0"))
    assert(keys(Catalog.rangeQuery(spark, layout, "clicks", range._1, range._2)) ==
      Seq("done-0", "later-0", "torn-0"))
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L, 3L))
  }

  test("a source or key holding a space, %, = or non-ASCII text round-trips exactly") {
    val layout = Layout(tmpDir("entry-encoding"))
    // sources name the distribution's partition directories, so they
    // stay within what any host's file-name encoding can write
    val odd = Seq(
      ("a b", "k 1"), ("a b", "k%201"), ("a b", "%"), ("x=y", "k=v%3D"),
      ("x=y", "ünï cødé ключ 鍵 🔑"), ("tab\tsrc%", "line\nbreak\r\u007f%25"), ("a b", ""),
      ("a b", null))
    val ingested = ingest(layout, t0Ms, odd)
    // a record another writer logged with a non-ASCII source, finished
    // by recovery
    val fs = new Path(layout.catalogDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Catalog.claimBody(fs, layout, s"v2 -1 ${System.currentTimeMillis()}\n" +
      s"catent ${(t0Ms + 1L) * 1000L} ${t0Ms + 1L} ünï%20cødé%25 k%0A鍵")
    Catalog.recoverAppends(spark, layout)
    val committed = ingested :+ (("ünï cødé%", new Timestamp(t0Ms + 1L), "k\n鍵"))
    def check(): Unit = {
      assert(rowsOf(Catalog.load(spark, layout)) == committed.map(row).toSet)
      committed.map(_._1).distinct.foreach { src =>
        assert(rowsOf(Catalog.rangeQuery(spark, layout, src, new Timestamp(t0Ms),
          new Timestamp(t0Ms + 1L))) == oracle(committed, src, new Timestamp(t0Ms),
          new Timestamp(t0Ms + 1L)), src)
      }
    }
    check()
    // and through a checkpoint's fold lines
    assert(Catalog.checkpoint(spark, layout) == Some(2L))
    Catalog.pruneLog(spark, layout)
    assert(rowsOf(Catalog.loadAsOf(spark, layout, 1L)) == ingested.map(row).toSet)
    check()
  }
}
