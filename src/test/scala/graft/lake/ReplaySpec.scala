package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.sql.Timestamp
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The cost shape of [[Replay.replayCommitted]]: its keys from the log,
  * ONE bronze read in its one Spark job and no SQL execution (the
  * publish counts its own rows), nothing claimed for an empty range or
  * a missing object, and the lines a DataFrame read of the same objects
  * would publish. Objects and roots whose names need escaping in a URL
  * ingest, subscribe and replay under their own names. And the catalog
  * read those replays plan against: [[Catalog.load]] has the columns,
  * types and rows of the entries the ingest committed. */
class ReplaySpec extends SparkTestBase {

  private val arrival1 = 1704067200000L
  private val arrival2 = arrival1 + 60000L

  /** clicks o0, o1 and logs l0 arrive at `arrival1`, clicks o2 at
    * `arrival2`; every object holds two concatenated records. */
  private def ingested(name: String): Layout = {
    val layout = Layout(if (name.contains(":")) name else tmpDir(name))
    def writeBronze(src: String, obj: String): Unit = {
      val d = new java.io.File(new org.apache.hadoop.fs.Path(layout.bronzeSourceDir(src)).toUri.getPath)
      d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath,
        s"""{"obj":"$obj","i":0}{"obj":"$obj","i":1}""")
    }
    writeBronze("clicks", "o0"); writeBronze("clicks", "o1"); writeBronze("logs", "l0")
    StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, arrival1, 1L)
    writeBronze("clicks", "o2")
    StreamIngest.processBatch(Ingest.readBronze(spark, layout)
      .filter(col("key").endsWith("/o2.json")), layout, arrival2, 2L)
    layout
  }

  private def logRecords(layout: Layout): Int =
    Option(new java.io.File(layout.catalogDir, "_log").list()).map(_.length).getOrElse(0)

  /** Runs `body`, returning its value and the number of Spark jobs in
    * it that read input files. The publish's write is a plain Spark job,
    * not a reported query execution, so reads are seen from jobs; the
    * only files a replay can read are bronze objects (its catalog read
    * is the log). */
  private def bronzeReadsDuring[T](body: => T): (T, Int) = {
    val (out, jobs) = QueryExecutions.jobsOf(spark)(body)
    (out, jobs.count(_.inputBytes > 0))
  }

  private def read(l: Layout, src: String): DataFrame =
    Distribution.subscribeSnapshot(spark, l, src)

  test("replayCommitted: one bronze read, and the count is exactly the rows the subscriber gains") {
    val layout = ingested("replay-committed")
    val beforeRows = read(layout, "clicks").select("key", "json").collect()
    // the arrival1 range holds two clicks objects (o0, o1), not o2
    val (n, reads) = bronzeReadsDuring {
      Replay.replayCommitted(spark, layout, "clicks",
        new Timestamp(arrival1 - 1000L), new Timestamp(arrival1 + 1000L))
    }
    assert(reads == 1, s"the replay must read bronze once, read it $reads times")
    val s = spark
    import s.implicits._
    val gained = read(layout, "clicks").select("key", "json")
      .exceptAll(beforeRows.toSeq.map(r => (r.getString(0), r.getString(1)))
        .toDF("key", "json"))
      .as[(String, String)].collect()
    assert(n == gained.length.toLong, s"returned $n, subscriber gained ${gained.length}")
    assert(gained.map(_._1.split('/').last).sorted.toSeq ==
      Seq("o0.json", "o0.json", "o1.json", "o1.json"),
      s"object-granular: every record of each matched object, nothing else: ${gained.toSeq}")
  }

  test("replayCommitted: a range with no catalog match returns 0 and claims nothing") {
    val layout = ingested("replay-empty-committed")
    val (records, head) = (logRecords(layout), Catalog.headVersion(spark, layout))
    val before = read(layout, "clicks").count()
    val (n, reads) = bronzeReadsDuring {
      Replay.replayCommitted(spark, layout, "clicks",
        new Timestamp(arrival2 + 1000L), new Timestamp(arrival2 + 2000L))
    }
    assert(n == 0L)
    assert(reads == 0, "an empty range reads no bronze object")
    assert(logRecords(layout) == records && Catalog.headVersion(spark, layout) == head,
      "no log record claimed for an empty replay")
    assert(read(layout, "clicks").count() == before)
  }

  test("replayCommitted of objects emptied after cataloging (an erasure's " +
      "rewrite) returns 0: the observed count arrives from an empty write") {
    val layout = ingested("replay-emptied")
    Seq("o0", "o1").foreach(o => java.nio.file.Files.writeString(
      new java.io.File(layout.bronzeSourceDir("clicks"), s"$o.json").toPath, ""))
    val before = Distribution.subscribeSnapshot(spark, layout, "clicks").count()
    val n = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(arrival1 - 1000L), new Timestamp(arrival1 + 1000L))
    assert(n == 0L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == before)
  }

  test("Catalog.load and lake_catalog: committed rows and types, no planning job") {
    val layout = ingested("catalog-load")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val cat = try {
      val df = Catalog.load(spark, layout)
      ListenerBusAccess.drain(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(jobs.get() == 0, "the fixed schema needs no footer-reading job")

    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val want = Seq("ts" -> TimestampType, "tsRaw" -> StringType,
      "key" -> StringType, "source" -> StringType)
    // the rows `ingested` committed: each object at its arrival
    val bronze = Ingest.readBronze(spark, layout)
    def arrived(batch: DataFrame, ms: Long) =
      CatalogOracle.entriesFor(batch, ms).toDF().select("ts", "tsRaw", "key", "source")
    val committed = arrived(bronze.filter(!col("key").endsWith("/o2.json")), arrival1)
      .union(arrived(bronze.filter(col("key").endsWith("/o2.json")), arrival2))
    assert(shape(committed) == want, "the reference shape is the committed rows'")
    assert(shape(cat) == want)
    assert(cat.collect().toSet == committed.collect().toSet)
    assert(cat.count() == 4L, "one row per object")

    spark.conf.set("spark.sql.catalog.replaycat", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.replaycat.root", layout.root)
    val view = spark.table("replaycat.lake_catalog")
    assert(shape(view) == want)
    assert(view.collect().toSet == committed.collect().toSet)
  }

  /** The bytes of every line of the distribution files committed after
    * `before`, sorted. */
  private def publishedLines(layout: Layout, before: Seq[String]): Seq[Seq[Byte]] =
    Catalog.distLiveFiles(spark, layout).filterNot(before.contains).flatMap { rel =>
      val bytes = java.nio.file.Files.readAllBytes(new java.io.File(layout.distributionDir, rel).toPath)
      splitLines(bytes)
    }.sortBy(_.toString)

  private def splitLines(bytes: Array[Byte]): Seq[Seq[Byte]] = {
    val lines = Seq.newBuilder[Seq[Byte]]
    var from = 0
    bytes.indices.foreach { i =>
      if (bytes(i) == '\n') { lines += bytes.slice(from, i + 1).toSeq; from = i + 1 }
    }
    assert(from == bytes.length, "every line ends in a newline")
    lines.result()
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(out)
    z.write(bytes); z.close()
    out.toByteArray
  }

  test("replayCommitted publishes the lines a DataFrame read of the same objects would: " +
      "gzip and plain, `}{` in strings, whitespace between records, invalid UTF-8, an empty object") {
    val layout = Layout(tmpDir("replay-oracle"))
    val dir = new java.io.File(layout.bronzeSourceDir("clicks")); dir.mkdirs()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val objects: Seq[(String, Array[Byte])] = Seq(
      "plain.json" -> """{"s":"a}{b","n":1} {"s":"c\"}{\"d"}""".getBytes(utf8),
      "spaced.json" -> " \n{\"a\":[1,{\"b\":\"}\"}]}\n\t\r\n{\"a\":2}\n".getBytes(utf8),
      "packed.json.gz" -> gzip("""{"z":1}{"z":"😀 é"}""".getBytes(utf8)),
      "bad.json" -> (("{\"bad\":\"").getBytes(utf8) ++ Array(0xff, 0xfe, 0xc3).map(_.toByte) ++
        "\"}{\"ok\":1}".getBytes(utf8)),
      "emptied.json" -> """{"gone":1}""".getBytes(utf8))
    objects.foreach { case (name, bytes) =>
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes)
    }
    StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, arrival1, 1L)
    java.nio.file.Files.write(new java.io.File(dir, "emptied.json").toPath, Array.empty[Byte])
    val keys = Catalog.load(spark, layout).select("key").collect().map(_.getString(0)).toSeq
    assert(keys.size == objects.size, keys)

    // the oracle: the objects read by the text data source, split by
    // typed Dataset operations, written by the JSON data source
    val s = spark
    import s.implicits._
    val viaSpark = new java.io.File(tmpDir("replay-oracle-out"), "out")
    spark.read.option("wholetext", "true").textFile(keys: _*)
      .select(input_file_name(), col("value")).as[(String, String)]
      .flatMap { case (key, content) => ConcatJson.split(content).map(json => ("clicks", key, json)) }
      .toDF("source", "key", "json")
      .write.partitionBy("source").json(viaSpark.toString)
    val want = new java.io.File(viaSpark, "source=clicks").listFiles()
      .filter(_.getName.endsWith(".json")).toSeq
      .flatMap(f => splitLines(java.nio.file.Files.readAllBytes(f.toPath))).sortBy(_.toString)
    assert(want.size == 8, want.map(l => new String(l.toArray, utf8)))

    val before = Catalog.distLiveFiles(spark, layout)
    val n = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(arrival1 - 1000L), new Timestamp(arrival1 + 1000L))
    assert(n == want.size.toLong)
    val got = publishedLines(layout, before)
    assert(got == want, got.map(l => new String(l.toArray, utf8)))
    assert(got.exists(l => new String(l.toArray, utf8).contains("\ufffd")),
      "invalid UTF-8 decodes to U+FFFD")
  }

  test("replayCommitted is one Spark job, no SQL execution, and reads bronze " +
      "without listing it; each matched object is opened once") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val layout = ingested("countfs:" + tmpDir("replay-shape"))
    val ((n, executions), jobs) = try QueryExecutions.jobsOf(spark) {
      CountingLocalFs.reset()
      QueryExecutions.during(spark) {
        Replay.replayCommitted(spark, layout, "clicks",
          new Timestamp(arrival1 - 1000L), new Timestamp(arrival1 + 2 * 60000L))
      }
    } finally {
      // the cached `countfs` instance holds a copy of the session's
      // conf; later specs set conf keys they expect that instance to see
      org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("countfs:///"), hconf).close()
    }
    assert(n == 6L, "three clicks objects of two records each")
    assert(executions.isEmpty, executions.map(_.analyzed.nodeName))
    assert(jobs.size == 1 && jobs.head.stages == 1, jobs)
    assert(jobs.head.inputBytes == Seq("o0", "o1", "o2").map(o =>
      new java.io.File(new org.apache.hadoop.fs.Path(layout.bronzeSourceDir("clicks")).toUri.getPath,
        s"$o.json").length()).sum, "the tasks report the bytes they read as input")
    def all(q: java.util.Collection[String]): Seq[String] = q.toArray(Array.empty[String]).toSeq
    val bronze = new org.apache.hadoop.fs.Path(layout.bronzeDir).toUri.getPath
    assert(!all(CountingLocalFs.listed).exists(_.startsWith(bronze)), all(CountingLocalFs.listed))
    assert(all(CountingLocalFs.opened).filter(_.startsWith(bronze)).sorted ==
      Seq("o0", "o1", "o2").map(o => s"$bronze/clicks/$o.json"), all(CountingLocalFs.opened))
  }

  test("replayCommitted of a range whose object is gone fails before anything is claimed") {
    val layout = ingested("replay-missing")
    new java.io.File(layout.bronzeSourceDir("clicks"), "o1.json").delete()
    val (head, live) = (Catalog.headVersion(spark, layout), Catalog.distLiveFiles(spark, layout))
    intercept[java.io.FileNotFoundException] {
      Replay.replayCommitted(spark, layout, "clicks",
        new Timestamp(arrival1 - 1000L), new Timestamp(arrival1 + 1000L))
    }
    assert(Catalog.headVersion(spark, layout) == head, "no record is claimed")
    assert(Catalog.distLiveFiles(spark, layout) == live)
    assert(!new java.io.File(layout.distributionDir, "_staged").exists() ||
      new java.io.File(layout.distributionDir, "_staged").list().isEmpty, "nothing is staged")
  }

  /** Ingests one two-record object `obj` of source `src` under `root`,
    * then checks the catalog, the subscriber and a replay of it all see
    * `src`. */
  private def ingestsAndReplays(root: String, src: String, obj: String): Unit = {
    val layout = Layout(root)
    val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, obj).toPath, """{"i":0}{"i":1}""")
    StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, arrival1, 1L)
    val cat = Catalog.load(spark, layout).select("source", "key").collect()
    assert(cat.map(_.getString(0)).toSeq == Seq(src), cat.toSeq)
    assert(org.apache.spark.paths.SparkPath.fromUrlString(cat.head.getString(1)).toPath.getName == obj)
    val s = spark
    import s.implicits._
    def subscribed = Distribution.subscribeSnapshot(spark, layout, src)
      .select("source", "json").as[(String, String)].collect().toSeq.sorted
    assert(subscribed == Seq((src, """{"i":0}"""), (src, """{"i":1}""")))
    val n = Replay.replayCommitted(spark, layout, src,
      new Timestamp(arrival1 - 1000L), new Timestamp(arrival1 + 1000L))
    assert(n == 2L)
    assert(subscribed == Seq((src, """{"i":0}"""), (src, """{"i":0}"""),
      (src, """{"i":1}"""), (src, """{"i":1}""")))
  }

  test("an object whose name needs escaping in a URL is replayed") {
    ingestsAndReplays(tmpDir("replay-escaped"), "src x", "o 1%.json")
  }

  test("a lake whose root and source directory hold spaces ingests, subscribes " +
      "and replays under the source's own name") {
    val root = new java.io.File(tmpDir("replay-spaced"), "my lake")
    ingestsAndReplays(root.toString, "x y", "o.json")
    assert(Ingest.sourceOf(new java.io.File(root, "bronze/x y/o.json").toURI.toString,
      s"$root/bronze") == "x y")
    assert(Ingest.sourceOf(new java.io.File(root, "other/x y/o.json").toURI.toString,
      s"$root/bronze") == "", "an object outside the bronze dir has no source")
  }
}
