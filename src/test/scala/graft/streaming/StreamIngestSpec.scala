package graft.streaming

import graft.SparkTestBase
import graft.lake.{Catalog, Distribution, Layout}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-layer tests (SURVEY.md §5.2 item 4): the stream is a thin
  * wrapper over the same processBatch used by batch ingest, so these
  * focus on micro-batch wiring, file discovery, and stateful dedup.
  */
class StreamIngestSpec extends SparkTestBase {

  test("file-source stream discovers bronze objects and routes per source") {
    val layout = Layout(tmpDir("slake"))
    // seed plain-text (non-gz) bronze objects; the text source reads both
    def write(dir: String, name: String, content: String): Unit = {
      val d = new java.io.File(dir); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    write(layout.bronzeSourceDir("clicks"), "a.json", """{"click_id":1}{"click_id":2}""")
    write(layout.bronzeSourceDir("tweets"), "b.json", """{"tweet_id":7}""")

    val q = StreamIngest.start(spark, layout, Trigger.AvailableNow())
    q.awaitTermination(60000)

    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2)
    assert(Distribution.subscribeSnapshot(spark, layout, "tweets").count() == 1)
    val cat = Catalog.load(spark, layout)
    assert(cat.count() == 2) // one entry per object
    assert(cat.filter(col("source") === "clicks").count() == 1)
  }

  test("checkpoint restart does not re-process bronze objects (exactly-once)") {
    val layout = Layout(tmpDir("slake_ck"))
    def write(dir: String, name: String, content: String): Unit = {
      val d = new java.io.File(dir); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    write(layout.bronzeSourceDir("clicks"), "a.json", """{"click_id":1}{"click_id":2}""")

    val q1 = StreamIngest.start(spark, layout, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2)
    assert(Catalog.load(spark, layout).count() == 1)

    // restart over the SAME checkpoint: the already-processed object
    // must not be re-delivered or re-cataloged (the reference's SQS
    // path is at-least-once; this is the strict upgrade, SURVEY §2.3.7)
    val q2 = StreamIngest.start(spark, layout, Trigger.AvailableNow())
    q2.awaitTermination(60000)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2)
    assert(Catalog.load(spark, layout).count() == 1)

    // but a NEW object after restart is picked up
    write(layout.bronzeSourceDir("clicks"), "b.json", """{"click_id":3}""")
    val q3 = StreamIngest.start(spark, layout, Trigger.AvailableNow())
    q3.awaitTermination(60000)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 3)
    assert(Catalog.load(spark, layout).count() == 2)
  }

  test("a restart over more bronze objects than Spark lists in one go starts no listing job; " +
      "a source's objects are read at any depth, and one directly under bronze is not") {
    val layout = Layout(tmpDir("slake_many"))
    def write(dir: String, name: String, content: String): Unit = {
      val d = new java.io.File(dir); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, content)
    }
    def arrive(objects: Range): Unit = {
      objects.foreach(i =>
        write(layout.bronzeSourceDir(if (i % 2 == 0) "clicks" else "logs"), s"o$i.json", s"""{"i":$i}"""))
    }
    write(s"${layout.bronzeSourceDir("clicks")}/day=1", "nested.json", """{"i":100}""")
    write(layout.bronzeDir, "stray.json", """{"i":-1}""")
    // two arrivals of 20 objects; a restart re-reads the file list of
    // the last batch, which Spark lists with a job past 32 files
    Seq(0 until 20, 20 until 40).foreach { objects =>
      arrive(objects)
      StreamIngest.start(spark, layout, Trigger.AvailableNow()).awaitTermination(60000)
    }
    // the next arrival: the restart finds the source's files by listing
    // the bronze directories, not by a Spark job over every object
    arrive(40 until 41)
    val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files")).foreach(listings.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamIngest.start(spark, layout, Trigger.AvailableNow()).awaitTermination(60000)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listings.isEmpty, listings)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 22)
    assert(Distribution.subscribeSnapshot(spark, layout, "logs").count() == 20)
    assert(Catalog.load(spark, layout).count() == 42)
    assert(graft.lake.Ingest.readBronze(spark, layout).count() == 42, "the batch read sees the same objects")
  }

  test("processBatch is idempotent per catalog content on empty batches") {
    val layout = Layout(tmpDir("slake2"))
    val empty = spark.range(0).selectExpr("'s' as source", "'k' as key", "'{}' as json").filter("false")
    StreamIngest.processBatch(empty, layout, 0L) // must not create catalog dirs
    assert(!new java.io.File(layout.catalogDir).exists())
  }

  test("watermark + dropDuplicates collapses at-least-once redelivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "payload")
    val deduped = StreamIngest.dedupedByEventId(df, "event_id", "ts")

    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second")).start()
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData((1L, t, "a"), (1L, t, "a"), (2L, t, "b")) // duplicate id 1
    q.processAllAvailable()
    mem.addData((1L, t, "a"), (3L, t, "c")) // redelivery of 1 in a later batch
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("dedup_out").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }
}
