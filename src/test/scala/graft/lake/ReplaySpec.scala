package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.sql.Timestamp
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The cost shape of [[Replay.replayCommitted]]: one bounded catalog
  * collect, ONE bronze read (the publish counts its own rows), nothing
  * claimed for an empty range. And the catalog read those replays plan
  * against: [[Catalog.load]] has the columns, types and rows of the
  * entries the ingest committed. */
class ReplaySpec extends SparkTestBase {

  private val arrival1 = 1704067200000L
  private val arrival2 = arrival1 + 60000L

  /** clicks o0, o1 and logs l0 arrive at `arrival1`, clicks o2 at
    * `arrival2`; every object holds two concatenated records. */
  private def ingested(name: String): Layout = {
    val layout = Layout(tmpDir(name))
    def writeBronze(src: String, obj: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
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
}
