package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The subscriber reads plan with the distribution files' fixed
  * schema: the `(json, key, source)` columns, types and rows of a
  * schema-inferring read, and no Spark job before the caller's own
  * action. */
class SubscribeReadSpec extends SparkTestBase {

  /** clicks published by two ingest commits (two files), logs by one. */
  private def published(name: String): Layout = {
    val layout = Layout(tmpDir(name))
    def writeBronze(src: String, obj: String): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath,
        s"""{"obj":"$obj","i":0}{"obj":"$obj","i":1}""")
    }
    writeBronze("clicks", "o0"); writeBronze("logs", "l0")
    StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, 1704067200000L, 1L)
    writeBronze("clicks", "o1")
    StreamIngest.processBatch(Ingest.readBronze(spark, layout)
      .filter(col("key").endsWith("/o1.json")), layout, 1704067260000L, 2L)
    layout
  }

  private def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  private def inferred(layout: Layout, source: String): DataFrame =
    spark.read.format("json").load(layout.distributionDir).filter(col("source") === source)

  test("subscribeSnapshot keeps the inferred read's shape and rows") {
    val layout = published("subscribe-shape")
    assert(Catalog.distLiveFiles(spark, layout).count(_.startsWith("source=clicks/")) >= 2)
    val want = inferred(layout, "clicks")
    assert(want.columns.toSeq == Seq("json", "key", "source"))
    val got = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(shape(got) == shape(want))
    assert(got.collect().toSeq.sortBy(_.toString) == want.collect().toSeq.sortBy(_.toString))
    assert(want.count() == 4L)
  }

  test("an empty source reads as the same (json, key, source) columns") {
    val layout = published("subscribe-empty")
    val got = Distribution.subscribeSnapshot(spark, layout, "nobody")
    assert(shape(got) == shape(inferred(layout, "clicks")))
    assert(got.count() == 0L)
  }

  test("subscribeSnapshot starts no Spark job until the caller's action") {
    val layout = published("subscribe-lazy")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val df = try {
      val df = Distribution.subscribeSnapshot(spark, layout, "clicks")
      ListenerBusAccess.drain(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(jobs.get() == 0, s"planning the read ran ${jobs.get()} Spark jobs")
    assert(df.count() == 4L)
  }
}
