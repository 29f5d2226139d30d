package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.io.{File, FileOutputStream}
import java.sql.Timestamp
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** THE reference loop, end to end in one test — every piece is covered
  * individually elsewhere (LakeSpec, StreamIngestSpec, FunctionsSpec);
  * this spec proves they compose: POST-shaped envelope (O1) → buffered
  * gzip bronze object (O2) → stream discovery (O3) → concatenated-JSON
  * scan (O4) → source-from-path (O5) → catalog append (O6/O7) →
  * per-source fan-out (O8–O10) → time-range catalog query (O11) →
  * replay (O12) with re-publish-but-NO-re-catalog at object
  * granularity (O13) → subscriber delivery (O14).
  */
class EndToEndLoopSpec extends SparkTestBase {

  private def writeGzObject(dir: String, name: String, content: String): Unit = {
    val d = new File(dir); d.mkdirs()
    val out = new GZIPOutputStream(new FileOutputStream(new File(d, name)))
    out.write(content.getBytes("UTF-8")); out.close()
  }

  test("O1-O14: envelope -> bronze -> ingest -> catalog -> replay -> subscriber") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("e2e-lake"))

    // O1 — the POST edge: raw JSON bodies wrapped into the delivery
    // envelope, then unwrapped at the stream side (the VTL round trip)
    val posts = Seq(
      ("clicks", """{"click_id":1,"page":"/home"}"""),
      ("clicks", """{"click_id":2,"page":"/cart"}"""),
      ("clicks", """{"click_id":3,"page":"}{"}"""), // the pathological body
      ("tweets", """{"tweet_id":10,"text":"hello"}"""),
      ("tweets", """{"tweet_id":11,"text":"world"}"""))
      .toDF("source", "body")
    val enveloped = posts.select(Envelope.wrap(col("body"), col("source")).as("env"))
    val delivered = Envelope.unwrapAll(enveloped, "env")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(delivered.map(_._2).toSet == posts.collect().map(_.getString(1)).toSet,
      "envelope round trip must preserve every body byte-for-byte")

    // O2 — Firehose-buffer semantics in miniature: per-source buffers
    // flushed as CONCATENATED gzip JSON objects under bronze/<source>/
    val bySource = delivered.groupBy(_._1)
    writeGzObject(layout.bronzeSourceDir("clicks"), "buf1.gz",
      bySource("clicks").take(2).map(_._2).mkString)
    writeGzObject(layout.bronzeSourceDir("clicks"), "buf2.gz",
      bySource("clicks").drop(2).map(_._2).mkString)
    writeGzObject(layout.bronzeSourceDir("tweets"), "buf3.gz",
      bySource("tweets").map(_._2).mkString)

    // O3–O10 — ONE streaming query: discovery, split, catalog, fan-out
    val t0 = System.currentTimeMillis()
    StreamIngest.start(spark, layout, Trigger.AvailableNow()).awaitTermination()

    val cat = Catalog.load(spark, layout)
    assert(cat.count() == 3, "one catalog row per OBJECT, not per record (O6/O7)")
    val subClicks = Distribution.subscribeSnapshot(spark, layout, "clicks")
    val subTweets = Distribution.subscribeSnapshot(spark, layout, "tweets")
    assert(subClicks.count() == 3 && subTweets.count() == 2,
      "per-source fan-out delivers every record to its topic (O8-O10, O14)")
    assert(subClicks.select("json").collect().map(_.getString(0)).toSet
      .contains("""{"click_id":3,"page":"}{"}"""),
      "the }{-in-string body must survive the concatenated-JSON scan (O4)")

    // O11 — the time-range catalog query around the arrival window
    val lo = new Timestamp(t0 - 3600000L)
    val hi = new Timestamp(System.currentTimeMillis() + 3600000L)
    val ranged = Catalog.rangeQuery(spark, layout, "clicks", lo, hi)
    assert(ranged.count() == 2, "range query returns clicks' two objects only")
    assert(Catalog.rangeQuery(spark, layout, "clicks",
      new Timestamp(0), new Timestamp(1000)).count() == 0,
      "an out-of-range window matches nothing")

    // O12/O13 — replay the range: every record of every matched OBJECT
    // is re-published (object granularity), and the catalog does NOT
    // grow (no replay storms)
    val republished = Replay.replayCommitted(spark, layout, "clicks", lo, hi)
    assert(republished == 3, "replay re-publishes whole objects' records")
    assert(Catalog.load(spark, layout).count() == 3,
      "replay must NOT re-append to the catalog (O13)")

    // O14 — the subscriber now sees original + replayed clicks; tweets
    // (outside the replayed source) are untouched
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 6)
    assert(Distribution.subscribeSnapshot(spark, layout, "tweets").count() == 2)
  }

  test("gated loop: API-keyed requests -> quota gate -> ingest -> push delivery") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("e2e-gated"))
    val t0 = 1704067200000L
    Access.register(spark, layout, "clicks", "ck-key", quota = 3L, registeredMs = t0)

    // the POST edge with api_key_required: 4 requests against quota 3,
    // plus one with a bad key — the gated flush admits exactly 3
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def reqLine(key: String, body: String): String = {
      val env = Seq(("clicks", body)).toDF("source", "body")
        .select(Envelope.wrap(col("body"), col("source")).as("env"))
        .collect().head.getString(0)
      s"""{"api_key": ${om.writeValueAsString(key)}, "env": ${om.writeValueAsString(env)}}"""
    }
    val lines = (1 to 4).map(i => reqLine("ck-key", s"""{"click_id":$i}""")) :+
      reqLine("intruder", """{"click_id":99}""")
    graft.streaming.SocketIngest.gatedFlush(
      spark, layout, lines.toDF("value"), batchId = 1L, nowMs = t0)

    // the unchanged ingest loop picks up only the admitted records
    StreamIngest.start(spark, layout,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination()

    // push delivery: the handler receives exactly the admitted bodies
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Distribution.pushSubscribe(spark, layout, "clicks", "gated-sub",
      org.apache.spark.sql.streaming.Trigger.AvailableNow()) { batch =>
      batch.select("json").collect().foreach(r => delivered.add(r.getString(0)))
    }.awaitTermination()
    assert(delivered.size == 3,
      s"quota 3 must admit exactly 3 of 5 requests end-to-end, got ${delivered.size}")
    val rej = spark.read.parquet(s"${layout.root}/_access/rejections")
      .groupBy("reason").agg(org.apache.spark.sql.functions.sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(rej == Map("over_quota" -> 1L, "missing_key" -> 1L))
  }
}
