package graft.streaming

import graft.SparkTestBase
import graft.lake.{Access, Catalog, ConcatJson, Distribution, Layout}
import java.net.{HttpURLConnection, URL}
import org.apache.spark.sql.streaming.Trigger

/** The full reference edge over REAL HTTP: `POST /{source}` with an
  * `x-api-key` header through [[HttpIngestFront]] → [[SocketRelay]] →
  * gated socket ingest → bronze → catalog → subscriber, plus the
  * synchronous 401/403/429/404/405 surface API Gateway answers at the
  * edge. */
class HttpIngestSpec extends SparkTestBase {

  private def post(port: Int, path: String, body: String,
      apiKey: Option[String]): (Int, String) = {
    val conn = new URL(s"http://localhost:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    apiKey.foreach(conn.setRequestProperty("x-api-key", _))
    conn.setDoOutput(true)
    val os = conn.getOutputStream
    try os.write(body.getBytes("UTF-8")) finally os.close()
    val code = conn.getResponseCode
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val resp = scala.io.Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, resp)
  }

  private def bronzeRecordCount(layout: Layout): Int = {
    val root = new java.io.File(layout.bronzeDir)
    if (!root.exists()) return 0
    Option(root.listFiles()).getOrElse(Array.empty)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.endsWith(".gz") && !f.getName.startsWith("."))
      .map { f =>
        val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        ConcatJson.split(content).size
      }.sum
  }

  test("wrapJvm matches Envelope.wrap's shape byte-for-byte on the unwrap side") {
    val s = spark
    import s.implicits._
    val body = """{"click_id":1,"page":"}{"}"""
    val jvm = HttpIngestFront.wrapJvm("clicks", body)
    val roundTrip = graft.lake.Envelope.unwrapAll(Seq(jvm).toDF("value"), "value")
      .collect().head
    assert(roundTrip.getString(0) == "clicks" && roundTrip.getString(1) == body)
  }

  test("sha256Hex matches Spark's sha2 so front and batch gate share the registry") {
    val s = spark
    import s.implicits._
    val sparkHash = Seq("ck-key").toDF("k")
      .select(org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.col("k").cast("binary"), 256))
      .collect().head.getString(0)
    assert(HttpIngestFront.sha256Hex("ck-key") == sparkHash)
  }

  test("HTTP edge: POST -> relay -> gated ingest -> bronze -> subscriber; sync 401/403/429") {
    val layout = Layout(tmpDir("http-edge"))
    val t0 = 1704067200000L
    Access.register(spark, layout, "clicks", "ck-key", quota = 3L, registeredMs = t0)
    Access.register(spark, layout, "tweets", "tw-key", quota = 10L, registeredMs = t0)

    val relay = new SocketRelay(clientPort = 0, servePort = 0)
    val (reg, used) = HttpIngestFront.snapshot(spark, layout, t0)
    val front = new HttpIngestFront(0, "localhost", relay.clientPortBound, reg, used)
    val q = SocketIngest.startGated(spark, layout, "localhost", relay.servePortBound,
      Trigger.ProcessingTime("200 milliseconds"), nowMs = () => t0)
    try {
      val p = front.portBound
      // the synchronous edge surface, exactly API Gateway's answers
      assert(post(p, "/clicks", """{"click_id":9}""", None)._1 == 401)
      assert(post(p, "/clicks", """{"click_id":9}""", Some("intruder"))._1 == 401)
      assert(post(p, "/tweets", """{"x":1}""", Some("ck-key"))._1 == 403)
      assert(post(p, "/a/b", "{}", Some("ck-key"))._1 == 404)
      // replay endpoint is 404 until a handler is wired (this front
      // is ingest-only, like a stage deployed without the replayer)
      assert(post(p, "/clicks/replay", "{}", None)._1 == 404)
      val conn = new URL(s"http://localhost:$p/clicks")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("GET")
      assert(conn.getResponseCode == 405)
      conn.disconnect()

      // quota 3: three accepted posts (one with the }{-in-string
      // pathology), the fourth throttled at the front
      assert(post(p, "/clicks", """{"click_id":1,"page":"/home"}""", Some("ck-key"))._1 == 200)
      assert(post(p, "/clicks", """{"click_id":2,"page":"}{"}""", Some("ck-key"))._1 == 200)
      assert(post(p, "/clicks", """{"click_id":3}""", Some("ck-key"))._1 == 200)
      assert(post(p, "/clicks", """{"click_id":4}""", Some("ck-key"))._1 == 429)

      // wait for BILLING, not just bronze: usage is recorded after the
      // flush inside the same micro-batch, so billed==3 implies both
      val deadline = System.currentTimeMillis() + 60000
      while (billedTo(layout, t0, "ck-key") < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally {
      q.stop()
      front.close()
      relay.close()
    }
    assert(bronzeRecordCount(layout) == 3,
      "every front-accepted record must land in bronze; the throttled one must not")
    assert(billedTo(layout, t0, "ck-key") == 3L,
      "the batch gate bills exactly the admitted three")

    // the unchanged downstream loop: catalog + per-source delivery
    StreamIngest.start(spark, layout, Trigger.AvailableNow()).awaitTermination()
    assert(Catalog.load(spark, layout).count() >= 1)
    val clicks = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(clicks.count() == 3)
    assert(clicks.select("json").collect().map(_.getString(0)).toSet
      .contains("""{"click_id":2,"page":"}{"}"""),
      "the pathological body survives the HTTP edge end-to-end")

    // the reference's second endpoint: POST /{source}/replay (202
    // async, 400 on bad input, no api key — matching the stack)
    val rf = new HttpIngestFront(0, "localhost", 1, reg, Map.empty,
      replayHandler = Some((src, lo, hi) => graft.lake.Replay.replayCommitted(
        spark, layout, src, new java.sql.Timestamp(lo), new java.sql.Timestamp(hi))))
    try {
      val catalogBefore = Catalog.load(spark, layout).count()
      val now = System.currentTimeMillis()
      val body = s"""{"Source":"clicks","IntervalStart":"${now - 3600000L}","IntervalEnd":"${now + 3600000L}"}"""
      assert(post(rf.portBound, "/clicks/replay", body, None)._1 == 202)
      val deadline2 = System.currentTimeMillis() + 60000
      while (Distribution.subscribeSnapshot(spark, layout, "clicks").count() < 6 &&
        System.currentTimeMillis() < deadline2) Thread.sleep(200)
      assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 6,
        "replayed objects re-publish every record to the subscriber")
      assert(Catalog.load(spark, layout).count() == catalogBefore,
        "replay must not re-append to the catalog")
      assert(post(rf.portBound, "/clicks/replay", """{"Source":"clicks"}""", None)._1 == 400)
      assert(post(rf.portBound, "/clicks/replay", "not json", None)._1 == 400)
    } finally rf.close()
  }

  test("a front restarted with a stale snapshot over-admits, but the batch gate does not over-bill") {
    val layout = Layout(tmpDir("http-stale"))
    val t0 = 1704067200000L
    Access.register(spark, layout, "clicks", "ck-key", quota = 2L, registeredMs = t0)

    val relay = new SocketRelay(clientPort = 0, servePort = 0)
    // stale snapshot: the front believes nothing has been used today,
    // while the ledger already carries 2 billed requests
    val s = spark
    import s.implicits._
    Access.recordUsage(spark, layout,
      Seq(("ck-key", HttpIngestFront.sha256Hex("ck-key"), "clicks", "e"))
        .toDF("api_key", "key_hash", "source", "env"), t0)
    val (reg, _) = HttpIngestFront.snapshot(spark, layout, t0)
    Access.recordUsage(spark, layout,
      Seq(("ck-key", HttpIngestFront.sha256Hex("ck-key"), "clicks", "e"))
        .toDF("api_key", "key_hash", "source", "env"), t0)
    val front = new HttpIngestFront(0, "localhost", relay.clientPortBound, reg, Map.empty)
    val q = SocketIngest.startGated(spark, layout, "localhost", relay.servePortBound,
      Trigger.ProcessingTime("200 milliseconds"), nowMs = () => t0)
    try {
      // front admits both (stale view: 0 of 2 used); authority rejects
      assert(post(front.portBound, "/clicks", """{"click_id":1}""", Some("ck-key"))._1 == 200)
      assert(post(front.portBound, "/clicks", """{"click_id":2}""", Some("ck-key"))._1 == 200)
      val deadline = System.currentTimeMillis() + 60000
      while (rejectionCount(layout) < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally {
      q.stop(); front.close(); relay.close()
    }
    assert(bronzeRecordCount(layout) == 0,
      "the durable gate must reject what the stale front over-admitted")
    assert(rejectionCount(layout) == 2)
  }

  test("concurrent burst settles at exactly quota admissions (reserve/rollback counter)") {
    val relay = new SocketRelay(clientPort = 0, servePort = 0)
    val reg = Map(HttpIngestFront.sha256Hex("k") -> HttpIngestFront.KeyInfo("clicks", 5L))
    val front = new HttpIngestFront(0, "localhost", relay.clientPortBound, reg)
    try {
      val codes = new Array[Int](20)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 20).map { i =>
        new Thread(() => {
          gate.await()
          codes(i) = post(front.portBound, "/clicks", s"""{"i":$i}""", Some("k"))._1
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      val byCode = codes.groupBy(identity).view.mapValues(_.length).toMap
      assert(byCode == Map(200 -> 5, 429 -> 15),
        s"burst must settle at exactly quota=5 admissions: $byCode")
      // exactly the admitted five lines reached the relay
      val deadline = System.currentTimeMillis() + 10000
      while (relay.pending < 5 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(relay.pending == 5)
    } finally { front.close(); relay.close() }
  }

  private def billedTo(layout: Layout, nowMs: Long, key: String): Long =
    Access.usedToday(spark, layout, nowMs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .getOrElse(HttpIngestFront.sha256Hex(key), 0L)

  private def rejectionCount(layout: Layout): Long = {
    val dir = new java.io.File(s"${layout.root}/_access/rejections")
    if (!dir.exists()) return 0L
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    // an all-accepted batch appends an EMPTY frame (dir with no parquet
    // parts) — schema inference fails on it; that is zero rejections
    try spark.read.parquet(dir.getAbsolutePath)
      .agg(coalesce(sum("n"), lit(0L))).collect().head.getLong(0)
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }
  }
}
