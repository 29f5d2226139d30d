package graft.streaming

import graft.SparkTestBase
import graft.lake.{Catalog, ConcatJson, Distribution, Envelope, Layout}
import java.io.PrintWriter
import java.net.ServerSocket
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Drives the network ingest edge: a live TCP frontend feeding
  * envelope lines into [[SocketIngest]], whose gzip bronze objects
  * then flow through the unchanged StreamIngest loop — closing the
  * one reference behavior (POST /{source}) the drop-directory tests
  * could not exercise. */
class SocketIngestSpec extends SparkTestBase {

  private val posts = Seq(
    ("clicks", """{"click_id":1,"page":"/home"}"""),
    ("clicks", """{"click_id":2,"page":"}{"}"""),
    ("tweets", """{"tweet_id":10,"text":"hello"}"""))

  private def envelopeLines: Seq[String] = {
    val s = spark
    import s.implicits._
    posts.toDF("source", "body")
      .select(Envelope.wrap(col("body"), col("source")).as("env"))
      .collect().map(_.getString(0)).toSeq
  }

  private def bronzeRecordCount(layout: Layout): Int = {
    val root = new java.io.File(layout.bronzeDir)
    if (!root.exists()) return 0
    val gzFiles = Option(root.listFiles()).getOrElse(Array.empty)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.endsWith(".gz") && !f.getName.startsWith("."))
    gzFiles.map { f =>
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f))
      val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      ConcatJson.split(content).size
    }.sum
  }

  test("flushBatch writes per-source concatenated gzip objects (no socket needed)") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("socket-batch"))
    val envs = envelopeLines.toDF("value")
    SocketIngest.flushBatch(envs, layout, batchId = 7L)
    assert(bronzeRecordCount(layout) == 3)
    val clickDir = new java.io.File(layout.bronzeSourceDir("clicks"))
    assert(clickDir.listFiles().filterNot(_.getName.startsWith("."))
      .forall(_.getName.startsWith("socket-b7-")),
      "object names must carry the batch id for collision-free flushes")
    // malformed (non-envelope) lines are dropped, not crashed on
    SocketIngest.flushBatch(Seq("not json at all").toDF("value"), layout, 8L)
    assert(bronzeRecordCount(layout) == 3)
  }

  test("gatedFlush enforces the API-key plan: accepted flush, usage billed, rejections logged") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("socket-gated"))
    val t0 = 1704067200000L
    graft.lake.Access.register(spark, layout, "clicks", "ck", quota = 2L, registeredMs = t0)

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def reqLine(key: String, source: String, body: String): String = {
      val env = Seq((source, body)).toDF("source", "body")
        .select(Envelope.wrap(col("body"), col("source")).as("env"))
        .collect().head.getString(0)
      s"""{"api_key": ${om.writeValueAsString(key)}, "env": ${om.writeValueAsString(env)}}"""
    }
    val lines = Seq(
      reqLine("ck", "clicks", """{"click_id":1}"""),
      reqLine("ck", "clicks", """{"click_id":2}"""),
      reqLine("ck", "clicks", """{"click_id":3}"""), // over quota 2
      reqLine("bad", "clicks", """{"click_id":4}""")) // unknown key
    SocketIngest.gatedFlush(spark, layout, lines.toDF("value"), batchId = 1L, nowMs = t0)

    assert(bronzeRecordCount(layout) == 2, "exactly the in-quota requests reach bronze")
    val rej = spark.read.parquet(s"${layout.root}/_access/rejections")
      .collect().map(r => (r.getAs[String]("reason"), r.getAs[Long]("n"))).toMap
    assert(rej == Map("over_quota" -> 1L, "missing_key" -> 1L))
    val used = graft.lake.Access.usedToday(spark, layout, t0)
      .collect().map(_.getAs[Long]("n_used")).sum
    assert(used == 2L, "only accepted requests are billed")
  }

  test("socket edge: live TCP envelopes -> bronze -> catalog -> subscriber") {
    val layout = Layout(tmpDir("socket-live"))
    val lines = envelopeLines
    val server = new ServerSocket(0)
    @volatile var serverErr: Throwable = null
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        val w = new PrintWriter(sock.getOutputStream, true)
        lines.foreach(w.println)
        w.flush()
        Thread.sleep(60000) // hold the connection until interrupted
      } catch {
        case _: InterruptedException => ()
        case e: Throwable => serverErr = e
      }
    })
    feeder.setDaemon(true)
    feeder.start()

    val q = SocketIngest.start(spark, layout, "localhost", server.getLocalPort,
      Trigger.ProcessingTime("200 milliseconds"))
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (bronzeRecordCount(layout) < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
    } finally {
      q.stop()
      feeder.interrupt()
      server.close()
    }
    assert(serverErr == null, s"feeder thread failed: $serverErr")
    assert(bronzeRecordCount(layout) == 3,
      "every posted record must land in a bronze object")

    // the unchanged downstream loop picks the socket-written objects up
    StreamIngest.start(spark, layout, Trigger.AvailableNow()).awaitTermination()
    assert(Catalog.load(spark, layout).count() >= 1)
    val clicks = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(clicks.count() == 2)
    assert(clicks.select("json").collect().map(_.getString(0)).toSet
      .contains("""{"click_id":2,"page":"}{"}"""),
      "the pathological body survives the socket edge end-to-end")
    assert(Distribution.subscribeSnapshot(spark, layout, "tweets").count() == 1)
  }

  test("relay fans many frontends into the one socket-source connection") {
    val layout = Layout(tmpDir("socket-relay"))
    val relay = new SocketRelay(clientPort = 0, servePort = 0)
    // ServerSocket(0) binds an ephemeral port; read the real ones back
    val (cPort, sPort) = (relay.clientPortBound, relay.servePortBound)
    val q = SocketIngest.start(spark, layout, "localhost", sPort,
      Trigger.ProcessingTime("200 milliseconds"))
    try {
      // three concurrent frontends, one envelope each — the reference's
      // many-API-nodes-one-stream shape
      val lines = envelopeLines
      val writers = lines.map { line =>
        new Thread(() => {
          val sock = new java.net.Socket("localhost", cPort)
          val w = new PrintWriter(sock.getOutputStream, true)
          w.println(line); w.flush()
          Thread.sleep(30000) // hold like a keep-alive frontend
        })
      }
      writers.foreach { t => t.setDaemon(true); t.start() }
      val deadline = System.currentTimeMillis() + 60000
      while (bronzeRecordCount(layout) < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      writers.foreach(_.interrupt())
    } finally {
      q.stop()
      relay.close()
    }
    assert(bronzeRecordCount(layout) == 3,
      "lines from every concurrent frontend must reach bronze")
  }
}
