package graft.streaming

import graft.SparkTestBase
import graft.lake.{Catalog, Distribution, Layout}
import graft.ops.Sketch
import org.apache.spark.{CodegenAccess, ListenerBusAccess}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Library micro-batch bodies run on the session that started the
  * stream ([[CallerSession]]): the body sees the caller's session and
  * the batch's rows, streams started from a DataFrame keep their
  * output, and a restarted [[StreamIngest]] reuses the generated code
  * of the previous start instead of compiling it again. User-supplied
  * sinks and handlers keep the stream's isolated clone. */
class CallerSessionSpec extends SparkTestBase {

  test("the re-bound batch belongs to the caller's session and holds the batch's rows") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"), (3L, null))
    // (session, schema, rows) of the batch the stream hands over, then
    // of the same batch re-bound
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, StructType, Seq[Row])]()
    def record(df: DataFrame): Unit = seen.add((df.sparkSession, df.schema, df.collect().toSeq))
    val body = CallerSession(spark)((rebound, _) => record(rebound))
    mem.toDF().toDF("id", "tag").writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("caller-session-ckpt"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        record(batch)
        body(batch, batchId)
      }
      .start()
      .awaitTermination(60000)
    val Seq((streamSession, schema, rows), (reboundSession, reboundSchema, reboundRows)) =
      seen.asScala.toSeq
    assert(!(streamSession eq spark), "the stream hands its body a batch of its cloned session")
    assert(reboundSession eq spark)
    assert(reboundSchema == schema)
    assert(reboundRows == rows)
    assert(rows.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1) ==
      Seq((1L, "a"), (2L, "b"), (3L, null)))
  }

  test("user-supplied bodies keep the stream's own session: a push handler and " +
      "an enrichment sink run on the clone, and a temp view they register stays there") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (on the caller's session, columns) per batch
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Seq[String])]()
    def record(df: DataFrame): Unit = {
      df.createOrReplaceTempView("user_body_view")
      seen.add((df.sparkSession eq spark, df.columns.toSeq))
    }

    val layout = Layout(tmpDir("caller-push"))
    Seq(("clicks", "k1", """{"id":1}"""), ("clicks", "k2", """{"id":2}"""))
      .toDF("source", "key", "json")
      .write.partitionBy("source").format("json").save(layout.distributionDir)
    Distribution.pushSubscribe(spark, layout, "clicks", "isolated",
      Trigger.AvailableNow())(record).awaitTermination(60000)

    val dim = Seq((1L, "gold", 0L, 1000L)).toDF("user_id", "state", "valid_from_ms", "valid_to_ms")
    val mem = MemoryStream[EnrichEv]
    mem.addData(EnrichEv(1, 10, 100, 5))
    val q = StreamEnrich.start(mem.toDF(), () => dim, (b, _) => record(b),
      tmpDir("caller-enrich-ckpt"))
    try q.processAllAvailable() finally q.stop()

    val Seq(push, enrich) = seen.asScala.toSeq
    assert(push == ((false, Seq("json", "key"))))
    assert(!enrich._1 && enrich._2.last == "state")
    assert(!spark.catalog.tableExists("user_body_view"))
  }

  test("a stream started from a DataFrame writes unchanged output, and its " +
      "batches run on that DataFrame's session") {
    val caller = spark.newSession()
    import caller.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = caller.sqlContext
    val store = tmpDir("caller-sketch-store")
    val data = (1L to 400L).map(_ % 37)
    val sessions = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val listener = new QueryExecutionListener {
      // the batch's writes; the re-bind's own `rdd` conversion runs
      // on the stream's clone by design
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "command") sessions.add(qe.sparkSession eq caller)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (f == "command") sessions.add(qe.sparkSession eq caller)
    }
    caller.listenerManager.register(listener)
    try {
      val mem = MemoryStream[Long]
      mem.addData(data: _*)
      StreamSketch.start(mem.toDF().select(col("value")), col("value"), store,
        tmpDir("caller-sketch-ckpt")).awaitTermination(60000)
      ListenerBusAccess.drain(caller.sparkContext)
    } finally caller.listenerManager.unregister(listener)
    assert(!sessions.isEmpty, "the batch's write is a reported command")
    assert(!sessions.contains(false), "every batch write ran on the caller's session")

    def cells(df: DataFrame) =
      df.collect().map(r => (r.getAs[Int]("row_no"), r.getAs[Long]("bucket")) -> r.getAs[Long]("cnt")).toMap
    assert(cells(StreamSketch.mergedCells(spark, store)) ==
      cells(Sketch.cellsOf(data.toDF("value"), col("value"))))
  }

  test("a restarted StreamIngest reuses the generated code of the previous start") {
    val layout = Layout(tmpDir("caller-codegen"))
    def writeBronze(src: String, obj: String, id: Int): Unit = {
      val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath,
        s"""{"id":$id,"obj":"$obj"}{"id":${id + 1},"obj":"$obj"}""")
    }
    def run(): Long = {
      val before = CodegenAccess.compiles
      StreamIngest.start(spark, layout, Trigger.AvailableNow()).awaitTermination(60000)
      CodegenAccess.compiles - before
    }
    writeBronze("clicks", "a", 1); writeBronze("logs", "b", 10)
    val first = run()
    assert(first > 0, "the counter sees this JVM's compiles")
    // fresh objects of the same shape: the same plans over new files
    writeBronze("clicks", "c", 20); writeBronze("logs", "d", 30)
    val second = run()
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 4L)
    assert(Catalog.load(spark, layout).count() == 4L)
    // the ingest commit takes its arrival time as data, so a restart
    // compiles nothing new; IngestCommitSpec pins 0 for processBatch
    assert(second <= 3L, s"the restarted stream compiled $second classes (first start: $first)")
  }
}
