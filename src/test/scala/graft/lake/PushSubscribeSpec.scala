package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Push-delivery semantics: the handler is invoked with newly
  * published records, each record is delivered exactly once per
  * subscription (checkpointed offsets), and independent subscribers
  * have independent delivery state — the SNS fan-out contract. */
class PushSubscribeSpec extends SparkTestBase {
  import spark.implicits._

  private def publish(layout: Layout, source: String, n: Int, tag: String): Unit =
    Catalog.commitDist(spark, layout,
      (1 to n).map(i => (source, s"obj-$tag-$i", s"""{"id":"$tag-$i"}"""))
        .toDF("source", "key", "json"))

  test("push subscriber delivers each published record exactly once, across restarts") {
    val layout = Layout(tmpDir("push"))
    publish(layout, "clicks", 3, "a")

    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = {
      val q = Distribution.pushSubscribe(spark, layout, "clicks", "sub1",
        Trigger.AvailableNow()) { batch =>
        batch.select("json").collect().foreach(r => delivered.add(r.getString(0)))
      }
      q.awaitTermination()
    }
    runOnce()
    assert(delivered.size == 3, s"first run must push the 3 published records, got ${delivered.size}")

    // nothing new: a restarted subscription must push nothing
    runOnce()
    assert(delivered.size == 3, "no records may be re-delivered on restart")

    // two more arrive (e.g. a replay): only those are pushed
    publish(layout, "clicks", 2, "b")
    runOnce()
    assert(delivered.size == 5)
    val ids = delivered.toArray(Array.empty[String]).toSet
    assert(ids == Set("""{"id":"a-1"}""", """{"id":"a-2"}""", """{"id":"a-3"}""",
      """{"id":"b-1"}""", """{"id":"b-2"}"""))

    // an independent subscriber starts from the beginning of the topic
    val delivered2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q2 = Distribution.pushSubscribe(spark, layout, "clicks", "sub2",
      Trigger.AvailableNow()) { batch =>
      batch.collect().foreach(r => delivered2.add(r.getAs[String]("json")))
    }
    q2.awaitTermination()
    assert(delivered2.size == 5, "a new subscription replays the full topic history")
  }
}
