package lakebench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import graft.lake.{Catalog, Distribution, Layout, Replay}
import graft.streaming.StreamIngest
import org.apache.spark.sql.streaming.Trigger

/** `ingest_replay`: the paper's loop. Arrivals of bronze objects are
  * ingested with `StreamIngest` under `Trigger.AvailableNow` (run, then
  * stop), become visible to subscribers through
  * `Distribution.subscribeSnapshot`, and after each arrival one time
  * range is replayed with `Replay.replayCommitted`, rotating through a
  * narrow range (one arrival holding the source) and a wide one (the
  * whole history) of the hottest and the coldest source so far. Replay ranges are cut at wall-clock
  * instants recorded between arrivals, so the ledger knows every
  * expected count exactly.
  *
  * Samples: `op` = ingest-to-visible seconds per arrival, `read` =
  * seconds per replay call; items = records ingested, over the seconds
  * spent ingesting. The first [[WarmArrivals]] rounds are set-up. */
object IngestReplay {
  val WarmArrivals = 1
  val Arrivals = 7
  val TracedArrivals = 5

  /** One lake and its ledger. A traced run drives two lanes with the
    * same arrivals, alternating, one with tracing off and one with it
    * on; their difference is the tracing overhead. */
  final class Lane(ctx: Ctx, name: String, val traced: Boolean) {
    val layout: Layout = Layout(ctx.dir(s"lake-$name"))
    val ledger = new Ledger
    val boundaries = mutable.ArrayBuffer.empty[Long]
    val opS, readS, opCpu, readCpu = mutable.ArrayBuffer.empty[Double]
    var records, keysMatched, matchedBytes = 0L
    var rangeQueryS = 0.0
    private val t = ctx.tracer
    private val spark = ctx.spark

    /** Record the instant that separates the previous arrival's
      * catalog timestamps from the next one's. */
    def cut(): Unit = {
      Thread.sleep(2); boundaries += System.currentTimeMillis(); Thread.sleep(2)
    }

    def arrive(objs: Seq[BronzeObject], timed: Boolean): Unit = ctx.op(s"$name ingest arrival ${objs.head.arrival}") {
      t.during(traced && timed) {
        t.request += 1
        t.span("bench") {
          objs.foreach { o => BronzeGen.write(layout.bronzeDir, o); ledger.wrote(o) }
          val (written, c0) = (Ctx.now, Ctx.cpu)
          t.span("ingest") {
            val q = StreamIngest.start(spark, layout, Trigger.AvailableNow())
            q.awaitTermination()
            q.exception.foreach(e => throw e)
          }
          objs.map(_.source).distinct.foreach { src =>
            val n = t.span("distribution")(Distribution.subscribeSnapshot(spark, layout, src).count())
            ctx.check(ledger.subscriberProblem(src, n))
          }
          if (timed) {
            opS += Ctx.now - written; opCpu += Ctx.cpu - c0
            records += objs.map(_.records.toLong).sum
          }
        }
      }
      cut()
    }

    /** Replay arrivals a0..a1 of `source` (ranges cut at the recorded
      * boundaries around them) and check the count against the ledger. */
    def replay(source: String, a0: Int, a1: Int, timed: Boolean): Unit = ctx.op(s"$name replay $source $a0..$a1") {
      val (from, to) = (new Timestamp(boundaries(a0)), new Timestamp(boundaries(a1 + 1)))
      t.during(traced && timed) {
        t.request += 1
        val (t0, c0) = (Ctx.now, Ctx.cpu)
        val n = t.span("bench")(t.span("replay")(Replay.replayCommitted(spark, layout, source, from, to)))
        if (timed) { readS += Ctx.now - t0; readCpu += Ctx.cpu - c0 }
        ctx.check(ledger.replayProblem(source, a0, a1, n))
        ledger.replayed(source, n)
        if (traced && timed) {
          val p0 = Ctx.now
          val keys = Catalog.rangeQuery(spark, layout, source, from, to).count()
          rangeQueryS += Ctx.now - p0
          val objs = ledger.matched(source, a0, a1)
          ctx.check(Option.when(keys != objs.size)(
            s"catalog range of $source $a0..$a1 has $keys keys, ledger says ${objs.size}"))
          keysMatched += keys
          matchedBytes += objs.map(_.bytes.length.toLong).sum
        }
      }
    }

    /** Every subscriber sees exactly what the ledger says. */
    def finalCheck(): Unit = BronzeGen.Sources.foreach { src =>
      ctx.op(s"$name final subscriber $src") {
        val n = Distribution.subscribeSnapshot(spark, layout, src).count()
        ctx.check(ledger.subscriberProblem(src, n))
      }
    }
  }

  def run(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val gen = new BronzeGen(ctx.seed)
    val rng = new scala.util.Random(ctx.seed * 31 + 7)
    val lanes = if (ctx.traced) Seq(new Lane(ctx, "plain", false), new Lane(ctx, "traced", true))
      else Seq(new Lane(ctx, "plain", false))
    lanes.foreach(_.cut())

    /** Arrival `a`, then one replay: rotating over the hottest and the
      * coldest source so far, a narrow range (one arrival holding the
      * source) and a wide one (every arrival). */
    def step(a: Int, timed: Boolean): Unit = {
      val objs = gen.arrival(a)
      // alternate which lane goes first, so neither gains by the other's warm-up
      val turn = if (a % 2 == 0) lanes else lanes.reverse
      turn.foreach(_.arrive(objs, timed))
      val ledger = lanes.head.ledger
      val src = if (a % 2 == 0) ledger.byRate.head else ledger.byRate.last
      val (a0, a1) = if (a % 4 < 2) {
        val holding = ledger.arrivalsWith(src)
        val k = holding(rng.nextInt(holding.size))
        (k, k)
      } else (0, a)
      turn.foreach(_.replay(src, a0, a1, timed))
    }

    // set-up: the first arrival and replay warm the stream machinery,
    // the log, the writers and the JIT; cold, they take several times longer
    val (t0, c0) = (Ctx.now, Ctx.cpu)
    (0 until WarmArrivals).foreach(step(_, timed = false))
    val (setupS, setupCpu) = (Ctx.now - t0, Ctx.cpu - c0)

    val loop0 = Ctx.now
    val last = WarmArrivals + (if (ctx.traced) TracedArrivals else Arrivals)
    var a = WarmArrivals
    while (a < last || (!ctx.traced && Ctx.now - loop0 < ctx.seconds)) {
      step(a, timed = true)
      a += 1
    }
    val loopS = Ctx.now - loop0
    lanes.foreach(_.finalCheck())

    val plain = lanes.head
    val out = mutable.Map[String, Any](
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpu, "loop_s" -> loopS,
      "items" -> plain.records, "items_s" -> plain.opS.sum, "items_cpu_s" -> plain.opCpu.sum,
      "samples" -> Map("op" -> plain.opS.toSeq, "read" -> plain.readS.toSeq,
        "op_cpu" -> plain.opCpu.toSeq, "read_cpu" -> plain.readCpu.toSeq),
      "inputs" -> Map("arrivals" -> a.toLong, "sources" -> BronzeGen.Sources.size.toLong,
        "records" -> plain.ledger.ingestedRecords))
    lanes.find(_.traced).foreach { l =>
      val lake = new File(l.layout.catalogDir, "_log")
      out ++= Layers.report(ctx, Map("op" -> l.opS.toSeq, "op_cpu" -> l.opCpu.toSeq), Map(
        "catalog.range_query_s" -> l.rangeQueryS,
        "catalog.log_records" -> Option(lake.list()).map(_.length).getOrElse(0).toDouble,
        "replay.keys_matched" -> l.keysMatched.toDouble,
        "replay.matched_bytes" -> l.matchedBytes.toDouble,
        "distribution.live_files" -> Catalog.distLiveFiles(spark, l.layout).size.toDouble),
        derive = m => {
          val read = m.getOrElse("replay.bronze_bytes", 0.0)
          m("replay.bytes_read") = read
          m("replay.useful_frac") = if (read > 0) l.matchedBytes / read else 0.0
          m("distribution.subscribe_s") = m.getOrElse("distribution.call_s", 0.0)
        })
    }
    out
  }
}
