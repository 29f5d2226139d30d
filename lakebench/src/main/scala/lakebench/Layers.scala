package lakebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

/** Turns a traced run's spans and listener sums into per-layer
  * metrics and writes every span to the trace file. The traced lane's
  * own samples go with them, so that `run.py` can report the tracing
  * overhead against the untraced lane's. */
object Layers {

  /** `derive` adds the workload's metrics that are ratios or renamings
    * of the measured ones. */
  def report(ctx: Ctx, tracedSamples: Map[String, Seq[Double]],
      extra: Map[String, Double],
      derive: mutable.Map[String, Double] => Unit = _ => ()): Map[String, Any] = {
    val sums = ctx.tracer.finish()
    val spans = ctx.tracer.spans
    val m = mutable.LinkedHashMap.empty[String, Double]
    Tracer.layerTimes(spans).foreach { case (layer, (total, self, calls)) =>
      val t = Tracer.layerTasks(spans, sums, layer)
      m(s"$layer.call_s") = total
      m(s"$layer.self_s") = self
      m(s"$layer.calls") = calls.toDouble
      m(s"$layer.exec_cpu_s") = t.cpuNs / 1e9
      m(s"$layer.plan_s") = t.planS
      m(s"$layer.input_bytes") = t.inputBytes.toDouble
      Seq("files_written", "list_calls", "bronze_bytes").foreach { k =>
        m(s"$layer.$k") = Tracer.layerCount(spans, layer, k).toDouble
      }
    }
    val all = new TaskSums
    sums.foreach { case (span, s) => if (span != 0L) all.add(s) }
    // file-system totals over the traced operations' root spans, which
    // leaves out the traced-only probes run between them
    def fsTotal(key: String) = spans.filter(_.parent == 0L).map(_.fs.getOrElse(key, 0L)).sum.toDouble
    m ++= Seq(
      "spark.exec_cpu_s" -> all.cpuNs / 1e9, "spark.exec_run_s" -> all.runMs / 1e3,
      "spark.tasks" -> all.tasks.toDouble, "spark.input_bytes" -> all.inputBytes.toDouble,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble, "spark.gc_s" -> all.gcMs / 1e3,
      "spark.plan_s" -> all.planS,
      "fs.files_written" -> fsTotal("files_written"),
      "fs.list_calls" -> fsTotal("list_calls"),
      "fs.opens" -> fsTotal("opens"),
      "jvm.rss_peak_mb" -> Ctx.rssPeakMb)
    m ++= extra
    derive(m)
    sys.props.get("lakebench.traceOut").foreach { path =>
      val rows = spans.map { s =>
        val t = sums.getOrElse(s.id, new TaskSums)
        Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "fs" -> s.fs,
          "exec_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1e3, "input_bytes" -> t.inputBytes,
          "shuffle_write_bytes" -> t.shuffleWriteBytes, "spill_bytes" -> t.spillBytes,
          "tasks" -> t.tasks, "plan_s" -> t.planS))
      }
      val f = new File(path); f.getParentFile.mkdirs()
      Files.write(f.toPath, (Json.render(Map("workload" -> ctx.workload, "seed" -> ctx.seed,
        "layers" -> m)) + "\n" + rows.mkString("\n") + "\n").getBytes(UTF_8))
    }
    Map("layers" -> m, "traced_samples" -> tracedSamples)
  }
}
