package lakebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the lake benchmark. `run.py` launches it once per run:
  *
  * {{{
  * lakebench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultJson> [tablesDir queryList]
  * }}}
  *
  * It builds one `local[nproc]` session, runs the workload as a closed
  * loop with one client, checks every answer against the workload's
  * own model, and writes raw samples, counters and provenance to
  * `resultJson`. Percentiles and the printed result line are computed
  * by `run.py`, which also runs the DuckDB gate of `query_suite`. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, out) = args.take(6)
    val t0 = System.nanoTime()
    val ctx = new Ctx(workload, seedS.toLong, secondsS.toDouble, traceS == "1", new File(workDir))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionCpuS = Ctx.cpu
    val result = try workload match {
      case "ingest_replay" => IngestReplay.run(ctx)
      case "query_suite" => QuerySuite.run(ctx, args(6), args(7))
      case "lake_dml" => LakeDml.run(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally ctx.spark.stop()
    result("session_s") = sessionS
    result("session_cpu_s") = sessionCpuS
    result("provenance") = ctx.provenance
    result("errors") = ctx.errors.toSeq
    result("attempted") = ctx.attempted
    result("failed") = ctx.errors.size.toLong
    Files.write(new File(out).toPath, Json.render(result).getBytes(UTF_8))
  }
}

/** One run's session, seed, clock and failure ledger. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val workDir: File) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val spark: SparkSession = {
    val b = SparkSession.builder().master(s"local[$nproc]").appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val tracer = new Tracer(traced, spark.sparkContext)

  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Count one operation; a thrown exception or a failed check is a
    * failure, recorded with the operation's label. Returns the body's
    * value, or None when it failed. */
  def op[T](label: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        errors += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** Fail the current operation when a gate reports a problem. */
  def check(problem: Option[String]): Unit =
    problem.foreach(p => throw new IllegalStateException(s"wrong answer: $p"))

  def dir(name: String): String = {
    val d = new File(workDir, name); d.mkdirs(); d.getAbsolutePath
  }

  def provenance: Map[String, Any] = Map(
    "nproc" -> nproc.toLong,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "jvm" -> System.getProperty("java.vm.name"),
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "rss_peak_mb" -> Ctx.rssPeakMb)
}

object Ctx {
  /** The process's peak resident set (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else scala.io.Source.fromFile(f).getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def now: Double = System.nanoTime() / 1e9

  /** CPU seconds all threads of this process have used: the driver and,
    * in local mode, the executors. Unlike wall time it does not count
    * time the host takes the CPUs away (steal). */
  def cpu: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
