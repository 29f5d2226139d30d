package lakebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable

import graft.SparkEntry
import graft.ops.{Artifacts, Truncate}
import org.apache.spark.sql.Row

/** `query_suite`: a fixed list of registry queries (`query_suite.txt`)
  * over seeded input tables. Set-up runs the list once against a fresh
  * artifact root, so index, pair-table and fixture builds are paid
  * there, saves each answer for the DuckDB oracle compare `run.py`
  * makes after the run, and fingerprints it; a second, untimed pass lets
  * the JIT settle. The timed part repeats the list in seeded order,
  * releasing truncation checkpoints between queries, and every answer
  * must match its set-up fingerprint.
  *
  * Samples: `op` = seconds per query of a text, vector, graph or
  * pipeline operator object, `read` = seconds per query of a relational,
  * event-analytics or lake-read object; items = queries. */
object QuerySuite {
  /** Objects whose queries count as relational or lake reads. */
  val ReadLayers = Set("Relational", "Joins", "Aggregates", "Windows", "EventOps",
    "SetAndScalar", "Analytics", "Skew", "Behavior", "SqlLake")
  val Passes = 2

  def load(listFile: String): Seq[(String, String)] =
    scala.io.Source.fromFile(listFile).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+") match { case Array(q, layer) => q -> layer }).toSeq

  def layerOf(obj: String): String = if (obj == "SqlLake") "sql" else s"ops.$obj"

  /** SHA-256 over the answer's rows in order. */
  def fingerprint(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  final class Lane(val traced: Boolean) {
    val opS, readS, opCpu, readCpu = mutable.ArrayBuffer.empty[Double]
    val byLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var releaseS = 0.0
  }

  def run(ctx: Ctx, tables: String, listFile: String): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val queries = load(listFile)
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    queries.foreach { case (q, _) => require(registry.contains(q), s"$q is not a registry query") }
    val answers = new File(ctx.workDir, "answers")
    val (t0, c0) = (Ctx.now, Ctx.cpu)
    spark.range(200000).selectExpr("sum(id)").collect()
    val (pass0, passCpu0) = (Ctx.now, Ctx.cpu)

    // set-up pass: artifact-cold, answers saved for the oracle compare
    // (saving an answer is the benchmark's work, kept off the clock)
    val fp = mutable.Map.empty[String, String]
    var passS, passCpu = 0.0
    queries.foreach { case (q, _) =>
      ctx.op(s"setup $q") {
        val (q0, qc0) = (Ctx.now, Ctx.cpu)
        val df = registry(q)(spark, tables)
        val rows = df.collect()
        Truncate.release()
        passS += Ctx.now - q0
        passCpu += Ctx.cpu - qc0
        fp(q) = fingerprint(rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.parquet(new File(answers, q).getAbsolutePath)
      }
    }
    // one more untimed pass: right after the cold pass the JIT is still
    // compiling the queries' code, and its threads' CPU would land on
    // whichever query runs then
    val (w0, wc0) = (Ctx.now, Ctx.cpu)
    queries.foreach { case (q, _) =>
      ctx.op(s"warm $q")(registry(q)(spark, tables).collect())
      Truncate.release()
    }
    val setupS = passS + (pass0 - t0) + (Ctx.now - w0)
    val setupCpu = passCpu + (passCpu0 - c0) + (Ctx.cpu - wc0)
    val built = countArtifactDirs(new File(Artifacts.sharedRoot))
    Files.write(new File(ctx.workDir, "oracle_sql.json").toPath, Json.render(
      queries.flatMap { case (q, _) => oracle.get(q).map(q -> _) }.toMap).getBytes(UTF_8))

    val lanes = if (ctx.traced) Seq(new Lane(false), new Lane(true)) else Seq(new Lane(false))
    val rng = new scala.util.Random(ctx.seed)
    val loop0 = Ctx.now
    var reps = 0
    // whole passes only, so every run times the same queries: a traced
    // run makes one, a plain run `Passes` or more until the clock runs out
    def more = if (ctx.traced) reps < 1 else reps < Passes || Ctx.now - loop0 < ctx.seconds
    while (more) {
      rng.shuffle(queries).zipWithIndex.foreach { case ((q, obj), i) =>
        // alternate which lane goes first, so neither gains by the other's warm-up
        (if (i % 2 == 0) lanes else lanes.reverse).foreach { lane =>
          ctx.op(s"${if (lane.traced) "traced" else "plain"} $q") {
            ctx.tracer.during(lane.traced) {
              ctx.tracer.request += 1
              val (s0, sc0) = (Ctx.now, Ctx.cpu)
              val rows = ctx.tracer.span("bench")(ctx.tracer.span(layerOf(obj))(registry(q)(spark, tables).collect()))
              val dt = Ctx.now - s0
              lane.byLayer(s"${layerOf(obj)}.s") += dt
              (if (ReadLayers(obj)) lane.readS else lane.opS) += dt
              (if (ReadLayers(obj)) lane.readCpu else lane.opCpu) += Ctx.cpu - sc0
              val r0 = Ctx.now
              ctx.tracer.span("truncate")(Truncate.release())
              lane.releaseS += Ctx.now - r0
              ctx.check(Option.when(fingerprint(rows) != fp.getOrElse(q, ""))(
                s"$q answer differs from its set-up answer"))
            }
          }
        }
      }
      reps += 1
    }
    val loopS = Ctx.now - loop0
    val plain = lanes.head
    val out = mutable.Map[String, Any](
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpu, "loop_s" -> loopS,
      "items" -> (plain.opS.size + plain.readS.size).toLong,
      "items_s" -> (plain.opS.sum + plain.readS.sum), "items_cpu_s" -> (plain.opCpu.sum + plain.readCpu.sum),
      "samples" -> Map("op" -> plain.opS.toSeq, "read" -> plain.readS.toSeq,
        "op_cpu" -> plain.opCpu.toSeq, "read_cpu" -> plain.readCpu.toSeq),
      "answers" -> answers.getAbsolutePath,
      "inputs" -> Map("queries" -> queries.size.toLong, "passes" -> reps.toLong))
    lanes.find(_.traced).foreach { l =>
      out ++= Layers.report(ctx, Map("op" -> l.opS.toSeq, "op_cpu" -> l.opCpu.toSeq), l.byLayer.toMap ++ Map(
        "truncate.release_s" -> l.releaseS,
        "artifacts.setup_pass_s" -> passS,
        "artifacts.dirs_built" -> built.toDouble))
    }
    out
  }

  /** Committed artifact directories (`k=<corpus key>`) under the root. */
  def countArtifactDirs(root: File): Long =
    if (!root.isDirectory) 0L
    else root.listFiles().map { f =>
      if (f.isDirectory && f.getName.startsWith("k=")) 1L
      else if (f.isDirectory) countArtifactDirs(f) else 0L
    }.sum
}
