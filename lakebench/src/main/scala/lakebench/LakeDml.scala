package lakebench

import scala.collection.mutable

import graft.lake.{Catalog, Layout}
import org.apache.spark.sql.Row

/** One statement of the `lake_dml` stream. */
sealed trait Stmt {
  def kind: String
  def write: Boolean
  def sql(table: String, cat: String): String
}

/** A table row: `source` is derived from the key, so a row never moves
  * between source partitions. */
final case class DmlRow(key: Long, v: Long, tag: String) {
  def source: String = s"s${key % 4}"
  def values: String = s"($key, '$source', $v, '$tag')"
}

object Stmt {
  private def values(rows: Seq[DmlRow]) =
    rows.map(_.values).mkString("VALUES ", ", ", " AS s(key, source, v, tag)")

  final case class Insert(rows: Seq[DmlRow]) extends Stmt {
    val kind = "insert"; val write = true
    def sql(t: String, c: String) = s"INSERT INTO $t BY NAME SELECT * FROM ${values(rows)}"
  }
  final case class Merge(rows: Seq[DmlRow]) extends Stmt {
    val kind = "merge"; val write = true
    def sql(t: String, c: String) =
      s"MERGE INTO $t t USING (SELECT * FROM ${values(rows)}) s ON t.key = s.key " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
  }
  final case class Update(lo: Long, hi: Long, d: Long) extends Stmt {
    val kind = "update"; val write = true
    def sql(t: String, c: String) = s"UPDATE $t SET v = v + $d WHERE key >= $lo AND key <= $hi"
  }
  final case class Delete(lo: Long, hi: Long) extends Stmt {
    val kind = "delete"; val write = true
    def sql(t: String, c: String) = s"DELETE FROM $t WHERE key >= $lo AND key <= $hi"
  }
  final case class Point(key: Long) extends Stmt {
    val kind = "point"; val write = false
    def sql(t: String, c: String) = s"SELECT key, v, tag FROM $t WHERE key = $key"
  }
  final case class Range(lo: Long, hi: Long) extends Stmt {
    val kind = "range"; val write = false
    def sql(t: String, c: String) =
      s"SELECT count(*) AS n, sum(v) AS sv FROM $t WHERE key BETWEEN $lo AND $hi"
  }
  case object GroupBy extends Stmt {
    val kind = "group_by"; val write = false
    def sql(t: String, c: String) = s"SELECT source, count(*) AS n, sum(v) AS sv FROM $t GROUP BY source"
  }
  final case class AsOf(version: Long) extends Stmt {
    val kind = "version_as_of"; val write = false
    def sql(t: String, c: String) = s"SELECT count(*) AS n, sum(v) AS sv FROM $t VERSION AS OF $version"
  }
  final case class Cdf(from: Long, to: Long) extends Stmt {
    val kind = "cdf"; val write = false
    def sql(t: String, c: String) =
      s"SELECT _change_type, count(*) AS n, sum(v) AS sv FROM table_changes('$c', $from, $to) GROUP BY _change_type"
  }
}

/** In-memory model of the table: current rows, a (count, sum) summary
  * of every committed version for `VERSION AS OF`, and the change rows
  * each version must show in the change feed (an update is a delete of
  * the old row plus an insert of the new one). */
final class DmlModel(seedRows: Seq[DmlRow], val seedVersion: Long) {
  val rows = mutable.LinkedHashMap.empty[Long, DmlRow]
  seedRows.foreach(r => rows(r.key) = r)
  var version: Long = seedVersion
  private val summaries = mutable.Map(seedVersion -> summary)
  private val changes = mutable.Map.empty[Long, Seq[(String, Long)]]

  private def summary: (Long, Long) = (rows.size.toLong, rows.valuesIterator.map(_.v).sum)

  def apply(s: Stmt): Unit = {
    val ch = mutable.ArrayBuffer.empty[(String, Long)]
    def put(r: DmlRow): Unit = {
      rows.get(r.key).foreach(o => ch += ("delete" -> o.v))
      rows(r.key) = r; ch += ("insert" -> r.v)
    }
    def inRange(lo: Long, hi: Long) = rows.values.filter(r => r.key >= lo && r.key <= hi).toSeq
    s match {
      case Stmt.Insert(rs) => rs.foreach(put)
      case Stmt.Merge(rs) => rs.foreach(put)
      case Stmt.Update(lo, hi, d) => inRange(lo, hi).foreach(r => put(r.copy(v = r.v + d)))
      case Stmt.Delete(lo, hi) => inRange(lo, hi).foreach { r => rows -= r.key; ch += ("delete" -> r.v) }
      case _ => return
    }
    version += 1
    summaries(version) = summary
    changes(version) = ch.toSeq
  }

  /** The answer a read must give, as sorted canonical lines. */
  def expect(s: Stmt): Seq[String] = s match {
    case Stmt.Point(k) => rows.get(k).map(r => s"${r.key}|${r.v}|${r.tag}").toSeq
    case Stmt.Range(lo, hi) =>
      val in = rows.values.filter(r => r.key >= lo && r.key <= hi)
      Seq(agg(in.size.toLong, in.map(_.v).sum))
    case Stmt.GroupBy =>
      rows.values.groupBy(_.source).map { case (src, rs) => s"$src|${agg(rs.size.toLong, rs.map(_.v).sum)}" }
        .toSeq.sorted
    case Stmt.AsOf(ver) => val (n, sv) = summaries(ver); Seq(agg(n, sv))
    case Stmt.Cdf(from, to) =>
      (from + 1 to to).flatMap(changes.getOrElse(_, Nil)).groupBy(_._1)
        .map { case (t, cs) => s"$t|${agg(cs.size.toLong, cs.map(_._2).sum)}" }.toSeq.sorted
    case _ => Nil
  }

  /** The gate: None when a read's answer is the model's. */
  def problem(s: Stmt, got: Seq[String]): Option[String] = {
    val want = expect(s)
    if (got == want) None else Some(s"${s.kind} returned ${got.take(5)}, model says ${want.take(5)}")
  }

  private def agg(n: Long, sv: Long): String = if (n == 0) "0|null" else s"$n|$sv"
}

object DmlModel {
  /** Canonical sorted lines of a read's result rows. */
  def lines(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).sorted
}

/** Seeded statement stream. Writes rotate through insert, MERGE (keys
  * drawn with a Zipf skew, so a few keys are hot), UPDATE and range
  * DELETE; reads rotate through point, range, full GROUP BY,
  * `VERSION AS OF` and the change feed. Statements that name versions
  * or keys read the model, so one seed gives one stream. */
final class DmlStream(seed: Long, model: DmlModel) {
  import LakeDml._
  private val rng = new scala.util.Random(seed)
  private var nextKey = SeedRows.toLong
  private var writes = Seq.empty[String]
  private var reads = Seq.empty[String]

  private def tag(): String = "t" + rng.nextInt(1000)
  private val zipfCdf: Array[Double] = {
    val w = (1 to HotKeys).map(r => 1.0 / math.pow(r, 1.2))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  /** A seeded key drawn by Zipf rank; ranks are scattered over the key space. */
  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    ((if (i >= 0) i else -i - 1).toLong * 7919) % SeedRows
  }
  private def liveKey(): Long = {
    val ks = model.rows.keysIterator
    ks.drop(rng.nextInt(model.rows.size)).next()
  }

  def nextWrite(): Stmt = {
    if (writes.isEmpty) writes = rng.shuffle(Seq("insert", "merge", "update", "delete"))
    val k = writes.head; writes = writes.tail
    k match {
      case "insert" =>
        Stmt.Insert((0 until BatchRows).map { _ => nextKey += 1; DmlRow(nextKey, rng.nextInt(1000).toLong, tag()) })
      case "merge" =>
        val hot = Iterator.continually(zipfKey()).distinct.take(BatchRows / 2).toSeq
        val fresh = (0 until BatchRows / 2).map { _ => nextKey += 1; nextKey }
        Stmt.Merge((hot ++ fresh).map(k => DmlRow(k, rng.nextInt(1000).toLong, tag())))
      case "update" =>
        val lo = rng.nextInt(SeedRows).toLong
        Stmt.Update(lo, lo + RangeWidth, 1 + rng.nextInt(9))
      case _ =>
        val lo = rng.nextInt(SeedRows).toLong
        Stmt.Delete(lo, lo + DeleteWidth)
    }
  }

  def nextRead(): Stmt = {
    if (reads.isEmpty) reads = rng.shuffle(Seq("point", "range", "group_by", "version_as_of", "cdf"))
    val k = reads.head; reads = reads.tail
    val ver = model.version
    k match {
      case "point" => Stmt.Point(liveKey())
      case "range" =>
        val lo = rng.nextInt(SeedRows).toLong
        Stmt.Range(lo, lo + RangeWidth)
      case "group_by" => Stmt.GroupBy
      case "version_as_of" =>
        Stmt.AsOf(model.seedVersion + rng.nextInt((ver - model.seedVersion + 1).toInt))
      case _ =>
        val from = math.max(model.seedVersion, ver - 1 - rng.nextInt(4))
        Stmt.Cdf(from, ver)
    }
  }
}

/** `lake_dml`: the lakehouse verbs through `spark.sql` on a
  * `GraftCatalog` table whose log grows. Each round is one write
  * (INSERT BY NAME, MERGE, UPDATE or range DELETE) then one read
  * (point, range, GROUP BY, VERSION AS OF or table_changes), each
  * checked against [[DmlModel]].
  *
  * Samples: `op` = seconds per write statement, `read` = seconds per
  * read statement; items = statements. */
object LakeDml {
  val SeedRows = 20000
  val BatchRows = 20
  val HotKeys = 1000
  val RangeWidth = 400L
  val DeleteWidth = 40L
  val MinRounds = 12
  val TracedRounds = 12

  final class Lane(ctx: Ctx, name: String, val traced: Boolean, seedRows: Seq[DmlRow]) {
    private val spark = ctx.spark
    private val t = ctx.tracer
    val layout: Layout = Layout(ctx.dir(s"dml-$name"))
    val cat = s"bench_$name"
    val table = s"$cat.lake"
    val model: DmlModel = {
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", layout.root)
      import spark.implicits._
      val v = Catalog.commitLake(spark, layout,
        seedRows.map(r => (r.key, r.source, r.v, r.tag)).toDF("key", "source", "v", "tag"))
      new DmlModel(seedRows, v)
    }
    val stream = new DmlStream(ctx.seed, model)
    val opS, readS, opCpu, readCpu = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def exec(s: Stmt, timed: Boolean): Unit = ctx.op(s"$name ${s.kind}: ${s.sql(table, cat).take(120)}") {
      t.during(traced && timed) {
        t.request += 1
        val (t0, c0) = (Ctx.now, Ctx.cpu)
        val got = t.span("bench")(t.span(if (s.write) s"dml.${s.kind}" else s"read.${s.kind}") {
          spark.sql(s.sql(table, cat)).collect().toSeq
        })
        val (dt, dc) = (Ctx.now - t0, Ctx.cpu - c0)
        if (timed) {
          (if (s.write) opS else readS) += dt
          (if (s.write) opCpu else readCpu) += dc
        }
        if (s.write) {
          model.apply(s)
          val head = Catalog.headVersion(spark, layout)
          ctx.check(Option.when(head != model.version)(
            s"${s.kind} left head version $head, model says ${model.version}"))
        } else ctx.check(model.problem(s, DmlModel.lines(got)))
        if (traced && timed && !s.write) probe(s)
      }
    }

    /** Traced-only probes of the catalog layer a read goes through. */
    private def probe(s: Stmt): Unit = {
      def time[T](key: String)(body: => T): T = {
        val p0 = Ctx.now; val r = body; probes(key) += Ctx.now - p0; r
      }
      time("catalog.snapshot_s")(Catalog.loadLakeSnapshot(spark, layout))
      val matched = s match {
        case Stmt.Point(k) => Some(time("catalog.skip_plan_s")(Catalog.lakeFilesMatchingPoint(spark, layout, "key", k)))
        case Stmt.Range(lo, hi) => Some(time("catalog.skip_plan_s")(Catalog.lakeFilesOverlapping(spark, layout, "key", lo, hi)))
        case _ => None
      }
      matched.foreach { m =>
        probes("catalog.files_considered") += Catalog.lakeFilesAsOf(spark, layout).size
        probes("catalog.files_matched") += m.size
      }
    }
  }

  def run(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed)
    val seedRows = (0 until SeedRows).map(k => DmlRow(k.toLong, rng.nextInt(1000).toLong, "t" + rng.nextInt(1000)))
    val (t0, c0) = (Ctx.now, Ctx.cpu)
    val lanes = if (ctx.traced) Seq(new Lane(ctx, "plain", false, seedRows), new Lane(ctx, "traced", true, seedRows))
      else Seq(new Lane(ctx, "plain", false, seedRows))
    // one untimed round warms the SQL and commit paths
    lanes.foreach { l => l.exec(l.stream.nextWrite(), timed = false); l.exec(l.stream.nextRead(), timed = false) }
    val (setupS, setupCpu) = (Ctx.now - t0, Ctx.cpu - c0)

    val loop0 = Ctx.now
    var rounds = 0
    def more = if (ctx.traced) rounds < TracedRounds else rounds < MinRounds || Ctx.now - loop0 < ctx.seconds
    while (more) {
      // both lanes draw from streams with the same seed and history,
      // so they run the same statements
      // alternate which lane goes first, so neither gains by the other's warm-up
      val turn = if (rounds % 2 == 0) lanes else lanes.reverse
      turn.foreach(l => l.exec(l.stream.nextWrite(), timed = true))
      turn.foreach(l => l.exec(l.stream.nextRead(), timed = true))
      rounds += 1
    }
    val loopS = Ctx.now - loop0
    val plain = lanes.head
    val out = mutable.Map[String, Any](
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpu, "loop_s" -> loopS,
      "items" -> (plain.opS.size + plain.readS.size).toLong,
      "items_s" -> (plain.opS.sum + plain.readS.sum), "items_cpu_s" -> (plain.opCpu.sum + plain.readCpu.sum),
      "samples" -> Map("op" -> plain.opS.toSeq, "read" -> plain.readS.toSeq,
        "op_cpu" -> plain.opCpu.toSeq, "read_cpu" -> plain.readCpu.toSeq),
      "inputs" -> Map("seed_rows" -> SeedRows.toLong, "batch_rows" -> BatchRows.toLong, "rounds" -> rounds.toLong))
    lanes.find(_.traced).foreach { l =>
      val p = l.probes
      val considered = p("catalog.files_considered")
      out ++= Layers.report(ctx, Map("op" -> l.opS.toSeq, "op_cpu" -> l.opCpu.toSeq), Map(
        "catalog.snapshot_s" -> p("catalog.snapshot_s"),
        "catalog.skip_plan_s" -> p("catalog.skip_plan_s"),
        "catalog.files_skipped_frac" -> (if (considered > 0) 1 - p("catalog.files_matched") / considered else 0.0),
        "catalog.live_files" -> Catalog.lakeFilesAsOf(spark, l.layout).size.toDouble,
        "catalog.dv_files" -> Catalog.dvFilesAsOf(spark, l.layout).size.toDouble,
        "catalog.log_records" -> Option(new java.io.File(l.layout.catalogDir, "_log").list())
          .map(_.length).getOrElse(0).toDouble))
    }
    out
  }
}
