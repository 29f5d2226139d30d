package lakebench

import java.io.ByteArrayInputStream
import java.util.zip.GZIPInputStream

import graft.lake.ConcatJson
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Each correctness gate accepts the right answer and rejects an
  * injected wrong one: a row dropped, a value off by one. */
class GateSpec extends AnyFunSuite {

  private def text(o: BronzeObject): String =
    new String(new GZIPInputStream(new ByteArrayInputStream(o.bytes)).readAllBytes(), "UTF-8")

  test("ingest_replay ledger: exact counts pass, a dropped or extra record fails") {
    val g = new BronzeGen(5)
    val ledger = new Ledger
    val objs = (0 until 6).flatMap(g.arrival)
    objs.foreach(ledger.wrote)
    val src = objs.head.source
    val want = ledger.replayCount(src, 1, 4)
    assert(ledger.replayProblem(src, 1, 4, want).isEmpty)
    assert(ledger.replayProblem(src, 1, 4, want - 1).nonEmpty)
    assert(ledger.replayProblem(src, 1, 4, want + 1).nonEmpty)
    val seen = ledger.subscriberCount(src)
    assert(ledger.subscriberProblem(src, seen).isEmpty)
    assert(ledger.subscriberProblem(src, seen - 1).nonEmpty)
    ledger.replayed(src, want)
    assert(ledger.subscriberProblem(src, seen).nonEmpty, "a replay re-publishes its records")
  }

  test("ingest_replay ledger: a naive `}{` splitter is caught, ConcatJson is not") {
    val g = new BronzeGen(9)
    val objs = (0 until 8).flatMap(g.arrival)
    val tricky = objs.filter(o => text(o).contains("\"x\\\":1}{"))
    assert(tricky.nonEmpty, "some records carry }{ inside a string")
    val ledger = new Ledger
    objs.foreach(ledger.wrote)
    BronzeGen.Sources.foreach { src =>
      val mine = objs.filter(_.source == src)
      val split = mine.map(o => ConcatJson.split(text(o)).size.toLong).sum
      assert(ledger.subscriberProblem(src, split).isEmpty, s"ConcatJson count of $src")
    }
    val o = tricky.head
    val naive = text(o).replace("}{", "}\n{").split("\n").length.toLong
    val others = objs.filter(x => x.source == o.source && x != o).map(_.records.toLong).sum
    assert(ledger.subscriberProblem(o.source, naive + others).nonEmpty)
  }

  private def modelAfter(n: Int): (DmlModel, DmlStream) = {
    val rows = (0 until LakeDml.SeedRows).map(k => DmlRow(k.toLong, k % 997L, s"t${k % 13}"))
    val model = new DmlModel(rows, 1L)
    val stream = new DmlStream(21, model)
    (0 until n).foreach(_ => model.apply(stream.nextWrite()))
    (model, stream)
  }

  test("lake_dml model: every read kind rejects a dropped row and a value off by one") {
    val (model, stream) = modelAfter(12)
    val reads = Iterator.continually(stream.nextRead()).take(10).toSeq
    assert(reads.map(_.kind).toSet == Set("point", "range", "group_by", "version_as_of", "cdf"))
    reads.foreach { r =>
      val right = model.expect(r)
      assert(model.problem(r, right).isEmpty, r.kind)
      assert(right.nonEmpty, s"${r.kind} has rows to corrupt")
      assert(model.problem(r, right.tail).nonEmpty, s"${r.kind}: a dropped row is caught")
      val off = right.updated(0, right.head.split('|').toSeq match {
        case fields => (fields.init :+ (fields.last.toLongOption.map(_ + 1).getOrElse(fields.last + "x"))).mkString("|")
      })
      assert(model.problem(r, off).nonEmpty, s"${r.kind}: a value off by one is caught")
    }
  }

  test("lake_dml model: VERSION AS OF and the change feed follow the writes") {
    val (model, _) = modelAfter(8)
    assert(model.version == 9L)
    val first = model.expect(Stmt.AsOf(1L)).head
    assert(first == s"${LakeDml.SeedRows}|${(0 until LakeDml.SeedRows).map(_ % 997L).sum}")
    val cdf = model.expect(Stmt.Cdf(1L, 9L))
    assert(cdf.map(_.split('|').head).toSet.subsetOf(Set("insert", "delete")))
  }

  test("query_suite fingerprint: a dropped row or an off value changes it") {
    val rows = Array(Row(1L, "a", 2.5), Row(2L, "b", 3.5), Row(3L, "c", 4.5))
    val fp = QuerySuite.fingerprint(rows)
    assert(QuerySuite.fingerprint(rows.clone()) == fp)
    assert(QuerySuite.fingerprint(rows.take(2)) != fp)
    assert(QuerySuite.fingerprint(rows.updated(1, Row(2L, "b", 3.6))) != fp)
  }
}
