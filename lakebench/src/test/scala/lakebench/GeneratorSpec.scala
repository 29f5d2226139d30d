package lakebench

import org.scalatest.funsuite.AnyFunSuite

/** A seed fixes a workload's inputs. */
class GeneratorSpec extends AnyFunSuite {

  private def arrivals(seed: Long, n: Int): Seq[BronzeObject] = {
    val g = new BronzeGen(seed)
    (0 until n).flatMap(g.arrival)
  }

  test("the same seed gives byte-identical bronze objects") {
    val (a, b) = (arrivals(7, 6), arrivals(7, 6))
    assert(a.map(o => (o.source, o.name, o.records)) == b.map(o => (o.source, o.name, o.records)))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
    assert(a.map(_.bytes.toSeq) != arrivals(8, 6).map(_.bytes.toSeq), "another seed, other objects")
  }

  test("every arrival holds the same number of records in objects of distinct sources") {
    val g = new BronzeGen(3)
    val objs = (0 until 40).flatMap(g.arrival)
    objs.groupBy(_.arrival).values.foreach { os =>
      assert(os.map(_.records).sum == BronzeGen.RecordsPerArrival)
      assert(os.map(_.source).distinct.size == BronzeGen.ObjectsPerArrival)
    }
    val bySource = objs.groupBy(_.source).map { case (s, os) => s -> os.size }
    assert(bySource(BronzeGen.Sources.head) > bySource.getOrElse(BronzeGen.Sources.last, 0),
      "the Zipf head is hotter than the tail")
  }

  private def statements(seed: Long, n: Int): Seq[String] = {
    val rows = (0 until LakeDml.SeedRows).map(k => DmlRow(k.toLong, k % 1000L, "t0"))
    val model = new DmlModel(rows, 1L)
    val stream = new DmlStream(seed, model)
    (0 until n).flatMap { _ =>
      val w = stream.nextWrite(); model.apply(w)
      Seq(w, stream.nextRead())
    }.map(_.sql("c.lake", "c"))
  }

  test("the same seed gives the same statement stream") {
    val a = statements(11, 20)
    assert(a == statements(11, 20))
    assert(a != statements(12, 20))
    Seq("INSERT INTO", "MERGE INTO", "UPDATE", "DELETE FROM", "VERSION AS OF", "table_changes")
      .foreach(verb => assert(a.exists(_.contains(verb)), s"the stream uses $verb"))
  }
}
