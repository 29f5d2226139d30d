package graft.lake

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Every catalog row is an entry line in the commit record that added
  * it, whichever path committed it: [[Ingest.ingestBatch]] logs its
  * entries from its one lake write, [[Catalog.append]] logs exactly the
  * rows it is given, and the log format has no catalog file left, so a
  * record or checkpoint line naming one fails loudly. */
class CatalogRowsSpec extends SparkTestBase {

  private val t0Ms = 1704067200000L

  private def writeBronze(layout: Layout, src: String, obj: String, records: String*): Unit = {
    val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath, records.mkString)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def exchanges(qe: QueryExecution): Seq[String] =
    Plans.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e.nodeName }

  private def caches(qe: QueryExecution): Seq[String] =
    qe.withCachedData.collectWithSubqueries { case r: InMemoryRelation => r.nodeName } ++
      Plans.collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s.nodeName }

  /** Every file or directory under the catalog directory outside `_log`. */
  private def catalogData(layout: Layout): Seq[String] =
    Option(new java.io.File(layout.catalogDir).list()).toSeq.flatten.filter(_ != "_log")

  private def ofMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt); t
  }

  private def at(ms: Long, micros: Int = 0): Timestamp = ofMicros(ms * 1000L + micros)

  /** A frame's rows as a sorted multiset of their renderings. */
  private def rows(df: DataFrame): Seq[String] = {
    assert(df.columns.toSeq == Seq("ts", "tsRaw", "key", "source"))
    df.collect().map(_.toString).toSeq.sorted
  }

  private def rowsOf(entries: Seq[CatalogEntry]): Seq[String] =
    entries.map(e => Row(e.ts, e.tsRaw, e.key, e.source).toString).sorted

  test("ingestBatch is one bronze scan with no shuffle or cache, logs one entry per " +
      "object and returns the rows written") {
    val layout = Layout(tmpDir("rows-batch"))
    def rec(i: Int) = s"""{"i":$i}"""
    writeBronze(layout, "clicks", "c0", rec(0), rec(1))
    writeBronze(layout, "clicks", "c1", rec(2))
    writeBronze(layout, "logs", "l0", rec(3), rec(4), rec(5))
    val (n, executions) = QueryExecutions.during(spark)(Ingest.ingestBatch(spark, layout, t0Ms))
    assert(n == 6L, "the rows written")
    val scans = executions.count(QueryExecutions.readsUnder(layout.bronzeDir))
    assert(scans == 1, s"the ingest must scan bronze once, scanned it $scans times")
    val shuffles = executions.flatMap(exchanges)
    assert(shuffles.isEmpty, s"the ingest must not shuffle: $shuffles")
    val cached = executions.flatMap(caches)
    assert(cached.isEmpty, s"the ingest must not cache the bronze scan: $cached")
    assert(catalogData(layout).isEmpty, s"catalog files written: ${catalogData(layout)}")
    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 6L)
    assert(rows(Catalog.load(spark, layout)) == rows(CatalogOracle.entriesFor(
      Ingest.readBronze(spark, layout), t0Ms).toDF().select("ts", "tsRaw", "key", "source")))
    assert(Catalog.load(spark, layout).count() == 3L, "one entry per object")
    assert(Catalog.versions(spark, layout) == Seq(1L))
    // bronze with nothing in it: no lake file, no record, no rows
    val empty = Layout(tmpDir("rows-batch-empty"))
    new java.io.File(empty.bronzeSourceDir("clicks")).mkdirs()
    writeBronze(empty, "clicks", "blank")
    assert(Ingest.ingestBatch(spark, empty, t0Ms) == 0L)
    assert(Catalog.versions(spark, empty).isEmpty && catalogData(empty).isEmpty)
  }

  test("append round-trips sub-ms ts, a foreign tsRaw, nulls and duplicate rows " +
      "through every reader, checkpoint and pruneLog") {
    val layout = Layout(tmpDir("rows-append"))
    val s = spark
    import s.implicits._
    val first = Seq(
      CatalogEntry("clicks", at(t0Ms, 3), "t", "k1"),
      CatalogEntry("clicks", at(t0Ms, 3), "t", "k1"),
      CatalogEntry("clicks", at(t0Ms, 999), t0Ms.toString, "k 2%"),
      CatalogEntry("clicks", ofMicros(-1234567L), "before 1970", "k3"),
      CatalogEntry("logs", null, "untimed", "k4"),
      CatalogEntry("logs", at(t0Ms + 1L), null, null),
      CatalogEntry(null, at(t0Ms), "sourceless", "k5"),
      CatalogEntry("a b", at(t0Ms, 500), "", ""))
    val second = Seq(
      CatalogEntry("clicks", at(t0Ms, 4), "later", "k6"),
      CatalogEntry("clicks", at(t0Ms, 3), "t", "k1"))
    Catalog.append(spark, layout, first.toDS())
    Catalog.append(spark, layout, second.toDS())
    Catalog.append(spark, layout, Seq.empty[CatalogEntry].toDS())
    assert(Catalog.versions(spark, layout) == Seq(1L, 2L), "an empty append claims nothing")
    def range(src: String, lo: Timestamp, hi: Timestamp): Seq[String] =
      rows(Catalog.rangeQuery(spark, layout, src, lo, hi))
    def check(): Unit = {
      assert(rows(Catalog.load(spark, layout)) == rowsOf(first ++ second))
      assert(rows(Catalog.loadAsOf(spark, layout, 1L)) == rowsOf(first))
      assert(rows(Catalog.loadAsOf(spark, layout, 0L)).isEmpty)
      // inclusive at microsecond edges, duplicates kept
      assert(range("clicks", at(t0Ms, 3), at(t0Ms, 999)) ==
        rowsOf((first ++ second).filter(e => e.source == "clicks" && e.key != "k3")))
      assert(range("clicks", at(t0Ms, 4), at(t0Ms, 998)) == rowsOf(second.take(1)))
      assert(range("clicks", ofMicros(-1234567L), ofMicros(-1234567L)) ==
        rowsOf(first.filter(_.key == "k3")))
      // a null ts, source or bound matches nothing
      assert(range("logs", at(t0Ms - 1000L), at(t0Ms + 1000L)) ==
        rowsOf(first.filter(e => e.source == "logs" && e.ts != null)))
      assert(range(null, at(t0Ms - 1000L), at(t0Ms + 1000L)).isEmpty)
      assert(range("clicks", null, at(t0Ms + 1000L)).isEmpty)
      assert(range("a b", at(t0Ms), at(t0Ms + 1L)) == rowsOf(first.filter(_.source == "a b")))
    }
    check()
    assert(Catalog.checkpoint(spark, layout) == Some(2L))
    assert(Catalog.pruneLog(spark, layout) == 4L)
    check()
    // a checkpoint plus a tail above it
    val third = Seq(CatalogEntry("clicks", at(t0Ms, 5), "tail", "k7"))
    Catalog.append(spark, layout, third.toDS())
    assert(rows(Catalog.load(spark, layout)) == rowsOf(first ++ second ++ third))
    assert(rows(Catalog.loadAsOf(spark, layout, 2L)) == rowsOf(first ++ second))
  }

  test("a catalog-file line in a record, or an unknown checkpoint line, fails loudly " +
      "and names the file") {
    def failsNaming(layout: Layout, file: java.io.File): Unit = {
      def fails(read: => Any): Unit = {
        val e = intercept[java.io.IOException](read)
        assert(e.getMessage.contains(file.getName), e.getMessage)
      }
      fails(Catalog.versions(spark, layout))
      fails(Catalog.load(spark, layout))
      fails(Catalog.rangeQuery(spark, layout, "clicks", at(t0Ms), at(t0Ms)))
    }
    def logFile(layout: Layout, name: String, body: String): java.io.File = {
      val f = new java.io.File(s"${layout.catalogDir}/_log/$name")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      f
    }
    Seq(
      "cat u1\nsource=clicks/part-00000.parquet",
      "catstat 10 1 2 source=clicks/part-00000.parquet",
      s"catent $t0Ms clicks k1" // the form before ts carried micros and tsRaw
    ).zipWithIndex.foreach { case (line, i) =>
      val layout = Layout(tmpDir(s"rows-record-$i"))
      val rec = logFile(layout, "%020d.commit".format(1), s"v2 -1 $t0Ms\n$line")
      logFile(layout, "%020d.done".format(1), "")
      failsNaming(layout, rec)
      intercept[java.io.IOException](Catalog.lakeHistory(spark, layout))
    }
    Seq(
      "CS 1 10 1 2 source=clicks/c00000000000000000001-part-00000.parquet",
      "1 source=clicks/c00000000000000000001-part-00000.parquet",
      "ZZ 1 something"
    ).zipWithIndex.foreach { case (line, i) =>
      val layout = Layout(tmpDir(s"rows-checkpoint-$i"))
      val cp = logFile(layout, "%020d.checkpoint".format(1),
        s"CE 1 ${t0Ms * 1000L} $t0Ms clicks k0\n$line\n#end 2")
      failsNaming(layout, cp)
    }
  }
}
