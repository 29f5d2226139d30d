package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import org.apache.spark.CodegenAccess
import org.apache.spark.sql.DataFrame

/** The stream's ingest commit is one pass over the micro-batch:
  * [[StreamIngest.processBatch]] scans bronze once, shuffles nothing,
  * and takes its catalog entries from the distribution write
  * ([[Catalog.commitIngest]]) and logs them in its commit record — the
  * same rows [[CatalogOracle.entriesFor]] derives, with the same tombstone gate, no
  * trace of an empty batch, and no per-arrival generated code. */
class IngestCommitSpec extends SparkTestBase {

  private val arrival = 1704067200000L

  private def rec(user: String, i: Int) = s"""{"user":"$user","i":$i}"""

  private def writeBronze(layout: Layout, src: String, obj: String, records: String*): Unit = {
    val d = new java.io.File(layout.bronzeSourceDir(src)); d.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(d, s"$obj.json").toPath, records.mkString)
  }

  /** Bronze objects of three sources, two records each, in `layout`. */
  private def threeSources(layout: Layout): Unit = {
    writeBronze(layout, "clicks", "c0", rec("A", 0), rec("B", 1))
    writeBronze(layout, "clicks", "c1", rec("C", 2), rec("D", 3))
    writeBronze(layout, "logs", "l0", rec("E", 4), rec("F", 5))
    writeBronze(layout, "tweets", "t0", rec("G", 6), rec("H", 7))
  }

  /** The bytes of every bronze object in `layout`. */
  private def bronzeBytes(layout: Layout): Long =
    java.nio.file.Files.walk(java.nio.file.Paths.get(layout.bronzeDir)).filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()

  private def stagedLeft(dir: String): Seq[String] =
    Option(new java.io.File(dir, "_staged").list()).map(_.toSeq).getOrElse(Seq.empty)

  private def keysAndJson(df: DataFrame): Set[(String, String)] =
    df.select("key", "json").collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("one processBatch of a three-source batch is one bronze scan and no shuffle") {
    val layout = Layout(tmpDir("ingest-one-pass"))
    threeSources(layout)
    // the commit's write is a plain Spark job, not a reported query
    // execution, so the scan is seen from its jobs: the one job that
    // reads input reads every bronze object once, in one stage
    val (_, jobs) = QueryExecutions.jobsOf(spark) {
      StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, arrival, 0L)
    }
    val scans = jobs.filter(_.inputBytes > 0)
    assert(scans.size == 1, s"the commit must scan bronze once, scanned it ${scans.size} times")
    assert(scans.head.inputBytes == bronzeBytes(layout), s"$jobs")
    val shuffles = jobs.filter(_.stages > 1)
    assert(shuffles.isEmpty, s"the commit must not shuffle: $shuffles")
    Seq("clicks" -> 4, "logs" -> 2, "tweets" -> 2).foreach { case (src, n) =>
      assert(Distribution.subscribeSnapshot(spark, layout, src).count() == n.toLong, src)
    }
  }

  test("the catalog rows are entriesFor's rows, per source") {
    val layout = Layout(tmpDir("ingest-entries"))
    threeSources(layout)
    val batch = Ingest.readBronze(spark, layout)
    StreamIngest.processBatch(batch, layout, arrival, 0L)
    val want = CatalogOracle.entriesFor(batch, arrival).toDF()
      .select("ts", "tsRaw", "key", "source").collect().toSet
    val got = Catalog.load(spark, layout).collect().toSet
    assert(want.size == 4, "one entry per object")
    assert(got == want)
    assert(got.groupBy(_.getAs[String]("source")).map { case (s, rs) => s -> rs.size } ==
      Map("clicks" -> 2, "logs" -> 1, "tweets" -> 1))
    Seq("clicks", "logs", "tweets").foreach { src =>
      assert(keysAndJson(Distribution.subscribeSnapshot(spark, layout, src)) ==
        keysAndJson(batch.filter(batch("source") === src)), src)
    }
  }

  test("an object whose every record matches a tombstone gets no catalog entry") {
    val layout = Layout(tmpDir("ingest-tombstone"))
    writeBronze(layout, "clicks", "gone", rec("A", 0), rec("A", 1))
    writeBronze(layout, "clicks", "kept", rec("A", 2), rec("B", 3))
    writeBronze(layout, "logs", "l0", rec("A", 4))
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "A"))
    StreamIngest.processBatch(Ingest.readBronze(spark, layout), layout, arrival, 0L)
    val objects = Catalog.load(spark, layout).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("key").split('/').last)).toSet
    assert(objects == Set(("clicks", "kept.json"), ("logs", "l0.json")))
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks")
      .select("json").collect().map(_.getString(0)).toSeq == Seq(rec("B", 3)))
    assert(Distribution.subscribeSnapshot(spark, layout, "logs").count() == 1L,
      "the tombstone names clicks only")
  }

  test("an empty batch, or one the tombstone gate empties, leaves no catalog dir " +
      "and no distribution stage") {
    val empty = Layout(tmpDir("ingest-empty"))
    val none = spark.range(0).selectExpr("'s' as source", "'k' as key", "'{}' as json")
      .filter("false")
    StreamIngest.processBatch(none, empty, arrival, 0L)
    assert(!new java.io.File(empty.catalogDir).exists())
    assert(stagedLeft(empty.distributionDir).isEmpty)

    val gated = Layout(tmpDir("ingest-all-gated"))
    writeBronze(gated, "clicks", "gone", rec("A", 0), rec("A", 1))
    Erase.addTombstone(spark, gated, Erase.Tombstone("clicks", "user", "A"))
    StreamIngest.processBatch(Ingest.readBronze(spark, gated), gated, arrival, 0L)
    assert(!new java.io.File(gated.catalogDir).exists())
    assert(stagedLeft(gated.distributionDir).isEmpty,
      s"left behind: ${stagedLeft(gated.distributionDir)}")
  }

  test("a second arrival of a same-shape batch compiles no new generated code") {
    val layout = Layout(tmpDir("ingest-codegen"))
    // two bronze areas with objects of one shape, committed into one lake
    val (first, second) = (Layout(tmpDir("ingest-codegen-a")), Layout(tmpDir("ingest-codegen-b")))
    threeSources(first); threeSources(second)
    StreamIngest.processBatch(Ingest.readBronze(spark, first), layout, arrival, 0L)
    val before = CodegenAccess.compiles
    StreamIngest.processBatch(Ingest.readBronze(spark, second), layout, arrival + 60000L, 1L)
    val compiled = CodegenAccess.compiles - before
    assert(compiled == 0L, s"the second arrival compiled $compiled classes")
    assert(Catalog.load(spark, layout).select("tsRaw").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq(arrival.toString, (arrival + 60000L).toString))
  }
}
