package graft.lake

import graft.SparkTestBase
import java.io.{File, FileOutputStream}
import java.util.zip.GZIPOutputStream

/** Right-to-erasure across every storage leg: bronze objects rewritten
  * in place (keys stable, catalog untouched), lake parquet and
  * distribution files filtered and recommitted. Idempotent; a subject
  * whose records share objects with other subjects never takes their
  * records with them. */
class EraseSpec extends SparkTestBase {

  private def writeGzObject(dir: String, name: String, content: String): Unit = {
    val d = new File(dir); d.mkdirs()
    val out = new GZIPOutputStream(new FileOutputStream(new File(d, name)))
    out.write(content.getBytes("UTF-8")); out.close()
  }

  private def rec(user: String, v: Int): String = s"""{"user":"$user","v":$v}"""

  test("eraseWhere removes one subject from bronze, lake, and distribution; keys survive") {
    val layout = Layout(tmpDir("erase-e2e"))
    // two objects share subjects; one object is entirely subject A
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj1.gz",
      rec("A", 1) + rec("B", 2) + rec("A", 3))
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj2.gz",
      rec("B", 4) + rec("C", 5))
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj3.gz",
      rec("A", 6))
    // an adversarial record: the literal text "A" inside ANOTHER field
    // must not be erased (the predicate parses, not substring-matches)
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj4.gz",
      """{"user":"D","note":"\"user\":\"A\""}""")

    Ingest.ingestBatch(spark, layout, arrivalMs = 1704067200000L)
    val bronze0 = Ingest.readBronzeSource(spark, layout, "clicks")
    Catalog.commitDist(spark, layout, bronze0)
    val catBefore = Catalog.load(spark, layout).count()

    val report = Erase.eraseWhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"))
    assert(report.bronzeObjectsRewritten == 2 && report.bronzeRecordsDropped == 3,
      s"obj1 (2 records) + obj3 (1 record): $report")
    assert(report.lakeRowsDropped == 3 && report.distributionRecordsDropped == 3, s"$report")

    // bronze: A gone, everyone else intact, keys unchanged (incl. the
    // now-empty obj3), decoy untouched
    val bronze = Ingest.readBronzeSource(spark, layout, "clicks").collect()
      .map(r => (r.getString(1).split('/').last, r.getString(2)))
    assert(!bronze.exists(_._2.contains("\"user\":\"A\"") ), s"A survives: ${bronze.toSeq}")
    assert(bronze.count(_._1 == "obj1.gz") == 1 && bronze.exists(_._2 == rec("B", 2)))
    assert(bronze.exists(_._2 == rec("B", 4)) && bronze.exists(_._2 == rec("C", 5)))
    assert(bronze.exists(_._2.contains("\"user\":\"D\"")), "the decoy must survive")
    assert(new File(s"${layout.bronzeSourceDir("clicks")}/obj3.gz").exists(),
      "a fully-erased object keeps its key (catalog/replay references stay valid)")

    // lake + distribution: A gone, others present
    val lake = spark.read.parquet(s"${layout.lakeDir}/source=clicks")
      .select("json").collect().map(_.getString(0))
    assert(lake.length == 4 && !lake.exists(_.contains("\"user\":\"A\"")),
      s"B, B, C and the decoy D survive: ${lake.toSeq}")
    val dist = Distribution.subscribeSnapshot(spark, layout, "clicks").count()
    assert(dist == 4)

    // catalog untouched; no transient litter
    assert(Catalog.load(spark, layout).count() == catBefore)
    val dirList = new File(layout.bronzeSourceDir("clicks")).listFiles().map(_.getName)
    assert(!dirList.exists(n => n.startsWith("_erase") || n.startsWith("_trash")),
      s"transient files must not survive: ${dirList.toSeq}")

    // idempotent: second run is a no-op
    val again = Erase.eraseWhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"))
    assert(again.totalDropped == 0L && again.bronzeObjectsRewritten == 0L)
  }

  test("jsonFieldEquals parses rather than substring-matches; malformed never matches") {
    val p = Erase.jsonFieldEquals("user", "A")
    assert(p("""{"user":"A","v":1}"""))
    assert(p("""{ "v" : 1 , "user" : "A" }"""), "key order / whitespace robust")
    assert(!p("""{"user":"AB"}"""))
    assert(!p("""{"note":"user A mentioned"}"""))
    assert(!p("""{"other":{"user":"A"}}"""), "only the top-level field")
    assert(!p("""not json at all"""), "malformed input cannot be attributed — never erased")
  }

  test("tombstone + eraseWhere = complete erasure under continuing ingestion") {
    val layout = Layout(tmpDir("erase-tomb"))
    // history: subject A already in the lake
    writeGzObject(layout.bronzeSourceDir("clicks"), "h1.gz", rec("A", 1) + rec("B", 2))
    graft.streaming.StreamIngest.processBatch(
      Ingest.readBronzeSource(spark, layout, "clicks"), layout, 1704067200000L, 1L)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 2)

    // the erasure request: clear history AND register the tombstone
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "A"))
    Erase.eraseWhere(spark, layout, "clicks", Erase.jsonFieldEquals("user", "A"))
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 1)

    // future arrivals of the subject are gated at intake — B flows, A never lands
    writeGzObject(layout.bronzeSourceDir("clicks"), "h2.gz",
      rec("A", 3) + rec("B", 4) + rec("A", 5))
    graft.streaming.StreamIngest.processBatch(
      Ingest.readBronzeSource(spark, layout, "clicks")
        .filter(org.apache.spark.sql.functions.col("key").contains("h2.gz")),
      layout, 1704067260000L, 2L)
    val dist = Distribution.subscribeSnapshot(spark, layout, "clicks")
      .select("json").collect().map(_.getString(0)).toSeq
    assert(dist.sorted == Seq(rec("B", 2), rec("B", 4)).sorted,
      s"only B's records may exist after the gate: $dist")
    // the tombstone does not block OTHER sources
    assert(Erase.recordMatcher(Erase.tombstones(spark, layout))("tweets", rec("A", 9)) == false)
  }

  test("applyTombstones clears history for every pending rule, exactly once") {
    val layout = Layout(tmpDir("erase-apply"))
    writeGzObject(layout.bronzeSourceDir("clicks"), "a1.gz",
      rec("A", 1) + rec("B", 2) + rec("C", 3))
    Ingest.ingestBatch(spark, layout, arrivalMs = 1704067200000L)
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "A"))
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "C"))

    assert(Erase.applyTombstones(spark, layout) == 2L)
    val lake = spark.read.parquet(s"${layout.lakeDir}/source=clicks")
      .select("json").collect().map(_.getString(0)).toSeq
    assert(lake == Seq(rec("B", 2)), s"A and C history must be gone: $lake")
    // second run: markers make it a no-op
    assert(Erase.applyTombstones(spark, layout) == 0L)
    // a NEW tombstone is picked up by the next run
    Erase.addTombstone(spark, layout, Erase.Tombstone("clicks", "user", "B"))
    assert(Erase.applyTombstones(spark, layout) == 1L)
    assert(spark.read.parquet(s"${layout.lakeDir}/source=clicks").count() == 0)
    // the gate still sees all three rules (markers are not tombstones)
    assert(Erase.tombstones(spark, layout).size == 3)
  }

  test("replay after erasure serves the erased view (no resurrecting the subject)") {
    val layout = Layout(tmpDir("erase-replay"))
    writeGzObject(layout.bronzeSourceDir("logs"), "o1.gz", rec("A", 1) + rec("B", 2))
    Ingest.ingestBatch(spark, layout, arrivalMs = 1704067200000L)
    Erase.eraseWhere(spark, layout, "logs", Erase.jsonFieldEquals("user", "A"))
    val nReplayed = Replay.replayCommitted(spark, layout, "logs",
      new java.sql.Timestamp(1704067200000L - 1000),
      new java.sql.Timestamp(1704067200000L + 1000))
    assert(nReplayed == 1L, "replay reads the rewritten object: only B's record")
    val rows = Distribution.subscribeSnapshot(spark, layout, "logs")
      .select("json").collect().map(_.getString(0))
    assert(rows.toSeq == Seq(rec("B", 2)),
      s"the re-published stream must not resurrect the subject: ${rows.toSeq}")
  }
}
