package graft.lake

import graft.SparkTestBase
import java.io.{File, FileOutputStream}
import java.util.zip.GZIPOutputStream
import java.sql.Timestamp

/** End-to-end lake semantics: ingest → catalog → range query → replay,
  * asserting the reference behaviors pinned in SURVEY.md §2.3:
  * object-granular replay, no re-catalog on replay, arrival-time
  * catalog timestamps, per-source routing.
  */
class LakeSpec extends SparkTestBase {

  private def writeGzObject(dir: String, name: String, content: String): File = {
    val d = new File(dir); d.mkdirs()
    val f = new File(d, name)
    val out = new GZIPOutputStream(new FileOutputStream(f))
    out.write(content.getBytes("UTF-8")); out.close()
    f
  }

  private def freshLake(): Layout = Layout(tmpDir("lake"))

  private def seedBronze(layout: Layout): Unit = {
    // Firehose-style concatenated JSON, gzip, one prefix per source
    // (reference layout: s3://bucket/{source}/object)
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj1.gz",
      """{"click_id":1,"page":"/home"}{"click_id":2,"page":"/cart"}""")
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj2.gz",
      """{"click_id":3,"page":"}{"}""")   // the pathological payload
    writeGzObject(layout.bronzeSourceDir("tweets"), "obj3.gz",
      """{"tweet_id":10,"text":"hello"}{"tweet_id":11,"text":"world"}""")
  }

  test("batch ingest: per-source routing, gzip concatenated JSON, catalog append") {
    val layout = freshLake()
    seedBronze(layout)
    val n = Ingest.ingestBatch(spark, layout, arrivalMs = 1704067200123L)
    assert(n == 5) // 3 clicks + 2 tweets

    val cat = Catalog.load(spark, layout)
    assert(cat.count() == 3) // one row per object
    val bySource = cat.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == Map("clicks" -> 2, "tweets" -> 1))
    // arrival-time semantics: tsRaw is the 13-digit ms string
    assert(cat.select("tsRaw").distinct().collect().map(_.getString(0)).toSeq == Seq("1704067200123"))
  }

  test("pathological \"}{\" payload survives ingest intact") {
    val layout = freshLake()
    seedBronze(layout)
    Ingest.ingestBatch(spark, layout, 1704067200123L)
    val clicks = spark.read.parquet(s"${layout.lakeDir}/source=clicks")
    val pages = clicks.select("json").collect().map(_.getString(0)).toSet
    assert(pages.contains("""{"click_id":3,"page":"}{"}"""))
  }

  test("O11 range query prunes by source and time range") {
    val layout = freshLake()
    import spark.implicits._
    val entries = Seq(
      CatalogEntry("clicks", Timestamp.valueOf("2024-01-01 00:00:00"), "1704067200000", "k1"),
      CatalogEntry("clicks", Timestamp.valueOf("2024-01-01 01:00:00"), "1704070800000", "k2"),
      CatalogEntry("clicks", Timestamp.valueOf("2024-01-01 02:00:00"), "1704074400000", "k3"),
      CatalogEntry("tweets", Timestamp.valueOf("2024-01-01 01:00:00"), "1704070800000", "k4"),
    ).toDS()
    Catalog.append(spark, layout, entries)

    val hits = Catalog.rangeQuery(spark, layout, "clicks",
      Timestamp.valueOf("2024-01-01 00:30:00"), Timestamp.valueOf("2024-01-01 01:30:00"))
    assert(hits.select("key").collect().map(_.getString(0)).toSeq == Seq("k2"))
  }

  test("replay re-emits whole matched objects and does NOT re-catalog") {
    val layout = freshLake()
    seedBronze(layout)
    val t0 = 1704067200123L
    Ingest.ingestBatch(spark, layout, t0)
    val catBefore = Catalog.load(spark, layout).count()

    val n = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(t0 - 1000), new Timestamp(t0 + 1000))
    assert(n == 3) // both clicks objects, all their records (object granularity)

    // no re-catalog (SURVEY §2.3 item 2)
    assert(Catalog.load(spark, layout).count() == catBefore)

    // replayed records landed under the source's distribution path (O9/O13)
    val delivered = Distribution.subscribeSnapshot(spark, layout, "clicks")
    assert(delivered.count() == 3)
    // and none for the other source
    assert(Distribution.subscribeSnapshot(spark, layout, "tweets").count() == 0)
  }

  test("schema-on-read parse of opaque payloads tolerates malformed records") {
    val layout = freshLake()
    seedBronze(layout)
    val bronze = Ingest.readBronze(spark, layout)
      .filter(org.apache.spark.sql.functions.col("source") === "clicks")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "click_id BIGINT, page STRING")
    val parsed = Ingest.parsed(bronze, schema)
    val rows = parsed.select("event.click_id", "event.page").collect()
    assert(rows.length == 3)
    // the pathological payload parses with its literal "}{" intact
    assert(rows.map(r => Option(r.get(1)).orNull).contains("}{"))
    // a record missing a field yields null, not a failure (the
    // reference never validates payloads — permissiveness preserved)
    val sparse = Ingest.parsed(
      spark.createDataFrame(Seq(Tuple1("""{"click_id":9}"""))).toDF("json"), schema)
    assert(sparse.select("event.page").collect()(0).isNullAt(0))
  }

  test("source derivation is anchored: a lake root containing 'bronze' still routes correctly") {
    // regression: a bare `bronze/` substring match would classify every
    // row under source="bronze" for this layout
    val layout = Layout(tmpDir("lake") + "/bronze")
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj.gz", """{"id":1}""")
    Ingest.ingestBatch(spark, layout, 1L)
    val sources = Catalog.load(spark, layout).select("source").collect().map(_.getString(0)).toSet
    assert(sources == Set("clicks"), sources.toString)
  }

  test("replay outside the range re-emits nothing") {
    val layout = freshLake()
    seedBronze(layout)
    val t0 = 1704067200123L
    Ingest.ingestBatch(spark, layout, t0)
    val n = Replay.replayCommitted(spark, layout, "clicks",
      new Timestamp(t0 + 10000), new Timestamp(t0 + 20000))
    assert(n == 0)
  }
}
