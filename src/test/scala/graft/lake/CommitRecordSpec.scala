package graft.lake

import graft.SparkTestBase
import java.sql.Timestamp

/** One commit-record format: [[Catalog.append]] writes the same
  * `v2 <batchId> <claimMs>`-headed record every other commit path
  * writes, a version's time is the claim time in that head (never the
  * record file's mtime), and a `.commit` file without the head fails
  * every log reader loudly, naming the file. */
class CommitRecordSpec extends SparkTestBase {

  private def entries(sources: Seq[String], offset: Int) = {
    val s = spark
    import s.implicits._
    sources.zipWithIndex.map { case (src, i) =>
      CatalogEntry(src, new Timestamp(1704067200000L + i),
        (1704067200000L + i).toString, s"obj-${offset + i}")
    }.toDS()
  }

  private def logFile(layout: Layout, seq: Long, ext: String) =
    new java.io.File(s"${layout.catalogDir}/_log/${"%020d".format(seq)}.$ext")

  private def firstLine(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().next() finally src.close()
  }

  test("every record Catalog.append writes starts with the v2 head") {
    val layout = Layout(tmpDir("rec-head"))
    Catalog.append(spark, layout, entries(Seq("clicks"), 0))
    Catalog.append(spark, layout, entries(Seq("clicks", "tweets", "logs"), 10))
    val commits = new java.io.File(s"${layout.catalogDir}/_log").listFiles()
      .filter(_.getName.endsWith(".commit")).sortBy(_.getName).toSeq
    assert(commits.size == 2)
    commits.foreach { f =>
      assert(firstLine(f).startsWith("v2 -1 "), s"${f.getName}: '${firstLine(f)}'")
    }
    assert(Catalog.load(spark, layout).count() == 4)
  }

  test("commit time is the claim time in the record, not the file's mtime") {
    val layout = Layout(tmpDir("rec-time"))
    // one partition, one entry per source: each entry is its own file,
    // so the file count n_catalog_added reports equals the entries
    val batch = entries(Seq("clicks", "tweets", "logs"), 0).coalesce(1)
    val before = System.currentTimeMillis()
    Catalog.append(spark, layout, batch)
    val after = System.currentTimeMillis()
    val record = logFile(layout, 1, "commit")
    // whole seconds: some filesystems keep mtimes at 1 s granularity
    val backdated = (before / 1000 - 24L * 3600) * 1000
    val fs = new org.apache.hadoop.fs.Path(layout.catalogDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(new org.apache.hadoop.fs.Path(record.getPath), backdated, -1L)
    assert(record.lastModified() == backdated)

    val row = Catalog.lakeHistory(spark, layout).collect().toSeq match {
      case Seq(r) => r
      case rows => fail(s"one version expected, got ${rows.size}")
    }
    val ts = row.getAs[Timestamp]("commit_ts").getTime
    assert(ts >= before && ts <= after, s"commit_ts $ts outside [$before, $after]")
    assert(Catalog.versionAtTimestamp(spark, layout, backdated + 1000L).isEmpty,
      "the table did not exist at the backdated mtime")
    assert(Catalog.versionAtTimestamp(spark, layout, after) == Some(1L))
    val published = new java.io.File(layout.catalogDir).listFiles()
      .filter(_.getName.startsWith("source="))
      .flatMap(_.listFiles()).count(_.getName.startsWith("c" + "%020d".format(1)))
    assert(published == 3)
    assert(row.getAs[Int]("n_catalog_added") == published)
    assert(row.getAs[Int]("n_catalog_added") == 3, "one file per appended entry here")
  }

  test("a committed record without the v2 head fails every log reader, naming the file") {
    val layout = Layout(tmpDir("rec-foreign"))
    Catalog.append(spark, layout, entries(Seq("clicks"), 0))
    val foreign = logFile(layout, 2, "commit")
    java.nio.file.Files.write(foreign.toPath,
      "some-uuid\nsource=clicks/part-00000.parquet".getBytes("UTF-8"))
    assert(logFile(layout, 2, "done").createNewFile())
    def failsNaming(read: => Any): Unit = {
      val e = intercept[java.io.IOException](read)
      assert(e.getMessage.contains(foreign.getName), e.getMessage)
    }
    failsNaming(Catalog.versions(spark, layout))
    failsNaming(Catalog.lakeHistory(spark, layout))
    failsNaming(Catalog.versionAtTimestamp(spark, layout, System.currentTimeMillis()))
  }
}
