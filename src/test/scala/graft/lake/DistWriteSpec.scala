package graft.lake

import graft.SparkTestBase
import graft.streaming.StreamIngest
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The distribution publish writes its files from its own tasks
  * ([[DistWrite]]): the lines are the JSON data source's bytes, and
  * the record's file list, sizes and rows come from what the tasks
  * returned, never from a listing of the stage, an output committer or
  * an observation. */
class DistWriteSpec extends SparkTestBase {
  import spark.implicits._

  private val t0Ms = 1704067200000L

  /** Rows the JSON writer escapes, drops or partitions specially. */
  private val tricky: Seq[(String, String, String)] = Seq(
    ("plain", "k0", """{"a":1}"""),
    ("plain", null, """{"null":"key"}"""),
    ("plain", "k1", null),
    ("plain", null, null),
    ("plain", "", ""),
    ("plain", "k2", "😀 𝄞 non-BMP"),
    ("plain", "k3", "ctl \u0000\u0001\t\n\r\b\f\u001f\u007f end"),
    ("plain", "k4", """{"a":1}{"b":2}"""),
    ("plain", "k5", """quote " and back\slash \\ and \" both"""),
    ("plain", "k\"6\\", "}{"),
    (null, "n0", """{"null":"source"}"""),
    ("", "e0", """{"empty":"source"}"""),
    ("a:b", "c0", """{"s":"a:b"}"""),
    ("k=v", "c1", """{"s":"k=v"}"""),
    ("50%", "c2", """{"s":"50%"}"""),
    ("x y", "c3", """{"s":"x y"}"""))

  private def trickyFrame: DataFrame = tricky.toDF("source", "key", "json").repartition(3)

  /** Every line of every file under each `source=` directory of `dir`,
    * sorted, by directory. */
  private def linesByDir(dir: java.io.File): Map[String, Seq[String]] =
    dir.listFiles().filter(d => d.isDirectory && d.getName.startsWith("source=")).map { d =>
      d.getName -> d.listFiles().filter(_.getName.endsWith(".json")).toSeq.flatMap { f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8).split("\n", -1).dropRight(1)
      }.sorted
    }.toMap

  private def stagedDirs(layout: Layout): Set[String] =
    Option(new java.io.File(layout.distributionDir, "_staged").list()).map(_.toSet).getOrElse(Set.empty)

  test("the written lines are the JSON data source's, byte for byte, and read back exactly") {
    val dir = tmpDir("distwrite-bytes")
    val viaSpark = new java.io.File(dir, "spark")
    trickyFrame.write.partitionBy("source").json(viaSpark.toString)
    val stage = new java.io.File(dir, "stage")
    val staged = DistWrite(trickyFrame, new Path(stage.toString), "u-bytes", keys = true)

    val want = linesByDir(viaSpark)
    assert(want.keySet == Set("source=plain", "source=__HIVE_DEFAULT_PARTITION__",
      "source=a%3Ab", "source=k%3Dv", "source=50%25", "source=x y"))
    assert(linesByDir(stage) == want)
    // the task results name exactly the files on disk, with their sizes,
    // and count every line
    val onDisk = stage.listFiles().toSeq.flatMap(d => d.listFiles().toSeq.map(f =>
      (s"${d.getName}/${f.getName}", f.length()))).filterNot(_._1.endsWith(".crc")).sorted
    assert(staged.files == onDisk)
    assert(staged.rows == want.map { case (d, ls) => (d, ls.size.toLong) }.toSeq.sorted)
    assert(staged.keys == tricky.map(r => (r._1, r._2)).toSet)

    // committed and subscribed, every row comes back as it was written;
    // null and "" share Hive's default partition, whose value is null
    val layout = Layout(tmpDir("distwrite-readback"))
    assert(Catalog.commitDist(spark, layout, trickyFrame) == tricky.size.toLong)
    tricky.map(_._1).distinct.foreach { src =>
      val dirOf = Layout.sourceDir(src)
      val expect = tricky.filter(r => Layout.sourceDir(r._1) == dirOf)
        .map(r => (Option(r._1).filter(_.nonEmpty).orNull, r._2, r._3)).sortBy(_.toString)
      val got = Distribution.subscribeSnapshot(spark, layout, src)
        .select("source", "key", "json").as[(String, String, String)].collect().toSeq.sortBy(_.toString)
      assert(got == expect, s"source $src")
    }
  }

  test("a batch of other columns is written as the JSON data source writes it") {
    // every column but `source`, in the batch's order: a compaction
    // writes `(json, key)`, and a caller may publish any columns
    val dir = tmpDir("distwrite-columns")
    val batch = Seq(("{}", "k1", 1, "clicks"), (null, "k2", 2, "clicks"), ("[1]", null, 3, "logs"))
      .toDF("json", "key", "n", "source")
      .withColumn("n", when(col("n") === 2, lit(null)).otherwise(col("n")))
      .withColumn("at", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123")))
    val viaSpark = new java.io.File(dir, "spark")
    batch.write.partitionBy("source").json(viaSpark.toString)
    val stage = new java.io.File(dir, "stage")
    val staged = DistWrite(batch, new Path(stage.toString), "u-cols", keys = false)
    assert(linesByDir(stage) == linesByDir(viaSpark))
    assert(linesByDir(stage)("source=clicks").head.startsWith("""{"json":"{}","key":"k1","n":1,"at":"""))
    assert(staged.rows == Seq(("source=clicks", 2L), ("source=logs", 1L)) && staged.keys.isEmpty)
  }

  test("a batch whose plan shuffles and broadcasts publishes every row") {
    // the shape of a big-range replay (a semi-join against the matched
    // keys), plus a shuffle: exchanges run inside the write's job, which
    // is not a SQL execution
    val layout = Layout(tmpDir("distwrite-plan"))
    val keys = spark.range(0, 200, 1, 4).select((col("id") % 50).cast("string").as("key"))
    val matched = spark.range(0, 20).select(col("id").cast("string").as("mkey"))
    val batch = keys.join(broadcast(matched), col("key") === col("mkey"), "left_semi")
      .groupBy("key").count()
      .select(concat(lit("s"), (col("key").cast("int") % 3).cast("string")).as("source"),
        col("key"), to_json(struct(col("count"))).as("json"))
    assert(Catalog.commitDist(spark, layout, batch) == 20L)
    val got = Seq("s0", "s1", "s2").flatMap(src =>
      Distribution.subscribeSnapshot(spark, layout, src).select("key", "json").as[(String, String)].collect())
    assert(got.sorted == (0 until 20).map(i => (i.toString, """{"count":4}""")).sorted)
  }

  test("a commit whose task fails mid-write claims no record, publishes nothing, " +
      "and leaves its stage to recoverAppends' sweep") {
    val layout = Layout(tmpDir("distwrite-fail"))
    Catalog.commitDist(spark, layout, Seq(("clicks", "k0", """{"n":0}""")).toDF("source", "key", "json"))
    val head = Catalog.headVersion(spark, layout)
    val live = Catalog.distLiveFiles(spark, layout)
    val boom = udf((id: Long) => {
      if (id == 7L) throw new IllegalStateException("task fails mid-write")
      s"""{"n":$id}"""
    }).asNondeterministic()
    val failing = spark.range(0, 10, 1, 1)
      .select(lit("clicks").as("source"), col("id").cast("string").as("key"), boom(col("id")).as("json"))
    val e = intercept[SparkException](Catalog.commitDist(spark, layout, failing))
    assert(e.getMessage.contains("task fails mid-write"), e.getMessage)
    assert(Catalog.headVersion(spark, layout) == head, "no record is claimed")
    assert(Catalog.distLiveFiles(spark, layout) == live, "nothing is published")
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").collect().length == 1)
    // the stage holds the partial file the task wrote before it failed
    val Seq(stage) = stagedDirs(layout).toSeq
    val partial = new java.io.File(s"${layout.distributionDir}/_staged/$stage/source=clicks").list()
    assert(partial.count(_.endsWith(".json")) == 1, partial.toSeq)
    Catalog.recoverAppends(spark, layout, stageGraceMs = 0L)
    assert(stagedDirs(layout).isEmpty, "the sweep removes the unclaimed stage")
    assert(Catalog.distLiveFiles(spark, layout) == live)
  }

  test("a stray file dropped into the stage during the write is not published") {
    val layout = Layout(tmpDir("distwrite-stray"))
    val stagedRoot = s"${layout.distributionDir}/_staged"
    val stray = """{"key":"stray","json":"{}"}""" + "\n"
    // on the second row the task has opened its file, so its stage exists
    val drop = udf((id: Long) => {
      if (id == 1L) {
        val Array(stage) = new java.io.File(stagedRoot).listFiles()
        Seq("source=clicks", "source=other").foreach { d =>
          val f = new java.io.File(stage, s"$d/stray.json")
          f.getParentFile.mkdirs()
          java.nio.file.Files.write(f.toPath, stray.getBytes(UTF_8))
        }
      }
      s"""{"n":$id}"""
    }).asNondeterministic()
    val batch = spark.range(0, 4, 1, 1)
      .select(lit("clicks").as("source"), col("id").cast("string").as("key"), drop(col("id")).as("json"))
    assert(Catalog.commitDist(spark, layout, batch) == 4L)
    val live = Catalog.distLiveFiles(spark, layout)
    assert(live.size == 1 && !live.exists(_.contains("stray")), live)
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").select("key").as[String]
      .collect().sorted.toSeq == Seq("0", "1", "2", "3"))
    assert(Distribution.subscribeSnapshot(spark, layout, "other").collect().isEmpty)
    assert(stagedDirs(layout).isEmpty, "the commit deletes its stage, stray files included")
  }

  test("a publish lists nothing under its stage and makes no committer files") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val layout = Layout("countfs:" + tmpDir("distwrite-fs"))
    val rows = Seq(("clicks", "k1", """{"n":1}"""), ("clicks", "k2", """{"n":2}"""),
      ("logs", "l1", """{"n":3}"""), ("a:b", "e1", """{"n":4}"""))
    CountingLocalFs.reset()
    StreamIngest.processBatch(rows.toDF("source", "key", "json").repartition(2), layout, t0Ms, 1L)
    Catalog.commitDist(spark, layout, rows.toDF("source", "key", "json"))
    val staged = new Path(s"${layout.distributionDir}/_staged").toUri.getPath
    def all(q: java.util.Collection[String]): Seq[String] = q.toArray(Array.empty[String]).toSeq
    val made = all(CountingLocalFs.created)
    assert(made.count(_.startsWith(staged + "/")) >= 6, made)
    assert(all(CountingLocalFs.listed).filter(_.startsWith(staged)).isEmpty,
      all(CountingLocalFs.listed))
    val touched = made ++ all(CountingLocalFs.listed) ++ all(CountingLocalFs.statted)
    assert(!touched.exists(p => p.contains("_temporary") || p.contains("_SUCCESS")),
      touched.filter(p => p.contains("_temporary") || p.contains("_SUCCESS")))
    Seq("clicks" -> 4L, "logs" -> 2L, "a:b" -> 2L).foreach { case (src, n) =>
      assert(Distribution.subscribeSnapshot(spark, layout, src).count() == n, src)
    }
    assert(Catalog.load(spark, layout).count() == 4L)
  }

  test("the publish job's description names its stage; the caller's is kept") {
    val layout = Layout(tmpDir("distwrite-desc"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      Catalog.commitDist(spark, layout, Seq(("clicks", "k1", "{}")).toDF("source", "key", "json"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally { sc.removeSparkListener(listener); sc.setJobDescription(null) }
    val Seq(file) = Catalog.distLiveFiles(spark, layout)
    val uuid = file.stripSuffix(".json").takeRight(36)
    val publishes = seen.toArray(Array.empty[String]).filter(_.startsWith("distribution publish"))
    assert(publishes.toSeq == Seq(s"distribution publish _staged/$uuid"), seen)
  }
}
