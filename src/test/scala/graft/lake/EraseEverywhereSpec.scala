package graft.lake

import graft.SparkTestBase
import java.io.{File, FileOutputStream}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions._

/** Round-9 erasure orchestration: the `"erase"` commit note, Mv's
  * self-healing refresh across an erase, the maintained JOIN view, and
  * [[Erase.eraseEverywhere]] — one call provably removing a subject
  * from bronze, lake, distribution, shared artifacts, and a
  * tracked-extrema maintained view. */
class EraseEverywhereSpec extends SparkTestBase {

  private def writeGzObject(dir: String, name: String, content: String): Unit = {
    val d = new File(dir); d.mkdirs()
    val out = new GZIPOutputStream(new FileOutputStream(new File(d, name)))
    out.write(content.getBytes("UTF-8")); out.close()
  }

  private def rec(user: String, v: Int): String = s"""{"user":"$user","v":$v}"""

  private def mvRows(state: String): Map[String, (Long, Long, Long, Long)] =
    Mv.read(spark, state).collect().map(r => r.getAs[String]("source") ->
      ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v"),
        r.getAs[Long]("min_v"), r.getAs[Long]("max_v")))).toMap

  test("Erase stamps the 'erase' commit note; Mv.refresh detects it and " +
      "self-heals (auto-rebuild) instead of serving erased contributions") {
    val layout = Layout(tmpDir("note-mv"))
    val state = tmpDir("note-mv-state")
    val s = spark
    import s.implicits._
    Catalog.commitLake(spark, layout, Seq(
      ("clicks", "k1", """{"user":"A","v":10}""", 10L),
      ("clicks", "k2", """{"user":"B","v":20}""", 20L),
      ("clicks", "k3", """{"user":"A","v":5}""", 5L))
      .toDF("source", "key", "json", "v"))
    assert(Mv.refresh(spark, layout, state, Seq("source"), "v",
      trackExtrema = true) > 0L)
    assert(mvRows(state) == Map("clicks" -> ((3L, 35L, 5L, 20L))))

    val rep = Erase.eraseWhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"))
    assert(rep.lakeRowsDropped == 2L)
    assert(Catalog.commitNotes(spark, layout).exists(_._2 == "erase"),
      "the lake erase leg must stamp its rewrite commit")
    // the rewrite preserved the FULL schema (v survives, not just key/json)
    val live = Catalog.loadLakeSnapshot(spark, layout)
    assert(live.columns.toSet == Set("source", "key", "json", "v"))
    assert(live.select("v").collect().map(_.getLong(0)).toSeq == Seq(20L))

    // refresh (NOT rebuild) must shed the erased contribution — before
    // round 9 this silently kept n=3, sum=35, min=5 forever
    val head = Catalog.headVersion(spark, layout)
    assert(Mv.refresh(spark, layout, state, Seq("source"), "v",
      trackExtrema = true) == head)
    assert(mvRows(state) == Map("clicks" -> ((1L, 20L, 20L, 20L))),
      "the erased subject's count/sum AND its extremum value must be gone")

    // the note survives a checkpoint fold: a FRESH view bootstrapping
    // across the pruned history must take the rebuild path (the erased
    // commits' insert files are physically gone — incremental replay
    // is not even readable)
    Catalog.checkpoint(spark, layout)
    Catalog.pruneLog(spark, layout)
    assert(Catalog.commitNotes(spark, layout).exists(_._2 == "erase"))
    val state2 = tmpDir("note-mv-state2")
    assert(Mv.refresh(spark, layout, state2, Seq("source"), "v",
      trackExtrema = true) == Catalog.headVersion(spark, layout))
    assert(mvRows(state2) == Map("clicks" -> ((1L, 20L, 20L, 20L))))
  }

  test("a FULL erasure (every row matches) empties the maintained view " +
      "rather than serving the stale state") {
    val layout = Layout(tmpDir("full-erase"))
    val state = tmpDir("full-erase-state")
    val s = spark
    import s.implicits._
    Catalog.commitLake(spark, layout, Seq(
      ("clicks", "k1", """{"user":"A","v":1}""", 1L))
      .toDF("source", "key", "json", "v"))
    Mv.refresh(spark, layout, state, Seq("source"), "v")
    assert(Mv.read(spark, state).count() == 1L)
    Erase.eraseWhere(spark, layout, "clicks", Erase.jsonFieldEquals("user", "A"))
    assert(Catalog.loadLakeSnapshot(spark, layout).count() == 0L)
    val head = Catalog.headVersion(spark, layout)
    assert(Mv.refresh(spark, layout, state, Seq("source"), "v") == head)
    assert(Mv.read(spark, state).count() == 0L, "erased rows must not survive")
  }

  test("maintained JOIN view: delta maintenance over insert/upsert/delete " +
      "reproduces the batch join-aggregate exactly; dim is broadcast") {
    val layout = Layout(tmpDir("mv-join"))
    val state = tmpDir("mv-join-state")
    val dimPath = tmpDir("mv-join-dim")
    val s = spark
    import s.implicits._
    Seq(("clicks", "web"), ("logs", "backend"), ("unused", "nowhere"))
      .toDF("source", "channel").write.mode("overwrite").parquet(dimPath)
    def batchExpected(): Map[String, (Long, Long)] =
      Catalog.loadLakeSnapshot(spark, layout)
        .join(spark.read.parquet(dimPath), Seq("source"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def viewRows(): Map[String, (Long, Long)] =
      Mv.read(spark, state).collect().map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v")))).toMap

    Catalog.commitLake(spark, layout, Seq(
      ("clicks", "k1", 10L), ("clicks", "k2", 20L), ("logs", "k3", 7L),
      ("orphan", "k9", 99L)).toDF("source", "key", "v"))
    assert(Mv.refreshJoined(spark, layout, state, dimPath, Seq("source"),
      Seq("channel"), "v") > 0L)
    assert(viewRows() == batchExpected(),
      "bootstrap: inner join drops the dim-less 'orphan' source")

    // incremental: an upsert (delete+insert in one commit) and a DV delete
    Catalog.upsertLakeByKey(spark, layout,
      Seq(("clicks", "k1", 11L), ("logs", "k4", 3L)).toDF("source", "key", "v"),
      keyCols = Seq("key"))
    Catalog.deleteLakeWhere(spark, layout, col("key") === "k2")
    val head = Catalog.headVersion(spark, layout)
    assert(Mv.refreshJoined(spark, layout, state, dimPath, Seq("source"),
      Seq("channel"), "v") == head)
    assert(viewRows() == batchExpected(),
      "delta maintenance must equal the batch join-aggregate")

    // O(changes): a refresh with no new commits is a no-op
    assert(Mv.refreshJoined(spark, layout, state, dimPath, Seq("source"),
      Seq("channel"), "v") == head)

    // the dim side must broadcast (model-sized by contract)
    val plan = Catalog.loadLakeSnapshot(spark, layout)
      .join(broadcast(spark.read.parquet(dimPath)), Seq("source"))
      .groupBy("channel").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)

    // loud on a misspelled column, like refresh
    intercept[IllegalArgumentException](
      Mv.refreshJoined(spark, layout, tmpDir("mv-join-bad"), dimPath,
        Seq("source"), Seq("channel"), "vv"))
  }

  test("eraseEverywhere: ONE call removes the subject from bronze, lake, " +
      "distribution, shared artifacts, and a tracked-extrema view") {
    val layout = Layout(tmpDir("ee-root"))
    val mvState = tmpDir("ee-mv")
    val artRoot = tmpDir("ee-art")
    // bronze: subject A shares obj1 with B; obj2 is B+C only
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj1.gz",
      rec("A", 1) + rec("B", 2) + rec("A", 3))
    writeGzObject(layout.bronzeSourceDir("clicks"), "obj2.gz",
      rec("B", 4) + rec("C", 5))
    Ingest.ingestBatch(spark, layout, arrivalMs = 1704067200000L)
    Catalog.commitDist(spark, layout, Ingest.readBronzeSource(spark, layout, "clicks"))

    // a typed lake batch carrying the subject with a numeric column the
    // tracked-extrema view aggregates (the ingested json rows have v
    // null — they count rows, never extrema)
    val s = spark
    import s.implicits._
    Catalog.commitLake(spark, layout, Seq(
      ("clicks", "t1", """{"user":"A","v":100}""", 100L),
      ("clicks", "t2", """{"user":"B","v":40}""", 40L))
      .toDF("source", "key", "json", "v"))
    Mv.refresh(spark, layout, mvState, Seq("source"), "v", trackExtrema = true)
    assert(mvRows(mvState)("clicks")._4 == 100L, "pre-erase max is A's value")

    // shared artifacts: a stale corpus-keyed dir holding the subject's
    // derived bytes, plus a live-keyed dir that must survive
    graft.ops.Artifacts.commit(spark, s"$artRoot/pairs/k=OLD") { tmp =>
      Seq(("A", 7L)).toDF("user", "x").write.parquet(tmp)
    }
    graft.ops.Artifacts.commit(spark, s"$artRoot/pairs/k=LIVE") { tmp =>
      Seq(("B", 8L)).toDF("user", "x").write.parquet(tmp)
    }

    val report = Erase.eraseEverywhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"),
      staleArtifactKeys = Set("OLD"), artifactRoot = artRoot,
      mvs = Seq(Erase.MvRef(mvState, Seq("source"), "v", trackExtrema = true)))
    assert(report.lake.totalDropped == 7L,
      s"2 bronze + (2 ingested + 1 typed) lake + 2 dist: $report")
    assert(report.artifactDirsDeleted == 1L && report.mvsRebuilt == 1L)

    // bronze / lake / distribution: no byte of the subject anywhere
    val bronze = Ingest.readBronzeSource(spark, layout, "clicks").collect()
      .map(_.getString(2))
    assert(!bronze.exists(_.contains("\"user\":\"A\"")))
    val lake = Catalog.loadLakeSnapshot(spark, layout).select("json")
      .collect().map(_.getString(0))
    assert(lake.length == 4 && !lake.exists(_.contains("\"user\":\"A\"")),
      s"B2, B4, C5 ingested + t2 typed survive: ${lake.toSeq}")
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").collect()
      .map(_.toString).forall(!_.contains("\"user\":\"A\"")))

    // shared artifacts: the stale key's dir (the subject's derived
    // rows) is deleted; the live key survives
    assert(!new File(s"$artRoot/pairs/k=OLD").exists())
    assert(new File(s"$artRoot/pairs/k=LIVE/_SUCCESS").exists())

    // the tracked-extrema view: A's 100 is no longer the max, counts
    // reflect only survivors, and the view is stamped at head
    assert(Mv.currentVersion(spark, mvState)
      .contains(Catalog.headVersion(spark, layout)))
    assert(mvRows(mvState) == Map("clicks" -> ((4L, 40L, 40L, 40L))),
      s"t2(40) + 3 null-v ingested survivors: ${mvRows(mvState)}")

    // idempotent: a second call matches nothing and changes nothing
    val again = Erase.eraseEverywhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"),
      staleArtifactKeys = Set("OLD"), artifactRoot = artRoot,
      mvs = Seq(Erase.MvRef(mvState, Seq("source"), "v", trackExtrema = true)))
    assert(again.lake.totalDropped == 0L && again.artifactDirsDeleted == 0L)
    assert(mvRows(mvState) == Map("clicks" -> ((4L, 40L, 40L, 40L))))
  }

  test("view registry: every refresh auto-registers (flat AND joined); " +
      "eraseEverywhere discovers and rebuilds them with NO caller " +
      "knowledge — an unregistered view keeps a stale window, a " +
      "registered one does not") {
    val layout = Layout(tmpDir("reg-root"))
    val s = spark
    import s.implicits._
    Catalog.commitLake(spark, layout, Seq(
      ("clicks", "k1", """{"user":"A","v":10}""", 10L),
      ("clicks", "k2", """{"user":"B","v":20}""", 20L),
      ("logs", "k3", """{"user":"A","v":5}""", 5L))
      .toDF("source", "key", "json", "v"))
    val dimPath = tmpDir("reg-dim") + "/dim.parquet"
    Seq(("clicks", "web"), ("logs", "backend"))
      .toDF("source", "channel").write.mode("overwrite").parquet(dimPath)

    // three views, all created through their NORMAL maintenance calls —
    // nobody calls register() explicitly
    val flat = tmpDir("reg-flat")
    val joined = tmpDir("reg-joined")
    val forgotten = tmpDir("reg-forgotten")
    Mv.refresh(spark, layout, flat, Seq("source"), "v", trackExtrema = true)
    Mv.refreshJoined(spark, layout, joined, dimPath, Seq("source"),
      Seq("channel"), "v")
    Mv.refreshJoined(spark, layout, forgotten, dimPath, Seq("source"),
      Seq("channel"), "v")
    assert(Mv.registered(spark, layout).map(_.stateDir).toSet ==
      Set(flat, joined, forgotten))
    // simulate a view maintained by pre-registry code
    assert(Mv.unregister(spark, layout, forgotten))

    def joinedRows(state: String): Map[String, (Long, Long)] =
      Mv.read(spark, state).collect().map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("sum_v")))).toMap
    val preErase = joinedRows(forgotten)
    assert(preErase == Map("web" -> ((2L, 30L)), "backend" -> ((1L, 5L))))

    // ONE call, NO mvs argument: registry-discovered views rebuild
    val report = Erase.eraseEverywhere(spark, layout, "clicks",
      Erase.jsonFieldEquals("user", "A"))
    assert(report.mvsRebuilt == 2L,
      s"flat + joined from the registry, not the unregistered one: $report")

    // registered views: NO stale window — correct immediately
    assert(mvRows(flat) == Map("clicks" -> ((1L, 20L, 20L, 20L)),
      "logs" -> ((1L, 5L, 5L, 5L))), mvRows(flat).toString)
    assert(joinedRows(joined) ==
      Map("web" -> ((1L, 20L)), "backend" -> ((1L, 5L))))
    // the unregistered view still serves the erased contribution …
    assert(joinedRows(forgotten) == preErase,
      "an unregistered view is exactly the stale window the registry closes")
    // … until its next refresh self-heals via the commit note AND
    // re-registers it
    Mv.refreshJoined(spark, layout, forgotten, dimPath, Seq("source"),
      Seq("channel"), "v")
    assert(joinedRows(forgotten) ==
      Map("web" -> ((1L, 20L)), "backend" -> ((1L, 5L))))
    assert(Mv.registered(spark, layout).map(_.stateDir).toSet ==
      Set(flat, joined, forgotten))

    // second erase: now ALL THREE rebuild from the registry alone, and
    // the joined geometry (dimPath/joinCols) round-trips through it
    val report2 = Erase.eraseEverywhere(spark, layout, "logs",
      Erase.jsonFieldEquals("user", "A"))
    assert(report2.mvsRebuilt == 3L)
    assert(joinedRows(forgotten) == Map("web" -> ((1L, 20L))))
    assert(joinedRows(joined) == Map("web" -> ((1L, 20L))))
    assert(mvRows(flat) == Map("clicks" -> ((1L, 20L, 20L, 20L))))

    // refreshRegistered: one call brings every view to the new head
    // after a plain commit — the post-commit scheduler hook
    Catalog.commitLake(spark, layout,
      Seq(("clicks", "k9", """{"user":"C"}""", 7L))
        .toDF("source", "key", "json", "v"))
    val head = Catalog.headVersion(spark, layout)
    val refreshed = Mv.refreshRegistered(spark, layout)
    assert(refreshed.map(_._1).toSet == Set(flat, joined, forgotten))
    assert(refreshed.forall(_._2 == head), refreshed.toString)
    assert(joinedRows(joined) == Map("web" -> ((2L, 27L))))
    assert(mvRows(flat) == Map("clicks" -> ((2L, 27L, 7L, 20L))))
  }
}
