package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** SQL `MERGE INTO` / `UPDATE` on the lake ([[graft.sql.GraftDmlRule]]
  * → [[Merge]]): statement ≡ typed API, one atomic log record, CDF
  * visibility, clause ordering, the cardinality rule, expectation
  * gating, and the Scala-API clause surface. */
class GraftDmlSpec extends SparkTestBase {

  private var n = 0
  private def register(layout: Layout): String = {
    n += 1
    val name = s"gdml$n"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", layout.root)
    name
  }

  private def seed(layout: Layout): Long = {
    val s = spark
    import s.implicits._
    Catalog.commitLake(spark, layout,
      Seq(("clicks", "k1", 10L), ("clicks", "k2", 20L), ("logs", "k3", 30L))
        .toDF("source", "key", "v"))
  }

  private def state(layout: Layout): Set[(String, String, Long)] =
    Catalog.loadLakeSnapshot(spark, layout).select("source", "key", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("SQL MERGE (upsert shape) ≡ upsertLakeByKey: identical snapshot, " +
      "one version each, matched rows DV'd once, CDF shows one version") {
    val s = spark
    import s.implicits._
    val viaSql = Layout(tmpDir("dml-merge-sql"))
    val viaApi = Layout(tmpDir("dml-merge-api"))
    seed(viaSql); seed(viaApi)
    val batch = Seq(("clicks", "k2", 200L), ("events", "k9", 900L))
      .toDF("source", "key", "v")
    batch.createOrReplaceTempView("dml_src1")

    val cat = register(viaSql)
    val vPre = Catalog.headVersion(spark, viaSql)
    spark.sql(
      s"""MERGE INTO $cat.lake t USING dml_src1 s ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(Catalog.headVersion(spark, viaSql) == vPre + 1,
      "one MERGE = one atomic commit")

    Catalog.upsertLakeByKey(spark, viaApi, batch, Seq("key"))
    assert(state(viaSql) == state(viaApi), "SQL MERGE ≡ API upsert")
    assert(state(viaSql) == Set(("clicks", "k1", 10L), ("clicks", "k2", 200L),
      ("logs", "k3", 30L), ("events", "k9", 900L)))

    // CDF: the merge is ONE version carrying the retraction + inserts
    val changes = Catalog.lakeChangesBetween(spark, viaSql, vPre)
      .select("key", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(changes.map(_._4).toSet == Set(vPre + 1))
    assert(changes.count(c => c._1 == "k2" && c._3 == "delete") == 1,
      "the superseded row retracts exactly once")
    assert(changes.count(_._3 == "insert") == 2)
    // time travel below the merge is untouched
    assert(Catalog.loadLakeSnapshot(spark, viaSql, vPre).count() == 3L)
    // history attributes the verb
    assert(Catalog.lakeHistory(spark, viaSql).collect()
      .exists(_.getAs[String]("note") == "merge"))
  }

  test("MERGE clause ordering + all three categories: conditional " +
      "UPDATE, fallthrough DELETE, guarded INSERT, NOT MATCHED BY " +
      "SOURCE UPDATE — first satisfied clause wins per row") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-clauses"))
    seed(layout)
    Seq(("clicks", "k2", 200L, "U"), ("logs", "k3", 0L, "D"),
      ("events", "k9", 900L, "I"), ("events", "k0", -1L, "I"))
      .toDF("source", "key", "v", "op").createOrReplaceTempView("dml_src2")
    val cat = register(layout)
    val vPre = Catalog.headVersion(spark, layout)
    spark.sql(
      s"""MERGE INTO $cat.lake t USING dml_src2 s ON t.key = s.key
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND s.v > 0 THEN
         |  INSERT (source, key, v) VALUES (s.source, s.key, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.v = 10 THEN UPDATE SET v = t.v + 1
         |""".stripMargin)
    assert(Catalog.headVersion(spark, layout) == vPre + 1)
    assert(state(layout) == Set(
      ("clicks", "k1", 11L),   // not matched by source: 10 → 11
      ("clicks", "k2", 200L),  // matched, op=U: updated
      // k3 matched, op≠U → fell through to DELETE
      ("events", "k9", 900L))) // not matched, v>0: inserted; k0 (v<0) not
  }

  test("cardinality rule: a target row modified by two source rows " +
      "fails LOUD with nothing committed") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-card"))
    seed(layout)
    Seq(("clicks", "k2", 1L), ("clicks", "k2", 2L))
      .toDF("source", "key", "v").createOrReplaceTempView("dml_src3")
    val cat = register(layout)
    val vPre = Catalog.headVersion(spark, layout)
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.lake t USING dml_src3 s ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("cardinality")), msgs(e).mkString("; "))
    assert(Catalog.headVersion(spark, layout) == vPre, "nothing committed")
    assert(state(layout).size == 3)
  }

  test("expectations gate MERGE and UPDATE; NULL source on an inserted " +
      "row refuses; both leave the lake untouched") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-gate"))
    seed(layout)
    Catalog.addLakeExpectation(spark, layout, "v_pos", "v > 0")
    val cat = register(layout)
    val vPre = Catalog.headVersion(spark, layout)

    Seq(("clicks", "k2", -5L)).toDF("source", "key", "v")
      .createOrReplaceTempView("dml_src4")
    val eGate = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.lake t USING dml_src4 s ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    assert(eGate.getMessage.contains("v_pos"), eGate.getMessage)

    val eUpd = intercept[Exception](spark.sql(
      s"UPDATE $cat.lake SET v = -1 WHERE key = 'k1'"))
    assert(eUpd.getMessage.contains("v_pos"), eUpd.getMessage)

    Seq(("k9", 900L)).toDF("key", "v").createOrReplaceTempView("dml_src5")
    val eNull = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.lake t USING dml_src5 s ON t.key = s.key
         |WHEN NOT MATCHED THEN
         |  INSERT (source, key, v) VALUES (CAST(NULL AS STRING), s.key, s.v)
         |""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eNull).exists(_.contains("source")), msgs(eNull).mkString("; "))

    assert(Catalog.headVersion(spark, layout) == vPre)
    assert(state(layout) == Set(("clicks", "k1", 10L), ("clicks", "k2", 20L),
      ("logs", "k3", 30L)))
  }

  test("SQL UPDATE ≡ one DV+append version: assignments apply, WHERE " +
      "scopes, time travel below intact, unchanged rows untouched") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-update"))
    seed(layout)
    val cat = register(layout)
    val vPre = Catalog.headVersion(spark, layout)
    spark.sql(s"UPDATE $cat.lake SET v = v * 2 WHERE source = 'clicks'")
    assert(Catalog.headVersion(spark, layout) == vPre + 1,
      "one UPDATE = one atomic commit")
    assert(state(layout) == Set(("clicks", "k1", 20L), ("clicks", "k2", 40L),
      ("logs", "k3", 30L)))
    assert(Catalog.loadLakeSnapshot(spark, layout, vPre)
      .filter(col("key") === "k1").select("v").head.getLong(0) == 10L)
    // no-match UPDATE: nothing committed (no empty version)
    val vNow = Catalog.headVersion(spark, layout)
    spark.sql(s"UPDATE $cat.lake SET v = 0 WHERE key = 'nope'")
    assert(Catalog.headVersion(spark, layout) == vNow)
  }

  test("UPDATE … WHERE key BETWEEN lo AND hi ≡ the same range written " +
      "with >= and <=; MERGE conditions take BETWEEN too") {
    val s = spark
    import s.implicits._
    val viaBetween = Layout(tmpDir("dml-between"))
    val viaCompare = Layout(tmpDir("dml-between-cmp"))
    seed(viaBetween); seed(viaCompare)
    val (c1, c2) = (register(viaBetween), register(viaCompare))
    spark.sql(s"UPDATE $c1.lake SET v = v + 1 WHERE key BETWEEN 'k2' AND 'k3'")
    spark.sql(s"UPDATE $c2.lake SET v = v + 1 WHERE key >= 'k2' AND key <= 'k3'")
    assert(state(viaBetween) == state(viaCompare))
    assert(state(viaBetween) == Set(("clicks", "k1", 10L), ("clicks", "k2", 21L),
      ("logs", "k3", 31L)))
    // a BETWEEN over source and target columns in a MERGE clause
    Seq(("k1", 5L, 15L), ("k2", 0L, 1L)).toDF("key", "lo", "hi")
      .createOrReplaceTempView("dml_between_src")
    spark.sql(
      s"""MERGE INTO $c1.lake t USING dml_between_src s ON t.key = s.key
         |WHEN MATCHED AND t.v BETWEEN s.lo AND s.hi THEN UPDATE SET v = 0""".stripMargin)
    assert(state(viaBetween) == Set(("clicks", "k1", 0L), ("clicks", "k2", 21L),
      ("logs", "k3", 31L)))
    // inlining would evaluate a nondeterministic operand twice: refused
    val e = intercept[UnsupportedOperationException](spark.sql(
      s"UPDATE $c1.lake SET v = 1 WHERE v + rand() BETWEEN 0 AND 100"))
    assert(e.getMessage.contains("nondeterministic"))
    assert(state(viaBetween).map(_._3) == Set(0L, 21L, 31L), "nothing committed")
  }

  test("plan audit: a CDC-sized merge source BROADCASTS — the lake side " +
      "is never shuffled for the match join") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-plan"))
    seed(layout)
    val src = Seq(("clicks", "k2", 200L)).toDF("source", "key", "v")
    val tgt0 = Catalog.lakeSnapshotWithPos(spark, layout,
      Catalog.lakeFilesAsOf(spark, layout))
    val af = Merge.actionFrame(tgt0, src,
      on = col("t.key") === col("s.key"),
      matched = Seq(Merge.Update(None, Map("v" -> col("s.v")))),
      notMatched = Seq(Merge.Insert(None, Map("source" -> col("s.source"),
        "key" -> col("s.key"), "v" -> col("s.v")))),
      notMatchedBySource = Seq.empty, targetAlias = "t", sourceAlias = "s")
    val p = af.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"a small source must not shuffle the lake:\n$p")
  }

  test("merge racing a concurrent appender into a touched source: the " +
      "conflict check retries and the final state is exactly " +
      "merge-applied-to-everything-committed") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-race"))
    seed(layout)
    // a slow source frame: its evaluation window gives the appender
    // time to land a new file in the matched source AFTER the merge's
    // match scan — forcing the new-files-in-touched-sources retry
    val src = Seq(("clicks", "k1", 100L), ("clicks", "k2", 200L))
      .toDF("source", "key", "v")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appender = Future {
      (1 to 5).foreach { i =>
        Catalog.commitLake(spark, layout,
          Seq(("clicks", s"x$i", i.toLong)).toDF("source", "key", "v"))
        Thread.sleep(30)
      }
    }
    val merger = Future {
      Merge.mergeIntoLake(spark, layout, src,
        on = col("t.key") === col("s.key"),
        matched = Seq(Merge.Update(None, Map("v" -> col("s.v")))))
    }
    Await.result(Future.sequence(Seq(appender.map(_ => 0L), merger)), 300.seconds)
    val st = state(layout)
    assert(st.contains(("clicks", "k1", 100L)) &&
      st.contains(("clicks", "k2", 200L)), s"merge applied: $st")
    assert((1 to 5).forall(i => st.contains(("clicks", s"x$i", i.toLong))),
      s"every concurrent append survived: $st")
    assert(st.size == 8, s"no duplicates, no losses: $st")
  }

  test("refusals: MERGE WITH SCHEMA EVOLUTION, MERGE into an empty lake, " +
      "INSERT arm without the source column") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-refuse"))
    val cat = register(layout)
    Seq(("clicks", "k9", 1L)).toDF("source", "key", "v")
      .createOrReplaceTempView("dml_src6")

    // empty lake: no target schema to merge into
    val eEmpty = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.lake t USING dml_src6 s ON t.key = s.key
         |WHEN MATCHED THEN DELETE""".stripMargin))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eEmpty).exists(m => m.contains("empty lake") ||
      m.contains("UNRESOLVED")), msgs(eEmpty).take(2).mkString("; "))

    seed(layout)
    val eEvo = intercept[Exception](spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.lake t
         |USING dml_src6 s ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(msgs(eEvo).exists(m => m.contains("SCHEMA EVOLUTION")),
      msgs(eEvo).take(2).mkString("; "))

    // Scala API: INSERT arm must assign the partition key
    val eSrc = intercept[Exception](Merge.mergeIntoLake(spark, layout,
      Seq(("z9", 5L)).toDF("key", "v"),
      on = col("t.key") === col("s.key"),
      notMatched = Seq(Merge.Insert(None, Map("key" -> col("s.key"),
        "v" -> col("s.v"))))))
    assert(msgs(eSrc).exists(_.contains("source")),
      msgs(eSrc).take(2).mkString("; "))
  }

  test("Scala-API Merge.mergeIntoLake: alias-bound clauses produce the " +
      "same semantics as the SQL statement") {
    val s = spark
    import s.implicits._
    val layout = Layout(tmpDir("dml-merge-scala"))
    seed(layout)
    val src = Seq(("clicks", "k2", 200L, "U"), ("logs", "k3", 0L, "D"),
      ("events", "k9", 900L, "I")).toDF("source", "key", "v", "op")
    val seq = Merge.mergeIntoLake(spark, layout, src,
      on = col("t.key") === col("s.key"),
      matched = Seq(
        Merge.Update(Some(col("s.op") === "U"), Map("v" -> col("s.v"))),
        Merge.Delete(None)),
      notMatched = Seq(Merge.Insert(Some(col("s.v") > 0), Map(
        "source" -> col("s.source"), "key" -> col("s.key"),
        "v" -> col("s.v")))),
      notMatchedBySource = Seq(
        Merge.Update(Some(col("t.v") === 10), Map("v" -> (col("t.v") + 1)))))
    assert(seq > 0)
    assert(state(layout) == Set(("clicks", "k1", 11L), ("clicks", "k2", 200L),
      ("events", "k9", 900L)))
    // unknown SET column refuses loud
    val e = intercept[Exception](Merge.mergeIntoLake(spark, layout, src,
      on = col("t.key") === col("s.key"),
      matched = Seq(Merge.Update(None, Map("nope" -> lit(1))))))
    assert(e.getMessage.contains("unknown lake column"))
  }
}
