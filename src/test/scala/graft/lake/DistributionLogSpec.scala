package graft.lake

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** The manifest log is the one distribution surface: a subscriber's
  * snapshot frame keeps its rows across a committed compaction and its
  * vacuum, a repeated subscription at the same head reuses the file
  * statuses the first one built, and `fsckLake` audits the
  * committed-live distribution files. */
class DistributionLogSpec extends SparkTestBase {
  import spark.implicits._

  /** One commit per record, so `clicks` has `n` live files. */
  private def committed(name: String, n: Int): Layout = {
    val layout = Layout(tmpDir(name))
    (1 to n).foreach(i => Catalog.commitDist(spark, layout,
      Seq(("clicks", s"k$i", s"""{"n":$i}""")).toDF("source", "key", "json")))
    layout
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("key", "json").collect().map(_.toString).sorted.toSeq

  test("a snapshot frame keeps its rows across compaction and vacuum") {
    val layout = committed("dist-frame", 3)
    val frame = Distribution.subscribeSnapshot(spark, layout, "clicks")
    val want = rows(frame)
    assert(want.size == 3)
    assert(Compaction.compactSourceCommitted(spark, layout, "clicks") == 3L)
    // inside vacuum's grace the frame's planned inputs are still on disk
    assert(Catalog.vacuumDist(spark, layout) == 0L)
    assert(rows(frame) == want, "the pre-compaction frame reads the same rows")
    assert(rows(Distribution.subscribeSnapshot(spark, layout, "clicks")) == want)
    assert(Catalog.vacuumDist(spark, layout, graceMs = 0L) == 3L)
    assert(rows(Distribution.subscribeSnapshot(spark, layout, "clicks")) == want,
      "a fresh snapshot after vacuum reads the compacted file alone")
  }

  test("fsck flags a committed distribution file missing on disk") {
    val layout = committed("dist-fsck", 3)
    def check(): (Boolean, Long) = {
      val found = Catalog.fsckLake(spark, layout).filter($"check" === "dist_files_exist").collect()
      assert(found.length == 1, "fsck has one dist_files_exist row")
      (found.head.getBoolean(1), found.head.getLong(2))
    }
    assert(check() == ((true, 0L)))
    // removed and vacuumed inputs are no longer live, so not missing
    Compaction.compactSourceCommitted(spark, layout, "clicks")
    Catalog.commitDist(spark, layout,
      Seq(("clicks", "k4", """{"n":4}""")).toDF("source", "key", "json"))
    assert(Catalog.vacuumDist(spark, layout, graceMs = 0L) == 3L)
    assert(check() == ((true, 0L)))
    val victim = Catalog.distLiveFiles(spark, layout).head
    assert(new java.io.File(s"${layout.distributionDir}/$victim").delete())
    assert(check() == ((false, 1L)))
  }

  test("a repeated subscription at the same head builds no file status again") {
    val layout = committed("dist-memo", 3)
    val first = Catalog.distSourceAsOf(spark, layout, "clicks", Long.MaxValue)
    assert(first.statuses.size == 3 && first.rows.contains(3L))
    assert(Catalog.distSourceAsOf(spark, layout, "clicks", Long.MaxValue) eq first)
    assert(Catalog.distSourceAsOf(spark, layout, "clicks", 2L).statuses.size == 2)
    assert(rows(Distribution.subscribeSnapshot(spark, layout, "clicks")).size == 3)
    // a commit changes the head: the next subscription sees its file
    Catalog.commitDist(spark, layout,
      Seq(("clicks", "k4", """{"n":4}""")).toDF("source", "key", "json"))
    val next = Catalog.distSourceAsOf(spark, layout, "clicks", Long.MaxValue)
    assert(!(next eq first) && next.statuses.size == 4 && next.rows.contains(4L))
    assert(rows(Distribution.subscribeSnapshot(spark, layout, "clicks")).size == 4)
  }
}
