package graft.ops

import graft.SparkTestBase
import graft.lake.{Catalog, Compaction, Distribution, Layout}
import org.apache.spark.sql.functions._

/** Scale-tooling semantics: salted joins preserve results, IVF probe
  * recall vs exact top-k, compaction preserves data while reducing
  * file count. */
class ScaleToolsSpec extends SparkTestBase {
  import spark.implicits._

  test("salted join result equals unsalted join") {
    val big = graft.Tables.lineitem(spark, sfDir)
    val small = graft.Tables.orders(spark, sfDir)
    val plain = big.join(small, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)), sum(col("l_quantity")), sum(col("o_totalprice"))).collect()(0)
    val salted = Skew.saltedJoin(big, small, "l_orderkey", "o_orderkey", "l_partkey", 4)
      .agg(count(lit(1)), sum(col("l_quantity")), sum(col("o_totalprice"))).collect()(0)
    assert(plain == salted)
  }

  test("salt column is deterministic and spans [0, n)") {
    val s = graft.Tables.lineitem(spark, sfDir)
      .select(Skew.saltColumn(col("l_partkey"), 4).as("s"))
    val vals = s.distinct().collect().map(_.getInt(0)).sorted
    assert(vals.toSeq == Seq(0, 1, 2, 3))
    // deterministic across evaluations
    assert(s.collect().toSeq == s.collect().toSeq)
  }

  test("IVF probe recall@10 vs exact brute force is substantial") {
    val exact = Similarity.knnBruteForce(spark, sfDir).collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    // nprobe=3 of ~10 lists at sf0.001: expect well above random
    assert(recall >= 0.3, s"recall@10 = $recall")
  }

  test("semantic dedup matches an in-memory within-cluster reference") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // reference cluster assignment: highest rounded cosine, lowest centroid id
    val centroidIds = emb.keys.filter(_ % 50 == 0).toSeq.sorted
    val cluster = emb.map { case (id, v) =>
      id -> centroidIds.map(c => (-cos(v, emb(c)), c)).min._2
    }
    val expected = emb.keys.flatMap { vb =>
      val mates = emb.keys.filter(va => va < vb && cluster(va) == cluster(vb))
        .map(va => va -> cos(emb(va), emb(vb)))
        .filter { case (_, s) => !s.isNaN && s >= 0.35 }
      if (mates.isEmpty) None
      else Some(vb -> ((mates.map(_._1).min, mates.map(_._2).max, mates.size.toLong)))
    }.toMap
    val got = Similarity.semanticDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got == expected, s"got ${got.size} drops, expected ${expected.size}")
    assert(got.nonEmpty, "threshold should fire on the synthetic corpus")
    got.foreach { case (dropped, (keptBy, _, _)) => assert(keptBy < dropped) }
  }

  test("compaction reduces file count and preserves rows") {
    val layout = Layout(tmpDir("compact"))
    import spark.implicits._
    // several small per-source commits (as streaming would make)
    (1 to 5).foreach { i =>
      Catalog.commitDist(spark, layout, Seq(("clicks", s"k$i", s"""{"n":$i}"""))
        .toDF("source", "key", "json")
        .repartition(3))
    }
    def live() = Catalog.distLiveFiles(spark, layout).count(_.startsWith("source=clicks/"))
    val dir = new java.io.File(s"${layout.distributionDir}/source=clicks")
    def onDisk() = dir.listFiles().count(_.getName.endsWith(".json"))
    val before = live()
    assert(before >= 5)
    val n = Compaction.compactSourceCommitted(spark, layout, "clicks", targetFiles = 1)
    assert(n == 5)
    assert(live() == 1, s"expected 1 live file after compaction, found ${live()}")
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 5)
    // the inputs stay on disk until vacuum, then only the compacted file is left
    assert(onDisk() == before + 1)
    Catalog.vacuumDist(spark, layout, graceMs = 0L)
    assert(onDisk() == 1, s"expected 1 file on disk after vacuum, found ${onDisk()}")
    assert(Distribution.subscribeSnapshot(spark, layout, "clicks").count() == 5)
  }
}
