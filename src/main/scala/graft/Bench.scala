package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the documented environment (local[32], 128 GiB);
    // SPARK_GRAFT_CPUS overrides for smaller hosts
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // analyzer rules (SQL MERGE/UPDATE) only bind at session build
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // MEASUREMENT CONTRACT (round 15): the bench starts ARTIFACT-COLD
    // for ITS corpus. Corpus-fingerprint-keyed artifacts (the near-dup
    // pair table, IVF assignments/centroids, PQ codebooks/codes, the
    // SQL-lake fixtures) persist across JVMs under Artifacts.sharedRoot
    // by design — but a bench run that happens to find them warm
    // under-reports ~10 consumer queries and makes two runs
    // incomparable (r14: the cold 32-core headline vs the warm 8-core
    // scaling leg differed 2.2× for reasons that had nothing to do
    // with cores). Erasing exactly THIS corpus's keys (not the whole
    // shared root: artifacts of OTHER corpora may be pending oracle
    // inputs of a Verify run at another SF) makes every run measure
    // the same thing: each artifact is built exactly once, inside the
    // timed region of the first query that needs it — which is what a
    // fresh driver environment pays anyway. Disable (to measure a
    // warm-index serving posture explicitly) with
    // SPARK_GRAFT_KEEP_ARTIFACTS=1.
    // ONE SESSION PER CORPUS: the erase deletes committed artifacts
    // keyed by this corpus with no lock, so run no second process over
    // the same corpus meanwhile (another bench, or a Verify whose
    // DuckDB replay still reads them) — or set
    // SPARK_GRAFT_KEEP_ARTIFACTS=1 in every process but one.
    if (!sys.env.get("SPARK_GRAFT_KEEP_ARTIFACTS").contains("1")) {
      try {
        // every artifact-family key derivation this corpus uses:
        // documents fingerprint (pair table, incremental probe),
        // embeddings fingerprint (IVF/PQ families), events byte-length
        // (SQL-lake fixtures, kmv_du), lineitem+part byte-lengths
        // (assoc_ob)
        val keys = graft.ops.Artifacts.liveKeysFor(spark, sfDir) ++ Set(
          graft.ops.Artifacts.tableKey(spark, sfDir, Seq("events")),
          graft.ops.Artifacts.tableKey(spark, sfDir, Seq("lineitem", "part")))
        val n = graft.ops.Artifacts.eraseKeys(spark, keys)
        System.err.println(s"[bench] artifact-cold start: erased $n " +
          s"artifact dirs keyed by $sfDir")
      } catch { case e: Exception =>
        System.err.println(s"[bench] artifact vacuum failed: ${e.getMessage}")
      }
    }
    // Untimed warmup: first-query numbers otherwise include one-off JVM
    // JIT + codegen-compiler + shuffle-system init (~5 s), which is
    // session cost, not query cost. Three parts, all session init and
    // none precomputing any query's actual work:
    //  (1) shuffle-system + Janino bring-up (range agg);
    //  (2) first-touch of every base table's scan path (parquet footer
    //      parse + column-reader class JIT — measured ~0.9 s/table cold,
    //      otherwise billed to whichever query reads the table first in
    //      Map-hash order; r5's 16.5 s q_lm_score outlier was exactly
    //      this attribution artifact);
    //  (3) generic codegen paths over a SYNTHETIC frame — explode/split,
    //      HashAggregate, and a join — so the ~2-3 s Janino+JIT cost of
    //      each codegen shape is paid once here, not by the first text
    //      query.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      val warm = spark.range(50000).selectExpr(
        "concat('a', id % 31, ' b', id % 17, ' c', id % 13) AS text")
      val toks = warm.selectExpr("explode(split(text, ' ')) AS tok")
      toks.groupBy("tok").count().join(toks, "tok").count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: ${e.getClass.getName}: ${e.getMessage}")
    }
    // a failed query must be VISIBLE in the emitted JSON (name +
    // exception class in "failures") and must NOT contribute a timing:
    // a fail-fast query's partial elapsed would deflate "total" while
    // looking like a completed run, so "queries"/"total" carry only
    // queries that finished.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        results(name) = (System.nanoTime() - t0) / 1e9
      } catch { case NonFatal(e) => failures(name) = e.getClass.getSimpleName }
      // storage hygiene BETWEEN queries (after the clock stops): free
      // the query's lineage-truncation checkpoint blocks. Without this
      // a 228-query run accumulates every query's checkpointed
      // intermediates in executor storage — r14's across-the-board
      // slowdown. Each query still computes everything from the
      // parquet inputs inside its own timed region.
      graft.ops.Truncate.release()
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failures.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val cold = !sys.env.get("SPARK_GRAFT_KEEP_ARTIFACTS").contains("1")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_failed":${failures.size},"failures":$fj,"artifact_cold":$cold,"sf":"$sfDir"}"""
    println(line)
    // the driver keeps only the stdout TAIL, so the per-query map gets
    // truncated in BENCH_r{N}.json on large suites — also write the
    // COMPLETE record to a file for round-over-round per-query diffing
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
  }
}
