package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication surface over `documents` (north-star extension):
  * exact (hash-groupBy), MinHash+LSH near-dup (shingle → signature →
  * band → bucket-join → Jaccard verify), and SimHash.
  *
  * Scale architecture (the point of these operators at 100 TB):
  *  - exact dedup is a single hash shuffle on the fingerprint;
  *  - MinHash/LSH never compares all pairs — candidates come from
  *    equality joins on band signatures (shuffle on band key), then
  *    only candidates pay the exact-Jaccard verify;
  *  - SimHash reduces a document to one 16-bit integer; bucket counts
  *    find clusters with a single agg.
  *
  * Engine-parity notes: hashes are md5 (byte-identical across
  * engines) parsed to integers via hex-prefix (`conv` ≡ DuckDB
  * `('0x'||h)::BIGINT`); MinHash "permutations" are universal-hash
  * mixes `(a_k·h + b_k) mod p` of ONE md5 per shingle (min over
  * shingles as int64), avoiding both engine-specific integer hashes
  * and redundant digests; SimHash bit weights come from the same
  * hex-prefix parse.
  */
object Dedup {

  private def tokens: Column = split(col("text"), " ")

  /** Per-(band_no, band_val) bucket-size cap for every LSH candidate
    * join. A bucket of size s yields s² candidate pairs — work that is
    * quadratic in the BUCKET no matter how it is partitioned, because
    * the pairs themselves exist (salting only spreads them; it cannot
    * shrink them). Past the cap the join fails LOUDLY naming the hot
    * bucket instead of burying a multi-hour straggler in one task
    * (observed: a 23-minute straggler from one degenerate band on a
    * 10× synthesis — BASELINE.md). The usual culprit is verbatim
    * duplicate text, which belongs to EXACT dedup upstream; genuinely
    * wanting s² pairs means raising the cap deliberately. */
  val maxLshBucket: Int = 10000

  /** Drops un-joinable NULL-band rows and enforces [[maxLshBucket]]
    * on an LSH band index: rows in an over-cap (band_no, band_val)
    * bucket raise a descriptive error AT SCAN TIME of the candidate
    * join (the count-over-band window shuffles on the same key the
    * join does, so the guard adds no extra exchange on the guarded
    * side). Apply to ONE side of a self-join — every hot bucket is
    * seen there. */
  private[ops] def guardHotBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_no"), col("band_val"))
    banded.filter(col("band_val").isNotNull)
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(
        when(col("bucket_n") <= maxBucket, lit(true))
          .otherwise(raise_error(concat(
            lit(s"LSH bucket over cap ($maxBucket): band_no="), col("band_no"),
            lit(" band_val="), col("band_val"), lit(" size="), col("bucket_n"),
            lit(" — exact-dedup the corpus first, or raise maxBucket deliberately")))))
      .drop("bucket_n")
  }

  /** Exact-dup summary: corpus size vs distinct fingerprints, number
    * of duplicate groups, redundant rows to drop. */
  def exactSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(md5(col("text")).as("fp"))
    val groups = docs.groupBy(col("fp")).agg(count(lit(1)).as("n"))
    groups.agg(
        sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_groups"),
        sum(col("n") - 1).cast("long").as("n_redundant"))
  }

  def exactSummarySql: String =
    """SELECT CAST(sum(n) AS BIGINT) AS n_docs,
      |  count(*) AS n_distinct,
      |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |  CAST(sum(n - 1) AS BIGINT) AS n_redundant
      |FROM (SELECT md5(text) AS fp, count(*) AS n FROM documents GROUP BY md5(text))""".stripMargin

  /** Exact dedup keep-list: for each duplicate group, the canonical
    * (min doc_id) survivor and the copies collapsed. */
  def exactGroups(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy(col("keep_id"))

  def exactGroupsSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |HAVING count(*) > 1
      |ORDER BY keep_id""".stripMargin

  /** Token 3-gram shingles of a document.
    *
    * Built with zip_with over shifted slices rather than
    * `transform(sequence(i), i -> element_at(tokens, i…))`: higher-order
    * functions bind their ARRAY arguments once, while an `element_at`
    * lambda body references the tokenizer expression itself — after
    * CollapseProject inlining, that re-ran `split` ~3·|shingles| times
    * per document (profiled: 5 s of a 6.5 s LSH pass at sf0.1). Here
    * `split` is evaluated a constant ~6 times per row. */
  private def shingles: Column = {
    val t = tokens
    val n = size(tokens)
    val s2 = slice(tokens, lit(2), greatest(n - 1, lit(0)))
    val s3 = slice(tokens, lit(3), greatest(n - 2, lit(0)))
    val pairs = zip_with(t, s2, (x, y) => concat(x, lit(" "), y))
    val trips = zip_with(pairs, s3, (xy, z) => concat(xy, lit(" "), z))
    slice(trips, lit(1), greatest(n - 2, lit(1)))
  }

  private[ops] val ShinglesSqlDuck: String =
    """list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 2)),
      | i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])"""
      .stripMargin.replace("\n", "")

  /** MinHash permutation arithmetic — constants and bounds documented
    * at [[graft.functions.MinHashScheme]] (shared with the UDAF
    * surface). Profiling round 1 showed 4 salted md5s per shingle
    * dominated the near-dup family (~32 s ≈ 40% of the sf0.1 suite);
    * mixing one digest replaces 3 of the 4 with two integer ops. */
  private val MixP = graft.functions.MinHashScheme.P
  private val MixA = graft.functions.MinHashScheme.A
  private val MixB = graft.functions.MinHashScheme.B

  /** First 32 md5 bits of a shingle as a long — the one digest per
    * shingle everything else mixes from. */
  private def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  private def mixK(k: Int, h: Column): Column =
    (lit(MixA(k)) * h + lit(MixB(k))) % lit(MixP)

  private def minhashSqlDuck(k: Int): String =
    s"list_min(list_transform($ShinglesSqlDuck, " +
      s"s -> (${MixA(k)} * (('0x' || substr(md5(s), 1, 8))::BIGINT) + ${MixB(k)}) % $MixP))"

  /** A band value rendered identically in both engines: the two member
    * signatures (BIGINTs) joined with '|' — decimal rendering of int64
    * is engine-independent, and no digest is needed just to build an
    * equi-join key. */
  private[ops] def bandSqlDuck(k1: Int, k2: Int): String =
    s"((${minhashSqlDuck(k1)})::VARCHAR || '|' || (${minhashSqlDuck(k2)})::VARCHAR)"

  /** All signature components in ONE pass: shingle array computed once
    * per doc, exploded, then 4 min-aggs.
    *
    * Why not 4 per-signature column expressions? Catalyst inlines the
    * shingle construction (split + 3 array lookups per shingle) into
    * every use, so k signatures re-tokenize the document ~3k× — at
    * sf0.1 that was 65 s of a 97 s bench. The explode→hash-agg shape
    * evaluates split/shingles once per doc and is also the right
    * 100 TB plan: map-side partial min-agg collapses the shingle
    * fan-out before the (doc_id-keyed) shuffle. Only (doc_id, shingle)
    * rows flow through the explode — no payload arrays. */
  private def signatures(spark: SparkSession, sfDir: String): DataFrame =
    signaturesOf(Tables.documents(spark, sfDir))

  /** Signatures for ANY (doc_id, text) frame — the single source of
    * truth for the hashing scheme: the incremental path MUST produce
    * byte-identical band values to the corpus index or the
    * batch-vs-corpus join silently finds nothing. */
  def signaturesOf(docs: DataFrame): DataFrame =
    docs
      // explode_outer: a NULL/degenerate text must still yield a row
      // (with NULL signatures) to match the oracle's row count
      .select(col("doc_id"), explode_outer(shingles).as("shingle"))
      // one digest per shingle; the 4 permutations are integer mixes
      .select(col("doc_id"), shingleHash(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        min(mixK(0, col("h"))).as("sig0"),
        min(mixK(1, col("h"))).as("sig1"),
        min(mixK(2, col("h"))).as("sig2"),
        min(mixK(3, col("h"))).as("sig3"))

  /** LSH band index of ANY (doc_id, text) frame: one row per
    * (doc_id, band_no, band_val). Precompute + persist this for a
    * corpus that incremental batches will be checked against. */
  def bandIndexOf(docs: DataFrame): DataFrame =
    signaturesOf(docs)
      .select(col("doc_id"),
        // concat (NOT concat_ws): a NULL signature must yield a NULL
        // band value — NULL never equi-joins, exactly like the
        // oracle's `sig || '|' || sig` — whereas concat_ws would
        // collapse every degenerate doc into one "" bucket.
        array(
          struct(lit(1).as("band_no"), concat(col("sig0").cast("string"), lit("|"), col("sig1").cast("string")).as("band_val")),
          struct(lit(2).as("band_no"), concat(col("sig2").cast("string"), lit("|"), col("sig3").cast("string")).as("band_val")))
          .as("bands"))
      .select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band_no"), col("b.band_val"))

  /** Per-doc MinHash signatures (4 permutations shown; the LSH query
    * derives 2 bands of 2 rows from the same signatures). */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    signatures(spark, sfDir)
      .select(col("doc_id"), col("sig0"), col("sig1"), col("sig2"), col("sig3"))
      .orderBy(col("doc_id"))

  def minhashSignaturesSql: String =
    s"""SELECT doc_id,
       |  ${minhashSqlDuck(0)} AS sig0, ${minhashSqlDuck(1)} AS sig1,
       |  ${minhashSqlDuck(2)} AS sig2, ${minhashSqlDuck(3)} AS sig3
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** LSH candidate pairs + exact-Jaccard verify: docs sharing either
    * band bucket (band = hash of 2 signature rows) become candidates;
    * only candidates pay the exact token-set Jaccard, and pairs at
    * ≥ 0.5 survive.
    *
    * Plan shape matters here: an `ON b1a = b1b OR b2a = b2b` join has
    * no equi keys, so Spark would pick BroadcastNestedLoopJoin — O(n²)
    * band comparisons (measured: 241 s of a 276 s bench at sf0.1, and
    * quadratic death at scale). Instead each doc EXPLODES into one row
    * per band keyed (band_no, band_value), and candidates come from a
    * hash-partitioned equi self-join on that key — the canonical LSH
    * bucket join: cost ∝ Σ bucket² per band, never n². Pairs found by
    * both bands are deduped with a groupBy before paying the Jaccard. */
  def lshNearDupPairs(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairTable(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** Confirmed near-dup pairs of ANY (doc_id, text) frame, unsorted,
    * with the [[guardHotBuckets]] cap on the candidate join. */
  private[ops] def nearDupPairsOf(docs: DataFrame,
      maxBucket: Int = maxLshBucket): DataFrame = {
    // self-joined (a/b sides): truncate so the signature pass + the
    // hot-bucket guard window run once, not once per side (r14)
    val banded = Truncate(guardHotBuckets(bandIndexOf(docs), maxBucket),
      "neardup-bands")
    val a = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_b"))
    // pair-id-sized: truncated because it feeds the candidate-id set
    // AND the verify chain below (r15; without the cut the band
    // self-join re-executes per consumer)
    val candidates = Truncate(a.join(b, Seq("band_no", "band_val")) // equi join on band key
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct(),                                  // dedup pairs matched by both bands
      "neardup-cand")
    // Only the (few) candidates pay for token arrays: semi-join the
    // corpus down to candidate ids FIRST, tokenize only survivors,
    // and checkpoint the candidate-sized result for the two join arms
    // — at scale this is the "fetch text for candidates" hash join.
    // r14 checkpointed the FULL corpus token-array table here (every
    // doc's tokens in executor storage — the §5 scale risk VERDICT
    // r14 item 3 flags); pruning first bounds the checkpoint by the
    // candidate count and skips tokenizing non-candidates entirely.
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val docToks = Truncate(docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(tokens).as("toks")), "neardup-toks")
    candidates
      .join(docToks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(docToks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("toks_a"), col("toks_b"))) /
          size(array_distinct(concat(col("toks_a"), col("toks_b")))).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Confirmed near-dup pairs, unsorted — consumers that don't need
    * the query-surface ordering (clustering, keep lists) skip the
    * global range-shuffle sort. Prefer [[nearDupPairTable]], which
    * caches this result per corpus. */
  private[ops] def nearDupPairsUnsorted(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairsOf(Tables.documents(spark, sfDir))

  private val pairTableCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Order-independent content fingerprint of a documents corpus —
    * keys the pair-table artifact so corpora sharing a row count (or a
    * directory being overwritten between runs) can never serve each
    * other's pairs. Same per-term-mod discipline as
    * [[Similarity.corpusKeyOf]]. */
  private[ops] def docsCorpusKeyOf(docs: DataFrame): Long = {
    val keyTerm = (pmod(xxhash64(col("text")), lit(1000003L)) * (col("doc_id") + 1L)) %
      lit(1000003L)
    docs.agg(sum(keyTerm).cast("long")).collect()(0).getLong(0)
  }

  /** Where [[buildPairTable]] commits pair-table artifacts — SHARED
    * across JVMs (the [[Artifacts]] rename protocol makes concurrent
    * builders safe; cross-JVM reuse is the point of committing). */
  lazy val PairTablePath: String =
    s"${Similarity.OracleExportRoot}/shared/near_dup_pairs"

  /** The explicit index-build step behind the near-dup family: derive
    * the confirmed pair table once and COMMIT it as a
    * corpus-fingerprint-keyed parquet artifact; returns the dir.
    * Idempotent via the `_SUCCESS` marker (the
    * [[Similarity.buildTrainedCentroids]] contract) — a warm artifact
    * makes the build free for every later JVM over the same corpus,
    * which is exactly the 100 TB posture: the pair table is a tiny
    * derived index that many downstream jobs (keep-lists, clusters,
    * PageRank, audits) probe without re-running shingle → MinHash →
    * band-join → Jaccard. */
  def buildPairTable(spark: SparkSession, sfDir: String): String = {
    val docs = Tables.documents(spark, sfDir)
    Artifacts.commit(spark, s"$PairTablePath/k=${docsCorpusKeyOf(docs)}") { tmp =>
      nearDupPairsOf(docs).write.mode("overwrite").parquet(tmp)
    }
  }

  /** The confirmed near-dup pair table, built ONCE per (JVM, corpus
    * dir) and kept persisted — "build candidates once, probe many":
    * the pair listing, keep-list summary, transitive clusters,
    * PageRank and BFS all read this one cached table instead of each
    * re-deriving the shingle → MinHash → band-join → Jaccard pipeline
    * (~4× of the family's cost at sf0.1). Backed by the COMMITTED
    * parquet artifact of [[buildPairTable]] (corpus-fingerprint keyed,
    * `_SUCCESS`-gated), so the build also amortizes across JVMs; the
    * in-memory persist on top keeps intra-JVM consumers scan-free. */
  private[ops] def nearDupPairTable(spark: SparkSession, sfDir: String): DataFrame =
    pairTableCache.getOrElseUpdate(sfDir, {
      val t = spark.read.parquet(buildPairTable(spark, sfDir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count() // materialize eagerly so every consumer shares one build
      t
    })

  def lshNearDupPairsSql: String =
    s"""WITH sigs AS (
       |  SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  round(len(list_intersect(a.toks, b.toks)) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) AS jaccard
       |FROM sigs a JOIN sigs b
       |  ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2)
       |WHERE round(len(list_intersect(a.toks, b.toks)) /
       |      CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** End-to-end near-dedup keep-list: corpus minus the higher-id side
    * of every confirmed near-dup pair (greedy min-id survivor — the
    * full dedup pipeline's output surface: shingle → MinHash → LSH →
    * Jaccard → drop). Anti-join keeps the corpus scan single-pass. */
  def nearDedupSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val drop = nearDupPairTable(spark, sfDir).select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, sfDir)
      .join(drop, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  def nearDedupSummarySql: String =
    s"""WITH sigs AS (
       |  SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2)
       |  WHERE round(len(list_intersect(a.toks, b.toks)) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) >= 0.5)
       |SELECT lang, count(*) AS n_kept
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Edge-count threshold below which the component computation runs
    * as driver-side union-find (a few MB of ids) instead of the
    * distributed fixpoint — a small-side escape hatch. Components and
    * results are identical either way (min-id representative). */
  val maxCollectedEdges: Long = 1000000L

  /** Transitive near-dup CLUSTERS: connected components over the
    * confirmed pair graph. Output: (doc_id, cluster_rep = min doc id
    * of the component) for every doc in any pair; oracle is a DuckDB
    * recursive CTE computing the min reachable id.
    *
    * Two execution paths, identical results: below
    * [[maxCollectedEdges]] the id pairs collect to the driver for
    * path-compressed union-find; above it, distributed min-label
    * propagation iterates to a fixpoint (labels decrease
    * monotonically, so Σlabel is the convergence witness) and THROWS
    * if the iteration cap is hit rather than returning silently-split
    * components. */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairsDf = nearDupPairTable(spark, sfDir) // already persisted, shared
    val nEdges = pairsDf.count()
    if (nEdges <= maxCollectedEdges) {
      // small graph: collect ids only, union-find locally, return a
      // distributed frame (deterministic min-id representatives)
      import spark.implicits._
      val es = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
      }
      val out = parent.keys.toSeq.sorted.map(d => (d, find(d)))
      return spark.createDataset(out).toDF("doc_id", "cluster_rep")
        .orderBy(col("doc_id"))
    }
    // Huge graph: distributed min-label propagation to a fixpoint.
    // State stays hash-partitioned on doc_id across the cluster; each
    // iteration is one join+agg over the (corpus-fraction) pair graph.
    val edges = pairsDf
      .union(pairsDf.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    edges.count() // materialize before iterating (the pair table stays shared)
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .persist()
    var prevSum = labels.agg(sum(col("label"))).collect()(0).getLong(0)
    var converged = false
    var iter = 0
    val maxIters = 64 // one hop per round: covers component diameter ≤ 64, then fails loudly
    while (!converged && iter < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("label", "nb_label"), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(min(col("nb_label")).as("nb_min"))
      val next = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"))
        .persist()
      val nextSum = next.agg(sum(col("label"))).collect()(0).getLong(0)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters: no fixpoint after $maxIters iterations — component diameter pathological")
    // NOTE the returned frame reads the final labels cache (it IS the
    // result); it stays persisted for the consumer.
    labels.select(col("doc_id"), col("label").as("cluster_rep")).orderBy(col("doc_id"))
  }

  /** Near-dup cluster-size histogram — the corpus-health report on
    * top of [[nearDupClusters]]: how many clusters of each size exist,
    * and how many redundant docs they hold. Reads the SHARED pair
    * table (probe-many artifact); the histogram itself is two
    * model-sized aggs. */
  def dupClusterHist(spark: SparkSession, sfDir: String): DataFrame =
    nearDupClusters(spark, sfDir)
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size") - 1).as("n_redundant"))
      .orderBy(col("cluster_size"))

  /** Oracle twin of [[dupClusterHist]] — the recursive-CTE cluster
    * oracle with the histogram rollup on top. */
  def dupClusterHistSql: String =
    // the cluster oracle is reused VERBATIM as a nested-WITH subquery,
    // so the histogram's graph can never drift from q_near_dup_clusters
    s"""WITH clusters AS (
       |$nearDupClustersSql
       |)
       |SELECT cluster_size,
       |  CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(cluster_size - 1) AS BIGINT) AS n_redundant
       |FROM (
       |  SELECT cluster_rep, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM clusters GROUP BY cluster_rep)
       |GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** Keep-best dedup policy: for every near-dup cluster, keep the
    * LONGEST member (ties to the lowest doc_id) and drop the rest —
    * the content-aware survivor rule real pipelines use instead of
    * min-id (a truncated copy should lose to its full original even
    * when its id is smaller). One row per cluster with the kept doc
    * and the drop count; the corpus-wide keep list is this plus every
    * unclustered doc.
    *
    * Scale: the cluster labels join the (tiny) member metadata by id,
    * then ONE cluster_rep-partitioned window ranks members — clusters
    * are near-dup families, so partitions are small by construction
    * (a pathological mega-cluster is already capped upstream by
    * [[maxLshBucket]] and the [[maxCollectedEdges]] guard). */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_rep"))
    nearDupClusters(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("rn",
        row_number().over(w.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("kept_doc"),
        col("n_chars").as("kept_chars"), col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy(col("cluster_rep"))
  }

  /** Oracle twin of [[dedupKeepBest]] — nests the cluster oracle
    * verbatim (the [[dupClusterHistSql]] precedent), so the keep
    * policy's graph can never drift from `q_near_dup_clusters`. */
  def dedupKeepBestSql: String =
    s"""WITH clusters AS (
       |$nearDupClustersSql
       |),
       |ranked AS (
       |  SELECT c.cluster_rep, d.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.cluster_rep
       |                       ORDER BY d.n_chars DESC, d.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_rep) AS nm
       |  FROM clusters c JOIN documents d USING (doc_id))
       |SELECT cluster_rep, doc_id AS kept_doc,
       |  CAST(n_chars AS BIGINT) AS kept_chars,
       |  CAST(nm AS BIGINT) AS n_members,
       |  CAST(nm - 1 AS BIGINT) AS n_dropped
       |FROM ranked
       |WHERE rn = 1
       |ORDER BY cluster_rep""".stripMargin

  def nearDupClustersSql: String =
    s"""WITH RECURSIVE sigs AS (
       |  SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2)
       |  WHERE round(len(list_intersect(a.toks, b.toks)) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) >= 0.5),
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_a AS src, doc_a AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.doc_b AS dst
       |  FROM reach r JOIN edges e ON r.dst = e.doc_a)
       |SELECT src AS doc_id, min(dst) AS cluster_rep
       |FROM reach
       |GROUP BY src
       |ORDER BY doc_id""".stripMargin

  /** N-gram (token 3-gram shingle set) Jaccard for the LSH candidate
    * pairs — the order-sensitive variant of the token-set Jaccard in
    * [[lshNearDupPairs]] (shingle sets penalize reordering that token
    * sets cannot see). Shingle arrays are fetched per candidate only,
    * like the token arrays. */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // self-joined + the guard window: one signature pass, not two (r14)
    val banded = Truncate(
      guardHotBuckets(bandIndexOf(Tables.documents(spark, sfDir)), maxLshBucket),
      "ngramjac-bands")
    val a = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_b"))
    // pair-id-sized; truncated: feeds the candidate-id set + the
    // verify chain (r15)
    val candidates = Truncate(a.join(b, Seq("band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct(), "ngramjac-cand")
    // shingle arrays fetched for CANDIDATES only, then checkpointed
    // candidate-sized for the two arms — r14 checkpointed the full
    // corpus shingle-array table (§5 scale risk, VERDICT r14 item 3)
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val docShingles = Truncate(Tables.documents(spark, sfDir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(shingles).as("sh")), "ngramjac-sh")
    candidates
      .join(docShingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docShingles.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_distinct(concat(col("sh_a"), col("sh_b")))).cast("double"), 4)
          .as("ngram_jaccard"))
      .filter(col("ngram_jaccard") >= 0.3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def ngramJaccardPairsSql: String =
    s"""WITH sigs AS (
       |  SELECT doc_id, list_distinct($ShinglesSqlDuck) AS sh,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  round(len(list_intersect(a.sh, b.sh)) /
       |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS ngram_jaccard
       |FROM sigs a JOIN sigs b
       |  ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2)
       |WHERE round(len(list_intersect(a.sh, b.sh)) /
       |      CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) >= 0.3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Asymmetric shingle containment |A∩B| / |A| over the LSH candidate
    * pairs — the subset/quote detector symmetric Jaccard misses: a
    * short document quoted verbatim inside a long one has LOW Jaccard
    * (the union is dominated by the long doc) but containment ≈ 1 on
    * the short side, so it still gets caught. Both directions reported
    * in integer ppm (truncating DIV over non-negative operands —
    * engine-identical); a pair is kept when EITHER direction clears
    * `minPpm`.
    *
    * Scale: identical shape to [[ngramJaccardPairs]] — banded
    * candidates (hot-bucket-guarded), shingle arrays fetched per
    * candidate by id-join, never doc×doc. */
  def shingleContainment(spark: SparkSession, sfDir: String,
      minPpm: Long = 600000L): DataFrame = {
    // self-joined + the guard window: one signature pass, not two (r14)
    val banded = Truncate(
      guardHotBuckets(bandIndexOf(Tables.documents(spark, sfDir)), maxLshBucket),
      "shcont-bands")
    val a = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_b"))
    // pair-id-sized; truncated: feeds the candidate-id set + the
    // verify chain (r15)
    val candidates = Truncate(a.join(b, Seq("band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct(), "shcont-cand")
    // shingle arrays fetched for CANDIDATES only, then checkpointed
    // candidate-sized for the two arms — r14 checkpointed the full
    // corpus shingle-array table (§5 scale risk, VERDICT r14 item 3)
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val docShingles = Truncate(Tables.documents(spark, sfDir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_distinct(shingles).as("sh")), "shcont-sh")
    candidates
      .join(docShingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docShingles.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("long") * lit(1000000L))
          .as("inter6"),
        size(col("sh_a")).cast("long").as("na"),
        size(col("sh_b")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        expr("inter6 DIV na").as("cont_a_in_b_ppm"),
        expr("inter6 DIV nb").as("cont_b_in_a_ppm"))
      .filter(greatest(col("cont_a_in_b_ppm"), col("cont_b_in_a_ppm")) >= lit(minPpm))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of [[shingleContainment]] — threshold interpolated so
    * a non-default call cannot silently break parity. */
  def shingleContainmentSql(minPpm: Long = 600000L): String =
    s"""WITH sigs AS (
       |  SELECT doc_id, list_distinct($ShinglesSqlDuck) AS sh,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000 AS inter6,
       |    CAST(len(a.sh) AS BIGINT) AS na, CAST(len(b.sh) AS BIGINT) AS nb
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2))
       |SELECT doc_a, doc_b,
       |  CAST(inter6 // na AS BIGINT) AS cont_a_in_b_ppm,
       |  CAST(inter6 // nb AS BIGINT) AS cont_b_in_a_ppm
       |FROM p
       |WHERE greatest(inter6 // na, inter6 // nb) >= $minPpm
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Incremental near-dup against a PRECOMPUTED corpus index — the
    * streaming-dedup building block. The caller materializes
    * `corpusIndex = bandIndexOf(corpus)` and `corpus` tokens once
    * (persist or write to the lake) and each micro-batch then costs
    * O(batch) signature work + an equi join into the index. Both sides
    * hash with [[signaturesOf]] — byte-identical band values by
    * construction.
    *
    * Returns (new_doc, corpus_doc, jaccard) at ≥ threshold. */
  def incrementalNearDups(spark: SparkSession, corpusIndex: DataFrame, corpus: DataFrame,
      batch: DataFrame, threshold: Double): DataFrame =
    incrementalNearDupsPrepared(spark, corpusIndex,
      corpus.select(col("doc_id"), array_distinct(tokens).as("toks")),
      batch, threshold)

  /** Fully-prepared probe: BOTH corpus sides come precomputed —
    * `corpusIndex` = (band_no, band_val, doc_id) and `corpusToks` =
    * (doc_id, toks) — so a micro-batch pays ONLY its own O(batch)
    * signature + tokenization work plus candidate-bounded verify
    * joins; nothing corpus-sized is recomputed per batch. */
  def incrementalNearDupsPrepared(spark: SparkSession, corpusIndex: DataFrame,
      corpusToks: DataFrame, batch: DataFrame, threshold: Double): DataFrame = {
    // guard the corpus side — it is the unbounded one; a hot corpus
    // bucket multiplies EVERY batch forever, so failing loudly at
    // index-probe time is the right place
    val corpusBands = guardHotBuckets(corpusIndex, maxLshBucket)
      .withColumnRenamed("doc_id", "corpus_doc")
    val batchBands = bandIndexOf(batch).withColumnRenamed("doc_id", "new_doc")
    val candidates = batchBands.join(corpusBands, Seq("band_no", "band_val"))
      .select(col("new_doc"), col("corpus_doc")).distinct()
    val cToks = corpusToks
      .select(col("doc_id").as("corpus_doc"), col("toks").as("toks_c"))
    val batchToks = batch.select(col("doc_id").as("new_doc"), array_distinct(tokens).as("toks_n"))
    candidates
      .join(batchToks, Seq("new_doc"))
      .join(cToks, Seq("corpus_doc"))
      .select(col("new_doc"), col("corpus_doc"),
        round(size(array_intersect(col("toks_n"), col("toks_c"))) /
          size(array_distinct(concat(col("toks_n"), col("toks_c")))).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("new_doc"), col("corpus_doc"))
  }

  /** Convenience overload computing the corpus index inline (one-shot
    * batch comparisons; for repeated micro-batches precompute the
    * index with [[bandIndexOf]]/[[buildBandIndex]] and use the primary
    * overload). */
  def incrementalNearDups(spark: SparkSession, corpus: DataFrame, batch: DataFrame,
      threshold: Double = 0.5): DataFrame =
    incrementalNearDups(spark, bandIndexOf(corpus), corpus, batch, threshold)

  /** Where [[buildIncrementalProbe]] commits corpus probe artifacts —
    * shared across JVMs like [[PairTablePath]]. */
  lazy val IncrProbePath: String =
    s"${Similarity.OracleExportRoot}/shared/incr_probe"

  /** Commit (once) the corpus PROBE — the band index
    * (`bands/`: band_no, band_val, doc_id) AND the distinct-token
    * arrays (`toks/`: doc_id, toks) — as one corpus-fingerprint-keyed
    * artifact; returns its dir. Both halves are deterministic, so the
    * artifact is replay-identical to an inline recompute; each
    * incremental batch then costs O(batch) signature work + candidate-
    * bounded joins into the artifact — at 100 TB the corpus index and
    * tokenization are computed once per corpus, never once per
    * arriving batch ([[incrementalNearDupsPrepared]]). */
  def buildIncrementalProbe(spark: SparkSession, corpus: DataFrame): String =
    Artifacts.commit(spark,
      s"$IncrProbePath/k=${docsCorpusKeyOf(corpus)}") { tmp =>
      bandIndexOf(corpus).write.mode("overwrite").parquet(s"$tmp/bands")
      corpus.select(col("doc_id"), array_distinct(tokens).as("toks"))
        .write.mode("overwrite").parquet(s"$tmp/toks")
      // two-subdir artifact: the top-level marker is ours to create
      val p = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(p, true).close()
    }

  /** Oracle-checked surface for [[incrementalNearDups]]: the corpus is
    * split deterministically (doc_id mod 5) into an 80% "existing
    * corpus" and a 20% "new batch", and the batch is checked against
    * the corpus index — O(batch) signature work + an equi band join,
    * the streaming-dedup shape, with only cross-partition pairs
    * emitted (batch-internal dups are the NEXT batch's corpus
    * problem). */
  private val bandIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  def incrementalNearDupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    // probe the COMMITTED corpus artifact (built once per corpus,
    // shared across JVMs; dir memoized per corpus DIR so the warm path
    // skips even the fingerprint scan) — recomputing corpus signatures
    // and tokens inline per run was the one audit that blew up under
    // host contention
    val probe = bandIndexCache.getOrElseUpdate(sfDir,
      buildIncrementalProbe(spark, corpus))
    incrementalNearDupsPrepared(spark,
      spark.read.parquet(s"$probe/bands"),
      spark.read.parquet(s"$probe/toks"), batch, threshold = 0.5)
  }

  def incrementalNearDupQuerySql: String =
    s"""WITH csigs AS (
       |  SELECT doc_id AS corpus_doc, list_distinct(string_split(text,' ')) AS toks,
       |    ${bandSqlDuck(0, 1)} AS band1, ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents WHERE doc_id % 5 <> 0),
       |bsigs AS (
       |  SELECT doc_id AS new_doc, list_distinct(string_split(text,' ')) AS toks,
       |    ${bandSqlDuck(0, 1)} AS band1, ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents WHERE doc_id % 5 = 0)
       |SELECT b.new_doc, c.corpus_doc,
       |  round(len(list_intersect(b.toks, c.toks)) /
       |        CAST(len(list_distinct(list_concat(b.toks, c.toks))) AS DOUBLE), 4) AS jaccard
       |FROM bsigs b JOIN csigs c
       |  ON b.band1 = c.band1 OR b.band2 = c.band2
       |WHERE round(len(list_intersect(b.toks, c.toks)) /
       |      CAST(len(list_distinct(list_concat(b.toks, c.toks))) AS DOUBLE), 4) >= 0.5
       |ORDER BY new_doc, corpus_doc""".stripMargin

  /** Band-0 SimHash bucket histogram: the first 16-bit band of the
    * 64-bit fingerprint (see [[simhashNearDup]]) as an exact-collision
    * bucket count — the hamming-0-within-one-band view. The full
    * near-dup search over all 4 bands with a hamming-distance verify
    * is [[simhashNearDup]]; this query exists for the bucket-size
    * distribution (LSH load-balance diagnostics). */
  def simhashBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    // band 0 of the native fingerprint (= the old explode + 16 signed
    // bit sums, field-for-field — see simhashFieldsOf)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        element_at(graft.functions.SimHashFields.of(tokens, 1), 1).as("simhash"))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("simhash"))
  }

  def simhashBucketsSql: String = {
    val h = "(('0x' || substr(md5(token), 1, 4))::BIGINT)"
    val bitSums = (0 until 16).map(j => s"sum((($h >> $j) & 1) * 2 - 1) AS s$j").mkString(", ")
    val simhash = (0 until 16).map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |sums AS (
       |  SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
       |hashes AS (
       |  SELECT doc_id, CAST($simhash AS BIGINT) AS simhash FROM sums)
       |SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc
       |FROM hashes
       |GROUP BY simhash
       |HAVING count(*) > 1
       |ORDER BY simhash""".stripMargin
  }

  /** 64-bit SimHash fingerprints, stored as 4×16-bit band fields
    * f0..f3 (band m = sign-aggregated bits of md5-hex digits
    * 4m+1..4m+4 of each token). Keeping the fingerprint as four
    * 16-bit fields rather than one int64 serves two masters: every
    * band is directly an equi-join key, and the hamming distance is a
    * sum of per-band `bit_count(xor)` terms that never nears the
    * int64 overflow DuckDB errors on. */
  private[ops] def simhashFieldsOf(docs: DataFrame): DataFrame =
    simhashFieldsOf(docs, nBands = 4)

  /** `nBands`×16-bit fingerprint fields (nBands ≤ 8 — md5 has 32 hex
    * digits = 8 disjoint 16-bit slices). More bands WIDEN the exact
    * hamming window (banded candidates are exact for hamming ≤
    * nBands−1) but each band adds a full bucket-join: measured at 10×
    * (50k docs, heavy real duplication), 6 bands cost 87 s vs 15.7 s
    * for 4 — candidate volume, not agg width, dominates. Treat band
    * count as the RECALL knob; to fight bucket saturation at huge n,
    * widen the bucket (join on pairs of adjacent fields = 32-bit
    * bands), the same trade [[Similarity.hyperplaneLshPairs]] measured
    * (16-bit bands: 11.7 s → 4.9 s). */
  private[ops] def simhashFieldsOf(docs: DataFrame, nBands: Int): DataFrame = {
    require(nBands >= 1 && nBands <= 8, "md5 yields at most 8 16-bit slices")
    // native one-loop-per-doc fingerprinting (round 7): the fields are
    // computed AT THE SCAN — no token explode, no 16·nBands-column
    // agg, no pre-join shuffle. Declarative twin kept below for the
    // equivalence pin.
    val f = graft.functions.SimHashFields.of(tokens, nBands)
    docs.select(col("doc_id") +: (0 until nBands).map(m =>
      element_at(f, m + 1).as(s"f$m")): _*)
  }

  /** The pre-round-7 declarative formulation of [[simhashFieldsOf]] —
    * explode + per-token md5 slices + 16·nBands signed bit sums —
    * kept as the equivalence witness for the native expression
    * (Round7OpsSpec pins field-for-field equality). */
  private[ops] def simhashFieldsDeclarative(docs: DataFrame, nBands: Int): DataFrame = {
    require(nBands >= 1 && nBands <= 8, "md5 yields at most 8 16-bit slices")
    val withH = docs
      .select(col("doc_id"), explode(tokens).as("token"))
      // one md5 per token; nBands disjoint 16-bit slices of the digest
      .select(col("doc_id") +: (0 until nBands).map(m =>
        conv(substring(md5(col("token")), 1 + 4 * m, 4), 16, 10).cast("long").as(s"h$m")): _*)
    val bitSums = for { m <- 0 until nBands; j <- 0 until 16 } yield
      sum(shiftright(col(s"h$m"), j).bitwiseAND(1) * 2 - 1).as(s"s${m}_$j")
    val fields = (0 until nBands).map { m =>
      (0 until 16).map(j =>
        when(col(s"s${m}_$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as(s"f$m")
    }
    withH.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: fields: _*)
  }

  /** SimHash near-dup pairs at hamming distance ≤ 3 over the 64-bit
    * fingerprint — the banded hamming search real pipelines run.
    *
    * Candidates come from 4 equi self-joins (one per 16-bit band,
    * expressed as one explode + one hash join on (band_no, band_val) —
    * never a nested loop); by pigeonhole, ≤ 3 differing bits across 4
    * bands leave at least one band identical, so the banding is EXACT
    * for this threshold: recall 1.0, and only candidates pay the
    * hamming verify. Scale shape is the same bucketed LSH join as
    * [[lshNearDupPairs]]: cost ∝ Σ bucket², never n². */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    simhashNearDup(spark, sfDir, nBands = 4, maxHamming = 3)

  /** Tunable form — banding stays EXACT while maxHamming ≤ nBands−1
    * (pigeonhole); the oracle-checked default is (4, 3). */
  def simhashNearDup(spark: SparkSession, sfDir: String,
      nBands: Int, maxHamming: Int): DataFrame = {
    require(maxHamming <= nBands - 1, "banding is only exact for hamming <= nBands-1")
    // three consumers (the band explode and both fingerprint fetch
    // arms): one SimHash signature pass, not three (r14); the banded
    // index is additionally self-joined — truncate it too so the
    // explode + guard window run once
    val f = Truncate(simhashFieldsOf(Tables.documents(spark, sfDir), nBands),
      "simhash-f")
    val bands = Truncate(guardHotBuckets(
      f.select(col("doc_id"), explode(array(
          (0 until nBands).map(m => struct(lit(m).as("band_no"), col(s"f$m").as("band_val"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band_no"), col("b.band_val")),
      maxLshBucket), "simhash-bands")
    val a = bands.select(col("band_no"), col("band_val"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band_no"), col("band_val"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // fingerprints are nBands small ints — fetching them back for the
    // few candidates keeps the band shuffle payload-free
    val fa = f.select(col("doc_id").as("doc_a") +:
      (0 until nBands).map(m => col(s"f$m").as(s"a$m")): _*)
    val fb = f.select(col("doc_id").as("doc_b") +:
      (0 until nBands).map(m => col(s"f$m").as(s"b$m")): _*)
    candidates.join(fa, Seq("doc_a")).join(fb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (0 until nBands).map(m => bit_count(col(s"a$m").bitwiseXOR(col(s"b$m"))))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of the default-banded [[simhashNearDup]] — band
    * count and hamming threshold are GENERATED from the same
    * parameters (defaults (4, 3)) so a non-default pairing cannot
    * silently drift. */
  def simhashNearDupSql(nBands: Int = 4, maxHamming: Int = 3): String = {
    require(maxHamming <= nBands - 1, "banding is only exact for hamming <= nBands-1")
    def h(m: Int) = s"(('0x' || substr(md5(token), ${1 + 4 * m}, 4))::BIGINT)"
    val bitSums = (for { m <- 0 until nBands; j <- 0 until 16 } yield
      s"sum(((${h(m)} >> $j) & 1) * 2 - 1) AS s${m}_$j").mkString(", ")
    def field(m: Int) = (0 until 16)
      .map(j => s"CASE WHEN s${m}_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val fields = (0 until nBands).map(m => s"CAST(${field(m)} AS BIGINT) AS f$m").mkString(", ")
    val hamming = (0 until nBands)
      .map(m => s"bit_count(xor(a.f$m, b.f$m))").mkString(" + ")
    val bandEq = (0 until nBands).map(m => s"a.f$m = b.f$m").mkString(" OR ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |sums AS (
       |  SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
       |f AS (
       |  SELECT doc_id, $fields FROM sums)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST($hamming AS BIGINT) AS hamming
       |FROM f a JOIN f b
       |  ON a.doc_id < b.doc_id AND ($bandEq)
       |WHERE $hamming <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Benchmark-decontamination check — the pipeline step every LLM
    * training run performs before training: which TRAINING documents
    * share n-gram shingles with the held-out EVALUATION set (and how
    * much)? Here the eval set is the deterministic 5% split
    * `doc_id % 20 = 0` (a real pipeline feeds its benchmark suite in
    * its place — the operator is identical); shingles are the same
    * token 3-grams the MinHash family uses. Emits one row per
    * CONTAMINATED training doc: its distinct-shingle count, how many
    * of those also occur anywhere in the eval set, and the shared
    * fraction.
    *
    * Scale shape: both sides explode to (doc, shingle) rows and the
    * contamination test is a plain equi-join on the shingle string —
    * never a doc×doc comparison. The eval side is collapsed to its
    * DISTINCT shingle set first (benchmark suites are tiny next to the
    * corpus, so at 100 TB that side is usually broadcast; no hint is
    * forced here because THIS eval split scales with sf — AQE picks
    * broadcast when it fits). Map-side partial aggs collapse the
    * per-doc duplicate shingles before either shuffle. */
  /** Distinct (doc_id, sh) shingle rows of a document frame — the
    * exchange format between the decontamination stages (and the
    * persistable eval-side index for the STREAMING gate: materialize
    * `shingleSetOf(evalDocs).select("sh").distinct()` once, then each
    * intake micro-batch equi-joins into it, O(batch) per batch). */
  def shingleSetOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles).as("sh"))
      .filter(col("sh").isNotNull).distinct()

  /** Docs sharing ≥ `minShared` distinct shingles with an eval shingle
    * set (a one-column `sh` frame) — the decontamination REJECT list,
    * usable batch (the query below) or per-micro-batch (StreamIntake).
    * Returns (doc_id, n_shared). */
  def contaminatedIds(docs: DataFrame, evalShingles: DataFrame,
      minShared: Long): DataFrame =
    shingleSetOf(docs).join(evalShingles.select(col("sh")).distinct(), Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val evalSh = shingleSetOf(docs.filter(col("doc_id") % 20 === 0))
      .select(col("sh")).distinct()
    // two consumers (totals, shared): one shingle explode over the
    // train split, not two (r14)
    val trainSh = Truncate(shingleSetOf(docs.filter(col("doc_id") % 20 =!= 0)),
      "decon-trainsh", big = true)
    val totals = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val shared = trainSh.join(evalSh, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    totals.join(shared, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (round(col("n_shared") / col("n_shingles"), 4) + lit(0.0)).as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** CTE chain ending in `contaminated(doc_id)` — train docs sharing
    * any shingle with the eval split; the core of [[decontaminateSql]],
    * also composed by [[Pipeline.curationFunnelSql]]. */
  private[ops] def contaminatedCteSql: String =
    s"""ctr AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest($ShinglesSqlDuck) AS sh
       |    FROM documents WHERE doc_id % 20 <> 0)
       |  WHERE sh IS NOT NULL),
       |cev AS (
       |  SELECT DISTINCT sh FROM (
       |    SELECT unnest($ShinglesSqlDuck) AS sh
       |    FROM documents WHERE doc_id % 20 = 0)
       |  WHERE sh IS NOT NULL),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM ctr JOIN cev USING (sh))""".stripMargin

  /** Inter-source novelty: what fraction of each source's distinct
    * shingles appears in NO other source? A mixing diagnostic — a
    * source whose content is mostly reachable from the others adds
    * volume, not diversity, and its mixing weight ([[Pipeline
    * .sourceMix]]) buys less than its token count suggests.
    *
    * Scale: distinct (source, sh) rows → per-shingle source count →
    * per-source rollup; two hash aggs and an equi-join on the shingle
    * key, the decontamination shape applied source-against-all. */
  def sourceNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // the distinct (source, shingle) table feeds both the per-shingle
    // source-count and the join spine: truncate once or the full
    // shingle explode+md5+distinct pipeline re-executes per consumer
    // (r14: 2 corpus passes → 1, measured)
    val ssh = Truncate(shingleSetOf(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("sh")).distinct(), "novelty-ssh", big = true)
    // A shingle with source-count 1 belongs to exactly ONE source —
    // min(source) IS that source — so the per-source unique count
    // needs no ssh⋈sc join back (r15: the shingle-keyed join of two
    // shingle-scale tables was the query's largest shuffle; two
    // aggregations over the checkpointed ssh replace it). ssh is
    // distinct (source, sh) by construction, so count(1) per sh =
    // countDistinct(source).
    val tot = ssh.groupBy(col("source")).agg(count(lit(1)).as("n_shingles"))
    val uniq = ssh.groupBy(col("sh"))
      .agg(count(lit(1)).as("ns"), min(col("source")).as("source"))
      .filter(col("ns") === 1)
      .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
    tot.join(uniq, Seq("source"), "left")
      .na.fill(0L, Seq("n_unique"))
      .withColumn("unique_ppm", expr("(n_unique * 1000000) DIV n_shingles"))
      .orderBy(col("source"))
  }

  def sourceNoveltySql: String =
    s"""WITH ssh AS (
       |  SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest($ShinglesSqlDuck) AS sh FROM documents)
       |  WHERE sh IS NOT NULL),
       |sc AS (SELECT sh, count(DISTINCT source) AS ns FROM ssh GROUP BY sh)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |       // CAST(count(*) AS BIGINT) AS BIGINT) AS unique_ppm
       |FROM ssh JOIN sc USING (sh)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  def decontaminateSql: String =
    s"""WITH tr AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest($ShinglesSqlDuck) AS sh
       |    FROM documents WHERE doc_id % 20 <> 0)
       |  WHERE sh IS NOT NULL),
       |ev AS (
       |  SELECT DISTINCT sh FROM (
       |    SELECT unnest($ShinglesSqlDuck) AS sh
       |    FROM documents WHERE doc_id % 20 = 0)
       |  WHERE sh IS NOT NULL),
       |tot AS (
       |  SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
       |shared AS (
       |  SELECT doc_id, count(*) AS n_shared
       |  FROM tr JOIN ev USING (sh) GROUP BY doc_id)
       |SELECT t.doc_id, t.n_shingles, s.n_shared,
       |  round(s.n_shared / CAST(t.n_shingles AS DOUBLE), 4) + 0.0 AS shared_frac
       |FROM tot t JOIN shared s USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Exact-substring overlap (Lee et al., "Deduplicating Training Data
  // Makes Language Models Better", ACL 2022 — the substring-dedup
  // primitive): find document pairs sharing a VERBATIM run of >= minRun
  // consecutive tokens, and report the longest such run per pair.
  // --------------------------------------------------------------------

  /** Pairs of documents sharing an exact token run.
    *
    * Relational formulation (suffix arrays are the single-machine tool;
    * this is the join-parallel equivalent):
    *  1. every doc emits its rolling `winTokens`-token windows (a
    *     generator over a closed-form position range — no self-join);
    *     windows travel as md5 digests, 32 bytes regardless of L;
    *  2. a doc-frequency cap (`2 <= df <= maxDf`) drops both unique
    *     windows (no pair can form) and degenerate spam windows
    *     ("batch batch batch…" repeated across thousands of docs) —
    *     the cap bounds self-join cost by maxDf·Σdf, never n²;
    *  3. matching positions join per window; on each pair's match
    *     DIAGONAL (pa − pb), consecutive positions are grouped by the
    *     gaps-and-islands trick (pa − row_number is constant within a
    *     run), so an island of n matched windows is a verbatim shared
    *     run of n + L − 1 tokens.
    *
    * Every quantity is a position or a count — integer-exact across
    * engines. The df cap can only SHORTEN a reported run (by punching
    * holes in spam regions), identically on both sides.
    *
    * Scale: windows ∝ corpus tokens; shuffles key on window digest,
    * then (pair, diag) — both well-spread. maxDf is the skew valve.
    */
  def substringOverlap(spark: SparkSession, sfDir: String, winTokens: Int = 12,
      maxDf: Int = 50, minRun: Int = 20): DataFrame = {
    val L = winTokens
    val wins = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= L)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) - L)).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("t"), col("pos") + 1, lit(L)))).as("w"))
    // two consumers (the df filter and the semi-joined spine): one
    // window explode + md5 pass, not two (r14)
    val winsT = Truncate(wins, "subover-wins", big = true)
    val keep = winsT.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("w"))
    // self-joined on the window key: truncate so the semi-join over
    // the window table runs once, not once per side (r14)
    val rare = Truncate(winsT.join(keep, Seq("w")), "subover-rare", big = true)
    val m = rare.select(col("w"), col("doc_id").as("da"), col("pos").as("pa"))
      .join(rare.select(col("w"), col("doc_id").as("db"), col("pos").as("pb")), Seq("w"))
      .filter(col("da") < col("db"))
    import org.apache.spark.sql.expressions.Window
    val byDiag = Window.partitionBy(col("da"), col("db"), col("diag")).orderBy(col("pa"))
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("island", col("pa") - row_number().over(byDiag))
      .groupBy(col("da"), col("db"), col("diag"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("da"), col("db"))
      .agg((max(col("len")) + (L - 1)).as("max_run_tokens"),
        count(lit(1)).as("n_runs"))
      .filter(col("max_run_tokens") >= minRun)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("max_run_tokens"), col("n_runs"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of [[substringOverlap]] — `winTokens`/`maxDf`/`minRun`
    * interpolated with the same defaults so non-default calls keep
    * parity. */
  def substringOverlapSql(winTokens: Int = 12, maxDf: Int = 50,
      minRun: Int = 20): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |wins0 AS (
      |  SELECT doc_id, t, unnest(generate_series(0, len(t) - $winTokens)) AS pos
      |  FROM toks WHERE len(t) >= $winTokens),
      |wins AS (
      |  SELECT doc_id, pos, md5(array_to_string(t[pos+1 : pos+$winTokens], ' ')) AS w
      |  FROM wins0),
      |freq AS (
      |  SELECT w FROM wins GROUP BY w
      |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $maxDf),
      |rare AS (SELECT wins.* FROM wins SEMI JOIN freq USING (w)),
      |m AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      |  FROM rare a JOIN rare b USING (w) WHERE a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT da, db, pa - pb AS diag, pa,
      |    row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS rn
      |  FROM m),
      |runs AS (
      |  SELECT da, db, count(*) AS len
      |  FROM isl GROUP BY da, db, diag, pa - rn)
      |SELECT da AS doc_a, db AS doc_b,
      |  max(len) + ${winTokens - 1} AS max_run_tokens, count(*) AS n_runs
      |FROM runs GROUP BY da, db HAVING max(len) + ${winTokens - 1} >= $minRun
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Sparse TF-IDF cosine over LSH candidates — the sparse-vector twin
    * of the dense embedding cosine in [[Similarity]]: documents as
    * bag-of-words vectors weighted tf·ln(N/df), candidate pairs from
    * the SAME MinHash band index the Jaccard queries use (rare-term
    * blocking is useless on this corpus: the vocabulary is 31 tokens,
    * so no term is rare), scored by exact sparse dot product.
    *
    * Engine parity: weights are INTEGER (tf × idf rounded to 1e-4,
    * ≤ ~10⁷), so dot products and squared norms are exact BIGINT sums —
    * order-free where double summation would be partition-order-
    * dependent. Only the final cosine divides, in one letter-identical
    * double expression. Zero-norm docs (every token at df = N) are
    * filtered before the division on both sides.
    *
    * Scale: candidates never materialize payloads (band equi-join on
    * ids); the dot product joins the (doc, token, w) table — sharded by
    * its natural keys — only for candidate rows. The df table is
    * token-keyed and joined WITHOUT a broadcast hint: vocabulary grows
    * with real corpora, and AQE may still runtime-broadcast it when
    * small. */
  def sparseCosinePairs(spark: SparkSession, sfDir: String, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // doc-sized signature table, self-joined: truncate so the MinHash
    // signature pass runs once, not once per join side (r14)
    val banded = Truncate(bandIndexOf(docs), "sparsecos-bands")
    val a = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band_no"), col("band_val"), col("doc_id").as("doc_b"))
    // pair-id-sized; truncated: feeds the candidate-id set + the dot
    // chain (r15)
    val candidates = Truncate(a.join(b, Seq("band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct(), "sparsecos-cand")
    val toks = docs.select(col("doc_id"), explode(tokens).as("token"))
    // tf has one row per (doc, token), so df = rows per token — derive
    // it from tf instead of a second full explode + count-distinct
    // pass (identical counts by construction; r14). The df table is
    // vocab-sized: truncate THAT, not the corpus postings.
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = Truncate(tf.groupBy(col("token")).agg(count(lit(1)).as("df")),
      "sparsecos-df")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // Weighted postings are only ever consumed for CANDIDATE docs
    // (norms join the pair output; both dot arms join candidates):
    // re-derive tf for the candidate-pruned corpus slice and
    // checkpoint the candidate-sized postings — r14 checkpointed the
    // FULL corpus postings table (§5 scale risk, VERDICT r14 item 3).
    // df/n_docs stay corpus-global, so weights are unchanged; a doc's
    // weight row depends only on its own tokens, so pruning docs
    // changes no surviving row.
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .unionByName(candidates.select(col("doc_b").as("doc_id"))).distinct()
    val tfCand = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val w = Truncate(tfCand.join(df, Seq("token")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf") * round(log(col("n_docs") / col("df")) * 10000).cast("long")).as("w")),
      "sparsecos-w")
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("n2"))
    val dot = candidates
      .join(w.select(col("doc_id").as("doc_a"), col("token"), col("w").as("wa")), Seq("doc_a"))
      .join(w.select(col("doc_id").as("doc_b"), col("token"), col("w").as("wb")),
        Seq("doc_b", "token"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dot
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2a")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2b")), Seq("doc_b"))
      .filter(col("n2a") > 0 && col("n2b") > 0)
      .select(col("doc_a"), col("doc_b"),
        (round(col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))), 4) + lit(0.0))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  /** Oracle twin of [[sparseCosinePairs]] — `topK` interpolated with
    * the same default so non-default calls keep parity. */
  def sparseCosinePairsSql(topK: Int = 20): String =
    s"""WITH sigs AS (
       |  SELECT doc_id,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2)),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
       |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |w AS (
       |  SELECT doc_id, token,
       |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS w
       |  FROM tf JOIN df USING (token) CROSS JOIN n),
       |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id),
       |dot AS (
       |  SELECT c.doc_a, c.doc_b, CAST(sum(wa.w * wb.w) AS BIGINT) AS dot
       |  FROM cand c
       |  JOIN w wa ON wa.doc_id = c.doc_a
       |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.token = wa.token
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT d.doc_a, d.doc_b,
       |  round(CAST(d.dot AS DOUBLE) /
       |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4) + 0.0 AS cosine
       |FROM dot d
       |JOIN norms na ON na.doc_id = d.doc_a
       |JOIN norms nb ON nb.doc_id = d.doc_b
       |WHERE na.n2 > 0 AND nb.n2 > 0
       |ORDER BY cosine DESC, doc_a, doc_b
       |LIMIT $topK""".stripMargin

  // --------------------------------------------------------------------
  // LSH (bands × rows) tuning table — the s-curve, measured
  // --------------------------------------------------------------------

  /** The engineering table an LSH deployment is tuned from: every
    * (bands b, rows-per-band r) layout of the 4 shared MinHash
    * signatures, with measured candidate volume, confirmed near-dups
    * (exact Jaccard ≥ 0.5 on candidates), precision and recall. The
    * collision probability 1−(1−s^r)^b says more rows per band sharpen
    * precision and more bands buy recall — this query turns that
    * s-curve into observed ppm on the actual corpus, which is how a
    * pipeline picks its layout before a 100 TB run (the sketch-WIDTH
    * sibling is [[graft.ops.Sketch.minhashAccuracy]]).
    *
    * Ground truth is the b=4,r=1 layout's confirmed pairs — every
    * other layout's candidate set is PROVABLY a subset (sharing a
    * concatenated band implies sharing each component band), so recall
    * is exact relative to the most permissive layout measured, the
    * standard corpus-scale practice (all-pairs truth is n² by
    * definition — the thing LSH exists to avoid).
    *
    * Scale: one signature build (shared scheme), 6 layouts × ≤ 4 band
    * rows per doc, candidates from one equi self-join on
    * (cfg, band_no, band_val) with the [[guardHotBuckets]] cap logic
    * per layout; only the most-permissive layout's candidates pay the
    * exact-Jaccard verify, every other layout joins that verified
    * table by pair key. */
  def lshBandTune(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // one signature row per doc (tiny), consumed by SIX layout
    // branches: materialize once — without this every branch re-runs
    // the full shingle→md5→min pass (the query's dominant cost).
    // Truncated via the posture flag: durable parquet on a cluster
    // (executor loss must not kill the whole tune), localCheckpoint
    // locally.
    val sigs = Truncate(signaturesOf(docs), "bandtune-sigs")
    def sv(i: Int): Column = col(s"sig$i").cast("string")
    def cat(is: Int*): Column =
      concat(is.map(sv).flatMap(c => Seq(c, lit("|"))).dropRight(1): _*)
    def layout(name: String, b: Int, r: Int, bands: Seq[Column]): DataFrame =
      sigs.select(lit(name).as("cfg"), lit(b.toLong).as("n_bands"), lit(r.toLong).as("n_rows"),
        col("doc_id"),
        explode(array(bands.zipWithIndex.map { case (bv, i) =>
          struct(lit(i + 1).as("band_no"), bv.as("band_val")) }: _*)).as("x"))
        .select(col("cfg"), col("n_bands"), col("n_rows"), col("doc_id"),
          col("x.band_no"), col("x.band_val"))
    val banded = Seq(
        layout("b1r1", 1, 1, Seq(cat(0))),
        layout("b2r1", 2, 1, Seq(cat(0), cat(1))),
        layout("b4r1", 4, 1, Seq(cat(0), cat(1), cat(2), cat(3))),
        layout("b1r2", 1, 2, Seq(cat(0, 1))),
        layout("b2r2", 2, 2, Seq(cat(0, 1), cat(2, 3))),
        layout("b1r4", 1, 4, Seq(cat(0, 1, 2, 3))))
      .reduce(_.unionByName(_))
      .filter(col("band_val").isNotNull)
    // hot-bucket cap per (cfg, band_no, band_val) — same failure mode,
    // same loud error as guardHotBuckets, with the layout in the key
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cfg"), col("band_no"), col("band_val"))
    val guarded = banded.withColumn("bucket_n", count(lit(1)).over(wB))
      .filter(when(col("bucket_n") <= maxLshBucket, lit(true))
        .otherwise(raise_error(concat(
          lit(s"LSH bucket over cap ($maxLshBucket): cfg="), col("cfg"),
          lit(" band_no="), col("band_no"), lit(" band_val="), col("band_val"),
          lit(" size="), col("bucket_n")))))
      .drop("bucket_n")
    // self-joined (a/b) — truncate so the 6-layout union + guard
    // window run once, not once per side (r14)
    val guardedT = Truncate(guarded, "bandtune-guarded")
    val a = guardedT.select(col("cfg"), col("n_bands"), col("n_rows"),
      col("band_no"), col("band_val"), col("doc_id").as("doc_a"))
    val b = guardedT.select(col("cfg"), col("band_no"), col("band_val"),
      col("doc_id").as("doc_b"))
    // two consumers (the confirm filter and the per-cfg report):
    // truncate so the band self-join runs once (r14)
    val cand = Truncate(a.join(b, Seq("cfg", "band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("cfg"), col("n_bands"), col("n_rows"), col("doc_a"), col("doc_b"))
      .distinct(), "bandtune-cand")
    // token arrays fetched for the VERIFY layout's candidates only,
    // checkpointed candidate-sized for the two arms — r14 checkpointed
    // the full corpus token-array table (§5 scale risk, VERDICT r14
    // item 3)
    val verifyCand = cand.filter(col("cfg") === "b4r1")
      .select(col("doc_a"), col("doc_b"))
    val candIds = verifyCand.select(col("doc_a").as("doc_id"))
      .unionByName(verifyCand.select(col("doc_b").as("doc_id"))).distinct()
    val docToks = Truncate(
      docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_distinct(tokens).as("toks")), "bandtune-toks")
    val confirmed = verifyCand
      .join(docToks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(docToks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .filter(round(size(array_intersect(col("toks_a"), col("toks_b"))) /
        size(array_distinct(concat(col("toks_a"), col("toks_b")))).cast("double"), 4)
        >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_dup"))
    val truth = confirmed.agg(count(lit(1)).as("n_truth"))
    cand.join(confirmed, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("cfg"))
      .agg(max(col("n_bands")).as("n_bands"), max(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_candidates"),
        sum(coalesce(col("is_dup"), lit(0L))).cast("long").as("n_confirmed"))
      .crossJoin(broadcast(truth)) // 1-row bound frame
      .withColumn("precision_ppm", expr("(n_confirmed * 1000000) DIV n_candidates"))
      // dup-free corpus: n_truth = 0 and Spark DIV-by-zero vs DuckDB //
      // are not guaranteed to agree — pin the degenerate case to NULL
      // explicitly on BOTH sides
      .withColumn("recall_ppm",
        expr("CASE WHEN n_truth = 0 THEN NULL ELSE (n_confirmed * 1000000) DIV n_truth END"))
      .select(col("cfg"), col("n_bands"), col("n_rows"), col("n_candidates"),
        col("n_confirmed"), col("precision_ppm"), col("recall_ppm"))
      .orderBy(col("cfg"))
  }

  /** Oracle twin of [[lshBandTune]] — signature arithmetic from the
    * shared scheme ([[minhashSqlDuck]]), layouts enumerated by
    * UNION ALL. */
  def lshBandTuneSql: String = {
    def b(cfg: String, nb: Int, nr: Int, no: Int, expr: String): String =
      s"SELECT '$cfg' AS cfg, $nb AS n_bands, $nr AS n_rows, doc_id, $no AS band_no, $expr AS band_val FROM sigs"
    def cat(is: Int*): String = is.map(i => s"sig$i::VARCHAR").mkString(" || '|' || ")
    val layouts = Seq(
      b("b1r1", 1, 1, 1, cat(0)),
      b("b2r1", 2, 1, 1, cat(0)), b("b2r1", 2, 1, 2, cat(1)),
      b("b4r1", 4, 1, 1, cat(0)), b("b4r1", 4, 1, 2, cat(1)),
      b("b4r1", 4, 1, 3, cat(2)), b("b4r1", 4, 1, 4, cat(3)),
      b("b1r2", 1, 2, 1, cat(0, 1)),
      b("b2r2", 2, 2, 1, cat(0, 1)), b("b2r2", 2, 2, 2, cat(2, 3)),
      b("b1r4", 1, 4, 1, cat(0, 1, 2, 3))).mkString("\n  UNION ALL ")
    s"""WITH sigs AS (
       |  SELECT doc_id,
       |    ${minhashSqlDuck(0)} AS sig0, ${minhashSqlDuck(1)} AS sig1,
       |    ${minhashSqlDuck(2)} AS sig2, ${minhashSqlDuck(3)} AS sig3
       |  FROM documents),
       |banded AS (
       |  $layouts),
       |cand AS (
       |  SELECT DISTINCT x.cfg, x.n_bands, x.n_rows,
       |    x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.cfg = y.cfg AND x.band_no = y.band_no AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id),
       |toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |confirmed AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM (SELECT DISTINCT doc_a, doc_b FROM cand WHERE cfg = 'b4r1') c
       |  JOIN toks ta ON ta.doc_id = c.doc_a
       |  JOIN toks tb ON tb.doc_id = c.doc_b
       |  WHERE round(len(list_intersect(ta.toks, tb.toks)) /
       |        CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS DOUBLE), 4) >= 0.5),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM confirmed),
       |per AS (
       |  SELECT cfg, CAST(max(n_bands) AS BIGINT) AS n_bands,
       |    CAST(max(n_rows) AS BIGINT) AS n_rows,
       |    count(*) AS n_candidates,
       |    CAST(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_confirmed
       |  FROM cand c
       |  LEFT JOIN confirmed f ON c.doc_a = f.doc_a AND c.doc_b = f.doc_b
       |  GROUP BY cfg)
       |SELECT cfg, n_bands, n_rows, n_candidates, n_confirmed,
       |  CAST(n_confirmed * 1000000 // n_candidates AS BIGINT) AS precision_ppm,
       |  CAST(CASE WHEN n_truth = 0 THEN NULL
       |       ELSE n_confirmed * 1000000 // n_truth END AS BIGINT) AS recall_ppm
       |FROM per CROSS JOIN tot
       |ORDER BY cfg""".stripMargin
  }

  // --------------------------------------------------------------------
  // Normalization-tier dedup (the CCNet/RefinedWeb pre-dedup step)
  // --------------------------------------------------------------------

  /** Canonical text normalization shared by engine and oracle:
    * lowercase, strip non-alphanumerics, collapse runs of spaces, trim.
    * Restricted to the java.util.regex ∩ DuckDB-RE2 common subset (the
    * [[graft.ops.Pipeline.redactPii]] discipline); the corpus is ASCII
    * so `lower` is engine-identical. */
  private def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Dup mass that only NORMALIZATION exposes — the tier between exact
    * dedup (byte-identical) and MinHash (set-similar): pages differing
    * only in case, punctuation or whitespace are byte-distinct yet
    * certainly redundant, and every production web pipeline (CCNet,
    * RefinedWeb, FineWeb) exact-dedups on a normalized digest for this
    * reason. Per source: docs in a raw-digest cohort > 1, docs in a
    * normalized-digest cohort > 1, and `norm_only_docs` — the mass the
    * normalized tier catches that the raw tier misses (with its ppm).
    * Cohorts are corpus-wide (cross-source dups count), attribution is
    * per source, the [[Selection.prefixDup]] shape.
    *
    * Scale: normalization is stateless per row; each cohort sizing is
    * one equi-join on a 32-byte digest — two `q_dedup_exact`-budget
    * shuffles, never text×text. */
  def normDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // three consumers (rawC, normC, and the join spine) each re-run
    // the scan plus the regex-normalize + double-md5 over full text —
    // the query's dominant per-row cost — unless the fingerprint table
    // is truncated once (r14: 3 corpus passes → 1, measured)
    val fps = Truncate(Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        md5(col("text")).as("raw_fp"), md5(normText(col("text"))).as("norm_fp")),
      "normdedup-fps")
    val rawC = fps.groupBy(col("raw_fp")).agg(count(lit(1)).as("n_raw"))
    val normC = fps.groupBy(col("norm_fp")).agg(count(lit(1)).as("n_norm"))
    fps.join(rawC, Seq("raw_fp")).join(normC, Seq("norm_fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_raw") > 1, 1L).otherwise(0L)).as("raw_dup_docs"),
        sum(when(col("n_norm") > 1, 1L).otherwise(0L)).as("norm_dup_docs"),
        sum(when(col("n_norm") > 1 && col("n_raw") === 1, 1L).otherwise(0L))
          .as("norm_only_docs"))
      .withColumn("norm_only_ppm", expr("(norm_only_docs * 1000000) DIV n_docs"))
      .orderBy(col("source"))
  }

  def normDedupSql: String =
    """WITH fps AS (
      |  SELECT source, doc_id, md5(text) AS raw_fp,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |                            ' +', ' ', 'g'))) AS norm_fp
      |  FROM documents
      |), rawc AS (SELECT raw_fp, CAST(count(*) AS BIGINT) AS n_raw FROM fps GROUP BY raw_fp),
      |normc AS (SELECT norm_fp, CAST(count(*) AS BIGINT) AS n_norm FROM fps GROUP BY norm_fp)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_raw > 1 THEN 1 ELSE 0 END) AS BIGINT) AS raw_dup_docs,
      |  CAST(sum(CASE WHEN n_norm > 1 THEN 1 ELSE 0 END) AS BIGINT) AS norm_dup_docs,
      |  CAST(sum(CASE WHEN n_norm > 1 AND n_raw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS norm_only_docs,
      |  CAST(CAST(sum(CASE WHEN n_norm > 1 AND n_raw = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |       // CAST(count(*) AS BIGINT) AS BIGINT) AS norm_only_ppm
      |FROM fps JOIN rawc USING (raw_fp) JOIN normc USING (norm_fp)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // Cross-method agreement audit: MinHash-LSH vs SimHash
  // --------------------------------------------------------------------

  // --------------------------------------------------------------------
  // Content-defined chunking (CDC) duplicate-chunk audit
  // --------------------------------------------------------------------

  /** Content-defined chunking — the storage-dedup mode the shingle
    * family doesn't cover (rsync/LBFS/FastCDC): chunk boundaries fall
    * where a per-token hash satisfies `h % 16 == 0`, so an insertion
    * shifts ONE chunk instead of re-aligning every fixed-width block,
    * and identical passages chunk identically wherever they appear.
    * Each chunk gets an order-sensitive polynomial fingerprint (the
    * [[graft.ops.Text.rollingFingerprints]] fold); the audit reports,
    * per source: chunk volume, distinct chunks, and the occurrence
    * mass of chunks appearing in ≥ 2 documents — the cross-document
    * duplicated-passage rate at chunk granularity (between the doc
    * granularity of exact dedup and the n-gram granularity of
    * [[substringOverlap]]).
    *
    * Scale: explode → per-doc window (chunk ids are a prefix sum of
    * boundary flags, one shuffle on doc_id) → per-chunk fold (the
    * only order-sensitive step, folded over the chunk's own sorted
    * token list — deterministic) → two count aggs on (source, fp).
    * Never doc×doc; the fingerprint table is the join surface. */
  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame =
    cdcSummaryOf(chunkFingerprintsOf(Tables.documents(spark, sfDir)))

  /** (doc_id, source, fp) — one row per content-defined chunk of any
    * (doc_id, source, text) frame. */
  private[ops] def chunkFingerprintsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 1000003L
    val M = 2147483647L
    val toks = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "token")))
      .select(col("doc_id"), col("source"), (col("pos0") + 1).as("pos"),
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long").as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id",
        coalesce(sum((col("h") % 16 === 0).cast("long")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("hs"))
      .select(col("doc_id"), col("source"),
        aggregate(transform(col("hs"), x => x.getField("h")), lit(0L),
          (acc, x) => pmod(acc * B + x, lit(M))).as("fp"))
  }

  private[ops] def cdcSummaryOf(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("nd"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).cast("long").as("n_chunks"),
        count(lit(1)).cast("long").as("n_distinct_chunks"),
        sum(when(col("nd") >= 2, col("occ")).otherwise(0L)).cast("long").as("n_shared_occ"))
      .withColumn("shared_ppm", expr("(n_shared_occ * 1000000) DIV n_chunks"))
      .orderBy(col("source"))

  /** Oracle twin of [[cdcChunks]] — the zip-unnest position idiom and
    * the identical boundary/fold arithmetic. */
  def cdcChunksSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, pos,
      |    ('0x' || substr(md5(token), 1, 8))::BIGINT AS h
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split(text, ' ')) AS token,
      |          unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
      |        FROM documents)),
      |marked AS (
      |  SELECT doc_id, source, pos, h,
      |    coalesce(sum(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      |  FROM toks),
      |chunks AS (
      |  SELECT doc_id, source,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(h ORDER BY pos)),
      |      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp
      |  FROM marked GROUP BY doc_id, source, chunk_id),
      |fps AS (
      |  SELECT source, fp, CAST(count(*) AS BIGINT) AS occ,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
      |  FROM chunks GROUP BY source, fp)
      |SELECT source,
      |  CAST(sum(occ) AS BIGINT) AS n_chunks,
      |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      |  CAST(sum(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS BIGINT) AS n_shared_occ,
      |  CAST(CAST(sum(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS BIGINT) * 1000000
      |    // CAST(sum(occ) AS BIGINT) AS BIGINT) AS shared_ppm
      |FROM fps GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // Byte-level FastCDC (gear hash, normalized min/normal/max chunking)
  // --------------------------------------------------------------------

  /** Canonical FastCDC constants + gear table live with the native
    * expression ([[graft.functions.FastCdc]]); aliased here for the
    * oracle-SQL interpolation below. */
  private def gearTable = graft.functions.FastCdc.gear
  private def cdcMinLen = graft.functions.FastCdc.minLen
  private def cdcNormLen = graft.functions.FastCdc.normLen
  private def cdcMaxLen = graft.functions.FastCdc.maxLen

  /** Byte-level content-defined chunking — the PRODUCTION storage-dedup
    * mode ([[cdcChunks]] chunks at token granularity; rsync/LBFS/
    * FastCDC operate on bytes): a gear rolling hash
    * `g ← (2g + GEAR[b]) mod 2³¹` over the document's bytes cuts where
    * the hash satisfies the (length-normalized) mask, so an insertion
    * shifts ONE chunk and the cut points re-synchronize at the next
    * boundary — identical passages chunk identically wherever they
    * appear. Each chunk carries a polynomial fingerprint of its raw
    * bytes. The audit reports, per source: chunk volume, distinct
    * chunks, cross-document duplicated-occurrence mass, and the max
    * chunk length (provably ≤ `cdcMaxLen` — the normalization bound).
    *
    * Exactness: the whole fold is integer arithmetic over byte values
    * (docs are single-byte text; multi-byte codepoints would use the
    * same fold over a binary cast), sequential per document — the
    * oracle replays the identical left fold, so results hash-match.
    *
    * Scale: ONE stateless pass per document (no explode of the byte
    * stream — the fold runs inside a codegen'd `aggregate` expression,
    * then only the CHUNK LIST explodes: ~len/normLen rows per doc),
    * followed by the same two counts-table aggs as [[cdcChunks]].
    * Chunking is embarrassingly parallel per document; never doc×doc. */
  def cdcBytes(spark: SparkSession, sfDir: String): DataFrame =
    byteChunksOf(Tables.documents(spark, sfDir))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("doc_id")).as("nd"),
        max(col("len")).as("mx"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).cast("long").as("n_chunks"),
        count(lit(1)).cast("long").as("n_distinct_chunks"),
        sum(when(col("nd") >= 2, col("occ")).otherwise(0L)).cast("long")
          .as("n_shared_occ"),
        max(col("mx")).cast("long").as("max_len"))
      .withColumn("shared_ppm", expr("(n_shared_occ * 1000000) DIV n_chunks"))
      .orderBy(col("source"))

  /** (doc_id, source, len, fp) — one row per byte-level chunk of any
    * (doc_id, source, text) frame, via the NATIVE
    * [[graft.functions.FastCdcChunks]] expression (one tight JVM loop
    * per document; the higher-order `aggregate` twin below dispatches
    * interpreted lambdas per BYTE and measured ~8× slower —
    * equivalence on single-byte text pinned in Round7OpsSpec). */
  private[ops] def byteChunksOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(graft.functions.FastCdc.chunks(col("text"))).as("ch"))
      .select(col("doc_id"), col("source"),
        col("ch.len").as("len"), col("ch.fp").as("fp"))

  /** The declarative twin of [[byteChunksOf]]: the identical fold as a
    * Catalyst higher-order `aggregate` over `ascii()` codes — kept as
    * the cross-representation witness (native expression ≡ HOF fold ≡
    * recursive-CTE oracle on single-byte text). The accumulator is
    * (gear g, chunk len, chunk fp, finished chunks); a boundary
    * resets the running triple and appends (len, fp); the finisher
    * flushes the tail chunk. */
  private[ops] def byteChunksDeclarative(docs: DataFrame): DataFrame = {
    val gear = typedlit(gearTable.toSeq)
    val chunkArr = array().cast("array<struct<len:bigint,fp:bigint>>")
    def state(g: Column, len: Column, fp: Column, chunks: Column): Column =
      struct(g.as("g"), len.as("len"), fp.as("fp"), chunks.as("chunks"))
    val folded = aggregate(
      // split("") leaves a trailing empty string on some engines — the
      // length filter makes the byte stream exact either way
      transform(filter(split(col("text"), ""), c => length(c) === 1),
        c => ascii(c).cast("long")),
      state(lit(0L), lit(0L), lit(0L), chunkArr),
      (a, b) => {
        val g2 = (a.getField("g") * 2 + element_at(gear, (b + 1).cast("int"))) % lit(2147483648L)
        val l2 = a.getField("len") + 1
        val f2 = (a.getField("fp") * 1000003L + b) % lit(2147483647L)
        val boundary =
          (l2 >= cdcMinLen && l2 < cdcNormLen && g2 % 128 === 0) ||
          (l2 >= cdcNormLen && g2 % 32 === 0) ||
          (l2 >= cdcMaxLen)
        when(boundary,
          state(lit(0L), lit(0L), lit(0L),
            concat(a.getField("chunks"), array(struct(l2.as("len"), f2.as("fp"))))))
        .otherwise(state(g2, l2, f2, a.getField("chunks")))
      },
      a => when(a.getField("len") > 0,
          concat(a.getField("chunks"),
            array(struct(a.getField("len").as("len"), a.getField("fp").as("fp")))))
        .otherwise(a.getField("chunks")))
    docs.select(col("doc_id"), col("source"), explode(folded).as("ch"))
      .select(col("doc_id"), col("source"),
        col("ch.len").as("len"), col("ch.fp").as("fp"))
  }

  /** Oracle twin of [[cdcBytes]] — the identical sequential fold
    * replayed as a RECURSIVE CTE, one iteration per byte position
    * (chunk records accumulate in a string, split back into rows at
    * the end). Deliberately NOT `list_reduce`: DuckDB 1.0 mis-carries
    * nested-list accumulator fields across rows in vectorized
    * execution (verified with a minimal repro — a 10-byte cut-every-3
    * fold returns one chunk instead of three once more than one row is
    * in flight), so the step-per-position CTE is the trustworthy
    * sequential-fold encoding. Gear table interpolated as the same
    * literals the Spark side bakes in. */
  def cdcBytesSql: String =
    s"""WITH RECURSIVE ${cdcChunksCteSql("TRUE")},
       |fps AS (
       |  SELECT source, fp, CAST(count(*) AS BIGINT) AS occ,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
       |    CAST(max(len) AS BIGINT) AS mx
       |  FROM chunks GROUP BY source, fp)
       |SELECT source,
       |  CAST(sum(occ) AS BIGINT) AS n_chunks,
       |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       |  CAST(sum(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS BIGINT) AS n_shared_occ,
       |  CAST(max(mx) AS BIGINT) AS max_len,
       |  CAST(CAST(sum(CASE WHEN nd >= 2 THEN occ ELSE 0 END) AS BIGINT) * 1000000
       |    // CAST(sum(occ) AS BIGINT) AS BIGINT) AS shared_ppm
       |FROM fps GROUP BY source ORDER BY source""".stripMargin

  /** The FastCDC byte-fold replay as reusable CTE text ending in a
    * `chunks(doc_id, source, len, fp)` CTE (no leading WITH; the
    * caller must say `WITH RECURSIVE`). `docFilter` bounds the fold to
    * the documents a query actually reads — the recursive CTE is one
    * iteration per byte POSITION, so replaying only the queried docs
    * keeps the oracle proportional to the query. */
  private[graft] def cdcChunksCteSql(docFilter: String): String = {
    val g2 = "((f.g * 2 + t[CAST(b.b AS INT) + 1]) % 2147483648)"
    val l2 = "(f.len + 1)"
    val f2 = "((f.fp * 1000003 + b.b) % 2147483647)"
    val boundary = s"(($l2 >= $cdcMinLen AND $l2 < $cdcNormLen AND $g2 % 128 = 0) " +
      s"OR ($l2 >= $cdcNormLen AND $g2 % 32 = 0) OR $l2 >= $cdcMaxLen)"
    s"""gear AS (SELECT ${gearTable.mkString("[", ", ", "]")} AS t),
       |cdc_docs AS (SELECT * FROM documents WHERE $docFilter),
       |bytes AS (
       |  SELECT doc_id, pos, CAST(ord(c) AS BIGINT) AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c,
       |          unnest(range(1, len(text) + 1)) AS pos
       |        FROM cdc_docs)),
       |lens AS (SELECT doc_id, source, len(text) AS n FROM cdc_docs),
       |fold AS (
       |  SELECT doc_id, 0 AS i, CAST(0 AS BIGINT) AS g, CAST(0 AS BIGINT) AS len,
       |    CAST(0 AS BIGINT) AS fp, '' AS chunks
       |  FROM cdc_docs
       |  UNION ALL
       |  SELECT f.doc_id, f.i + 1,
       |    CASE WHEN $boundary THEN CAST(0 AS BIGINT) ELSE $g2 END,
       |    CASE WHEN $boundary THEN CAST(0 AS BIGINT) ELSE $l2 END,
       |    CASE WHEN $boundary THEN CAST(0 AS BIGINT) ELSE $f2 END,
       |    CASE WHEN $boundary
       |      THEN f.chunks || CAST($l2 AS VARCHAR) || ',' || CAST($f2 AS VARCHAR) || ';'
       |      ELSE f.chunks END
       |  FROM fold f JOIN bytes b ON b.doc_id = f.doc_id AND b.pos = f.i + 1
       |  CROSS JOIN gear),
       |final AS (
       |  SELECT f.doc_id, l.source,
       |    f.chunks || CASE WHEN f.len > 0
       |      THEN CAST(f.len AS VARCHAR) || ',' || CAST(f.fp AS VARCHAR) || ';'
       |      ELSE '' END AS cs
       |  FROM fold f JOIN lens l ON l.doc_id = f.doc_id AND f.i = l.n),
       |chunks AS (
       |  SELECT doc_id, source,
       |    CAST(string_split(ch, ',')[1] AS BIGINT) AS len,
       |    CAST(string_split(ch, ',')[2] AS BIGINT) AS fp
       |  FROM (SELECT doc_id, source,
       |          unnest(list_filter(string_split(cs, ';'), x -> x <> '')) AS ch
       |        FROM final))""".stripMargin
  }

  /** Method-agreement audit — the meta-question a pipeline owner asks
    * before trusting ONE near-dup detector at 100 TB: how much do the
    * two independent families (MinHash-LSH on token-set Jaccard ≥ 0.5
    * vs SimHash 4-band Hamming ≤ 3) agree on THIS corpus? One summary
    * row: each method's pair count, the intersection, the union, and
    * the Jaccard agreement in ppm. High agreement = either detector
    * suffices; low agreement = the corpus has a near-dup structure one
    * of the models is blind to (set-overlap vs weighted-bit geometry)
    * and the union is the safe drop set.
    *
    * Scale: both pair generators are the banded equi-joins already in
    * service (the LSH side rides the shared persisted
    * [[nearDupPairTable]]); the comparison is a full-outer equi-join
    * of two confirmed-pair tables (tiny next to the corpus) and one
    * 1-row agg. NULL-guarded agreement on a dup-free corpus (the
    * [[lshBandTune]] division lesson). */
  def dedupMethodAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val lsh = nearDupPairTable(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_lsh"))
    val sim = simhashNearDup(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_sim"))
    lsh.join(sim, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        count(when(col("in_lsh").isNotNull, 1)).cast("long").as("n_lsh"),
        count(when(col("in_sim").isNotNull, 1)).cast("long").as("n_simhash"),
        count(when(col("in_lsh").isNotNull && col("in_sim").isNotNull, 1))
          .cast("long").as("n_both"),
        count(lit(1)).cast("long").as("n_union"))
      .select(col("n_lsh"), col("n_simhash"), col("n_both"), col("n_union"),
        when(col("n_union") === 0L, lit(null).cast("long"))
          .otherwise(round(col("n_both") * lit(1000000.0) / col("n_union")).cast("long"))
          .as("agreement_ppm"))
  }

  /** Oracle twin of [[dedupMethodAgreement]] — both method CTE chains
    * regenerated from the same builders as their own oracles. */
  def dedupMethodAgreementSql: String = {
    val nBands = 4; val maxHamming = 3
    def h(m: Int) = s"(('0x' || substr(md5(token), ${1 + 4 * m}, 4))::BIGINT)"
    val bitSums = (for { m <- 0 until nBands; j <- 0 until 16 } yield
      s"sum(((${h(m)} >> $j) & 1) * 2 - 1) AS s${m}_$j").mkString(", ")
    def field(m: Int) = (0 until 16)
      .map(j => s"CASE WHEN s${m}_$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val fields = (0 until nBands).map(m => s"CAST(${field(m)} AS BIGINT) AS f$m").mkString(", ")
    val hamming = (0 until nBands)
      .map(m => s"bit_count(xor(a.f$m, b.f$m))").mkString(" + ")
    val bandEq = (0 until nBands).map(m => s"a.f$m = b.f$m").mkString(" OR ")
    s"""WITH sigs AS (
       |  SELECT doc_id, list_distinct(string_split(text,' ')) AS toks,
       |    ${bandSqlDuck(0, 1)} AS band1,
       |    ${bandSqlDuck(2, 3)} AS band2
       |  FROM documents),
       |lsh AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b
       |    ON a.doc_id < b.doc_id AND (a.band1 = b.band1 OR a.band2 = b.band2)
       |  WHERE round(len(list_intersect(a.toks, b.toks)) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) >= 0.5),
       |stoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |ssums AS (
       |  SELECT doc_id, $bitSums FROM stoks GROUP BY doc_id),
       |sf AS (
       |  SELECT doc_id, $fields FROM ssums),
       |sim AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sf a JOIN sf b
       |    ON a.doc_id < b.doc_id AND ($bandEq)
       |  WHERE $hamming <= $maxHamming),
       |u AS (
       |  SELECT l.doc_a IS NOT NULL AS in_lsh, s.doc_a IS NOT NULL AS in_sim
       |  FROM lsh l FULL OUTER JOIN sim s
       |    ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b)
       |SELECT
       |  CAST(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
       |  CAST(sum(CASE WHEN in_sim THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash,
       |  CAST(sum(CASE WHEN in_lsh AND in_sim THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |  CAST(count(*) AS BIGINT) AS n_union,
       |  CASE WHEN count(*) = 0 THEN NULL
       |       ELSE CAST(round(sum(CASE WHEN in_lsh AND in_sim THEN 1 ELSE 0 END)
       |         * 1000000.0 / count(*)) AS BIGINT)
       |  END AS agreement_ppm
       |FROM u""".stripMargin
  }
}
