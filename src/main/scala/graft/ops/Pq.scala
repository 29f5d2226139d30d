package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization — the compression side of a billion-vector
  * ANN index (IVF-PQ, Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split each vector into M subspaces,
  * k-means each subspace to K sub-centroids, store each vector as M
  * small codes (here 4×1 byte for a 64-dim float vector: 64× smaller
  * than the raw floats), and score candidates with ASYMMETRIC DISTANCE
  * COMPUTATION — the query is never quantized; per subspace a K-entry
  * dot-product table is precomputed and a candidate's approximate
  * score is M table lookups. Exact re-ranking of the top shortlist
  * restores accuracy.
  *
  * Scale shape (the reason PQ exists): at 10⁹ vectors the raw floats
  * are the storage/IO bottleneck, not the arithmetic. Codes shuffle
  * and scan at bytes/vector; the full embeddings are touched only for
  * the shortlist re-rank (payload-joined by id — the same
  * payload-free-shuffle rule as the IVF probe). Encoding is one
  * broadcast-join of the (M·K·subDim)-row codebook against exploded
  * components with map-side partial aggregation; nothing wider than
  * (vec_id, sub_no, centroid_id, partial) ever shuffles.
  *
  * Engine parity: every ranking-relevant quantity is SCALED-INTEGER
  * arithmetic — components quantized via floor(v·10⁴), distances and
  * dot products are integer sums — so assignment ties, shortlist
  * cut-offs and ADC order are bit-identical in Spark and DuckDB at any
  * partitioning (the hyperplane-LSH integer-dot rule). Training is
  * deterministic (init = subvectors of the K lowest sampled vec_ids,
  * ties to the lower centroid id, float-rounded means), so the oracle
  * contract is the [[Similarity.buildTrainedCentroids]] one: Spark
  * trains once, commits the codebooks to a content-keyed parquet dir,
  * and the DuckDB oracle replays encode + ADC + re-rank from the SAME
  * file.
  */
object Pq {

  /** Subspace count, sub-centroids per subspace. 4×8 on the 64-dim
    * test corpus keeps the oracle replay small; production 10⁹-vector
    * setups run e.g. M=16, K=256 (16 bytes/vector) — same plans, same
    * arithmetic, bigger broadcast table. */
  val M = 4
  val K = 8
  private val Scale = 10000L

  private def scaled(c: Column): Column =
    floor(c.cast("double") * Scale).cast("long")

  /** Exploded scaled components of an embeddings frame:
    * (vec_id, sub_no, spos, v) with spos 1-based inside the subspace. */
  private def components(emb: DataFrame, subDim: Int): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("vec_id"),
        (col("pos") / subDim).cast("int").as("sub_no"),
        (col("pos") % subDim + 1).as("spos"),
        scaled(col("v0")).as("v"))

  /** Exploded scaled codebook components:
    * (sub_no, centroid_id, spos, c). */
  private def codebookComponents(codebooks: DataFrame): DataFrame =
    codebooks.select(col("sub_no"), col("centroid_id"),
        posexplode(col("c_sub")).as(Seq("sp0", "c0")))
      .select(col("sub_no"), col("centroid_id"),
        (col("sp0") + 1).as("spos"), scaled(col("c0")).as("c"))

  /** Per-(vector, subspace) code: nearest sub-centroid by scaled-
    * integer L2, ties to the lower centroid id. Returns
    * (vec_id, sub_no, code). */
  def encode(emb: DataFrame, codebooks: DataFrame, subDim: Int): DataFrame =
    components(emb, subDim)
      .join(broadcast(codebookComponents(codebooks)), Seq("sub_no", "spos"))
      .groupBy(col("vec_id"), col("sub_no"), col("centroid_id"))
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist"))
      .groupBy(col("vec_id"), col("sub_no"))
      .agg(min(struct(col("dist"), col("centroid_id"))).as("best"))
      .select(col("vec_id"), col("sub_no"), col("best.centroid_id").as("code"))

  /** Deterministic per-subspace Lloyd's: one distributed pass per
    * iteration covering ALL subspaces (assign by scaled-int L2 → mean
    * per (sub_no, centroid, spos), collected — model-sized: M·K·subDim
    * rows). Returns (sub_no, centroid_id, c_sub ARRAY<FLOAT>). */
  def trainCodebooks(spark: SparkSession, emb: DataFrame, iters: Int): DataFrame = {
    import spark.implicits._
    val dim = Similarity.fixedEmbeddingWidth(emb, "Pq.trainCodebooks")
      .getOrElse(throw new IllegalArgumentException("Pq: empty corpus"))
    require(dim % M == 0, s"Pq: dim $dim must be divisible by M=$M")
    val subDim = dim / M
    def cbDf(cb: Array[Array[Array[Float]]]): DataFrame =
      (for { m <- cb.indices; j <- cb(m).indices }
        yield (m, j.toLong, cb(m)(j))).toDF("sub_no", "centroid_id", "c_sub")
    // init: subspace slices of the K lowest vec_ids' vectors
    val init = emb.orderBy(col("vec_id")).limit(K)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    var cb: Array[Array[Array[Float]]] =
      Array.tabulate(M)(m => init.map(_.slice(m * subDim, (m + 1) * subDim)))
    // the training set's exploded components are scanned twice per
    // iteration (assign + mean); materialize them once
    val comps = components(emb, subDim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var i = 0
    while (i < iters) {
      val means = comps
        .join(broadcast(codebookComponents(cbDf(cb))), Seq("sub_no", "spos"))
        .groupBy(col("vec_id"), col("sub_no"), col("centroid_id"))
        .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist"))
        .groupBy(col("vec_id"), col("sub_no"))
        .agg(min(struct(col("dist"), col("centroid_id"))).as("best"))
        .select(col("vec_id"), col("sub_no"), col("best.centroid_id").as("code"))
        .join(comps.withColumnRenamed("v", "vraw"),
          Seq("vec_id", "sub_no"))
        .groupBy(col("sub_no"), col("code"), col("spos"))
        .agg((avg(col("vraw")) / Scale).cast("float").as("m"))
        .collect() // ≤ M·K·subDim rows — the MODEL, never the corpus
      val next = cb.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2) - 1) = r.getFloat(3)
      }
      cb = next
      i += 1
    }
    comps.unpersist()
    cbDf(cb)
  }

  /** Where the trained codebooks are committed for the oracle replay —
    * SHARED across JVMs (round 7): the codebooks are deterministic per
    * corpus (fixed sample, fixed init/tie-breaks) and corpus-keyed, so
    * run-scoping only forced every new JVM to retrain (~1 s) — the
    * committed-artifact posture (`Artifacts.commit`, the near-dup
    * pair-table pattern) makes concurrent builders safe. The `v1`
    * segment is the ALGORITHM version: bump it when the training
    * recipe changes, or stale shared artifacts would survive a code
    * change. */
  lazy val PqCodebooksPath: String = s"${Similarity.OracleExportRoot}/shared/pq_codebooks/v1"

  /** Train-and-commit, idempotent per (run, corpus) — the PQ analogue
    * of [[Similarity.buildTrainedCentroids]]. Trains on the
    * deterministic 1-in-4 sample; encode/probe touch every vector. */
  def buildCodebooks(spark: SparkSession, sfDir: String): String = {
    val emb = Tables.embeddings(spark, sfDir)
    val corpusKey = Similarity.corpusKeyOf(emb)
    Artifacts.commit(spark, s"$PqCodebooksPath/k=$corpusKey") { tmp =>
      trainCodebooks(spark, emb.filter(col("vec_id") % 4 === 0), iters = 2)
        .withColumn("corpus_key", lit(corpusKey))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** PQ top-k: ADC over the codes builds an integer approximate-dot
    * shortlist of `shortlist` candidates; exact cosine re-ranks it to
    * `k`. Output contract matches [[Similarity.ivfTrainedTopK]]:
    * (vec_id, cos_sim). */
  def pqTopK(spark: SparkSession, sfDir: String, queryVecId: Long = 0L,
      shortlist: Int = 50, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val exportDir = buildCodebooks(spark, sfDir)
    val codebooks = spark.read.parquet(exportDir).drop("corpus_key")
    val dim = Similarity.fixedEmbeddingWidth(emb, "Pq.pqTopK")
      .getOrElse(return emb.select(col("vec_id"), lit(0.0).as("cos_sim")).limit(0))
    val subDim = dim / M
    // ADC tables: scaled-integer dot of the query's subvectors with
    // every sub-centroid — M·K rows, computed relationally and
    // broadcast (no driver round-trip beyond the codebook read)
    val qComps = components(emb.filter(col("vec_id") === queryVecId), subDim)
      .select(col("sub_no"), col("spos"), col("v").as("qv"))
    val dotTable = codebookComponents(codebooks)
      .join(broadcast(qComps), Seq("sub_no", "spos"))
      .groupBy(col("sub_no"), col("centroid_id"))
      .agg(sum(col("qv") * col("c")).as("qdot"))
    val dt = dotTable.select(col("sub_no").as("dt_sub"),
      col("centroid_id").as("dt_cid"), col("qdot"))
    val approx = encode(emb.filter(col("vec_id") =!= queryVecId), codebooks, subDim)
      .join(broadcast(dt),
        col("sub_no") === col("dt_sub") && col("code") === col("dt_cid"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qdot")).as("approx_dot"))
      // integer score + vec_id tiebreak: the shortlist CUT is
      // bit-deterministic across engines and partitionings
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"))
    val q = emb.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))
    approx.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (round(Similarity.cosine(col("embedding"), col("q_emb")), 4) + lit(0.0)).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // IVF-PQ: coarse inverted lists + PQ-coded RESIDUALS — the combined
  // architecture behind billion-vector indexes (FAISS IVFPQ; Jégou et
  // al. 2011 §IV). The coarse quantizer prunes the corpus to `nprobe`
  // lists; within a list, vectors are represented by the PQ codes of
  // their residual (v − c_coarse), which is far tighter than coding v
  // directly because residual magnitudes are small. The approximate
  // score decomposes as q·v ≈ q·c_coarse (one dot per PROBED LIST)
  // + q·r̃ (M table lookups per candidate) — so a probe touches
  // nprobe coarse dots + bytes-per-vector codes, never raw floats,
  // until the shortlist re-rank.
  //
  // Coarse centroids are the deterministic modulo-sampled set of
  // [[Similarity.ivfAssign]] (SQL-expressible, so the oracle replays
  // assignment from scratch); residual codebooks are trained and
  // committed like [[buildCodebooks]]. Residuals are computed in
  // double and rounded to float on BOTH engines (IEEE round-to-
  // nearest in Spark's cast and DuckDB's ::FLOAT), keeping every
  // downstream scaled-integer quantity bit-identical.
  // ------------------------------------------------------------------

  /** (vec_id, centroid_id, embedding=residual) — each vector's offset
    * from its assigned coarse centroid, float-rounded. */
  private def residuals(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    Similarity.assignments(spark, sfDir).select(col("vec_id"), col("centroid_id"))
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        zip_with(col("embedding"), col("c_emb"),
          (x, y) => (x.cast("double") - y.cast("double")).cast("float")).as("embedding"))
  }

  /** Where the trained residual codebooks are committed — shared
    * across JVMs, corpus-keyed (see [[PqCodebooksPath]]'s contract). */
  lazy val IvfPqCodebooksPath: String =
    s"${Similarity.OracleExportRoot}/shared/ivfpq_codebooks/v1"

  /** Where the encoded corpus (the IVF-PQ *index proper*) is
    * committed, PARTITIONED BY coarse list — shared across JVMs: this
    * is the artifact whose per-run rebuild cost ~5 s of EVERY bench
    * run for a deterministic, corpus-keyed output. */
  lazy val IvfPqCodesPath: String =
    s"${Similarity.OracleExportRoot}/shared/ivfpq_codes/v1"

  /** Train-and-commit residual codebooks, idempotent per
    * (run, corpus); trains on the deterministic 1-in-4 sample of the
    * residual frame. */
  def buildIvfPqCodebooks(spark: SparkSession, sfDir: String): String =
    buildIvfPqCodebooks(spark, sfDir, residuals(spark, sfDir))

  /** As above, but encoding/training read from `res` — lets the index
    * build share one materialized residual frame instead of recomputing
    * the coarse assignment per stage. */
  private def buildIvfPqCodebooks(spark: SparkSession, sfDir: String,
      res: DataFrame): String = {
    val corpusKey = Similarity.corpusKeyOf(Tables.embeddings(spark, sfDir))
    Artifacts.commit(spark, s"$IvfPqCodebooksPath/k=$corpusKey") { tmp =>
      val sample = res.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"))
      trainCodebooks(spark, sample, iters = 2)
        .withColumn("corpus_key", lit(corpusKey))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** Build the full IVF-PQ index: codebooks + the encoded corpus
    * `(vec_id, sub_no, code)` partitioned by `centroid_id`, so a
    * probe's broadcast join against its `nprobe` list ids prunes the
    * scan to those directories (dynamic partition pruning) — the
    * read-only-probed-lists property that makes IVF a win at 10⁹
    * vectors. One encode pass per (run, corpus); probes never touch
    * raw floats until the shortlist re-rank. Returns
    * (codebooksDir, codesDir). */
  def buildIvfPqIndex(spark: SparkSession, sfDir: String): (String, String) = {
    val corpusKey = Similarity.corpusKeyOf(Tables.embeddings(spark, sfDir))
    val cdDir = s"$IvfPqCodesPath/k=$corpusKey"
    val fs = new org.apache.hadoop.fs.Path(cdDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(cdDir, "_SUCCESS")))
      return (s"$IvfPqCodebooksPath/k=$corpusKey", cdDir)
    // one coarse assignment pass feeds BOTH the codebook training
    // sample and the full encode (it was the build's dominant cost
    // when recomputed per stage)
    val res = residuals(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cbDir = buildIvfPqCodebooks(spark, sfDir, res)
      val codebooks = spark.read.parquet(cbDir).drop("corpus_key")
      val dim = Similarity.fixedEmbeddingWidth(res, "Pq.buildIvfPqIndex")
        .getOrElse(throw new IllegalArgumentException("Pq: empty corpus"))
      Artifacts.commit(spark, cdDir) { tmp =>
        encode(res.select(col("vec_id"), col("embedding")), codebooks, dim / M)
          .join(res.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
          .repartition(col("centroid_id"))
          .write.mode("overwrite").partitionBy("centroid_id").parquet(tmp)
      }
      (cbDir, cdDir)
    } finally res.unpersist()
  }

  /** IVF-PQ top-k probe: rank coarse lists against the query, keep
    * `nprobe`; within probed lists score candidates as
    * coarse-dot(list) + Σ ADC lookups over residual codes (all
    * scaled-integer, so the `shortlist` cut is engine-deterministic);
    * exact-cosine re-rank to `k`. Output contract matches
    * [[Similarity.ivfTopK]]: (vec_id, cos_sim).
    *
    * The probe starts from the STORED index of [[buildIvfPqIndex]]
    * (codes partitioned by coarse list): the broadcast join against
    * the probed list ids prunes the code scan to `nprobe`
    * directories, the ADC join touches only bytes-per-vector codes,
    * and raw embeddings are fetched by id solely for the shortlist
    * re-rank. The oracle replays encode from the committed CODEBOOKS
    * and raw floats, so every green run also re-proves stored codes ≡
    * recomputed codes. */
  def ivfPqTopK(spark: SparkSession, sfDir: String, queryVecId: Long = 0L,
      nprobe: Int = 3, shortlist: Int = 50, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val (cbDir, cdDir) = buildIvfPqIndex(spark, sfDir)
    val codebooks = spark.read.parquet(cbDir).drop("corpus_key")
    val codes = spark.read.parquet(cdDir)
      .select(col("vec_id"), col("sub_no"), col("code"),
        col("centroid_id").cast("long").as("centroid_id"))
    val dim = Similarity.fixedEmbeddingWidth(emb, "Pq.ivfPqTopK")
      .getOrElse(return emb.select(col("vec_id"), lit(0.0).as("cos_sim")).limit(0))
    val subDim = dim / M
    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val q = emb.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))

    val probed = centroids.crossJoin(broadcast(q))
      .select(col("centroid_id"),
        (round(Similarity.cosine(col("c_emb"), col("q_emb")), 4) + lit(0.0)).as("q_sim"))
      .orderBy(col("q_sim").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"))

    val qComps = components(emb.filter(col("vec_id") === queryVecId), subDim)
      .select(col("sub_no"), col("spos"), col("v").as("qv"))
    // one integer dot per PROBED coarse centroid — nprobe rows
    val coarseDot = components(
        centroids.select(col("centroid_id").as("vec_id"), col("c_emb").as("embedding")), subDim)
      .select(col("vec_id").as("centroid_id"), col("sub_no"), col("spos"), col("v").as("cv"))
      .join(broadcast(probed), Seq("centroid_id"))
      .join(broadcast(qComps), Seq("sub_no", "spos"))
      .groupBy(col("centroid_id"))
      .agg(sum(col("qv") * col("cv")).as("coarse_dot"))
    // ADC table over the residual codebooks — M·K rows
    val dt = codebookComponents(codebooks)
      .join(broadcast(qComps), Seq("sub_no", "spos"))
      .groupBy(col("sub_no"), col("centroid_id"))
      .agg(sum(col("qv") * col("c")).as("qdot"))
      .select(col("sub_no").as("dt_sub"), col("centroid_id").as("dt_cid"), col("qdot"))

    val approx = codes
      .join(broadcast(probed), Seq("centroid_id"))
      .filter(col("vec_id") =!= queryVecId)
      .join(broadcast(dt),
        col("sub_no") === col("dt_sub") && col("code") === col("dt_cid"))
      .groupBy(col("vec_id"), col("centroid_id"))
      .agg(sum(col("qdot")).as("res_dot"))
      .join(broadcast(coarseDot), Seq("centroid_id"))
      .select(col("vec_id"), (col("res_dot") + col("coarse_dot")).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"))

    approx.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (round(Similarity.cosine(col("embedding"), col("q_emb")), 4) + lit(0.0)).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ recall@k acceptance table — the quantization-loss audit
    * completing the ANN acceptance set ([[Similarity.ivfRecall]]
    * measures LIST loss; this measures list + CODE loss through the
    * whole stored-index probe): for each of `nQueries` queries, the
    * full IVF-PQ pipeline (probe lists → ADC over stored codes →
    * integer shortlist → exact re-rank) against the exact top-`k`,
    * reported as (q_id, n_exact, n_ret, n_hits, recall_ppm).
    *
    * Scale shape identical to the single-query probe — stored codes
    * partition-pruned to probed lists, all per-query model tables
    * broadcast, both rank stages through the two-phase salted top-k —
    * so recall here certifies the EXACT plan a production probe runs.
    * The oracle replays encode from the committed codebooks, so green
    * also re-proves stored codes ≡ recomputed codes per query set. */
  def ivfPqRecall(spark: SparkSession, sfDir: String, nQueries: Int = 3,
      nprobe: Int = 3, shortlist: Int = 50, k: Int = 10, salts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val (cbDir, cdDir) = buildIvfPqIndex(spark, sfDir)
    val codebooks = spark.read.parquet(cbDir).drop("corpus_key")
    val codes = spark.read.parquet(cdDir)
      .select(col("vec_id"), col("sub_no"), col("code"),
        col("centroid_id").cast("long").as("centroid_id"))
    val dim = Similarity.fixedEmbeddingWidth(emb, "Pq.ivfPqRecall")
      .getOrElse(return emb.select(col("vec_id").as("q_id"), lit(0L).as("n_exact"),
        lit(0L).as("n_ret"), lit(0L).as("n_hits"), lit(0L).as("recall_ppm")).limit(0))
    val subDim = dim / M
    // the limit marks the subtree BOUNDED for the broadcast-hint audit
    // (same shape as Similarity.ivfRecall's query frame)
    val q = emb.filter(col("vec_id") < nQueries).limit(nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

    def topK(cand: DataFrame, orderCol: String, n: Int): DataFrame = {
      val wL = Window
        .partitionBy(col("q_id"), pmod(col("vec_id"), lit(salts.toLong)))
        .orderBy(col(orderCol).desc, col("vec_id"))
      val wG = Window.partitionBy(col("q_id"))
        .orderBy(col(orderCol).desc, col("vec_id"))
      cand.withColumn("__lr", row_number().over(wL)).filter(col("__lr") <= n)
        .withColumn("__gr", row_number().over(wG)).filter(col("__gr") <= n)
        .drop("__lr", "__gr")
    }
    val exact = topK(
      emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          (round(Similarity.cosine(col("embedding"), col("q_emb")), 4) + lit(0.0)).as("cos_sim"))
        .filter(!isnan(col("cos_sim"))), "cos_sim", k)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    val exactN = exact.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))

    val centroids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
    val wqc = Window.partitionBy(col("q_id"))
      .orderBy(col("q_sim").desc, col("centroid_id"))
    val probed = centroids.crossJoin(broadcast(q))
      .select(col("q_id"), col("centroid_id"),
        (round(Similarity.cosine(col("c_emb"), col("q_emb")), 4) + lit(0.0)).as("q_sim"))
      .withColumn("crk", row_number().over(wqc)).filter(col("crk") <= nprobe)
      .select(col("q_id"), col("centroid_id"))
    val qComps = components(
        q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")), subDim)
      .select(col("vec_id").as("q_id"), col("sub_no"), col("spos"), col("v").as("qv"))
    val coarseDot = components(
        centroids.select(col("centroid_id").as("vec_id"), col("c_emb").as("embedding")), subDim)
      .select(col("vec_id").as("centroid_id"), col("sub_no"), col("spos"), col("v").as("cv"))
      .join(broadcast(probed), Seq("centroid_id"))
      .join(broadcast(qComps), Seq("q_id", "sub_no", "spos"))
      .groupBy(col("q_id"), col("centroid_id"))
      .agg(sum(col("qv") * col("cv")).as("coarse_dot"))
    val dt = codebookComponents(codebooks)
      .join(broadcast(qComps), Seq("sub_no", "spos"))
      .groupBy(col("q_id"), col("sub_no"), col("centroid_id"))
      .agg(sum(col("qv") * col("c")).as("qdot"))
      .select(col("q_id").as("dt_qid"), col("sub_no").as("dt_sub"),
        col("centroid_id").as("dt_cid"), col("qdot"))

    val approx = codes
      .join(broadcast(probed), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(dt), col("q_id") === col("dt_qid") &&
        col("sub_no") === col("dt_sub") && col("code") === col("dt_cid"))
      .groupBy(col("q_id"), col("vec_id"), col("centroid_id"))
      .agg(sum(col("qdot")).as("res_dot"))
      .join(broadcast(coarseDot), Seq("q_id", "centroid_id"))
      .select(col("q_id"), col("vec_id"),
        (col("res_dot") + col("coarse_dot")).as("approx_dot"))
    val short = topK(approx, "approx_dot", shortlist).select(col("q_id"), col("vec_id"))
    val reranked = topK(
      short.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          (round(Similarity.cosine(col("embedding"), col("q_emb")), 4) + lit(0.0)).as("cos_sim"))
        .filter(!isnan(col("cos_sim"))), "cos_sim", k)

    reranked.join(exact, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_ret"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .join(broadcast(exactN), Seq("q_id"))
      .withColumn("recall_ppm",
        expr("CASE WHEN n_exact = 0 THEN NULL ELSE (n_hits * 1000000) DIV n_exact END"))
      .select(col("q_id"), col("n_exact"), col("n_ret"), col("n_hits"), col("recall_ppm"))
      .orderBy(col("q_id"))
  }

  /** Oracle twin of [[ivfPqRecall]]: the multi-query generalization of
    * [[ivfPqTopKSql]]'s replay (q_id threaded through probe, ADC, and
    * shortlist; encode replayed from the committed codebooks) joined
    * against the plain-window exact top-k. */
  def ivfPqRecallSql(nQueries: Int = 3, nprobe: Int = 3,
      shortlist: Int = 50, k: Int = 10): String = {
    val subDim = 16 // oracle corpus is 64-dim (see pqTopKSql note)
    s"""WITH cb AS (
       |  SELECT sub_no, centroid_id, c_sub
       |  FROM read_parquet('$IvfPqCodebooksPath/*/*.parquet')
       |  WHERE corpus_key = ${Similarity.corpusKeySqlDuck}),
       |cbc AS (
       |  SELECT sub_no, centroid_id, t.range AS spos,
       |    CAST(floor(c_sub[t.range]::DOUBLE * 10000) AS BIGINT) AS c
       |  FROM cb, range(1, ${subDim + 1}) t),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb
       |  FROM embeddings WHERE vec_id < $nQueries),
       |exact AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
       |          q.q_emb::DOUBLE[]), 4) DESC, e.vec_id) AS rk
       |    FROM embeddings e CROSS JOIN q
       |    WHERE e.vec_id <> q.q_id
       |      AND NOT isnan(round(list_cosine_similarity(e.embedding::DOUBLE[],
       |        q.q_emb::DOUBLE[]), 4) + 0.0))
       |  WHERE rk <= $k),
       |exn AS (SELECT q_id, count(*) AS n_exact FROM exact GROUP BY q_id),
       |centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS c_emb
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |asg AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.c_emb::DOUBLE[]), 4) DESC,
       |                 c.centroid_id) AS rk
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rk = 1),
       |probed AS (
       |  SELECT q_id, centroid_id FROM (
       |    SELECT q.q_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_cosine_similarity(c.c_emb::DOUBLE[],
       |          q.q_emb::DOUBLE[]), 4) DESC, c.centroid_id) AS crk
       |    FROM centroids c CROSS JOIN q)
       |  WHERE crk <= $nprobe),
       |qc AS (
       |  SELECT q_id, CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(q_emb[t.range]::DOUBLE * 10000) AS BIGINT) AS qv
       |  FROM q, range(1, ${M * subDim + 1}) t),
       |cc AS (
       |  SELECT p.q_id, c.centroid_id, CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(c.c_emb[t.range]::DOUBLE * 10000) AS BIGINT) AS cv
       |  FROM centroids c JOIN probed p USING (centroid_id), range(1, ${M * subDim + 1}) t),
       |coarse AS (
       |  SELECT cc.q_id, cc.centroid_id, sum(qv * cv) AS coarse_dot
       |  FROM cc JOIN qc ON cc.q_id = qc.q_id AND cc.sub_no = qc.sub_no AND cc.spos = qc.spos
       |  GROUP BY cc.q_id, cc.centroid_id),
       |res AS (
       |  SELECT p.q_id, a.vec_id, a.centroid_id,
       |    CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(CAST(e.embedding[t.range]::DOUBLE - c.c_emb[t.range]::DOUBLE AS FLOAT)::DOUBLE * 10000) AS BIGINT) AS v
       |  FROM asg a
       |  JOIN probed p USING (centroid_id)
       |  JOIN embeddings e ON a.vec_id = e.vec_id
       |  JOIN centroids c ON a.centroid_id = c.centroid_id,
       |  range(1, ${M * subDim + 1}) t
       |  WHERE a.vec_id <> p.q_id),
       |dists AS (
       |  SELECT res.q_id, res.vec_id, res.sub_no, cbc.centroid_id,
       |    sum((v - c) * (v - c)) AS dist
       |  FROM res JOIN cbc USING (sub_no, spos)
       |  GROUP BY res.q_id, res.vec_id, res.sub_no, cbc.centroid_id),
       |codes AS (
       |  SELECT q_id, vec_id, sub_no, centroid_id AS code FROM (
       |    SELECT q_id, vec_id, sub_no, centroid_id,
       |      row_number() OVER (PARTITION BY q_id, vec_id, sub_no
       |        ORDER BY dist, centroid_id) AS rk
       |    FROM dists) WHERE rk = 1),
       |dot_table AS (
       |  SELECT qc.q_id, cbc.sub_no, cbc.centroid_id, sum(qv * c) AS qdot
       |  FROM cbc JOIN qc USING (sub_no, spos)
       |  GROUP BY qc.q_id, cbc.sub_no, cbc.centroid_id),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT codes.q_id, codes.vec_id,
       |      row_number() OVER (PARTITION BY codes.q_id
       |        ORDER BY sum(qdot) + max(coarse_dot) DESC, codes.vec_id) AS srk
       |    FROM codes
       |    JOIN dot_table ON codes.q_id = dot_table.q_id
       |      AND codes.sub_no = dot_table.sub_no AND codes.code = dot_table.centroid_id
       |    JOIN asg ON codes.vec_id = asg.vec_id
       |    JOIN coarse ON coarse.q_id = codes.q_id AND coarse.centroid_id = asg.centroid_id
       |    GROUP BY codes.q_id, codes.vec_id)
       |  WHERE srk <= $shortlist),
       |rtop AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |      row_number() OVER (PARTITION BY s.q_id
       |        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
       |          q.q_emb::DOUBLE[]), 4) DESC, s.vec_id) AS rk
       |    FROM short s
       |    JOIN embeddings e USING (vec_id)
       |    JOIN q ON q.q_id = s.q_id
       |    WHERE NOT isnan(round(list_cosine_similarity(e.embedding::DOUBLE[],
       |      q.q_emb::DOUBLE[]), 4) + 0.0))
       |  WHERE rk <= $k)
       |SELECT t.q_id, x.n_exact, count(*) AS n_ret,
       |  CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(CASE WHEN x.n_exact = 0 THEN NULL
       |    ELSE CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         * 1000000 // x.n_exact END AS BIGINT) AS recall_ppm
       |FROM rtop t
       |LEFT JOIN exact ex ON ex.q_id = t.q_id AND ex.vec_id = t.vec_id
       |JOIN exn x ON x.q_id = t.q_id
       |GROUP BY t.q_id, x.n_exact
       |ORDER BY t.q_id""".stripMargin
  }

  /** DuckDB replay of the IVF-PQ probe from the committed residual
    * codebooks: coarse assignment (rank-1), probe list, double-minus-
    * then-float residuals, residual encode, coarse dot + ADC
    * shortlist, exact re-rank. */
  /** Oracle twin — tunables interpolated with the same defaults so
    * non-default calls keep parity. */
  def ivfPqTopKSql(queryVecId: Long = 0L, nprobe: Int = 3, shortlist: Int = 50, k: Int = 10): String = {
    val subDim = 16 // oracle corpus is 64-dim (see pqTopKSql note)
    s"""WITH cb AS (
       |  SELECT sub_no, centroid_id, c_sub
       |  FROM read_parquet('$IvfPqCodebooksPath/*/*.parquet')
       |  WHERE corpus_key = ${Similarity.corpusKeySqlDuck}),
       |cbc AS (
       |  SELECT sub_no, centroid_id, t.range AS spos,
       |    CAST(floor(c_sub[t.range]::DOUBLE * 10000) AS BIGINT) AS c
       |  FROM cb, range(1, ${subDim + 1}) t),
       |centroids AS (
       |  SELECT vec_id AS centroid_id, embedding AS c_emb
       |  FROM embeddings WHERE vec_id % 50 = 0),
       |asg AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.c_emb::DOUBLE[]), 4) DESC,
       |                 c.centroid_id) AS rk
       |    FROM embeddings e CROSS JOIN centroids c) WHERE rk = 1),
       |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryVecId),
       |probed AS (
       |  SELECT centroid_id
       |  FROM centroids CROSS JOIN q
       |  ORDER BY round(list_cosine_similarity(c_emb::DOUBLE[], q_emb::DOUBLE[]), 4) + 0.0 DESC, centroid_id
       |  LIMIT $nprobe),
       |qc AS (
       |  SELECT CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(q_emb[t.range]::DOUBLE * 10000) AS BIGINT) AS qv
       |  FROM q, range(1, ${M * subDim + 1}) t),
       |cc AS (
       |  SELECT centroid_id, CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(c_emb[t.range]::DOUBLE * 10000) AS BIGINT) AS cv
       |  FROM centroids JOIN probed USING (centroid_id), range(1, ${M * subDim + 1}) t),
       |coarse AS (
       |  SELECT centroid_id, sum(qv * cv) AS coarse_dot
       |  FROM cc JOIN qc USING (sub_no, spos)
       |  GROUP BY centroid_id),
       |res AS (
       |  SELECT a.vec_id, a.centroid_id,
       |    CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(CAST(e.embedding[t.range]::DOUBLE - c.c_emb[t.range]::DOUBLE AS FLOAT)::DOUBLE * 10000) AS BIGINT) AS v
       |  FROM asg a
       |  JOIN probed USING (centroid_id)
       |  JOIN embeddings e ON a.vec_id = e.vec_id
       |  JOIN centroids c ON a.centroid_id = c.centroid_id,
       |  range(1, ${M * subDim + 1}) t
       |  WHERE a.vec_id <> $queryVecId),
       |dists AS (
       |  SELECT res.vec_id, res.sub_no, cbc.centroid_id,
       |    sum((v - c) * (v - c)) AS dist
       |  FROM res JOIN cbc USING (sub_no, spos)
       |  GROUP BY res.vec_id, res.sub_no, cbc.centroid_id),
       |codes AS (
       |  SELECT vec_id, sub_no, centroid_id AS code FROM (
       |    SELECT vec_id, sub_no, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id, sub_no
       |        ORDER BY dist, centroid_id) AS rk
       |    FROM dists) WHERE rk = 1),
       |dot_table AS (
       |  SELECT cbc.sub_no, cbc.centroid_id, sum(qv * c) AS qdot
       |  FROM cbc JOIN qc USING (sub_no, spos)
       |  GROUP BY cbc.sub_no, cbc.centroid_id),
       |shortlist AS (
       |  SELECT codes.vec_id
       |  FROM codes
       |  JOIN dot_table
       |    ON codes.sub_no = dot_table.sub_no AND codes.code = dot_table.centroid_id
       |  JOIN asg ON codes.vec_id = asg.vec_id
       |  JOIN coarse ON asg.centroid_id = coarse.centroid_id
       |  GROUP BY codes.vec_id
       |  ORDER BY sum(qdot) + max(coarse_dot) DESC, codes.vec_id
       |  LIMIT $shortlist)
       |SELECT s.vec_id,
       |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 4) + 0.0 AS cos_sim
       |FROM shortlist s
       |JOIN embeddings e USING (vec_id)
       |CROSS JOIN q
       |WHERE NOT isnan(round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 4))
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  /** DuckDB replay of the full PQ probe from the committed codebooks:
    * encode (scaled-int L2, rank-1 window), ADC (scaled-int dot table
    * join + sum), integer shortlist, exact-cosine re-rank. */
  /** Oracle twin — tunables interpolated with the same defaults so
    * non-default calls keep parity. */
  def pqTopKSql(queryVecId: Long = 0L, shortlist: Int = 50, k: Int = 10): String = {
    val subDim = 16 // oracle corpus is 64-dim; Spark side derives it,
                    // the SQL states it (a dim change breaks the hash
                    // loudly, which is the contract working)
    s"""WITH cb AS (
       |  SELECT sub_no, centroid_id, c_sub
       |  FROM read_parquet('$PqCodebooksPath/*/*.parquet')
       |  WHERE corpus_key = ${Similarity.corpusKeySqlDuck}),
       |cbc AS (
       |  SELECT sub_no, centroid_id, t.range AS spos,
       |    CAST(floor(c_sub[t.range]::DOUBLE * 10000) AS BIGINT) AS c
       |  FROM cb, range(1, ${subDim + 1}) t),
       |comps AS (
       |  SELECT vec_id, CAST((t.range - 1) // $subDim AS INT) AS sub_no,
       |    (t.range - 1) % $subDim + 1 AS spos,
       |    CAST(floor(embedding[t.range]::DOUBLE * 10000) AS BIGINT) AS v
       |  FROM embeddings, range(1, ${M * subDim + 1}) t),
       |dists AS (
       |  SELECT comps.vec_id, comps.sub_no, cbc.centroid_id,
       |    sum((v - c) * (v - c)) AS dist
       |  FROM comps JOIN cbc USING (sub_no, spos)
       |  GROUP BY comps.vec_id, comps.sub_no, cbc.centroid_id),
       |codes AS (
       |  SELECT vec_id, sub_no, centroid_id AS code FROM (
       |    SELECT vec_id, sub_no, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id, sub_no
       |        ORDER BY dist, centroid_id) AS rk
       |    FROM dists) WHERE rk = 1),
       |qc AS (SELECT sub_no, spos, v AS qv FROM comps WHERE vec_id = $queryVecId),
       |dot_table AS (
       |  SELECT cbc.sub_no, cbc.centroid_id, sum(qv * c) AS qdot
       |  FROM cbc JOIN qc USING (sub_no, spos)
       |  GROUP BY cbc.sub_no, cbc.centroid_id),
       |shortlist AS (
       |  SELECT vec_id
       |  FROM codes JOIN dot_table
       |    ON codes.sub_no = dot_table.sub_no AND codes.code = dot_table.centroid_id
       |  WHERE vec_id <> $queryVecId
       |  GROUP BY vec_id
       |  ORDER BY sum(qdot) DESC, vec_id
       |  LIMIT $shortlist),
       |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryVecId)
       |SELECT s.vec_id,
       |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 4) + 0.0 AS cos_sim
       |FROM shortlist s
       |JOIN embeddings e USING (vec_id)
       |CROSS JOIN q
       |WHERE NOT isnan(round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 4))
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  // ------------------------------------------------------------------
  // Scalar quantization (SQ8) — the OTHER compression scheme of the
  // billion-vector toolbox (FAISS ScalarQuantizer): one byte per
  // dimension via per-dim min/max affine codes. No training, no
  // codebooks — a single stats pass over the corpus — at the cost of
  // dim bytes/vector where PQ pays M. The right tool when recall
  // matters more than the last 4× of compression.
  // ------------------------------------------------------------------

  /** SQ8 top-k: per-dimension min/max over the scaled-integer
    * components give each vector a byte code per dim
    * (`(v−min)·255 DIV range`); candidates are scored with the integer
    * dot of the query's EXACT components against DEQUANTIZED codes
    * (`min + code·range DIV 255`), and the shortlist is re-ranked by
    * exact cosine. Output contract matches [[pqTopK]]:
    * (vec_id, cos_sim).
    *
    * Every division's operands are non-negative, so Spark's
    * truncate-toward-zero `DIV` and DuckDB's floor `//` agree — the
    * shortlist cut is bit-deterministic across engines.
    *
    * Scale: the stats agg is a dim-row model (broadcast); encode +
    * score is one generator pass with map-side partial sums — nothing
    * wider than (vec_id, partial) shuffles, the [[pqTopK]] rule. */
  def sqTopK(spark: SparkSession, sfDir: String, queryVecId: Long = 0L,
      shortlist: Int = 50, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val dim = Similarity.fixedEmbeddingWidth(emb, "Pq.sqTopK")
      .getOrElse(return emb.select(col("vec_id"), lit(0.0).as("cos_sim")).limit(0))
    // subDim = dim → sub_no is constant 0 and spos enumerates 1..dim
    val comps = components(emb, dim).select(col("vec_id"), col("spos"), col("v"))
    val stats = comps.groupBy(col("spos"))
      .agg(min(col("v")).as("smin"), max(col("v")).as("smax"))
      .withColumn("rng", greatest(col("smax") - col("smin"), lit(1L)))
      .select(col("spos"), col("smin"), col("rng"))
    val deq = comps.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(stats), Seq("spos"))
      .withColumn("code", expr("((v - smin) * 255) DIV rng"))
      .withColumn("dv", col("smin") + expr("(code * rng) DIV 255"))
    val qComps = comps.filter(col("vec_id") === queryVecId)
      .select(col("spos"), col("v").as("qv"))
    val approx = deq.join(broadcast(qComps), Seq("spos"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qv") * col("dv")).as("adot"))
      .orderBy(col("adot").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"))
    val q = emb.filter(col("vec_id") === queryVecId).select(col("embedding").as("q_emb"))
    approx.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (round(Similarity.cosine(col("embedding"), col("q_emb")), 4) + lit(0.0)).as("cos_sim"))
      .filter(!isnan(col("cos_sim")))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Oracle twin — tunables interpolated with the same defaults so
    * non-default calls keep parity. */
  def sqTopKSql(queryVecId: Long = 0L, shortlist: Int = 50, k: Int = 10): String =
    s"""WITH comp AS (
      |  SELECT vec_id, t.range AS spos,
      |    CAST(floor(embedding[t.range]::DOUBLE * 10000) AS BIGINT) AS v
      |  FROM embeddings, range(1, 65) t),
      |stats AS (
      |  SELECT spos, min(v) AS smin,
      |    greatest(max(v) - min(v), 1) AS rng
      |  FROM comp GROUP BY spos),
      |deq AS (
      |  SELECT vec_id, c.spos,
      |    smin + ((((v - smin) * 255) // rng) * rng) // 255 AS dv
      |  FROM comp c JOIN stats USING (spos) WHERE vec_id <> $queryVecId),
      |qc AS (SELECT spos, v AS qv FROM comp WHERE vec_id = $queryVecId),
      |shortlist AS (
      |  SELECT vec_id FROM deq JOIN qc USING (spos)
      |  GROUP BY vec_id
      |  ORDER BY sum(qv * dv) DESC, vec_id
      |  LIMIT $shortlist),
      |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $queryVecId)
      |SELECT s.vec_id,
      |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 4) + 0.0 AS cos_sim
      |FROM shortlist s
      |JOIN embeddings e USING (vec_id)
      |CROSS JOIN q
      |WHERE NOT isnan(round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]), 4))
      |ORDER BY cos_sim DESC, vec_id
      |LIMIT $k""".stripMargin
}
