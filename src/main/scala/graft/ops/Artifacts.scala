package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cross-JVM derived-index artifacts (the near-dup pair table, the IVF
  * coarse assignment): corpus-fingerprint-keyed parquet dirs under a
  * SHARED root — unlike the oracle exports, which isolate per run
  * because DuckDB globs them, these exist precisely to be reused by
  * later JVMs over the same corpus.
  *
  * Commit protocol (two builders may race): build into a private
  * `<parent>/.tmp-<uuid>/<name>`, then ATOMIC directory rename onto
  * the final `<parent>/<name>`. The temp sits one level deeper than
  * the artifact, so the glob the oracle replays read (every
  * `*.parquet` file one directory below the parent) never matches an
  * in-flight build. Exactly one rename wins; the loser observes the winner's
  * committed artifact (same corpus ⇒ same deterministic content) and
  * discards its temp. A crashed build leaves only an invisible temp
  * dir; a `_SUCCESS`-less final dir (pre-protocol crash) is replaced.
  *
  * Retention ([[vacuum]]): artifacts are corpus-fingerprint keyed, so
  * every corpus change (daily re-ingest, an erasure) strands the
  * previous key's directory — and an ERASED subject's derived data
  * (PQ-coded embeddings, near-dup pair rows) lives inside those stale
  * artifacts. Vacuum against the current live key set is therefore
  * both the disk-growth bound and the erasure-completion step for the
  * shared root; [[graft.lake.Erase]]'s contract points here. */
object Artifacts {

  def commit(spark: SparkSession, exportDir: String)
      (write: String => Unit): String = {
    val dir = new Path(exportDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(exportDir, "_SUCCESS")
    if (fs.exists(marker)) return exportDir
    val inFlight = new Path(dir.getParent, ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val tmp = new Path(inFlight, dir.getName)
    write(tmp.toString)
    // a committed dir carries the parquet committer's _SUCCESS; a dir
    // WITHOUT one is a crashed builder's leftover and is replaced.
    // rename is only attempted onto an ABSENT dst (Hadoop rename onto
    // an existing directory nests src inside it on some FS impls).
    if (!fs.exists(marker) && fs.exists(dir)) fs.delete(dir, true)
    if (!fs.exists(dir)) fs.rename(tmp, dir)
    // the emptied temp parent, or the loser's build (the winner's is equal)
    fs.delete(inFlight, true)
    // self-heal the rename-race pollution case: a temp nested INSIDE
    // the winner's dir would otherwise be read as extra parquet files
    val nested = new Path(dir, tmp.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
    if (!fs.exists(marker))
      throw new java.io.IOException(s"artifact commit failed for $exportDir")
    exportDir
  }

  /** Corpus key from testdata table file lengths (dir basename + bytes
    * per table) — stable per generated corpus, no data scan needed.
    * The key for artifacts derived from raw corpus tables (the
    * lake-fixture keys in [[graft.sql.SqlLake]] use the same shape). */
  def tableKey(spark: SparkSession, sfDir: String,
      tables: Seq[String]): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val lens = tables.map { t =>
      val p = new Path(s"$sfDir/$t.parquet")
      p.getFileSystem(conf).getContentSummary(p).getLength
    }
    s"${base}_${lens.mkString("_")}"
  }

  /** The shared artifact root every corpus-keyed artifact lives under
    * (`near_dup_pairs/k=…`, `pq_codebooks/v1/k=…`, `ivfpq_codebooks`,
    * `ivfpq_codes`, `ivf_assignments`). */
  def sharedRoot: String = s"${Similarity.OracleExportRoot}/shared"

  /** Delete every committed corpus-keyed artifact under `root` whose
    * `k=<key>` is NOT in `liveKeys`. In-flight builder temps
    * (`.tmp-*`) are never touched — a concurrent [[commit]] finishes
    * its rename onto a now-live or now-stale final name, and the next
    * vacuum pass judges THAT. Walks only directories, depth-bounded
    * (the layout is `<name>[/v<n>]/k=<key>`), so the listing cost is
    * O(artifact families), never O(files). Returns dirs deleted.
    *
    * Two callers:
    *  - RETENTION: pass the fingerprints of every corpus still served
    *    — each re-ingested corpus otherwise strands an index-sized
    *    directory per run, forever.
    *  - ERASURE: after rewriting a corpus to drop a subject, the
    *    subject's derived rows (PQ codes, pair rows, assignments)
    *    survive in the OLD key's artifacts; vacuuming to the new live
    *    set deletes them. [[vacuumFor]] wires this for a corpus dir. */
  def vacuum(spark: SparkSession, liveKeys: Set[String],
      root: String = sharedRoot, maxDepth: Int = 4): Long = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0L
    var deleted = 0L
    def walk(p: Path, depth: Int): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && !name.contains(".tmp-")) {
          if (name.startsWith("k=")) {
            if (!liveKeys.contains(name.stripPrefix("k="))) {
              fs.delete(st.getPath, true)
              deleted += 1
            }
          } else if (depth < maxDepth) walk(st.getPath, depth + 1)
        }
      }
    walk(rootPath, 0)
    deleted
  }

  /** Erasure by key: delete every committed artifact under `root`
    * keyed by one of `keys` — the erase-side complement of [[vacuum]].
    * Vacuum keeps a caller-supplied LIVE set (retention: anything not
    * live goes); this deletes a known-DEAD set and touches nothing
    * else, so it is safe to run concurrently with builders over other
    * corpora — the right-to-erasure call after a corpus rewrite, when
    * the pre-erase fingerprints are known exactly. Returns dirs
    * deleted. */
  def eraseKeys(spark: SparkSession, keys: Set[String],
      root: String = sharedRoot, maxDepth: Int = 4): Long = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0L
    var deleted = 0L
    def walk(p: Path, depth: Int): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && !name.contains(".tmp-")) {
          if (name.startsWith("k=")) {
            if (keys.contains(name.stripPrefix("k="))) {
              fs.delete(st.getPath, true)
              deleted += 1
            }
          } else if (depth < maxDepth) walk(st.getPath, depth + 1)
        }
      }
    walk(rootPath, 0)
    deleted
  }

  /** The live corpus fingerprints for one corpus dir: the documents
    * key (pair-table family) and the embeddings key (ANN index
    * family) — what [[vacuum]] should keep after the corpus at
    * `sfDir` changed (an erasure, a re-ingest). */
  def liveKeysFor(spark: SparkSession, sfDir: String): Set[String] = Set(
    Dedup.docsCorpusKeyOf(graft.Tables.documents(spark, sfDir)).toString,
    Similarity.corpusKeyOf(graft.Tables.embeddings(spark, sfDir)).toString)

  /** Erasure/retention convenience: vacuum the shared root down to the
    * artifacts of the corpus CURRENTLY at `sfDir` (post-erase, its
    * fingerprints differ from every pre-erase artifact's key, so the
    * stale dirs holding the erased subject's derived data are exactly
    * what gets deleted). Returns dirs deleted. */
  def vacuumFor(spark: SparkSession, sfDir: String, root: String = sharedRoot): Long =
    vacuum(spark, liveKeysFor(spark, sfDir), root)
}
