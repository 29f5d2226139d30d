package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze ingest: read raw event objects (gzip JSON, one object = many
  * records), derive the source from the path, parse payloads — the
  * engine form of the reference's O2→O5 chain
  * (`/root/reference/src/event_recorder/lambda_function.py:34-43,81-82`).
  *
  * The reference's splice-parse is replaced by [[ConcatJson.split]]
  * (state-machine splitter, handles the `"}{"`-in-string pathology its
  * `}{`→`},{` rewrite corrupts). JSON-Lines input splits identically
  * through the same path, so the default sink format stays JSONL.
  *
  * Scale: `spark.read.text(..., wholetext=false)` + flatMap keeps the
  * split distributed per file; gzip objects are single-split but a
  * 100 TB lake has many objects, so parallelism comes from file count
  * — matching the object-granular parallelism of the reference.
  */
object Ingest {

  /** O5: source = first path segment under the bronze dir
    * (reference: `key.split('/')[0]`,
    * `/root/reference/src/event_recorder/lambda_function.py:81-82`).
    * Anchored on the FULL regex-quoted bronze path — a bare
    * `bronze/` substring match would mis-derive the source for any
    * lake root that itself contains a `bronze` segment. */
  def sourceFromPath(bronzeDir: String): Column = {
    val dir = bronzeDir.stripSuffix("/")
    regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(dir) + "/([^/]+)/", 1)
  }

  /** Read bronze objects for all sources into (source, key, json)
    * rows. `wholetext` keeps one object = one row so the concatenated
    * splitter sees full object content (objects are Firehose-buffer
    * sized — ~10 MB max per the reference — so a row is bounded). */
  def readBronze(spark: SparkSession, layout: Layout): DataFrame =
    readBronzePath(spark, s"${layout.bronzeDir}/*/*", layout.bronzeDir)

  /** Read ONE source's bronze partition — used by big-range replay so
    * a replay of one source lists/scans only that source's directory
    * (a filter above the typed flatMap would NOT push into the file
    * listing; path pruning must happen here). */
  def readBronzeSource(spark: SparkSession, layout: Layout, source: String): DataFrame =
    readBronzePath(spark, s"${layout.bronzeSourceDir(source)}/*", layout.bronzeDir)

  private def readBronzePath(spark: SparkSession, glob: String, bronzeDir: String): DataFrame = {
    import spark.implicits._
    val raw = spark.read.option("wholetext", "true")
      .textFile(glob)
      .withColumn("key", input_file_name())
      .withColumn("source", sourceFromPath(bronzeDir))
    raw.select(col("source"), col("key"), col("value"))
      .as[(String, String, String)]
      .flatMap { case (source, key, content) =>
        ConcatJson.split(content).map(json => (source, key, json)) }
      .toDF("source", "key", "json")
  }

  /** Parse the opaque JSON payloads against a supplied schema
    * (schema-on-read; the reference never validates payloads — the
    * parsed struct is nullable on malformed input, preserving its
    * permissiveness). */
  def parsed(bronze: DataFrame, schema: StructType): DataFrame =
    bronze.withColumn("event", from_json(col("json"), schema))

  /** Batch ingest: bronze → canonical parquet lake partitioned by
    * source (the reference's per-source prefix layout), plus one
    * catalog entry per ingested object at `arrivalMs` — committed
    * ATOMICALLY as one manifest-log record
    * ([[Catalog.commitLakeIngest]]): concurrent batch ingests can't
    * clobber each other's committer staging, a crash mid-ingest leaves
    * no uncataloged lake rows, and [[Catalog.loadLakeSnapshot]] readers
    * see the batch all-or-nothing. One pass over bronze: the lake
    * write itself observes the objects and the row count, so nothing
    * is cached, shuffled or read twice, and no catalog file is
    * written. Returns the number of rows written. */
  def ingestBatch(spark: SparkSession, layout: Layout, arrivalMs: Long): Long = {
    import spark.implicits._
    // the same standing-erasure gate the streaming path applies
    // ([[graft.streaming.StreamIngest.processBatch]]): a late bronze
    // arrival batch-ingested after a tombstone landed must not put the
    // subject's records back into the lake/catalog — without this gate
    // the "intake keeps matched records out" erasure claim held only
    // for the stream path.
    val tombs = Erase.tombstones(spark, layout)
    val raw = readBronze(spark, layout)
    val gated = if (tombs.isEmpty) raw else {
      val drop = Erase.recordMatcher(tombs)
      raw.select("source", "key", "json").as[(String, String, String)]
        .filter(r => !drop(r._1, r._3))
        .toDF("source", "key", "json")
    }
    Catalog.commitLakeIngest(spark, layout, gated, arrivalMs)
  }
}
