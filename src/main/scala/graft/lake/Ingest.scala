package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Scale: a whole-text read plus [[split]] keeps the split distributed
  * per file; gzip objects are single-split but a 100 TB lake has many
  * objects, so parallelism comes from file count — matching the
  * object-granular parallelism of the reference.
  */
object Ingest {

  /** O5: source = first path segment under the bronze dir
    * (reference: `key.split('/')[0]`,
    * `/root/reference/src/event_recorder/lambda_function.py:81-82`) of
    * the object at `key`, a URL-encoded path as `input_file_name()`
    * gives it; "" for an object that is not in a directory under
    * `bronzeDir`. Both are
    * compared as decoded paths, so a root or a source directory that
    * holds a space or a `%` gives its own name. Anchored on the FULL
    * bronze path — a bare `bronze/` match would mis-derive the source
    * for any lake root that itself contains a `bronze` segment. */
  def sourceOf(key: String, bronzeDir: String): String = {
    val path = if (key == null || key.isEmpty) "" else SparkPath.fromUrlString(key).toPath.toUri.getPath
    val dir = new Path(bronzeDir).toUri.getPath.stripSuffix("/") + "/"
    val at = path.indexOf(dir)
    val end = if (at < 0) -1 else path.indexOf('/', at + dir.length)
    if (end <= at + dir.length) "" else path.substring(at + dir.length, end)
  }

  // defined once: deriving a UDF's encoders reflects on its Scala types
  private val splitObject = udf((content: String) => ConcatJson.split(content))
  private val sourceOfKey = udf((key: String, bronzeDir: String) => sourceOf(key, bronzeDir))

  /** The options of every bronze read, batch or stream: `wholetext`
    * keeps one object = one row so the concatenated splitter sees full
    * object content (objects are Firehose-buffer sized — ~10 MB max per
    * the reference — so a row is bounded), and a read names
    * directories, whose objects it finds at any depth. So the file
    * index lists one directory per source, on the driver: a glob that
    * names every object lists each object on its own and, past 32 of
    * them, starts a Spark listing job, at every stream start.
    * `recursiveFileLookup` keeps a `k=v` directory inside a source from
    * being read as a partition column. */
  val objectReads: Map[String, String] =
    Map("wholetext" -> "true", "recursiveFileLookup" -> "true")

  /** The `(source, key, json)` rows of `objects`, a read of bronze
    * directories with [[objectReads]]: one row per record
    * [[ConcatJson.split]] finds, keyed by the object's
    * `input_file_name()`. The batch read and the ingest stream share
    * it. The source is derived once per object, below the explode; an
    * object directly under the bronze dir is in no source directory
    * and is not read. */
  def split(objects: DataFrame, bronzeDir: String): DataFrame =
    objects.select(sourceOfKey(input_file_name(), lit(bronzeDir)).as("source"),
        input_file_name().as("key"), col("value"))
      .where(col("source") =!= "")
      .select(col("source"), col("key"), explode(splitObject(col("value"))).as("json"))

  /** Read bronze objects for all sources into (source, key, json)
    * rows. */
  def readBronze(spark: SparkSession, layout: Layout): DataFrame =
    readBronzePath(spark, s"${layout.bronzeDir}/*", layout.bronzeDir)

  /** Read ONE source's bronze partition, so an erasure of one source
    * lists and scans only that source's directory (a filter above the
    * split would NOT push into the file listing; path pruning must
    * happen here). */
  def readBronzeSource(spark: SparkSession, layout: Layout, source: String): DataFrame =
    readBronzePath(spark, layout.bronzeSourceDir(source), layout.bronzeDir)

  private def readBronzePath(spark: SparkSession, dirs: String, bronzeDir: String): DataFrame =
    split(spark.read.options(objectReads).text(dirs), bronzeDir)

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
