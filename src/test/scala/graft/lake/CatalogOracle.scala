package graft.lake

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The catalog rows an ingest must commit for a batch, derived the
  * plain way: one row per distinct `(source, key)` of the batch, at
  * its arrival. A distributed job with a `distinct` shuffle, kept as
  * the oracle the one-pass commits ([[Catalog.commitIngest]],
  * [[Catalog.commitLakeIngest]]) are checked against. */
object CatalogOracle {
  def entriesFor(batch: DataFrame, arrivalMs: Long): Dataset[CatalogEntry] = {
    import batch.sparkSession.implicits._
    batch.select(col("source"), col("key")).distinct()
      .withColumn("ts", timestamp_millis(lit(arrivalMs)))
      .withColumn("tsRaw", lit(arrivalMs.toString))
      .select(col("source"), col("ts"), col("tsRaw"), col("key"))
      .as[CatalogEntry]
  }
}
