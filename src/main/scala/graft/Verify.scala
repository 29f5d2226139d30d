package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // default matches the documented environment (local[32]);
    // SPARK_GRAFT_CPUS overrides for smaller hosts
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // analyzer rules (SQL MERGE/UPDATE) only bind at session build —
      // queries exercising the SQL DML surface need them here
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); driver leaves it
    // unset and gets the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // loud + on-disk trace when the dev-only filter is active, so a
    // subsetted run can never masquerade as a full correctness gate
    only.foreach { subset =>
      val msg = s"[verify] WARNING: SPARK_GRAFT_ONLY active - verifying ONLY " +
        s"${subset.size} of ${SparkEntry.queries.size} queries: ${subset.toSeq.sorted.mkString(",")}"
      System.err.println(msg)
      Files.writeString(Paths.get(s"$outDir/SUBSET_WARNING.txt"), msg)
    }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's lineage-truncation checkpoint blocks — a
      // 228-query dump otherwise accumulates them all (see Bench)
      graft.ops.Truncate.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
