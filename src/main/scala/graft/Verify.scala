package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName ...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional filter for local iteration; the driver always dumps everything
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // no spark.sql.parquet.outputTimestampType: the dumps keep Spark's
      // default encoding, which DuckDB reads as TIMESTAMP like the oracle
      // SQL's results; TIMESTAMP_MICROS marks the column UTC-adjusted and
      // DuckDB reads TIMESTAMP WITH TIME ZONE. Table commits set micros
      // in the write funnel themselves.
      .config("spark.ui.enabled", "false")
      // reference-parity semantics (Spark 3.0-era lenient casts/coercions —
      // SURVEY.md §7 hard part #3) + nanos-timestamp testdata readability
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // q44-style recursive CTEs materialize one row per (row, ancestor);
      // the 1M default cap is a scale cliff the DuckDB oracle does not share
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      // the SQL row-level surface (MERGE INTO / UPDATE / DELETE as SQL
      // text) — the catalog resolves graft.<ns>.<table> identifiers, the
      // extensions route the analyzed statements to the versioned kernel
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
      .withExtensions(new graft.catalog.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a stale dump from a previous run
        // for the compare step to validate as OK
        val stale = Paths.get(outDir, name)
        if (Files.isDirectory(stale)) {
          Files.walk(stale).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { Files.deleteIfExists(p); () })
        }
      }
      // queries may persist intermediates (LSH signatures, cluster edges);
      // don't let one query's cache crowd the next
      spark.sharedState.cacheManager.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
