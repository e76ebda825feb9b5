package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names: dump only those (local targeted
    // re-validation; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      // see Bench: ContextCleaner only reclaims shuffles/broadcasts on
      // JVM GC; with a large heap a periodic sweep is the only bound on
      // a ~100-query session's dead shuffle state
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // within-query persists (pipeline fan-out upstreams, shingle tables)
      // are released between queries — 94 queries share this session, and
      // accumulated storage memory would otherwise evict and degrade later
      // queries (same hygiene as Bench)
      spark.catalog.clearCache()
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
    // staged-artifact references: an oracle may name a write-once staged
    // table (the JPEG decode-once rasters) via __STAGED:<prefix>__ — the
    // path is keyed on the sf dir's content fingerprint (and the engine
    // code digest), so it can only be resolved HERE, where the sf dir is
    // known. The artifact itself was built by the query's own run above,
    // so the dumped SQL always points at an existing parquet tree.
    val stagedRe = "__STAGED:([A-Za-z0-9_]+)__".r
    def resolve(sql: String): String =
      stagedRe.replaceAllIn(sql, m =>
        java.util.regex.Matcher.quoteReplacement(
          Staging.path(m.group(1), sfDir).toString))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(resolve(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
