package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val wanted = rest.toSet // optional extra args: dev-only query filter
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = QueryCatalog.all
      .filter(sp => wanted.isEmpty || wanted.contains(sp.name))
      .flatMap { sp =>
      // per-spec execution confs (QuerySpec.confs) scope around the
      // run and restore after — results never depend on them
      try {
        sp.withConfs(spark) {
          sp.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/${sp.name}")
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${sp.name} failed:")
        e.printStackTrace()
        Some(sp.name)
      } finally {
        // queries that persist intermediates (IVF centroids, LSH shingle
        // tables) must not stack cached blocks across a 51-query session
        spark.catalog.clearCache()
      }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(s"[verify] ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", " ", "")))
  }
}
