package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names limit the run to those
    // queries (local iteration); the driver's two-arg call runs everything
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // SPARK_GRAFT_MASTER overrides the single-JVM default — used by the
    // multi-executor CI pass (`local-cluster[2,16,4096]` via spark-submit)
    // that catches executor-side serialization and broadcast-lifecycle
    // bugs local[N] cannot (separate executor JVMs, real RPC).
    val spark = Bench.session(sys.env.get("SPARK_GRAFT_MASTER"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries must not interfere: drop the intermediates a query
      // persisted internally (e.g. the coreference edge list, Lm's tf
      // frames) before the next one runs — the Caching registry is the
      // API'd form of the old blanket clearCache
      graft.Caching.drain()
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
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
