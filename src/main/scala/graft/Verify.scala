package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [namePrefixes]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional comma-separated name-prefix filter for local iteration;
    // the driver's 2-arg invocation runs everything
    val keep: String => Boolean = args.lift(2) match {
      case Some(p) => n => p.split(',').exists(n.startsWith)
      case None => _ => true
    }
    // production session shape: extensions on, so the injected
    // functions run under the oracle gate
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the query's parquet is on disk — its operator-internal caches
      // are dead weight from here on; release so a 198-query session
      // doesn't accumulate every derive-once artifact (and so no query
      // silently reads a predecessor's cached frame)
      graft.util.Caches.releaseAll()
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in the oracle SQL would otherwise
    * make a strict JSON reader (tools/check.py's json.load) reject
    * the whole oracle_sql.json.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
