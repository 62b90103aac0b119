package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // coalesce(1) is HARNESS-ONLY (single comparable file for the DuckDB
    // compare); it single-tasks the final write and must never leak into
    // operator code.
    // Failed queries are RECORDED, not just logged: r9's testdata schema
    // change silently dropped 18 queries from the round's correctness
    // artifact because a failure left only a stderr line nothing captured.
    // _failures.json in the outDir makes the gap self-diagnosing.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        var root: Throwable = e
        while (root.getCause != null && root.getCause != root) root = root.getCause
        val msg = s"${root.getClass.getName}: ${Option(root.getMessage).getOrElse("").take(600)}"
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
      }
      // iterative ops persist within their execution; drop leftovers so
      // the 60+-query sweep's memory footprint stays bounded
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    // rc stays 0 on partial failure: the driver must still compare (and
    // record) the queries that DID dump — _failures.json carries the gap.
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
