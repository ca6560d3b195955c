package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registry key's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query names to dump instead of all
    val subset = args.lift(2).map(_.split(",").toSeq)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // a key that throws is logged and the dump goes on; the run still
    // fails at the end, so no thrown key passes silently
    val runs = KeyRunner.run(spark, sfDir, KeyRunner.Parquet(outDir), only = subset)
    runs.foreach { r =>
      r.error.foreach(e => System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}"))
      if (r.blockPuts > 0) System.err.println(s"[verify] ${r.name} block-put WARNs: ${r.blockPuts}")
    }
    val failed = runs.filterNot(_.ok).map(_.name)
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
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
