package graft
import java.nio.file.{Files, Paths}
import graft.tools.LongDrive
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // shuffle partitions track the cores
    val spark = LongDrive.session(LongDrive.LongRun, "4")
    new java.io.File(outDir).mkdirs()
    val names = LongDrive.select()
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
    // Oracle json goes FIRST: if the harness wall-clock-kills a long dump,
    // every query parquet already on disk stays comparable instead of the
    // whole round silently shrinking (round-5 lesson).
    val json = SparkEntry.oracleSql.filter(e => names.contains(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val queries = SparkEntry.queries
    for (name <- names) {
      for (t <- LongDrive.guarded("verify", name)(
          queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")))
        System.err.println(f"[verify] $name ok $t%.1fs")
      // Release this query's dead shuffle dependencies NOW so the
      // ContextCleaner can delete their files before the next query
      // starts spilling (see LongDrive.LongRun); artifacts stay referenced.
      System.gc()
    }
    spark.stop()
  }
}
