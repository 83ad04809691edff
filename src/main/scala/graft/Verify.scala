package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: oracle_sql.json, then each
  * SparkEntry.queries result → parquet, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `oracle_sql.json`: every row's DuckDB SQL by name — a pure function
    * of [[SparkEntry.oracleSql]], needing no Spark session. */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
    .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query filter (dev only)].
    // oracle_sql.json always holds every row and is written before any
    // row runs; a filter that names no row writes only it, and opens no
    // Spark session.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    if (selected.isEmpty) return
    val spark = Session()
    selected.foreach { case (name, fn) =>
      // guide §1.5: label jobs with their query for UI/event-log triage
      spark.sparkContext.setJobDescription(s"verify:$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
