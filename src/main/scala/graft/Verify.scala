package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (dev only): comma-separated query-name filter,
    // or --oracle-only to rewrite oracle_sql.json for an EXISTING dump
    // (oracle SQL edits don't invalidate the Spark-side parquet)
    val oracleOnly = args.contains("--oracle-only")
    val only: Option[Set[String]] =
      args.drop(2).filterNot(_.startsWith("--")).headOption
        .map(_.split(",").toSet)
    // --oracle-only rewrites an EXISTING dump's oracle_sql.json; a
    // name filter would silently shrink that file to the subset and
    // the next gate run would cover N queries with no trace — refuse
    // the combination instead
    require(!(oracleOnly && only.isDefined),
      "--oracle-only refreshes the FULL oracle_sql.json of an existing " +
        "dump; combining it with a query-name filter would silently " +
        "shrink the gate. Drop the filter (or run a filtered dump " +
        "without --oracle-only into a fresh outDir).")
    // lazy: --oracle-only never starts Spark
    lazy val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A throwing query must NOT vanish silently: it is recorded in
    // failed.json (name → error) next to oracle_sql.json, so a gate
    // shrink is visible as an artifact, not inferred from absence.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (!oracleOnly) {
      SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        }
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (!oracleOnly) { // keep an existing dump's failed.json intact
      val failedJson =
        failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
      if (failed.nonEmpty)
        System.err.println(s"[verify] ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
      spark.stop()
    }
  }
}
