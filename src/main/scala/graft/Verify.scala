package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b restricts the dump (iteration aid; the driver
    // never sets it, so the harness always dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // epoch-0 workload dump: lets DuckDB recompute the aria verdicts
    // (oracle SQL references these files via __ARIA_DIR__). Written to a
    // SIBLING of outDir — the driver enumerates outDir's children as
    // query results, so input dumps inside it would surface as phantom
    // query rows. If the dump fails, DROP the aria oracles instead of
    // emitting SQL over files that don't exist — a degraded round must
    // not turn into hard oracle errors.
    val ariaDir = Paths.get(outDir).toAbsolutePath.toString + "_oracle_inputs"
    val ariaDumpOk =
      try {
        graft.aria.AriaQueries.persistEpoch0Inputs(spark, ariaDir)
        graft.aria.AriaQueries.persistMultiInputs(spark, ariaDir)
        graft.aria.AriaQueries.persistFallbackInputs(spark, ariaDir)
        true
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] aria epoch0 dump failed: ${e.getMessage}")
        false
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
      .filter { case (_, v) => ariaDumpOk || !v.contains("__ARIA_DIR__") }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__ARIA_DIR__", ariaDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
