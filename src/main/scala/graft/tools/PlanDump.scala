package graft.tools

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan evidence for optimization rounds (plans/r16/<q>_before.txt /
  * _after.txt). Usage:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>"
  * Writes <outDir>/<query>_<suffix>.txt. The session is Bench's ([[graft.Session]])
  * so the captured plan is the plan the bench actually runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = graft.Session.local("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    for (n <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
            println(s"[plandump] wrote $n ($suffix): " +
              s"${txt.linesIterator.count(_.contains("Exchange"))} Exchange lines")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
