package graft.tools

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, ExplainUtils, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Dump the plans of named SparkEntry queries to files — the plan
  * evidence for optimization rounds and the plan-equality check of a
  * refactor. Usage:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>"
  * Writes <outDir>/<query>_<suffix>.txt: every plan the SparkContext
  * executed while the query's frame was built (the eager checkpoints
  * and collects of loops and memo builds, in run order, each headed by
  * its action name), in any session — the Aria drains run in
  * `newSession()` children — then the frame's own `.explain("formatted")`. An executed plan
  * is written as AQE planned it before it ran: its final form depends on
  * which query stages finish first, so it differs between runs of the
  * same code. Memos are evicted before each query, so each file carries
  * the builds that query pays for when it runs alone. Expression ids,
  * lambda-variable counters, RDD ids, `plan_id`s, codegen ids, call
  * sites, JVM identity hashes and the per-JVM fixture root are
  * normalized away, so two dumps of the same code compare equal with
  * `diff`. The session is Bench's
  * ([[graft.Session]]) so the captured plans are the plans the bench
  * runs.
  */
object PlanDump {
  private val formatted = ExplainMode.fromString("formatted")

  /** Strip what varies between runs of the same plan. */
  private[graft] def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+", "#")
      .replaceAll("lambda (\\w+?)_\\d+", "lambda $1_")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll(" \\[codegen id : \\d+\\]", "")
      .replaceAll(" at [\\w$]+\\.scala:\\d+", " at <site>")
      .replaceAll("\\$Lambda[$/][\\w$/.]*", "\\$Lambda")
      .replaceAll("@[0-9a-f]+\\b", "@")
      .replaceAll("graft_fixtures_\\d+", "graft_fixtures_")

  /** `qe`'s physical plan in the formatted layout, as AQE planned it
    * before running it. */
  private def initialPlan(qe: QueryExecution): String = {
    val sb = new StringBuilder("== Physical Plan ==\n")
    ExplainUtils.processPlan(qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }, (s: String) => { sb.append(s); () })
    sb.toString
  }

  /** `body`'s result and the (action, plan) of every SQL execution that
    * succeeded while it ran, in run order — in `spark` and in every
    * other session of its SparkContext. */
  private[graft] def executedDuring[T](spark: SparkSession)(body: => T)
      : (T, Seq[(String, QueryExecution)]) = {
    val sc = spark.sparkContext
    val executed = ArrayBuffer.empty[(String, QueryExecution)]
    GraftBridge.drainListeners(sc) // earlier executions' events land first
    val l = GraftBridge.onSqlExecutionEnd(sc)((f, qe) =>
      executed.synchronized(executed += f -> qe))
    try {
      val r = body
      GraftBridge.drainListeners(sc)
      (r, executed.synchronized(executed.toList))
    } finally sc.removeSparkListener(l)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = graft.Session.local("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    for (n <- names.split(",").map(_.trim).filter(_.nonEmpty)) {
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(fn) =>
          try {
            graft.Memo.evictAll(spark)
            val (df, runs) = executedDuring(spark)(fn(spark, sfDir))
            val txt = (runs.zipWithIndex.map { case ((f, qe), i) =>
              s"== executed ${i + 1}: $f ==\n${initialPlan(qe)}"
            } :+ s"== final ==\n${df.queryExecution.explainString(formatted)}")
              .mkString("\n")
            Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), normalize(txt))
            println(s"[plandump] wrote $n ($suffix): ${runs.size} executed plans, " +
              s"${txt.linesIterator.count(_.contains("Exchange"))} Exchange lines")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
