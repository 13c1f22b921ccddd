package graft

import graft.tools.PlanDump

/** PlanDump's capture sees every session of the SparkContext: the Aria
  * drains run in `newSession()` children, whose executions a
  * session-scoped QueryExecutionListener never hears. */
class PlanDumpSpec extends SparkSpec {

  test("an action run in a child session is recorded") {
    val (n, runs) = PlanDump.executedDuring(spark) {
      spark.newSession().range(0, 10).selectExpr("sum(id) AS s").collect()(0).getLong(0)
    }
    assert(n === 45L)
    assert(runs.map(_._1) === Seq("collect"), runs.map(_._1))
    assert(runs.head._2.executedPlan.toString.contains("Range"))
  }

  test("actions in the session itself are recorded in run order") {
    val (_, runs) = PlanDump.executedDuring(spark) {
      spark.range(0, 5).count()
      spark.range(0, 5).collect()
    }
    assert(runs.map(_._1) === Seq("count", "collect"), runs.map(_._1))
  }
}
