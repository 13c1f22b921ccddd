package graft

import org.apache.spark.sql.functions._
import graft.functions.Portable

/** The ANN family's one ranking rule, [[Portable.topK]] (DuckDB twin
  * [[Portable.rankSql]]): best first, ties to the smaller id, keep
  * rank ≤ k per group, with a BIGINT rank. */
class PortableTopKSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("equal scores rank the smaller id first; rank is BIGINT") {
    val df = Seq((1L, 7L, 0.5), (1L, 3L, 0.5), (1L, 9L, 0.9), (2L, 4L, 0.1))
      .toDF("query_id", "cand_id", "cosine")
    val top = Portable.topK(df, Seq("query_id"), desc("cosine"), "cand_id", lit(2))
    assert(top.schema("rank").dataType.typeName === "long")
    val rows = top.orderBy("query_id", "rank")
      .select("query_id", "cand_id", "rank").as[(Long, Long, Long)].collect().toSeq
    assert(rows === Seq((1L, 9L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
    // ascending best: the same tie rule
    val asc = Portable.topK(df, Seq("query_id"), col("cosine"), "cand_id", lit(1))
      .orderBy("query_id").select("cand_id").as[Long].collect().toSeq
    assert(asc === Seq(3L, 4L))
  }

  test("a literal k plans as WindowGroupLimit") {
    val df = spark.range(0, 200).select((col("id") % 5).as("g"), col("id"),
      (col("id") % 7).cast("double").as("score"))
    val p = planOf(Portable.topK(df, Seq("g"), desc("score"), "id", lit(3)))
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("a column k (the beam form) keeps exactly rank <= k per group") {
    val df = spark.range(0, 60).select((col("id") % 3 + 1).as("beam"),
      (col("id") % 2).as("query_id"), col("id").as("cand_id"),
      (col("id") % 4).cast("double").as("cosine"))
    val top = Portable.topK(df, Seq("beam", "query_id"), desc("cosine"), "cand_id",
      col("beam"))
    val counts = top.groupBy("beam", "query_id").agg(count(lit(1)).as("n"),
        max("rank").as("maxRank"))
      .as[(Long, Long, Long, Long)].collect()
    assert(counts.length === 6)
    counts.foreach { case (beam, _, n, maxRank) =>
      assert(n === beam && maxRank === beam)
    }
    // the kept rows are the best `beam` of their group under the rule
    val expected = df.as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(r => (r._1, r._2)).toSeq.flatMap { case ((beam, _), rs) =>
        rs.sortBy(r => (-r._4, r._3)).take(beam.toInt).map(_._3) }
    assert(top.select("cand_id").as[Long].collect().sorted.toSeq === expected.sorted)
  }
}
