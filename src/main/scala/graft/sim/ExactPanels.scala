package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** The ANN recall gate ([[recall]], with its DuckDB twin) and the
  * session-scoped memo of the exact ground-truth (query_id, cand_id)
  * panels it compares against ([[graft.Memo]], keyed by input, metric
  * and k), with the panels' DuckDB twins ([[cosineSql]], [[l2Sql]]).
  *
  * Every recall gate re-paid the identical brute-force exact side per
  * query — one full corpus scan + quantize + broadcast panel join +
  * partial top-k (~10 gates × one corpus pass per board run at sf0.1).
  * Ground truth for a FIXED measurement panel is computed once in a
  * real evaluation pipeline and reused across every index variant
  * under test, so the memo is the honest shape, not a shortcut: the
  * first gate to run pays the full exact compute inside its own timed
  * region.
  *
  * The collected panel is 8·k BIGINT id pairs (model-sized — the same
  * literal-panel device as Clustering's least-chain query vector), so
  * gates consume a LocalRelation: no extra scan, no rdd-segment added
  * to their plans, and the declared `sim_cosine_topk` query itself
  * never reads the memo (its scan+partial-top-k plan is pinned by
  * PlanShapeSpec and stays the RAPIDS-clean form).
  */
private[graft] object ExactPanels {
  /** Exact-cosine panel ([[Similarity.cosineTopK]] ground truth). */
  private[sim] def cosine(spark: SparkSession, dir: String, k: Int): DataFrame =
    panel(spark, ("exact.cosine", graft.Memo.input(dir), k))(
      Similarity.cosineTopK(spark, dir, k).select("query_id", "cand_id"))

  /** Exact-L2 panel ([[Pq.exactL2TopK]] ground truth). */
  private[sim] def l2(spark: SparkSession, dir: String, k: Int): DataFrame =
    panel(spark, ("exact.l2", graft.Memo.input(dir), k))(Pq.exactL2TopK(spark, dir, k))

  /** DuckDB twin of the [[cosine]] panel: an `exact` CTE body over the
    * oracle's `qn` CTE (vec_id, qv, nsq). */
  private[sim] def cosineSql(k: Int): String =
    panelSql(s"${Similarity.abCosineSql} DESC", k)

  /** DuckDB twin of the [[l2]] panel, over the same `qn` CTE: exact
    * BIGINT dist², ascending. */
  private[sim] def l2Sql(k: Int): String =
    panelSql(s"a.nsq - 2*${Portable.dotSql("a.qv", "b.qv")} + b.nsq", k)

  /** The k best candidates by `order` of each panel query (vec_id < 8,
    * self excluded), ties to the lower cand_id. */
  private def panelSql(order: String, k: Int): String =
    s"""SELECT query_id, cand_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |           ${Portable.rankSql("a.vec_id", order, "b.vec_id")} AS rank
       |    FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 8) WHERE rank <= $k""".stripMargin

  /** The memoized exact panel for `key`, built by `build` (a frame
    * whose first two columns are BIGINT query_id, cand_id) on first
    * use, returned as a LocalRelation DataFrame. */
  private[sim] def panel(spark: SparkSession, key: Product)
                        (build: => DataFrame): DataFrame = {
    val rows = graft.Memo(spark, key)(
      build.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    spark.createDataFrame(rows).toDF("query_id", "cand_id")
  }

  /** The recall gate every ANN arm shares: the `exact` ground-truth
    * pairs left-joined to the hits of `top` (the approximate result, its
    * `on` columns marking one hit each), counted per `by` — n_exact,
    * n_hits and recall = n_hits / n_exact, a division of identical
    * small integers, hence identical doubles in both engines. Ordered
    * by the first `by` key; a curve crosses its budget axis into `exact`
    * and names it in `on` and `by` (further `by` keys are labels the
    * first determines). */
  private[sim] def recall(exact: DataFrame, top: DataFrame,
                          on: Seq[String] = Seq("query_id", "cand_id"),
                          by: Seq[String] = Seq("query_id")): DataFrame =
    exact.join(top.select(on.map(col) :+ lit(1L).as("hit"): _*), on, "left")
      .groupBy(by.head, by.tail: _*)
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_exact").cast("double"))
      .orderBy(by.head)

  /** DuckDB twin of the per-query [[recall]] gate, over the CTEs
    * `exact` and `approx` (query_id, cand_id). */
  private[sim] val recallSql: String =
    """SELECT e.query_id, count(*) AS n_exact,
      |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |       CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS recall
      |FROM exact e LEFT JOIN approx a
      |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
      |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
}
