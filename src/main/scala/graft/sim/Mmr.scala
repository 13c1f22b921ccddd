package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** Maximal-marginal-relevance diversified re-ranking (Carbonell &
  * Goldstein 1998) — the retrieval step between top-k search and
  * consumption: from each query's cosine top-[[nCand]] candidate pool,
  * greedily select [[nSelect]] results maximizing
  * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`, so near-duplicate
  * hits don't crowd the result list. Next to `retrieval_rrf_fusion`
  * this completes the post-search re-rank family; in a training-data
  * pipeline the same operator diversifies retrieved context panels.
  *
  * Scale shape: candidate generation is [[Similarity.cosineTopK]]'s
  * plan — broadcast query panel streamed over the corpus with
  * WindowGroupLimit bounding each map task's output to C rows per
  * query — and is the ONLY corpus-sized work. Everything after
  * operates on Q·C-bounded frames (and the C·C-per-query pair-sim
  * frame), independent of corpus size: at 100 TB the rerank cost is
  * unchanged. The greedy selection is a fixed [[nSelect]]-round unroll
  * of relational steps (anti-join remaining, max-sim aggregate against
  * the selected set, per-query argmax window), so the DuckDB oracle
  * replays it exactly as chained CTEs. The per-round `selected` frame
  * has three consumers (anti-join, max-sim join, union) and is
  * reassigned in a driver loop, so each round cuts its lineage
  * with `localCheckpoint`: a barrier that kept the nested per-round plan
  * measured 13.1 s against the 1.7 s floor.
  *
  * Exactness: relevance and pair similarities are the family's
  * portable fixed-point cosine (integer dot products, one final IEEE
  * division); λ enters as the double literals 0.7/0.3 in both engines
  * (never `1 − λ`, whose floating round-off differs from the literal).
  */
object Mmr {

  private val nQueries = 8 // the family's standard query panel
  private val nCand = 12   // candidate pool per query
  private val nSelect = 5  // greedy picks per query

  /** The corpus-sized stage alone — the top-C pool via the cosineTopK
    * plan (broadcast panel + WindowGroupLimit). Package-visible so
    * PlanShapeSpec can pin that shape (the greedy loop's final lineage
    * cut hides it from the full query's plan). */
  private[graft] def candidates(spark: SparkSession, dir: String): DataFrame = {
    val qn = Similarity.quantized(spark, dir)
    val queries = qn.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nsq").as("na"))
    val corpus = qn.select(col("vec_id").as("cand_id"), col("q").as("qb"),
      col("nsq").as("nb"))
    corpus.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("rel",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("rel"), "cand_id", lit(nCand)))
      .select("query_id", "cand_id", "rel")
  }

  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val qn = Similarity.quantized(spark, dir)
    val cands = candidates(spark, dir)
      .localCheckpoint(false) // consumers: pair-sim build + every greedy round
    // candidate vectors: one broadcast-probe of the corpus, Q·C rows out
    val cv = qn
      .join(broadcast(cands.select(col("cand_id").as("vec_id")).distinct()), "vec_id")
      .select(col("vec_id"), col("q"), col("nsq"))
    val withVec = cands
      .join(broadcast(cv.withColumnRenamed("vec_id", "cand_id")), "cand_id")
    // within-pool pair similarities: C·C per query, the rerank's "index"
    val pairs = withVec
      .select(col("query_id"), col("cand_id").as("pa"), col("q").as("qx"),
        col("nsq").as("nx"))
      .join(withVec.select(col("query_id"), col("cand_id").as("pb"),
        col("q").as("qy"), col("nsq").as("ny")), "query_id")
      .filter(col("pa") =!= col("pb"))
      .select(col("query_id"), col("pa"), col("pb"),
        Portable.cosine(Portable.dotQ(col("qx"), col("qy")), col("nx"), col("ny")).as("sim"))
      .localCheckpoint(false) // consumed once per greedy round
    var selected = Portable.topK(cands, Seq("query_id"), desc("rel"), "cand_id", lit(1))
      .select(col("query_id"), col("cand_id"), col("rel"),
        lit(1L).as("mmr_rank"))
    for (s <- 2 to nSelect) {
      val selKeys = selected.select(col("query_id").as("sq"),
        col("cand_id").as("sc"))
      val maxSim = pairs
        .join(selKeys, pairs("query_id") === col("sq") && pairs("pb") === col("sc"))
        .groupBy(col("query_id"), col("pa"))
        .agg(max(col("sim")).as("maxsim"))
        .join(selKeys, col("query_id") === col("sq") && col("pa") === col("sc"),
          "left_anti") // remaining = pool minus selected
      val picked = cands
        .join(maxSim.select(col("query_id"), col("pa").as("cand_id"),
          col("maxsim")), Seq("query_id", "cand_id"))
        .withColumn("score",
          lit(0.7) * col("rel") - lit(0.3) * col("maxsim"))
        .transform(Portable.topK(_, Seq("query_id"), desc("score"), "cand_id", lit(1)))
        .select(col("query_id"), col("cand_id"), col("rel"),
          lit(s.toLong).as("mmr_rank"))
      selected = selected.unionAll(picked).localCheckpoint(false)
    }
    selected.orderBy("query_id", "mmr_rank")
  }

  val mmrRerankSql: String = {
    val score = "CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.maxsim"
    val rounds = (2 to nSelect).map { s =>
      s"""ms$s AS (
         |  SELECT p.query_id, p.pa AS cand_id, max(p.sim) AS maxsim
         |  FROM pairs p JOIN sel${s - 1} t ON t.query_id = p.query_id AND t.cand_id = p.pb
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${s - 1} z
         |                    WHERE z.query_id = p.query_id AND z.cand_id = p.pa)
         |  GROUP BY p.query_id, p.pa),
         |pick$s AS (
         |  SELECT query_id, cand_id, rel, mmr_rank FROM (
         |    SELECT c.query_id, c.cand_id, c.rel, CAST($s AS BIGINT) AS mmr_rank,
         |           ${Portable.rankSql("c.query_id", s"$score DESC", "c.cand_id")} AS rn
         |    FROM cand c JOIN ms$s m ON m.query_id = c.query_id AND m.cand_id = c.cand_id)
         |  WHERE rn = 1),
         |sel$s AS (SELECT * FROM sel${s - 1} UNION ALL SELECT * FROM pick$s)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${Similarity.quantizedSql},
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |         ${Similarity.abCosineSql} AS rel
       |  FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $nQueries
       |),
       |cand AS (
       |  SELECT query_id, cand_id, rel FROM (
       |    SELECT query_id, cand_id, rel,
       |           ${Portable.rankSql("query_id", "rel DESC", "cand_id")} AS rn
       |    FROM scored) WHERE rn <= $nCand
       |),
       |pv AS (
       |  SELECT c.query_id, c.cand_id, q.qv, q.nsq
       |  FROM cand c JOIN qn q ON q.vec_id = c.cand_id
       |),
       |pairs AS (
       |  SELECT a.query_id, a.cand_id AS pa, b.cand_id AS pb,
       |         ${Similarity.abCosineSql} AS sim
       |  FROM pv a JOIN pv b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
       |),
       |sel1 AS (
       |  SELECT query_id, cand_id, rel, CAST(1 AS BIGINT) AS mmr_rank FROM (
       |    SELECT query_id, cand_id, rel,
       |           ${Portable.rankSql("query_id", "rel DESC", "cand_id")} AS rn
       |    FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT query_id, cand_id, rel, mmr_rank FROM sel$nSelect
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_mmr_rerank" -> ((s, d) => mmrRerank(s, d)))

  val oracles: Map[String, String] = Map(
    "sim_mmr_rerank" -> mmrRerankSql)
}
