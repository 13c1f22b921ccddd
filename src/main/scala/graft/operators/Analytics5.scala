package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.GraphOps

/** Round-12 analytics additions — community detection over the shared
  * part↔supplier co-occurrence graph (graft.sim.GraphOps.edges; cf.
  * reference Transction.h:28 / Transction_y.h:21 `keys_max` for
  * provenance of the id space — the graph surface itself is
  * north-star scope, absent from the reference).
  */
object Analytics5 {

  private val lpaRounds = 4

  /** Label encoding bound for the argmax-by-(count, min-label) trick:
    * score = c·K − label packs the vote count and the tie-break into
    * one BIGINT so the per-node winner is a plain `max`. Requires
    * K > max node id (node ids here are ≤ ~1.3e10 even on the 64×
    * fixture; K = 1e12 leaves c ≤ [[MaxVoteCount]] ≈ 9.2e6 before
    * BIGINT range matters). A key universe beyond K would switch to
    * `max(struct(c, -label))` — same single-agg shape, engine-native
    * ordering. The bound is GUARDED, not assumed: a (node, label) vote
    * count past it raises instead of silently wrapping (Spark non-ANSI
    * would wrap; DuckDB promotes to HUGEINT — a divergence, not a
    * crash, so the wrap would otherwise surface only as a hash
    * mismatch). One branch per post-agg row — vote rows, not edges. */
  private val ScoreK = 1000000000000L

  /** Largest packable vote count: c·K − label must stay under
    * Long.MaxValue for any label < K. Web-scale head nodes CAN exceed
    * this (≥9.2M same-label neighbors) — that corpus switches to the
    * struct form per the note above. */
  private val MaxVoteCount = Long.MaxValue / ScoreK - 1

  /** Synchronous label propagation (Raghavan 2007) — community
    * detection next to the CC/modularity family: each round every node
    * adopts the most frequent label among its neighbors AND itself
    * (the self-vote is the standard damping for the oscillation a
    * bipartite graph induces under synchronous update), ties broken
    * toward the smaller label, so the fixed round count is exactly
    * reproducible — the DuckDB oracle unrolls the same rounds.
    *
    * Scale shape (the LPA that survives 100 TB): per round ONE
    * edge⋈labels equi-join, a (node, label) count agg, and a per-node
    * max — all partial-aggregable BIGINT shuffles keyed on node; no
    * per-round frame ever exceeds |E|. Lineage is cut per round
    * (`localCheckpoint`) like the CC iterations.
    * Output is the community-size histogram (label identities are
    * fixture node ids — sizes are the portable signal). */
  def labelPropagation(spark: SparkSession, dir: String,
                       rounds: Int = lpaRounds): DataFrame = {
    val e = GraphOps.edgesStaged(spark, dir) // reused every round
    var labels = GraphOps.degrees(spark, dir)
      .select(col("src").as("node"), col("src").as("label"))
    for (_ <- 1 to rounds) {
      val prop = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      labels = labels.select("node", "label").unionAll(prop)
        .groupBy("node", "label").agg(count(lit(1)).as("c"))
        .select(col("node"), when(col("c") > MaxVoteCount, raise_error(lit(
            s"graph_label_prop: a (node, label) vote count exceeds the " +
              s"c*K-label packing bound $MaxVoteCount; use max(struct(c, -label))")))
          .otherwise(col("c") * ScoreK - col("label")).as("score"))
        .groupBy("node").agg(max("score").as("m"))
        .select(col("node"),
          expr(s"((m + ${ScoreK - 1}L) DIV ${ScoreK}L) * ${ScoreK}L - m").as("label"))
        .localCheckpoint(false) // per-round drain cut
    }
    labels.groupBy("label").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_communities"))
      .orderBy("csize")
  }

  def labelPropagationSql(rounds: Int = lpaRounds): String = {
    val iters = (1 to rounds).map { i =>
      s"""l$i AS (
         |  SELECT node, ((m + ${ScoreK - 1}) // $ScoreK) * $ScoreK - m AS label FROM (
         |    SELECT node, max(c * $ScoreK - label) AS m FROM (
         |      SELECT node, label, count(*) AS c FROM (
         |        SELECT node, label FROM l${i - 1}
         |        UNION ALL
         |        SELECT e.dst AS node, l.label
         |        FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |      ) GROUP BY node, label
         |    ) GROUP BY node
         |  )
         |)"""
    }.mkString(",\n")
    s"""WITH ${GraphOps.edgesSql},
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$iters,
       |comm AS (SELECT label, count(*) AS csize FROM l$rounds GROUP BY label)
       |SELECT csize, count(*) AS n_communities FROM comm
       |GROUP BY csize ORDER BY csize""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Personalized PageRank on the fixed landmark panel
  // ---------------------------------------------------------------------

  private val pprLandmarks = 8
  private val pprRounds = 3
  private val pprTopK = 5
  private val PprS = 1000000000000L // rank scale (1e12, cf. GraphOps)

  /** Personalized PageRank (Page et al. 1999 §6; the random-walk-with-
    * restart relevance measure behind "related items" and seed-based
    * recommendation) from the SAME fixed 8-landmark supplier panel as
    * closeness/betweenness: all restart mass returns to the one source
    * landmark, so rank(lm, v) scores v's relevance TO lm rather than
    * global popularity — per landmark, the top-[[pprTopK]] nodes.
    *
    * Scaled-integer arithmetic end to end (BIGINT at 1e12 like
    * `graph_pagerank`): r₀(lm, lm) = S; each round
    * r'(lm, v) = 0.15·S·[v = lm] + 0.85·Σ_{u→v} r(lm, u) DIV deg(u),
    * with the 85/100 factor applied AFTER the per-(lm, v) sum (one
    * floor division per cell, not per contribution). Integer DIV keeps
    * both engines bit-identical under any summation order.
    *
    * Scale shape: state is (lm, node, rank) — and it stays SPARSE: mass
    * only reaches nodes within `rounds` hops of a landmark, so the
    * state is bounded by the panel's K-hop ball, not k·V. Each round is
    * one edges⋈ranks equi-join on the source node + one (lm, dst)
    * partial+final BIGINT agg — k·2E join fanout per round, the
    * `graph_pagerank` layout with a landmark column along for the ride.
    * K is small and fixed, so the loop runs as ONE job with chained
    * shuffles (the measured-cheaper choice from `graph_pagerank`; an
    * open-ended convergence loop would add per-round cuts). The final
    * per-landmark top-k plans as a WindowGroupLimit partial top-k. */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val e = GraphOps.edgesStaged(spark, dir) // reused every round
    val deg = GraphOps.degrees(spark, dir)
    val landmarks = deg.select(col("src").as("lm"))
      .filter(col("lm") % 2 === 1) // suppliers are odd-encoded
      .orderBy("lm").limit(pprLandmarks)
    val teleport = landmarks
      .select(col("lm"), col("lm").as("node"),
        lit(15L * PprS / 100L).as("r"))
    var ranks = landmarks
      .select(col("lm"), col("lm").as("node"), lit(PprS).as("rank"))
    for (_ <- 1 to pprRounds) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .join(deg, "src")
        .select(col("lm"), col("dst").as("node"), expr("rank DIV deg").as("c"))
      ranks = contrib.groupBy("lm", "node").agg(sum("c").as("in_sum"))
        .select(col("lm"), col("node"), expr("85 * in_sum DIV 100").as("r"))
        .unionAll(teleport)
        .groupBy("lm", "node").agg(sum("r").as("rank"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lm").orderBy(desc("rank"), col("node"))
    ranks.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= pprTopK)
      .select(expr("(lm - 1) DIV 2").as("suppkey"), col("node"),
        col("rank"), col("rk").cast("long").as("rk"))
      .orderBy("suppkey", "rk")
  }

  def personalizedPageRankSql: String = {
    val rounds = (1 to pprRounds).map { i =>
      s"""a$i AS (
         |  SELECT lm, node, 85 * sum(c) // 100 AS r FROM (
         |    SELECT r.lm, e.dst AS node, r.rank // d.deg AS c
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |         JOIN deg d ON e.src = d.src
         |  ) GROUP BY lm, node
         |),
         |r$i AS (
         |  SELECT lm, node, CAST(sum(r) AS BIGINT) AS rank FROM (
         |    SELECT lm, node, r FROM a$i
         |    UNION ALL
         |    SELECT lm, lm AS node, (15 * $PprS) // 100 AS r FROM lms
         |  ) GROUP BY lm, node
         |)"""
    }.mkString(",\n")
    s"""WITH ${GraphOps.edgesSql},
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |lms AS (
       |  SELECT DISTINCT src AS lm FROM edges WHERE src % 2 = 1
       |  ORDER BY lm LIMIT $pprLandmarks
       |),
       |r0 AS (SELECT lm, lm AS node, CAST($PprS AS BIGINT) AS rank FROM lms),
       |$rounds
       |SELECT (lm - 1) // 2 AS suppkey, node, rank, rk FROM (
       |  SELECT lm, node, rank,
       |         row_number() OVER (PARTITION BY lm ORDER BY rank DESC, node) AS rk
       |  FROM r$pprRounds)
       |WHERE rk <= $pprTopK ORDER BY suppkey, rk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_label_prop" -> ((s, d) => labelPropagation(s, d)),
    "graph_ppr" -> ((s, d) => personalizedPageRank(s, d)))

  val oracles: Map[String, String] = Map(
    "graph_label_prop" -> labelPropagationSql(),
    "graph_ppr" -> personalizedPageRankSql)
}
