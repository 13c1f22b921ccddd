package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable
import org.apache.spark.sql.types.DecimalType
import graft.operators.Tables.t

/** Fourth analytics batch: the 2-D skyline (Pareto front), graph
  * centralities (local clustering coefficient, HITS, landmark
  * closeness), the experimentation suite (CUPED, SRM, power/MDE,
  * one-way ANOVA), operational reports (multi-window SLO burn rate,
  * week-over-week movement, partition-skew audit), path mining, and
  * incremental aggregate maintenance.
  *
  * Reference context: the reference engine (/root/reference/src/) has no
  * analytics surface; these are SURVEY §2.4 harness-capability queries.
  * Exactness discipline as everywhere on the board: prices quantize to
  * integer cents up front, every aggregate is an order-independent
  * integer sum/min/max/count, ratios are integer `DIV` at a documented
  * scale, moments widen to DECIMAL(38,0) with doubles only in one
  * identical IEEE expression per column, and output orders are total
  * (value, then id).
  */
object Analytics4 {

  // ---------------------------------------------------------------------
  // Skyline / Pareto front
  // ---------------------------------------------------------------------

  /** Price bucket width (cents) for the skyline grid prefilter. */
  private val bucketCents = 2500L // $25 buckets over the ~$900–$2100 range

  /** 2-D skyline (Pareto front) over `part`: minimize retail price,
    * maximize size — "no other part is at most as expensive AND at least
    * as big, strictly better in one". The multi-objective shortlist
    * operator every catalog/quality pipeline runs (Börzsönyi et al.,
    * ICDE 2001 "The Skyline Operator").
    *
    * Scale shape — the naive formulations both fail at 100 TB: the
    * dominance anti-join is O(n²), and the textbook sort-sweep is ONE
    * global sort through a single-partition window. This implementation
    * is the standard grid-pruned two-phase form:
    *   1. one partial+final agg to ≤ ~50 price-bucket cells, a running
    *      max over that tiny staircase (driver-sized window), and a
    *      broadcast join back: a row survives only if its size exceeds
    *      the max size of every strictly-cheaper bucket. Pruned rows are
    *      provably dominated (a strictly-cheaper bucket's witness has
    *      strictly lower price and ≥ size); if a row survives, any
    *      dominator of it also survives or shares its pruner — so the
    *      exact sweep over survivors returns the true skyline.
    *   2. the exact sweep runs its two windows (strictly-cheaper running
    *      max via a RANGE frame; same-price max) over the surviving
    *      handful of rows — the single-partition window touches only the
    *      staircase-sized candidate set, never the table.
    */
  def paretoFront(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").select(col("p_partkey"),
      (col("p_retailprice").cast(DecimalType(18, 2)) * 100).cast("long")
        .as("price_cents"),
      col("p_size").cast("long").as("p_size"))
      .withColumn("bucket", expr(s"price_cents DIV $bucketCents"))
    // staircase: per-bucket max size, then max over strictly-cheaper buckets
    val stairs = p.groupBy("bucket").agg(max("p_size").as("bmax"))
      .withColumn("prevmax", max("bmax").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)))
      .select("bucket", "prevmax")
    val survivors = p.join(broadcast(stairs), "bucket")
      .filter(col("prevmax").isNull || col("p_size") > col("prevmax"))
      .select("p_partkey", "price_cents", "p_size")
    // exact sweep on the pruned candidate set
    val cheaperMax = max("p_size").over(Window.orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1))
    val samePriceMax = max("p_size").over(Window.partitionBy("price_cents"))
    survivors
      .withColumn("m1", cheaperMax)
      .withColumn("m2", samePriceMax)
      .filter((col("m1").isNull || col("p_size") > col("m1")) &&
        col("p_size") === col("m2"))
      .select("p_partkey", "price_cents", "p_size")
      .orderBy("price_cents", "p_size", "p_partkey")
  }

  /** Oracle: the same skyline semantics via the sweep windows (DuckDB
    * RANGE frames over the whole table — the oracle can afford the
    * serial sort the distributed plan prunes around). */
  val paretoFrontSql: String =
    """WITH p AS (
      |  SELECT p_partkey,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS p_size
      |  FROM part
      |), w AS (
      |  SELECT *,
      |         max(p_size) OVER (ORDER BY price_cents
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
      |         max(p_size) OVER (PARTITION BY price_cents) AS m2
      |  FROM p
      |)
      |SELECT p_partkey, price_cents, p_size FROM w
      |WHERE (m1 IS NULL OR p_size > m1) AND p_size = m2
      |ORDER BY price_cents, p_size, p_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // Local clustering coefficient
  // ---------------------------------------------------------------------

  private val lccDegreeCap = 16 // same co-purchase projection cap as graph_triangles

  /** Per-node local clustering coefficient on the supplier co-purchase
    * graph (two suppliers adjacent iff they ship a common part, parts
    * capped at degree 16 exactly as `graph_triangles`), reported as a
    * bounded histogram: decile bucket of lcc = 2·tri(v) / (deg(v)·(deg(v)−1))
    * → node count, triangle-end sum, degree sum. The Watts–Strogatz
    * local density screen a link/content-graph pipeline runs to find
    * tightly-knit clusters worth mining.
    *
    * Exactness: lcc is computed in integer permille —
    * (2000·tri) DIV (deg·(deg−1)) — then bucketed DIV 100; every term is
    * a BIGINT count. Nodes with deg < 2 are excluded (coefficient
    * undefined).
    *
    * Scale shape: identical posture to `graph_triangles` — the projection
    * join is bounded by the per-part degree cap, triangles come from the
    * degree-oriented wedge join (Ortmann–Brandes orientation keeps wedge
    * fanout at the oriented out-degree, O(m^1.5) total), and the output
    * is an 11-cell histogram. The per-node triangle explode and the
    * degree agg are both node-keyed single shuffles.
    */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    // capped projection + orientation + wedge close shared with
    // graph_triangles (identical up to the final aggregation)
    val (und, tri) = graft.sim.GraphOps.triShared(spark, dir, lccDegreeCap)
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("n"), "left")
      .select(col("n"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("bucket",
        expr("((2000 * tri) DIV (deg * (deg - 1))) DIV 100"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), sum("tri").as("sum_tri"),
        sum("deg").as("sum_deg"))
      .orderBy("bucket")
  }

  def clusteringCoeffSql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
       |), eligible AS (
       |  SELECT part FROM pairs GROUP BY part HAVING count(*) <= $lccDegreeCap
       |), und AS (
       |  SELECT DISTINCT a.supp AS u, b.supp AS v
       |  FROM pairs a JOIN eligible USING (part) JOIN pairs b USING (part)
       |  WHERE a.supp < b.supp
       |), deg AS (
       |  SELECT n, count(*) AS deg FROM (
       |    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
       |  ) GROUP BY n
       |), tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM und e1 JOIN und e2 ON e1.v = e2.u
       |  WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.u AND e3.v = e2.v)
       |), pertri AS (
       |  SELECT n, count(*) AS tri FROM (SELECT unnest([a, b, c]) AS n FROM tri)
       |  GROUP BY n
       |), nodes AS (
       |  SELECT d.n, d.deg, coalesce(t.tri, 0) AS tri
       |  FROM deg d LEFT JOIN pertri t ON d.n = t.n
       |  WHERE d.deg >= 2
       |)
       |SELECT ((2000 * tri) // (deg * (deg - 1))) // 100 AS bucket,
       |       count(*) AS n_nodes,
       |       CAST(sum(tri) AS BIGINT) AS sum_tri,
       |       CAST(sum(deg) AS BIGINT) AS sum_deg
       |FROM nodes GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // HITS (hubs & authorities)
  // ---------------------------------------------------------------------

  private val D = DecimalType(38, 0)
  private val hitsScale = 1000000000000L // score scale (1e12)
  private val hitsIters = 2
  private val hitsTopN = 20

  /** Exact integer division of non-negative DECIMAL(38,0) `a` by
    * positive `b`: `(a − a % b) / b` — the subtraction makes the
    * dividend an exact multiple so Spark's HALF_UP decimal division
    * rounds an exact integer (same device as Analytics3.decDiv;
    * DuckDB mirror is HUGEINT `//`). */
  private def decDiv(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((a - a % b) / b).cast(D)

  /** HITS (Kleinberg 1999) on the directed supplier→part "ships" graph:
    * hub scores for suppliers, authority scores for parts, two mutual-
    * reinforcement rounds, top-20 of each. The link-analysis complement
    * of `graph_pagerank` — PageRank scores a single role per node on the
    * symmetrized graph; HITS separates the two sides of the bipartite
    * relation (broad-catalog suppliers vs widely-shipped parts).
    *
    * Exactness: scores are sum-normalized to scale 1e12 after every
    * half-step with DECIMAL(38,0) arithmetic and exact-multiple division
    * (the pre-division product reaches ~1e28, past BIGINT) — every step
    * is an order-independent integer sum, so partial aggregation and
    * DuckDB's serial replay agree bit-for-bit. (Classical HITS L2-
    * normalizes; sum normalization has the same fixed-point direction
    * and keeps the iteration in integers.)
    *
    * Scale shape: per half-step one equi-join edge⋈score on the BIGINT
    * node key + one partial+final agg — the `graph_pagerank` layout; the
    * normalizer is a scalar agg broadcast back. K=2 fixed, so the whole
    * iteration is ONE job with chained shuffles (same no-per-round-
    * checkpoint trade as pageRank, measured there). */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val S = lit(hitsScale).cast(D)
    // the memoized distinct (part, supp) projection, renamed — one
    // narrow map over the shared staged blocks instead of a per-query
    // scan + DISTINCT exchange + materialization
    val edges = graft.sim.GraphOps.pairsStaged(spark, dir)
      .select(col("supp").as("s"), col("part").as("p"))
    // Every score frame is sum-normalized to mass S — INCLUDING the
    // init (h0 = S DIV n_s, not S each) — so every shuffled sum is
    // bounded by S = 1e12 and stays BIGINT; DECIMAL(38,0) appears only
    // in the per-NODE product S·raw (~1e24) inside the normalizer.
    // (Decimal-128 partial aggregation over the data-sized edge join
    // measured ~3× a BIGINT sum here.) raw feeds BOTH the scalar
    // normalizer and the join-back: the barrier keeps the two consumers
    // from re-deriving the edge join once per half-step compounding.
    def normalize(raw0: DataFrame): DataFrame = {
      val raw = raw0.localCheckpoint(false)
      val tot = raw.agg(sum("raw").as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("node"),
          decDiv(S * col("raw").cast(D), col("tot").cast(D))
            .cast("long").as("score"))
    }
    val nS = edges.select("s").distinct().count() // node count, as pageRank
    var hubs = edges.select(col("s").as("node")).distinct()
      .select(col("node"), expr(s"${hitsScale}L DIV ${nS}L").as("score"))
    var auth: DataFrame = null
    for (_ <- 1 to hitsIters) {
      auth = normalize(
        edges.join(hubs, edges("s") === hubs("node"))
          .groupBy(col("p")).agg(sum("score").as("raw"))
          .select(col("p").as("node"), col("raw")))
      hubs = normalize(
        edges.join(auth, edges("p") === auth("node"))
          .groupBy(col("s")).agg(sum("score").as("raw"))
          .select(col("s").as("node"), col("raw")))
    }
    def top(df: DataFrame, role: String): DataFrame =
      df.orderBy(desc("score"), col("node")).limit(hitsTopN)
        .select(lit(role).as("role"), col("node"),
          col("score").cast("long").as("score"))
    top(auth, "authority").unionAll(top(hubs, "hub"))
      .orderBy(col("role"), desc("score"), col("node"))
  }

  def hitsSql: String = {
    val S = hitsScale
    val rounds = (1 to hitsIters).map { i =>
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""a${i}r AS (
         |  SELECT p AS node, CAST(sum(score) AS BIGINT) AS raw
         |  FROM pairs JOIN $prevH ON pairs.s = $prevH.node GROUP BY p
         |), a$i AS (
         |  SELECT node, CAST((CAST($S AS HUGEINT) * raw)
         |    // (SELECT CAST(sum(raw) AS HUGEINT) FROM a${i}r) AS BIGINT) AS score
         |  FROM a${i}r
         |), h${i}r AS (
         |  SELECT s AS node, CAST(sum(score) AS BIGINT) AS raw
         |  FROM pairs JOIN a$i ON pairs.p = a$i.node GROUP BY s
         |), h$i AS (
         |  SELECT node, CAST((CAST($S AS HUGEINT) * raw)
         |    // (SELECT CAST(sum(raw) AS HUGEINT) FROM h${i}r) AS BIGINT) AS score
         |  FROM h${i}r
         |)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
       |), h0 AS (
       |  SELECT DISTINCT s AS node,
       |         $S // (SELECT count(DISTINCT s) FROM pairs) AS score
       |  FROM pairs
       |),
       |$rounds
       |SELECT * FROM (
       |  (SELECT 'authority' AS role, node, CAST(score AS BIGINT) AS score
       |   FROM a$hitsIters ORDER BY score DESC, node LIMIT $hitsTopN)
       |  UNION ALL
       |  (SELECT 'hub' AS role, node, CAST(score AS BIGINT) AS score
       |   FROM h$hitsIters ORDER BY score DESC, node LIMIT $hitsTopN)
       |) ORDER BY role, score DESC, node""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CUPED variance reduction
  // ---------------------------------------------------------------------

  private val dayNs = 86400L * 1000 * 1000 * 1000
  private val cupedSplitDay = 19738L // 2024-01-16; events span Jan 1–30

  /** CUPED variance-reduction report (Deng et al., WSDM 2013) for a
    * deterministic A/B split of the events universe: covariate x = a
    * user's PRE-period event count (days before 2024-01-16), metric
    * y = the POST-period count, arm = user_id % 2. θ is fit pooled
    * (θ = cov(x,y)/var(x), the variance-minimizing coefficient), then
    * each arm reports mean/variance of y and the variance of the
    * CUPED-adjusted metric via the identity
    * var(y − θx) = var(y) − 2θ·cov(x,y) + θ²·var(x).
    *
    * All moments are exact DECIMAL(38,0) sums (order-independent);
    * θ/means/variances are ONE identical IEEE expression per column in
    * both engines, so the doubles agree bit-for-bit. The harness
    * fixture is honest about its own shape: per-user event counts are
    * homogeneous Poisson (var ≈ mean, corr(x,y) ≈ 0), so the reported
    * reduction is ≈ 0 — the report PROVES the absence of a usable
    * covariate rather than manufacturing one.
    *
    * Scale shape: one events scan → user-keyed conditional agg (the
    * only data-sized shuffle) → one pooled + one per-arm moment agg
    * (2 rows) with the pooled θ broadcast back. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val users = t(spark, dir, "events")
      .select(col("user_id"), expr(s"ts DIV ${dayNs}L").as("day"))
      .groupBy("user_id")
      .agg(sum(when(col("day") < cupedSplitDay, 1L).otherwise(0L)).cast(D).as("x"),
        sum(when(col("day") >= cupedSplitDay, 1L).otherwise(0L)).cast(D).as("y"))
      .withColumn("arm", expr("user_id % 2")).localCheckpoint(false)
    val pooled = users.agg(count(lit(1)).cast(D).as("pn"),
      sum("x").as("psx"), sum("y").as("psy"),
      sum(col("x") * col("x")).as("psxx"), sum(col("x") * col("y")).as("psxy"))
    val arms = users.groupBy("arm").agg(count(lit(1)).cast(D).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    val dbl = (c: String) => col(c).cast("double")
    val theta = ((dbl("pn") * dbl("psxy") - dbl("psx") * dbl("psy"))
      / (dbl("pn") * dbl("psxx") - dbl("psx") * dbl("psx")))
    val varY = ((dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))
      / (dbl("n") * (dbl("n") - 1.0)))
    val varX = ((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
      / (dbl("n") * (dbl("n") - 1.0)))
    val covXY = ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
      / (dbl("n") * (dbl("n") - 1.0)))
    arms.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n").cast("long").as("n_users"),
        col("sx").cast("long").as("sum_x"), col("sy").cast("long").as("sum_y"),
        theta.as("theta"),
        (dbl("sy") / dbl("n")).as("mean_y"),
        varY.as("var_y"),
        (varY - lit(2.0) * theta * covXY + theta * theta * varX).as("var_cuped"))
      .orderBy("arm")
  }

  def cupedSql: String =
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 AS arm,
       |         CAST(sum(CASE WHEN epoch_ns(ts) // $dayNs < $cupedSplitDay
       |                       THEN 1 ELSE 0 END) AS HUGEINT) AS x,
       |         CAST(sum(CASE WHEN epoch_ns(ts) // $dayNs >= $cupedSplitDay
       |                       THEN 1 ELSE 0 END) AS HUGEINT) AS y
       |  FROM events GROUP BY 1, 2
       |), pooled AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS pn, sum(x) AS psx, sum(y) AS psy,
       |         sum(x * x) AS psxx, sum(x * y) AS psxy
       |  FROM u
       |), arms AS (
       |  SELECT arm, CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
       |         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
       |  FROM u GROUP BY arm
       |)
       |SELECT arm, CAST(n AS BIGINT) AS n_users,
       |       CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
       |       (CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
       |         / (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE))
       |         AS theta,
       |       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
       |       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_y,
       |       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
       |       - 2.0 * ((CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
       |                / (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)))
       |             * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
       |       + ((CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
       |          / (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)))
       |         * ((CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
       |            / (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE) - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)))
       |         * ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
       |         AS var_cuped
       |FROM arms CROSS JOIN pooled ORDER BY arm""".stripMargin

  // ---------------------------------------------------------------------
  // Sequential test monitoring (SPRT)
  // ---------------------------------------------------------------------

  /** ln(1.1), ln(0.9), ln(19) as FIXED double literals — never computed
    * via each engine's libm (whose last-ulp rounding may differ); with
    * the logs pinned, the llr is pure integer-weighted double +/×,
    * identical IEEE in both engines. */
  private val lnP1P0 = 0.09531017980432493
  private val lnQ1Q0 = -0.10536051565782628
  private val lnBound = 2.9444389791664403 // α = β = 0.05

  /** Sequential-test monitor — Wald's SPRT trajectory (Wald 1945; the
    * always-valid-monitoring shape of Johari et al. 2017) over the
    * running A/B assignment stream: under H0 each event lands in arm B
    * (user_id % 2 = 1) with p₀ = 0.5, under H1 with p₁ = 0.55; after
    * each day the cumulative log-likelihood ratio
    * `llr = k·ln(p₁/p₀) + (N−k)·ln(q₁/q₀)` is checked against the
    * ±ln(19) Wald bounds (α = β = 0.05). The report is the full
    * 30-day trajectory with the per-day decision — what a live
    * experiment dashboard renders, and the sequential complement to
    * the fixed-horizon `stat_srm` / `stat_power_mde` reports. On the
    * fixture's fair split the llr drifts negative and settles on
    * accept_h0 — the monitor proving the absence of imbalance.
    *
    * Scale shape: one events scan → (day) partial+final agg (30 cells
    * regardless of data size) → cumulative window over the 30-row
    * daily frame (single-partition window over a GRID, never over the
    * corpus). The llr doubles are exact-identical: integer cumulative
    * counts times pinned literals. */
  def sprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
    t(spark, dir, "events")
      .select(expr(s"ts DIV ${dayNs}L").as("day"),
        when(expr("user_id % 2") === 1L, 1L).otherwise(0L).as("b"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_day"), sum("b").as("k_day"))
      .select(col("day"), sum("n_day").over(w).as("n_total"),
        sum("k_day").over(w).as("n_b"))
      .withColumn("llr",
        col("n_b") * lit(lnP1P0) + (col("n_total") - col("n_b")) * lit(lnQ1Q0))
      .withColumn("decision",
        when(col("llr") >= lnBound, "accept_h1")
          .when(col("llr") <= -lnBound, "accept_h0")
          .otherwise("continue"))
      .orderBy("day")
  }

  def sprtMonitorSql: String =
    s"""WITH e AS (
       |  SELECT epoch_ns(ts) // $dayNs AS day,
       |         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS b
       |  FROM events
       |), d AS (
       |  SELECT day, count(*) AS n_day, CAST(sum(b) AS BIGINT) AS k_day
       |  FROM e GROUP BY day
       |), c AS (
       |  SELECT day,
       |         CAST(sum(n_day) OVER (ORDER BY day) AS BIGINT) AS n_total,
       |         CAST(sum(k_day) OVER (ORDER BY day) AS BIGINT) AS n_b
       |  FROM d
       |), s AS (
       |  SELECT day, n_total, n_b,
       |         n_b * CAST('$lnP1P0' AS DOUBLE)
       |           + (n_total - n_b) * CAST('$lnQ1Q0' AS DOUBLE) AS llr
       |  FROM c
       |)
       |SELECT day, n_total, n_b, llr,
       |       CASE WHEN llr >= CAST('$lnBound' AS DOUBLE) THEN 'accept_h1'
       |            WHEN llr <= -CAST('$lnBound' AS DOUBLE) THEN 'accept_h0'
       |            ELSE 'continue' END AS decision
       |FROM s ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // Multi-window SLO burn rate
  // ---------------------------------------------------------------------

  private val hourNs = 3600L * 1000 * 1000 * 1000
  private val sloPpm = 200000L // 20% error budget (fixture error share)
  private val longWinHours = 6L

  /** Multi-window SLO burn-rate report (the Google SRE-workbook
    * multiwindow alert): per 6-hour long window, the error rate in ppm,
    * the max hourly (short-window) rate inside it, and the number of
    * ALERT hours — hours where BOTH the hourly and the enclosing 6-hour
    * rate exceed the 20% error budget (the AND is what suppresses
    * single-spike flapping). Exact: rates are integer ppm via DIV on
    * BIGINT counts over fixed epoch-hour windows.
    *
    * Scale shape: one events scan → hour-grid partial+final agg
    * (720 cells/month regardless of data size); the long window is a
    * second agg OF THE HOURLY GRID (the corpus is read once) joined
    * back broadcast at grid cardinality. */
  def sloBurn(spark: SparkSession, dir: String): DataFrame = {
    val hourly = t(spark, dir, "events")
      .select(expr(s"ts DIV ${hourNs}L").as("hour"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .groupBy("hour")
      .agg(count(lit(1)).as("n"), sum("err").as("e"))
      .withColumn("short_ppm", expr("(1000000 * e) DIV n"))
      .withColumn("win", expr(s"hour DIV ${longWinHours}L")).localCheckpoint(false)
    val longW = hourly.groupBy("win")
      .agg(sum("n").as("n_events"), sum("e").as("n_errors"))
      .withColumn("long_ppm", expr("(1000000 * n_errors) DIV n_events"))
    hourly.join(broadcast(longW), "win")
      .groupBy(col("win"), col("n_events"), col("n_errors"), col("long_ppm"))
      .agg(max("short_ppm").as("max_short_ppm"),
        sum(when(col("short_ppm") > sloPpm && col("long_ppm") > sloPpm, 1L)
          .otherwise(0L)).as("n_alert_hours"))
      .select((col("win") * longWinHours).as("win_start_hour"),
        col("n_events"), col("n_errors"), col("long_ppm"),
        col("max_short_ppm"), col("n_alert_hours"))
      .orderBy("win_start_hour")
  }

  def sloBurnSql: String =
    s"""WITH hourly AS (
       |  SELECT epoch_ns(ts) // $hourNs AS hour, count(*) AS n,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
       |  FROM events GROUP BY 1
       |), h2 AS (
       |  SELECT hour, n, e, (1000000 * e) // n AS short_ppm,
       |         hour // $longWinHours AS win
       |  FROM hourly
       |), longw AS (
       |  SELECT win, CAST(sum(n) AS BIGINT) AS n_events,
       |         CAST(sum(e) AS BIGINT) AS n_errors,
       |         (1000000 * CAST(sum(e) AS BIGINT)) // CAST(sum(n) AS BIGINT) AS long_ppm
       |  FROM h2 GROUP BY win
       |)
       |SELECT win * $longWinHours AS win_start_hour, n_events, n_errors, long_ppm,
       |       max(short_ppm) AS max_short_ppm,
       |       CAST(sum(CASE WHEN short_ppm > $sloPpm AND long_ppm > $sloPpm
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alert_hours
       |FROM h2 JOIN longw USING (win)
       |GROUP BY win, n_events, n_errors, long_ppm
       |ORDER BY win_start_hour""".stripMargin

  // ---------------------------------------------------------------------
  // Top user paths
  // ---------------------------------------------------------------------

  private val pathLen = 4
  private val pathTopN = 20

  /** Top-20 user paths: the first [[pathLen]] event types of each
    * (user, day) session in timestamp order, joined with '>' — the
    * path-mining / funnel-discovery query every product-analytics store
    * ships (Amplitude "Pathfinder", GA "path exploration"). Reports
    * session count and distinct users per path.
    *
    * Determinism: within-session order is (ts, event_id) — event_id
    * breaks timestamp ties, so the path string is a pure function of
    * the data. The path is assembled via per-position conditional MIN
    * (rank is unique per session, so min = the value), never a
    * collect_list whose order the engine doesn't define; concat_ws
    * skips the NULL positions of shorter sessions in both engines.
    *
    * Scale shape: one (user, day)-keyed window shuffle (sessions are
    * day-bounded, so partitions stay balanced regardless of total
    * history length) → session-keyed agg → path-keyed agg → bounded
    * top-k. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        expr(s"ts DIV ${dayNs}L").as("day"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
    val paths = ranked.groupBy("user_id", "day")
      .agg(concat_ws(">",
        (1 to pathLen).map(i =>
          min(when(col("rn") === i, col("event_type")))): _*).as("path"))
    paths.groupBy("path")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n_sessions"), col("path"))
      .limit(pathTopN)
  }

  def topPathsSql: String = {
    val mins = (1 to pathLen)
      .map(i => s"min(CASE WHEN rn = $i THEN event_type END)").mkString(", ")
    s"""WITH ranked AS (
       |  SELECT user_id, event_type,
       |         epoch_ns(ts) // $dayNs AS day,
       |         row_number() OVER (PARTITION BY user_id, epoch_ns(ts) // $dayNs
       |                            ORDER BY ts, event_id) AS rn
       |  FROM events
       |), paths AS (
       |  SELECT user_id, day, concat_ws('>', $mins) AS path
       |  FROM ranked WHERE rn <= $pathLen GROUP BY user_id, day
       |)
       |SELECT path, count(*) AS n_sessions,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM paths GROUP BY path
       |ORDER BY n_sessions DESC, path LIMIT $pathTopN""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Sample-ratio mismatch
  // ---------------------------------------------------------------------

  /** χ²(α=0.05, df=1) at micro resolution — the SRM alert threshold. */
  private val srmChi2MicroCrit = 3841459L

  /** Sample-ratio-mismatch check (the first gate of any A/B readout,
    * run per metric cohort): for each event type, the number of users
    * in each arm (user_id % 2, the [[cuped]] split) who emitted that
    * event at least once, the χ² statistic against the designed 50/50
    * split — for a two-cell table χ² collapses to (n₀−n₁)²/n, computed
    * exactly at micro resolution — and the α=0.05 alert flag.
    *
    * Scale shape: one events scan → distinct (type, user) →
    * type-keyed conditional agg (5 rows); the χ² is per-row integer
    * math. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type")
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_arm0"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_arm1"))
      .withColumn("chi2_micro",
        expr("(1000000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) DIV (n_arm0 + n_arm1)"))
      .withColumn("srm_alert", col("chi2_micro") >= srmChi2MicroCrit)
      .orderBy("event_type")
  }

  def srmCheckSql: String =
    s"""WITH u AS (
       |  SELECT DISTINCT event_type, user_id FROM events
       |), arms AS (
       |  SELECT event_type,
       |         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_arm0,
       |         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_arm1
       |  FROM u GROUP BY event_type
       |)
       |SELECT event_type, n_arm0, n_arm1,
       |       (1000000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) // (n_arm0 + n_arm1)
       |         AS chi2_micro,
       |       (1000000 * (n_arm0 - n_arm1) * (n_arm0 - n_arm1)) // (n_arm0 + n_arm1)
       |         >= $srmChi2MicroCrit AS srm_alert
       |FROM arms ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // One-way ANOVA
  // ---------------------------------------------------------------------

  /** One-way ANOVA F-test of event `value` (quantized to exact cents)
    * across the five event types — does the metric differ by group,
    * the k-group generalization of `stat_welch_ttest`. Per group the
    * report carries exact moment-derived mean; the TOTAL row carries
    * F = (SSB/(k−1))/(SSW/(n−k)) and η² = SSB/SST, each computed from
    * DECIMAL(38,0) moments through one identical IEEE expression.
    *
    * Scale shape: one scan → k-keyed partial+final moment agg (5
    * rows); everything after is k-row scalar math. Σ s_g²/n_g is a
    * DOUBLE sum over the k group rows — the ONE place IEEE summation
    * order could differ, so both engines fold the k terms in the SAME
    * explicit event_type order (Spark: sort_array + aggregate; DuckDB:
    * ordered list + list_reduce). A plain SQL `sum` there was measured
    * FLAKY: DuckDB's parallel aggregation reassociates the 5-term
    * double sum run-to-run, drifting the last ulp of f_stat. */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
    val g = t(spark, dir, "events")
      .select(col("event_type"), cents.cast(D).as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast(D).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("ss"))
    val dbl = (c: String) => col(c).cast("double")
    // SSB = Σ s_g²/n_g − ts²/tn ; SSW = tss − Σ s_g²/n_g. The k-term
    // double fold runs left-to-right over the event_type-sorted groups.
    val parts = g
      .agg(expr(
        """aggregate(
          |  sort_array(collect_list(struct(event_type, s, n))),
          |  cast(0 as double),
          |  (acc, x) -> acc + cast(x.s as double) * cast(x.s as double)
          |                    / cast(x.n as double))""".stripMargin).as("sq_over_n"),
        sum("n").cast("double").as("tn"), sum("s").cast("double").as("ts"),
        sum("ss").cast("double").as("tss"),
        count(lit(1)).cast("double").as("k"))
    parts.select(
      col("k").cast("long").as("k_groups"),
      col("tn").cast("long").as("n_rows"),
      ((col("sq_over_n") - col("ts") * col("ts") / col("tn"))
        / (col("k") - lit(1.0))
        / ((col("tss") - col("sq_over_n")) / (col("tn") - col("k")))).as("f_stat"),
      ((col("sq_over_n") - col("ts") * col("ts") / col("tn"))
        / (col("tss") - col("ts") * col("ts") / col("tn"))).as("eta_sq"))
  }

  val anovaFSql: String =
    """WITH g AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |         sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)) AS s,
      |         sum(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
      |             * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)) AS ss
      |  FROM events GROUP BY event_type
      |), parts AS (
      |  -- ordered fold, not sum(): parallel double aggregation
      |  -- reassociates the k-term sum run-to-run (measured flaky)
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |                ORDER BY event_type)),
      |           (acc, x) -> acc + x) AS sq_over_n,
      |         CAST(sum(n) AS DOUBLE) AS tn, CAST(sum(s) AS DOUBLE) AS ts,
      |         CAST(sum(ss) AS DOUBLE) AS tss, CAST(count(*) AS DOUBLE) AS k
      |  FROM g
      |)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(tn AS BIGINT) AS n_rows,
      |       (sq_over_n - ts * ts / tn) / (k - 1.0)
      |         / ((tss - sq_over_n) / (tn - k)) AS f_stat,
      |       (sq_over_n - ts * ts / tn) / (tss - ts * ts / tn) AS eta_sq
      |FROM parts""".stripMargin

  // ---------------------------------------------------------------------
  // Period-over-period deltas
  // ---------------------------------------------------------------------

  /** Week-over-week movement table per event type — the dashboard
    * staple: weekly counts on the epoch-week grid with the previous
    * week's count and the WoW delta in integer permille (NULL for each
    * type's first week, semantics the oracle mirrors). One events scan
    * → (type, week) grid agg → a type-partitioned lag over the
    * bounded grid. */
  def periodOverPeriod(spark: SparkSession, dir: String): DataFrame = {
    val weekly = t(spark, dir, "events")
      .select(col("event_type"), expr(s"ts DIV (${dayNs}L * 7)").as("week"))
      .groupBy("event_type", "week").agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly.withColumn("prev_events", lag("n_events", 1).over(w))
      .withColumn("wow_permille",
        expr("(1000 * (n_events - prev_events)) DIV prev_events"))
      .orderBy("event_type", "week")
  }

  val periodOverPeriodSql: String =
    s"""WITH weekly AS (
       |  SELECT event_type, epoch_ns(ts) // ($dayNs * 7) AS week,
       |         count(*) AS n_events
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT event_type, week, n_events,
       |       lag(n_events) OVER (PARTITION BY event_type ORDER BY week) AS prev_events,
       |       (1000 * (n_events - lag(n_events) OVER (PARTITION BY event_type ORDER BY week)))
       |         // lag(n_events) OVER (PARTITION BY event_type ORDER BY week) AS wow_permille
       |FROM weekly ORDER BY event_type, week""".stripMargin

  // ---------------------------------------------------------------------
  // Incremental aggregate maintenance (delta merge)
  // ---------------------------------------------------------------------

  private val deltaSplitDate = "1998-01-01"

  /** Incremental view maintenance for the per-priority revenue rollup:
    * the BASE partial state (orders before [[deltaSplitDate]]) and the
    * DELTA batch (on/after) are aggregated separately and MERGED —
    * count/sum add, min/max combine — exactly how a nightly rollup
    * absorbs a day's partition without rescanning history. The ORACLE
    * aggregates the full table directly, so the gate proves
    * merge(partial(base), partial(delta)) ≡ recompute(all): the
    * algebraic-mergeability contract every distributed partial
    * aggregation relies on, surfaced as its own verified operator.
    *
    * Scale shape: two partitioned scans (the date predicate is the
    * partition boundary in the real deployment) → two priority-keyed
    * partial aggs → a 5-row full-outer merge. History is never
    * rescanned. */
  def deltaMerge(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
    def partial(df: DataFrame): DataFrame =
      df.select(col("o_orderpriority"), cents.as("cents"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"),
          min("cents").as("mn"), max("cents").as("mx"))
    val orders = t(spark, dir, "orders")
    val base = partial(orders.filter(col("o_orderdate") < lit(deltaSplitDate)))
    val delta = partial(orders.filter(col("o_orderdate") >= lit(deltaSplitDate)))
    base.select(col("o_orderpriority"), col("n").as("bn"), col("s").as("bs"),
      col("mn").as("bmn"), col("mx").as("bmx"))
      .join(delta.select(col("o_orderpriority"), col("n").as("dn"),
        col("s").as("ds"), col("mn").as("dmn"), col("mx").as("dmx")),
        Seq("o_orderpriority"), "full")
      .select(col("o_orderpriority"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sum_cents"),
        least(coalesce(col("bmn"), col("dmn")), coalesce(col("dmn"), col("bmn")))
          .as("min_cents"),
        greatest(coalesce(col("bmx"), col("dmx")), coalesce(col("dmx"), col("bmx")))
          .as("max_cents"))
      .orderBy("o_orderpriority")
  }

  /** The oracle deliberately recomputes from the FULL table: passing
    * the gate proves the partial-state merge is lossless. */
  val deltaMergeSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |         AS sum_cents,
      |       min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS min_cents,
      |       max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS max_cents
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // Partition-skew audit
  // ---------------------------------------------------------------------

  private val skewBuckets = 1024L

  /** Shuffle-skew audit over the join keys the big queries actually
    * shuffle on: each key hashed (portable md5-based hash60, modeling
    * hash partitioning) into 1024 buckets, reporting per relation the
    * row count, occupied buckets, the heaviest bucket, and
    * skew_permille = 1000·max/avg — the number that decides whether a
    * key needs salting BEFORE the job falls over (read next to
    * `join_salted_skew`/`agg_salted_skew`, which are the treatment).
    *
    * Scale shape: one scan + one 1024-key partial+final agg per
    * audited key; the stats are grid-sized. */
  def partitionSkew(spark: SparkSession, dir: String): DataFrame = {
    def audit(label: String, table: String, key: String): DataFrame =
      t(spark, dir, table)
        .select(pmod(graft.functions.Portable.hash60(col(key).cast("string")),
          lit(skewBuckets)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("cnt"))
        .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_buckets"),
          max("cnt").as("max_bucket"))
        .select(lit(label).as("shuffle_key"), col("n_rows"), col("n_buckets"),
          col("max_bucket"),
          expr(s"(1000 * max_bucket * $skewBuckets) DIV n_rows").as("skew_permille"))
    Seq(("events.user_id", "events", "user_id"),
      ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      ("lineitem.l_partkey", "lineitem", "l_partkey"),
      ("orders.o_custkey", "orders", "o_custkey"))
      .map { case (l, tb, k) => audit(l, tb, k) }
      .reduce(_ unionAll _)
      .orderBy("shuffle_key")
  }

  val partitionSkewSql: String = {
    val rels = Seq(("events.user_id", "events", "user_id"),
      ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      ("lineitem.l_partkey", "lineitem", "l_partkey"),
      ("orders.o_custkey", "orders", "o_custkey"))
    rels.map { case (l, tb, k) =>
      s"""SELECT '$l' AS shuffle_key, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |       count(*) AS n_buckets, CAST(max(cnt) AS BIGINT) AS max_bucket,
         |       (1000 * CAST(max(cnt) AS BIGINT) * $skewBuckets) // CAST(sum(cnt) AS BIGINT)
         |         AS skew_permille
         |FROM (
         |  SELECT ${Portable.hash60Sql(s"CAST($k AS VARCHAR)")}
         |           % $skewBuckets AS b, count(*) AS cnt
         |  FROM $tb GROUP BY 1
         |)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY shuffle_key"
  }

  // ---------------------------------------------------------------------
  // Power analysis / minimum detectable effect
  // ---------------------------------------------------------------------

  /** z_{α/2} + z_β at (α=0.05, power=0.8) — the standard design constant. */
  private val zSum = 2.801585

  /** Experiment power report per metric (event type): with y = a user's
    * POST-period count of that event (zero-imputed over the full user
    * grid — absent users ARE the metric), the minimum detectable effect
    * at the current sample size and the required per-arm n for a 5%
    * relative lift, both from mde = (z_{α/2}+z_β)·σ·√(2/n) — the sizing
    * arithmetic run BEFORE launching what [[cuped]]/[[srmCheck]]/
    * `stat_welch_ttest` read out after.
    *
    * Exact DECIMAL(38,0) moments; the doubles are one identical IEEE
    * expression per column in both engines.
    *
    * Scale shape: events scan → (user, type)-keyed agg; the zero cells
    * come from a users×types grid join (n_users × 5, never data-sized
    * fanout beyond the type count); then a 5-row moment agg. */
  def powerMde(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), expr(s"ts DIV ${dayNs}L").as("day"))
    val users = ev.select("user_id").distinct()
    val types = ev.select("event_type").distinct()
    val counts = ev.filter(col("day") >= cupedSplitDay)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("y"))
    val grid = users.crossJoin(broadcast(types))
      .join(counts, Seq("user_id", "event_type"), "left")
      .select(col("event_type"), coalesce(col("y"), lit(0L)).cast(D).as("y"))
    val dbl = (c: String) => col(c).cast("double")
    val varY = ((dbl("n") * dbl("syy") - dbl("sy") * dbl("sy"))
      / (dbl("n") * (dbl("n") - 1.0)))
    val meanY = dbl("sy") / dbl("n")
    grid.groupBy("event_type")
      .agg(count(lit(1)).cast(D).as("n"), sum("y").as("sy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("n").cast("long").as("n_users"),
        meanY.as("mean_y"), varY.as("var_y"),
        (lit(zSum) * sqrt(varY) * sqrt(lit(2.0) / dbl("n"))).as("mde_abs"),
        ((lit(2.0) * varY * lit(zSum) * lit(zSum))
          / ((lit(0.05) * meanY) * (lit(0.05) * meanY))).as("n_required_per_arm"))
      .orderBy("event_type")
  }

  def powerMdeSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_ns(ts) // $dayNs AS day FROM events
       |), grid AS (
       |  SELECT u.user_id, t.event_type,
       |         CAST(coalesce(c.y, 0) AS HUGEINT) AS y
       |  FROM (SELECT DISTINCT user_id FROM ev) u
       |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
       |  LEFT JOIN (SELECT user_id, event_type, count(*) AS y FROM ev
       |             WHERE day >= $cupedSplitDay GROUP BY 1, 2) c
       |    ON u.user_id = c.user_id AND t.event_type = c.event_type
       |), m AS (
       |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
       |         sum(y) AS sy, sum(y * y) AS syy
       |  FROM grid GROUP BY event_type
       |)
       |SELECT event_type, CAST(n AS BIGINT) AS n_users,
       |       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
       |       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var_y,
       |       $zSum * sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
       |               * sqrt(2.0 / CAST(n AS DOUBLE)) AS mde_abs,
       |       (2.0 * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
       |               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) * $zSum * $zSum)
       |       / ((0.05 * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
       |          * (0.05 * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) AS n_required_per_arm
       |FROM m ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Landmark closeness centrality
  // ---------------------------------------------------------------------

  private val closenessLandmarks = 8
  /** BFS depth of the landmark panel; closeness and betweenness read the
    * same memoized [[landmarkBfs]], so they share this one constant. */
  private val landmarkRounds = 4

  /** Landmark closeness centrality (Eppstein–Wang style fixed panel):
    * exact distances from the [[closenessLandmarks]] smallest supplier
    * nodes to every node within [[landmarkRounds]] hops of the
    * bipartite part↔supplier graph, reported per landmark as reach,
    * distance sum, and harmonic-closeness (Σ 1000 DIV d, the
    * disconnection-robust variant) — the "how central are my anchor
    * entities" audit run when exact all-pairs closeness is off the
    * table (it always is: that's APSP).
    *
    * Unlike `graph_bfs_layers` (distance to the NEAREST of a merged
    * seed set, state = one row per node) this keeps distances PER
    * landmark: state is (landmark, node, dist), k·V rows with k fixed
    * at 8 — the panel shape that stays linear at 100 TB. Propagation is
    * FRONTIER-ONLY (the delta iteration): a (landmark, node) pair
    * enters the settled set the round it is first reached and never
    * re-propagates, so the total join fanout across the whole BFS is
    * k·2E once — the naive re-propagate-everything form shuffles
    * k·2E·K rows (measured 7.4 s naive vs 5.3 s here at sf0.1 where
    * K=4 and reach saturates by round 3; the gap widens with K on
    * higher-diameter graphs). Each round: frontier⋈edges, a within-round
    * min-dedup, an anti-join against the settled set, one lineage cut.
    * Nodes beyond K hops are excluded (documented; harmonic closeness
    * is the estimator that tolerates exactly that).
    */
  def closeness(spark: SparkSession, dir: String): DataFrame = {
    // the memoized Brandes forward pass IS this BFS with sigma riding
    // along: a (lm, node) pair is settled the round it is first
    // reached in both forms, and every round-r arrival has dist = r
    // (closeness's per-round min over arrivals ≡ betweenness's literal
    // r), so the settled set serves both queries — closeness no longer
    // re-pays a full k·2E BFS when betweenness has run (optimization
    // r16; per-query oracles unchanged at both SFs are the proof).
    landmarkBfs(spark, dir)
      .filter(col("dist") > 0L)
      .groupBy("lm")
      .agg(count(lit(1)).as("n_reached"), sum("dist").as("sum_dist"),
        sum(expr("1000 DIV dist")).as("harmonic_milli"))
      .select(expr("(lm - 1) DIV 2").as("suppkey"), col("n_reached"),
        col("sum_dist"), col("harmonic_milli"))
      .orderBy("suppkey")
  }

  def closenessSql: String = {
    val iters = (1 to landmarkRounds).map { i =>
      s"""d$i AS (
         |  SELECT lm, node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT lm, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.lm, e.dst AS node, d.dist + 1 AS dist
         |    FROM edges e JOIN d${i - 1} d ON e.src = d.node
         |  ) GROUP BY lm, node
         |)"""
    }.mkString(",\n")
    s"""WITH ${graft.sim.GraphOps.edgesSql},
       |lms AS (
       |  SELECT DISTINCT src AS lm FROM edges WHERE src % 2 = 1
       |  ORDER BY lm LIMIT $closenessLandmarks
       |), d0 AS (
       |  SELECT lm, lm AS node, CAST(0 AS BIGINT) AS dist FROM lms
       |),
       |$iters
       |SELECT (lm - 1) // 2 AS suppkey, count(*) AS n_reached,
       |       CAST(sum(dist) AS BIGINT) AS sum_dist,
       |       CAST(sum(1000 // dist) AS BIGINT) AS harmonic_milli
       |FROM d$landmarkRounds WHERE dist > 0
       |GROUP BY 1 ORDER BY suppkey""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Landmark betweenness centrality (Brandes on the fixed panel)
  // ---------------------------------------------------------------------

  /** Landmark betweenness centrality — Brandes' dependency accumulation
    * (Brandes 2001) restricted to the same fixed 8-landmark panel as
    * [[closeness]]: the top-20 nodes by how much shortest-path "flow"
    * from the landmarks passes THROUGH them, the bridge/broker signal
    * closeness and degree both miss. Exact all-pairs betweenness is
    * V·E work (off the table at scale); the landmark restriction is the
    * standard estimator (Brandes–Pich 2007) and reuses the frontier-only
    * BFS machinery.
    *
    * Forward pass: the [[closeness]] delta-BFS carrying σ (shortest-path
    * counts) alongside dist — a node reached first in round r gets
    * σ = Σ σ(frontier predecessors), summed in the same per-round
    * (lm, node) aggregate, so the whole forward cost is still k·2E.
    * Backward pass: per depth r (descending), each node v at depth r
    * accumulates over its DAG successors w at depth r+1
    * `δ(v) = Σ (σ(v)·(1000 + δ(w))) DIV σ(w)` — Brandes' recurrence in
    * milli-scaled INTEGER arithmetic (both engines floor-divide
    * identically; doubles would hash-diverge under reordered sums).
    * Each backward round is one equi-join of two adjacent depth levels
    * with the edge list + a (lm, node) agg — k·2E again, K rounds total.
    * σ ≤ maxdeg^K fits BIGINT comfortably at K = 4; a deeper panel
    * would switch δ to log-space.
    *
    * bc(v) = Σ_landmarks δ(v), landmarks themselves excluded (depth-0
    * never enters a backward round) — reported per node with how many
    * landmarks route through it.
    */
  /** The Brandes forward pass — the landmark delta-BFS carrying σ —
    * memoized ([[graft.Memo]]): its settled set (lm, node, dist, sigma)
    * is ALSO exactly [[closeness]]'s BFS state, so the two queries share
    * one k·2E forward pass. */
  private def landmarkBfs(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("graph.landmark_bfs", graft.Memo.input(dir))) {
      val e = graft.sim.GraphOps.edgesStaged(spark, dir)
      val landmarks = graft.sim.GraphOps.degrees(spark, dir)
        .select(col("src").as("node"))
        .filter(col("node") % 2 === 1) // suppliers are odd-encoded
        .orderBy("node").limit(closenessLandmarks)
        .select(col("node").as("lm"))
      val d0 = landmarks.select(col("lm"), col("lm").as("node"),
        lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(false)
      var settled = Seq(d0)
      var frontier = d0
      for (r <- 1 to landmarkRounds) {
        val prop = e.join(frontier, e("src") === frontier("node"))
          .select(col("lm"), col("dst").as("node"), col("sigma"))
          .groupBy("lm", "node").agg(sum("sigma").as("sigma"))
        val fresh = prop
          .join(settled.reduce(_ unionAll _), Seq("lm", "node"), "left_anti")
          .select(col("lm"), col("node"), lit(r.toLong).as("dist"), col("sigma"))
          .localCheckpoint(false) // per-round barrier: read by the next
          // round's anti-join and frontier join and by the final union
        settled :+= fresh
        frontier = fresh
      }
      settled.reduce(_ unionAll _).localCheckpoint(false) // 2K level reads
    }

  def betweenness(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.sim.GraphOps.edgesStaged(spark, dir)
    val sAll = landmarkBfs(spark, dir)
    def level(r: Int) = sAll.filter(col("dist") === r.toLong)
    var deltas = Seq.empty[DataFrame]
    var deltaNext: Option[DataFrame] = None
    for (r <- (landmarkRounds - 1) to 1 by -1) {
      val w0 = level(r + 1).select(col("lm").as("wlm"),
        col("node").as("wnode"), col("sigma").as("wsigma"))
      val w = deltaNext match {
        case Some(dn) => w0.join(dn.select(col("lm").as("wlm"),
            col("node").as("wnode"), col("delta").as("wdelta")),
            Seq("wlm", "wnode"), "left")
          .select(col("wlm"), col("wnode"), col("wsigma"),
            coalesce(col("wdelta"), lit(0L)).as("wdelta"))
        case None => w0.withColumn("wdelta", lit(0L))
      }
      val v = level(r).select(col("lm").as("vlm"),
        col("node").as("vnode"), col("sigma").as("vsigma"))
      // prefixed edge columns, like w's and v's, keep the three-way
      // join's column names unique
      val eb = e.select(col("src").as("esrc"), col("dst").as("edst"))
      val dr = v.join(eb, col("esrc") === col("vnode"))
        .join(w, col("wlm") === col("vlm") && col("wnode") === col("edst"))
        .select(col("vlm").as("lm"), col("vnode").as("node"),
          expr("(vsigma * (1000 + wdelta)) DIV wsigma").as("term"))
        .groupBy("lm", "node").agg(sum("term").as("delta"))
        .localCheckpoint(false) // next round's w-join + the final union; drain cut
      deltas :+= dr
      deltaNext = Some(dr)
    }
    deltas.reduce(_ unionAll _)
      .groupBy("node")
      .agg(count(lit(1)).as("n_landmarks"), sum("delta").as("bc_milli"))
      .filter(col("bc_milli") > 0L)
      .orderBy(desc("bc_milli"), col("node"))
      .limit(20)
      .select(col("node"), col("n_landmarks"), col("bc_milli"))
  }

  def betweennessSql: String = {
    val fwd = (1 to landmarkRounds).map { r =>
      s"""p$r AS (
         |  SELECT d.lm, e.dst AS node, CAST(sum(d.sigma) AS BIGINT) AS sigma
         |  FROM edges e JOIN s${r - 1} d ON e.src = d.node AND d.dist = ${r - 1}
         |  GROUP BY 1, 2
         |), s$r AS (
         |  SELECT * FROM s${r - 1}
         |  UNION ALL
         |  SELECT p.lm, p.node, CAST($r AS BIGINT) AS dist, p.sigma FROM p$r p
         |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1} s
         |                    WHERE s.lm = p.lm AND s.node = p.node)
         |)"""
    }.mkString(",\n")
    val sK = s"s$landmarkRounds"
    val bwd = ((landmarkRounds - 1) to 1 by -1).map { r =>
      val wSrc =
        if (r == landmarkRounds - 1)
          s"SELECT lm, node, sigma, CAST(0 AS BIGINT) AS delta FROM $sK WHERE dist = ${r + 1}"
        else
          s"""SELECT s.lm, s.node, s.sigma, coalesce(d.delta, 0) AS delta
             |  FROM $sK s LEFT JOIN d${r + 1} d ON d.lm = s.lm AND d.node = s.node
             |  WHERE s.dist = ${r + 1}""".stripMargin
      s"""w$r AS (
         |  $wSrc
         |), d$r AS (
         |  SELECT v.lm, v.node,
         |         CAST(sum((v.sigma * (1000 + w.delta)) // w.sigma) AS BIGINT) AS delta
         |  FROM $sK v JOIN edges e ON e.src = v.node
         |  JOIN w$r w ON w.lm = v.lm AND w.node = e.dst
         |  WHERE v.dist = $r GROUP BY 1, 2
         |)"""
    }.mkString(",\n")
    val unionDeltas = ((landmarkRounds - 1) to 1 by -1)
      .map(r => s"SELECT * FROM d$r").mkString(" UNION ALL ")
    s"""WITH ${graft.sim.GraphOps.edgesSql},
       |lms AS (
       |  SELECT DISTINCT src AS lm FROM edges WHERE src % 2 = 1
       |  ORDER BY lm LIMIT $closenessLandmarks
       |), s0 AS (
       |  SELECT lm, lm AS node, CAST(0 AS BIGINT) AS dist,
       |         CAST(1 AS BIGINT) AS sigma FROM lms
       |),
       |$fwd,
       |$bwd
       |SELECT node, count(*) AS n_landmarks, CAST(sum(delta) AS BIGINT) AS bc_milli
       |FROM ($unionDeltas)
       |GROUP BY node HAVING CAST(sum(delta) AS BIGINT) > 0
       |ORDER BY bc_milli DESC, node LIMIT 20""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_betweenness" -> ((s, d) => betweenness(s, d)),
    "window_pareto_front" -> ((s, d) => paretoFront(s, d)),
    "graph_clustering_coeff" -> ((s, d) => clusteringCoeff(s, d)),
    "graph_hits" -> ((s, d) => hits(s, d)),
    "stat_cuped" -> ((s, d) => cuped(s, d)),
    "stat_sprt_monitor" -> ((s, d) => sprtMonitor(s, d)),
    "ts_slo_burn" -> ((s, d) => sloBurn(s, d)),
    "window_top_paths" -> ((s, d) => topPaths(s, d)),
    "stat_srm" -> ((s, d) => srmCheck(s, d)),
    "graph_closeness" -> ((s, d) => closeness(s, d)),
    "stat_power_mde" -> ((s, d) => powerMde(s, d)),
    "agg_delta_merge" -> ((s, d) => deltaMerge(s, d)),
    "dq_partition_skew" -> ((s, d) => partitionSkew(s, d)),
    "stat_anova_f" -> ((s, d) => anovaF(s, d)),
    "ts_period_over_period" -> ((s, d) => periodOverPeriod(s, d)))

  val oracles: Map[String, String] = Map(
    "graph_betweenness" -> betweennessSql,
    "window_pareto_front" -> paretoFrontSql,
    "graph_clustering_coeff" -> clusteringCoeffSql,
    "graph_hits" -> hitsSql,
    "stat_cuped" -> cupedSql,
    "stat_sprt_monitor" -> sprtMonitorSql,
    "ts_slo_burn" -> sloBurnSql,
    "window_top_paths" -> topPathsSql,
    "stat_srm" -> srmCheckSql,
    "graph_closeness" -> closenessSql,
    "stat_power_mde" -> powerMdeSql,
    "agg_delta_merge" -> deltaMergeSql,
    "dq_partition_skew" -> partitionSkewSql,
    "stat_anova_f" -> anovaFSql,
    "ts_period_over_period" -> periodOverPeriodSql)
}
