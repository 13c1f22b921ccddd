package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Tables.t

/** Second analytics batch: CUSUM changepoint detection, lag-1
  * autocorrelation, and market-basket co-occurrence mining.
  *
  * Reference context: the reference engine (/root/reference/src/) has no
  * analytics surface; like the rest of SURVEY §2.4 these are harness
  * capability queries. All three follow the repo's exactness discipline:
  * values are quantized to scaled BIGINTs up front, every aggregate is
  * an order-independent integer sum, and any double in the output is a
  * single identical IEEE expression over those exact sums in both
  * engines.
  */
object Analytics2 {

  private val hourNs = 3600L * 1000 * 1000 * 1000

  /** `value` in exact centi-units (scale 100): DECIMAL(18,2) rounds the
    * stored double to 2 places identically in both engines, then the
    * ×100 is exact. Scale 100 (not 1e4) keeps the CUSUM cross-product
    * sv·N − n·SV comfortably inside BIGINT at sf0.1 (≈1e15); a true
    * 100 TB run widens these to DECIMAL(38,0), same plan shape. */
  private def centi(colName: String) =
    (col(colName).cast(DecimalType(18, 2)) * 100).cast("long")

  private val centiSql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** CUSUM changepoint detection per event_type at hour grain — the
    * classic mean-shift detector (Page 1954): the changepoint estimate
    * is the hour maximizing |Σ_{h'≤h} (x_h' − μ)|. Exactness: the
    * deviation is cross-multiplied into integers — dev_h = sv_h·N −
    * n_h·SV (so μ = SV/N never materializes as a rational) — and the
    * running CUSUM is an integer window sum; ties at the max flag every
    * argmax hour, deterministically.
    *
    * Scale shape: one partial+final agg to hour grain (the only pass
    * over the events), a per-type totals agg joined back on the
    * (tiny) type key, and two windows over HOUR-GRAIN rows — window
    * input is bounded by the time range × type count, never by event
    * count, no matter how large the corpus. */
  def cusumChangepoints(spark: SparkSession, dir: String): DataFrame = {
    val hourly = t(spark, dir, "events")
      .select(col("event_type"), expr(s"ts div $hourNs").as("hour"),
        centi("value").as("v"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val totals = hourly.groupBy("event_type")
      .agg(sum("n").as("nn"), sum("sv").as("svv"))
    val run = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("event_type")
    hourly.join(totals, "event_type")
      .withColumn("dev", col("sv") * col("nn") - col("n") * col("svv"))
      .withColumn("cusum", sum("dev").over(run))
      .withColumn("is_changepoint",
        abs(col("cusum")) === max(abs(col("cusum"))).over(whole))
      .select(col("event_type"), (col("hour") * 3600L).as("hour_start_s"),
        col("n"), col("cusum"), col("is_changepoint"))
      .orderBy("event_type", "hour_start_s")
  }

  val cusumChangepointsSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_ns(ts) // $hourNs AS hour,
       |         count(*) AS n, sum($centiSql) AS sv
       |  FROM events GROUP BY 1, 2
       |), tot AS (
       |  SELECT event_type, CAST(sum(n) AS BIGINT) AS nn,
       |         CAST(sum(sv) AS BIGINT) AS svv
       |  FROM hourly GROUP BY 1
       |), dev AS (
       |  SELECT h.event_type, h.hour, h.n, CAST(h.sv AS BIGINT) AS sv,
       |         CAST(h.sv AS BIGINT) * t.nn - h.n * t.svv AS dev
       |  FROM hourly h JOIN tot t USING (event_type)
       |), cu AS (
       |  SELECT event_type, hour, n,
       |         CAST(sum(dev) OVER (PARTITION BY event_type ORDER BY hour
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
       |  FROM dev
       |)
       |SELECT event_type, hour * 3600 AS hour_start_s, n, cusum,
       |       abs(cusum) = max(abs(cusum)) OVER (PARTITION BY event_type) AS is_changepoint
       |FROM cu ORDER BY event_type, hour_start_s""".stripMargin

  /** Lag-1 autocorrelation of `value` along each USER's event stream,
    * reported per event_type of the later event — "does a user's next
    * value track their previous one". The lag runs inside the per-user
    * partition (bounded by a user's own history), never over a global
    * sort; the correlation itself is the momentStats recipe: exact
    * integer sums per type, then one identical IEEE expression.
    * Ordering inside a user is (ts, event_id) — unique, so lag() is
    * deterministic in both engines. */
  def lagAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), centi("value").as("y"))
      .withColumn("x", lag("y", 1).over(w))
      .filter(col("x").isNotNull)
    pairs.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sxl"), sum("y").as("syl"),
        sum(col("x") * col("x")).as("sxxl"),
        sum(col("y") * col("y")).as("syyl"),
        sum(col("x") * col("y")).as("sxyl"))
      .select(col("event_type"), col("n_pairs"),
        // un-scale exact sums to doubles, then one shared IEEE tree
        ((col("n_pairs") * col("sxyl").cast("double")
          - col("sxl").cast("double") * col("syl").cast("double"))
          / (sqrt(col("n_pairs") * col("sxxl").cast("double")
              - col("sxl").cast("double") * col("sxl").cast("double"))
            * sqrt(col("n_pairs") * col("syyl").cast("double")
              - col("syl").cast("double") * col("syl").cast("double"))))
          .as("lag1_corr"))
      .orderBy("event_type")
  }

  val lagAutocorrSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type,
       |         $centiSql AS y
       |  FROM events
       |), p AS (
       |  SELECT event_type, y,
       |         lag(y) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS x
       |  FROM e
       |), s AS (
       |  SELECT event_type, count(*) AS n_pairs,
       |         CAST(sum(x) AS BIGINT) AS sxl, CAST(sum(y) AS BIGINT) AS syl,
       |         CAST(sum(x * x) AS BIGINT) AS sxxl,
       |         CAST(sum(y * y) AS BIGINT) AS syyl,
       |         CAST(sum(x * y) AS BIGINT) AS sxyl
       |  FROM p WHERE x IS NOT NULL GROUP BY event_type
       |)
       |SELECT event_type, n_pairs,
       |       (n_pairs * CAST(sxyl AS DOUBLE) - CAST(sxl AS DOUBLE) * CAST(syl AS DOUBLE))
       |       / (sqrt(n_pairs * CAST(sxxl AS DOUBLE) - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE))
       |          * sqrt(n_pairs * CAST(syyl AS DOUBLE) - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)))
       |         AS lag1_corr
       |FROM s ORDER BY event_type""".stripMargin

  /** Market-basket co-occurrence: for every part, its top-3 co-purchased
    * parts by shared-order count — the item-item edge mining step under
    * any co-occurrence recommender / related-items index.
    *
    * Scale shape: the pair generator is a SELF-EQUI-JOIN on l_orderkey
    * with p1 < p2 — per-order fanout is (basket choose 2), bounded by
    * the basket size (TPC-H ≤ 7 lines), never corpus-quadratic; the
    * count is one (p1,p2)-keyed partial+final agg; the top-3 is a
    * rank-filtered window per p1 that plans as WindowGroupLimit (a
    * partial top-k pushed before the final shuffle). Tiebreak
    * (n_orders DESC, p2 ASC) is total, so ranks are deterministic. */
  def copurchaseTopk(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // okey-keyed repartition at session parallelism: the distinct's
    // byte-tiny output is AQE-coalesced to ~1 partition, which
    // serialized the basket-choose-2 fanout + count (measured 1.3 s of
    // a 2.5 s query in one low-parallelism stage at sf0.1). Both
    // self-join branches reuse the ONE exchange (ReusedExchange);
    // production-size inputs get this exchange from the planner anyway.
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .distinct()
      .repartition(spark.sparkContext.defaultParallelism, col("okey"))
    val pairs = li.as("a").join(li.as("b"), Seq("okey"))
      .filter(col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"))
    val counted = pairs.groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
    val und = counted.unionAll(
      counted.select(col("p2").as("p1"), col("p1").as("p2"), col("n_orders")))
    val w = Window.partitionBy("p1")
      .orderBy(col("n_orders").desc, col("p2").asc)
    und.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("p1", "rank", "p2", "n_orders")
      .orderBy("p1", "rank")
  }

  val copurchaseTopkSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem
      |), pairs AS (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM li a JOIN li b ON a.okey = b.okey AND a.p < b.p
      |), counted AS (
      |  SELECT p1, p2, count(*) AS n_orders FROM pairs GROUP BY p1, p2
      |), und AS (
      |  SELECT p1, p2, n_orders FROM counted
      |  UNION ALL
      |  SELECT p2 AS p1, p1 AS p2, n_orders FROM counted
      |), ranked AS (
      |  SELECT p1, p2, n_orders,
      |         row_number() OVER (PARTITION BY p1 ORDER BY n_orders DESC, p2) AS rank
      |  FROM und
      |)
      |SELECT p1, rank, p2, n_orders FROM ranked WHERE rank <= 3
      |ORDER BY p1, rank""".stripMargin

  /** Hour-of-day seasonal profile per event_type — the naive seasonal
    * decomposition under every traffic/load model: per (type, hod) the
    * cross-multiplied integer deviation from the type's global mean
    * (dev = sv_h·N − n_h·SV, the CUSUM trick, so no rational mean ever
    * materializes) plus a peak flag on every argmax hod. 24 × |types|
    * rows out; the only pass over the events is the first aggregate. */
  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val hourly = t(spark, dir, "events")
      .select(col("event_type"),
        (expr(s"ts div $hourNs") % 24).as("hod"), centi("value").as("v"))
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val totals = hourly.groupBy("event_type")
      .agg(sum("n").as("nn"), sum("sv").as("svv"))
    val whole = Window.partitionBy("event_type")
    hourly.join(totals, "event_type")
      .withColumn("dev", col("sv") * col("nn") - col("n") * col("svv"))
      .withColumn("is_peak", col("dev") === max(col("dev")).over(whole))
      .select("event_type", "hod", "n", "dev", "is_peak")
      .orderBy("event_type", "hod")
  }

  val seasonalProfileSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, (epoch_ns(ts) // $hourNs) % 24 AS hod,
       |         count(*) AS n, sum($centiSql) AS sv
       |  FROM events GROUP BY 1, 2
       |), tot AS (
       |  SELECT event_type, CAST(sum(n) AS BIGINT) AS nn,
       |         CAST(sum(sv) AS BIGINT) AS svv
       |  FROM hourly GROUP BY 1
       |), dev AS (
       |  SELECT h.event_type, h.hod, h.n,
       |         CAST(h.sv AS BIGINT) * t.nn - h.n * t.svv AS dev
       |  FROM hourly h JOIN tot t USING (event_type)
       |)
       |SELECT event_type, hod, n, dev,
       |       dev = max(dev) OVER (PARTITION BY event_type) AS is_peak
       |FROM dev ORDER BY event_type, hod""".stripMargin

  /** Inter-arrival burstiness per event_type: gaps between a user's
    * consecutive events (any type, per-user window — never a global
    * sort), quantized to whole seconds, aggregated to exact sums, then
    * mean / coefficient-of-variation / the Goh–Barabási burstiness
    * index B = (σ−μ)/(σ+μ) as one shared IEEE tree. B→−1 periodic,
    * 0 Poisson, →1 bursty — the traffic-shape fingerprint. */
  def interarrivalBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = t(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"),
        expr("(ts - prev_ts) div 1000000000").as("gap_s"))
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_s").as("sgl"), sum(col("gap_s") * col("gap_s")).as("sggl"))
      .select(col("event_type"), col("n_gaps"), col("sgl").as("sum_gap_s"),
        (col("sgl").cast("double") / col("n_gaps")).as("mean_gap_s"),
        // σ/μ and (σ−μ)/(σ+μ) from the same exact sums
        (sqrt(col("n_gaps") * col("sggl").cast("double")
            - col("sgl").cast("double") * col("sgl").cast("double"))
          / col("sgl").cast("double")).as("cv"),
        ((sqrt(col("n_gaps") * col("sggl").cast("double")
            - col("sgl").cast("double") * col("sgl").cast("double"))
          - col("sgl").cast("double"))
          / (sqrt(col("n_gaps") * col("sggl").cast("double")
            - col("sgl").cast("double") * col("sgl").cast("double"))
          + col("sgl").cast("double"))).as("burstiness"))
      .orderBy("event_type")
  }

  val interarrivalBurstinessSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type FROM events
      |), g AS (
      |  SELECT event_type,
      |         (tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id))
      |           // 1000000000 AS gap_s
      |  FROM e
      |), s AS (
      |  SELECT event_type, count(*) AS n_gaps,
      |         CAST(sum(gap_s) AS BIGINT) AS sgl,
      |         CAST(sum(gap_s * gap_s) AS BIGINT) AS sggl
      |  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
      |)
      |SELECT event_type, n_gaps, sgl AS sum_gap_s,
      |       CAST(sgl AS DOUBLE) / n_gaps AS mean_gap_s,
      |       sqrt(n_gaps * CAST(sggl AS DOUBLE) - CAST(sgl AS DOUBLE) * CAST(sgl AS DOUBLE))
      |         / CAST(sgl AS DOUBLE) AS cv,
      |       (sqrt(n_gaps * CAST(sggl AS DOUBLE) - CAST(sgl AS DOUBLE) * CAST(sgl AS DOUBLE))
      |          - CAST(sgl AS DOUBLE))
      |       / (sqrt(n_gaps * CAST(sggl AS DOUBLE) - CAST(sgl AS DOUBLE) * CAST(sgl AS DOUBLE))
      |          + CAST(sgl AS DOUBLE)) AS burstiness
      |FROM s ORDER BY event_type""".stripMargin

  /** Association rules over the co-purchase pairs (Agrawal–Srikant
    * support/confidence/lift): for every DIRECTED pair a→b seen in ≥2
    * shared orders — support in exact order-permille, confidence
    * (1000·n_ab) DIV n_a (non-negative integral division, identical in
    * both engines), lift N·n_ab/(n_a·n_b) as one IEEE division of
    * exact integers alongside its raw numerator/denominator. The
    * pair generator is [[copurchaseTopk]]'s bounded basket self-join;
    * item order-counts join back on the item key. */
  def copurchaseLift(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(false) // feeds the total, the item counts and the pair join
    val total = li.select("okey").distinct().agg(count(lit(1)).as("n_orders_total"))
    val items = li.groupBy("p").agg(count(lit(1)).as("n_item"))
    val pairs = li.as("a").join(li.as("b"), Seq("okey"))
      .filter(col("a.p") < col("b.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    val directed = pairs.unionAll(
      pairs.select(col("p2").as("p1"), col("p1").as("p2"), col("n_ab")))
    directed
      .join(items.select(col("p").as("p1"), col("n_item").as("n_a")), Seq("p1"))
      .join(items.select(col("p").as("p2"), col("n_item").as("n_b")), Seq("p2"))
      .crossJoin(broadcast(total))
      .select(col("p1"), col("p2"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(1000 * n_ab) DIV n_orders_total").as("support_permille"),
        expr("(1000 * n_ab) DIV n_a").as("conf_permille"),
        ((col("n_orders_total") * col("n_ab")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy("p1", "p2")
  }

  val copurchaseLiftSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem
      |), tot AS (SELECT count(DISTINCT okey) AS n_orders_total FROM li),
      |items AS (SELECT p, count(*) AS n_item FROM li GROUP BY p),
      |pairs AS (
      |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_ab
      |  FROM li a JOIN li b ON a.okey = b.okey AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |), directed AS (
      |  SELECT p1, p2, n_ab FROM pairs
      |  UNION ALL
      |  SELECT p2, p1, n_ab FROM pairs
      |)
      |SELECT d.p1, d.p2, d.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
      |       CAST((1000 * d.n_ab) // t.n_orders_total AS BIGINT) AS support_permille,
      |       CAST((1000 * d.n_ab) // ia.n_item AS BIGINT) AS conf_permille,
      |       CAST(t.n_orders_total * d.n_ab AS DOUBLE)
      |         / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
      |FROM directed d
      |JOIN items ia ON d.p1 = ia.p
      |JOIN items ib ON d.p2 = ib.p
      |CROSS JOIN tot t
      |ORDER BY p1, p2""".stripMargin

  /** Pointwise mutual information between the two document categoricals
    * (lang × source) — the feature-association audit under every
    * metadata-balance check (is one source dominating one language?).
    * PMI is quantized to whole bits with the SHIFTED bin trick:
    * pmi_bits = floor(log2((n·N·2^20) div (n_l·n_s))) − 20 — signed
    * output from non-negative arithmetic (the 2^20 headroom keeps the
    * DIV argument ≥ 1 down to PMI −20 bits, far below any real cell).
    * Output is category-cardinality cells; one pass over the corpus. */
  def categoryPmi(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val nl = cells.groupBy("lang").agg(sum("n").as("n_l"))
    val ns = cells.groupBy("source").agg(sum("n").as("n_s"))
    val tot = cells.agg(sum("n").as("nn"))
    cells.join(nl, "lang").join(ns, "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n"), col("n_l"), col("n_s"),
        (length(bin(expr("(n * nn * 1048576) DIV (n_l * n_s)"))).cast("long") - 21L)
          .as("pmi_bits"))
      .orderBy("lang", "source")
  }

  val categoryPmiSql: String =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
      |), nl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_l FROM cells GROUP BY lang),
      |ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM cells GROUP BY source),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)
      |SELECT c.lang, c.source, c.n, nl.n_l, ns.n_s,
      |       length(bin((c.n * t.nn * 1048576) // (nl.n_l * ns.n_s))) - 21 AS pmi_bits
      |FROM cells c
      |JOIN nl USING (lang)
      |JOIN ns USING (source)
      |CROSS JOIN tot t
      |ORDER BY lang, source""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic of each event_type's value
    * distribution against the pooled corpus — the nonparametric drift
    * gate beside the histogram drift report. EXACT: values quantize to
    * centi-units, counts aggregate to a (type × distinct-value) cell
    * grid — bounded by VALUE RESOLUTION, never corpus size — and
    * D = max|F_t − F| is evaluated cross-multiplied
    * (|cum_t·N − cum·n_t|, all BIGINTs; the empirical CDFs never
    * materialize as rationals). The windows run over grid rows only.
    * Output: one row per type with the scaled D and its permille. */
  def ksByType(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "events")
      .select(col("event_type"), centi("value").as("qv"))
      .groupBy("event_type", "qv").agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // grid base: feeds the value grid, totals, and both CDFs
    val grid = cells.select("qv").distinct()
    val types = cells.groupBy("event_type").agg(sum("c").as("n_t"))
    val tot = types.agg(sum("n_t").as("nn"))
    val wAll = Window.orderBy("qv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumAll = grid
      .join(cells.groupBy("qv").agg(sum("c").as("ca")), Seq("qv"), "left")
      .withColumn("cum_all", sum(coalesce(col("ca"), lit(0L))).over(wAll))
      .select("qv", "cum_all")
    val wT = Window.partitionBy("event_type").orderBy("qv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumT = grid.crossJoin(broadcast(types))
      .join(cells, Seq("event_type", "qv"), "left")
      .withColumn("cum_t", sum(coalesce(col("c"), lit(0L))).over(wT))
    cumT.join(cumAll, "qv")
      .crossJoin(broadcast(tot))
      .groupBy("event_type", "n_t", "nn")
      .agg(max(abs(col("cum_t") * col("nn") - col("cum_all") * col("n_t"))).as("d_cross"))
      .select(col("event_type"), col("n_t"),
        col("d_cross"),
        expr("(1000 * d_cross) DIV (n_t * nn)").as("d_permille"))
      .orderBy("event_type")
  }

  val ksByTypeSql: String =
    s"""WITH cells AS (
       |  SELECT event_type, $centiSql AS qv, count(*) AS c
       |  FROM events GROUP BY 1, 2
       |), grid AS (SELECT DISTINCT qv FROM cells),
       |types AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_t FROM cells GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS nn FROM types),
       |cum_all AS (
       |  SELECT g.qv,
       |         CAST(sum(coalesce(ca.ca, 0)) OVER (ORDER BY g.qv
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
       |  FROM grid g
       |  LEFT JOIN (SELECT qv, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY qv) ca
       |    ON g.qv = ca.qv
       |), cum_t AS (
       |  SELECT ty.event_type, ty.n_t, g.qv,
       |         CAST(sum(coalesce(c.c, 0)) OVER (PARTITION BY ty.event_type ORDER BY g.qv
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_t
       |  FROM grid g CROSS JOIN types ty
       |  LEFT JOIN cells c ON c.event_type = ty.event_type AND c.qv = g.qv
       |)
       |SELECT t.event_type, t.n_t,
       |       CAST(max(abs(t.cum_t * o.nn - a.cum_all * t.n_t)) AS BIGINT) AS d_cross,
       |       CAST((1000 * max(abs(t.cum_t * o.nn - a.cum_all * t.n_t))) // (t.n_t * o.nn) AS BIGINT)
       |         AS d_permille
       |FROM cum_t t
       |JOIN cum_all a ON t.qv = a.qv
       |CROSS JOIN tot o
       |GROUP BY t.event_type, t.n_t, o.nn
       |ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_ks_by_type" -> ksByType,
    "ts_cusum_changepoints" -> cusumChangepoints,
    "ts_lag_autocorr" -> lagAutocorr,
    "ts_seasonal_profile" -> seasonalProfile,
    "ts_interarrival_burstiness" -> interarrivalBurstiness,
    "rec_copurchase_topk" -> ((s, d) => copurchaseTopk(s, d)),
    "rec_copurchase_lift" -> copurchaseLift,
    "dq_category_pmi" -> categoryPmi)

  val oracles: Map[String, String] = Map(
    "stat_ks_by_type" -> ksByTypeSql,
    "ts_cusum_changepoints" -> cusumChangepointsSql,
    "ts_lag_autocorr" -> lagAutocorrSql,
    "ts_seasonal_profile" -> seasonalProfileSql,
    "ts_interarrival_burstiness" -> interarrivalBurstinessSql,
    "rec_copurchase_topk" -> copurchaseTopkSql,
    "rec_copurchase_lift" -> copurchaseLiftSql,
    "dq_category_pmi" -> categoryPmiSql)
}
