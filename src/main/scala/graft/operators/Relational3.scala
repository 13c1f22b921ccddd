package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Third tranche: subqueries (scalar-correlated and IN — exercising
  * Catalyst's decorrelation), pivot, exact percentiles, regexp/string
  * functions, and conditional expressions.
  */
object Relational3 {
  import Tables.t

  /** Correlated scalar subquery per customer (decorrelated by Catalyst
    * into a left outer aggregate join — no per-row execution). */
  def correlatedScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "customer").createOrReplaceTempView("v_customer_sub")
    t(spark, dir, "orders").createOrReplaceTempView("v_orders_sub")
    spark.sql(
      """SELECT c_custkey,
        |       (SELECT max(o_totalprice) FROM v_orders_sub
        |        WHERE o_custkey = c_custkey) AS max_order
        |FROM v_customer_sub ORDER BY c_custkey""".stripMargin)
  }

  val correlatedScalarSubquerySql: String =
    """SELECT c_custkey,
      |       (SELECT max(o_totalprice) FROM orders
      |        WHERE o_custkey = c_custkey) AS max_order
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** IN / NOT IN subqueries (planned as semi/anti joins). */
  def inSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "part").createOrReplaceTempView("v_part_sub")
    t(spark, dir, "lineitem").createOrReplaceTempView("v_lineitem_sub")
    spark.sql(
      """SELECT p_partkey,
        |       p_partkey IN (SELECT l_partkey FROM v_lineitem_sub
        |                     WHERE l_returnflag = 'R') AS returned_ever
        |FROM v_part_sub ORDER BY p_partkey""".stripMargin)
  }

  val inSubquerySql: String =
    """SELECT p_partkey,
      |       p_partkey IN (SELECT l_partkey FROM lineitem
      |                     WHERE l_returnflag = 'R') AS returned_ever
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Pivot: quantity totals per returnflag, pivoted by linestatus.
    * Oracle uses the portable CASE form (identical semantics). */
  def pivotQuantities(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum("qty"))
      .select(col("l_returnflag"),
        col("F").cast("double").as("qty_f"),
        col("O").cast("double").as("qty_o"))
      .orderBy("l_returnflag")

  val pivotQuantitiesSql: String =
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
      |       CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact interpolated percentiles WITHOUT reducer-state concentration.
    *
    * Spark's exact `percentile()` is a TypedImperativeAggregate whose
    * buffer maps every distinct value to its count; grouped by the
    * 3-value `l_returnflag` the final aggregation lands the whole value
    * domain on 3 tasks — at 100× scale that is a multi-million-entry map
    * per reducer on a 3-task stage. This two-pass plan shards instead:
    *
    *  1. histogram pass: rows bucketed into B fixed-width slots of a
    *     DOCUMENTED domain — the bucket is a pure monotonic function of
    *     the value (outliers clamp to the edge slots), so the domain
    *     choice affects only bucket BALANCE, never correctness — counted
    *     with per-bucket min/max by (group, bucket): one partial+final
    *     shuffle over ≤ B×G keys. Group extents and counts roll up from
    *     the cells; cumulative offsets over the same ≤ B×G rows locate,
    *     for each needed rank ⌊q·(n−1)⌋ / ⌈q·(n−1)⌉, the bucket holding
    *     it and the rank within it.
    *  2. selection pass: a broadcast semi-join keeps only rows of the
    *     ≤ G×4 located buckets; a per-(group, rank) sort finds the
    *     local-rank-th value. Per-task state is ONE bucket's population,
    *     O(n/B) on balanced domains — grow B with the data and every
    *     stage stays sharded. A badly mis-declared domain degrades
    *     toward one hot bucket (still exact); a data-derived extent
    *     pass (one more scan) is the fallback when no domain is known.
    *
    * Interpolation mirrors DuckDB's quantile_cont exactly:
    * (⌈r⌉−r)·x⌊r⌋ + (r−⌊r⌋)·x⌈r⌉, with r = q·(n−1). */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val B = 1024
    // l_extendedprice = quantity × retail price ∈ (0, ~110k] at every
    // SF — the declared histogram domain (balance hint only, see above)
    val (lo, hi) = (0d, 131072d)
    val qs = Seq(0.5 -> "p50", 0.9 -> "p90")
    // One scan + one fan-out shuffle for both passes: the 3-column
    // projection (bucket needs no statistics — computed inline) is
    // lazily checkpointed so the histogram and selection passes don't
    // each re-read and re-shuffle the table. (On a cluster with
    // splittable sources one could skip the checkpoint and pay two
    // cheap columnar scans instead — the plan shape is identical.)
    val base = Tables.fanOut(t(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice"))
      .select(col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"))
      .withColumn("bucket",
        least(greatest(floor((col("v") - lo) / (hi - lo) * B), lit(0d)), lit(B - 1d))
          .cast("long"))
      .localCheckpoint(false)
    // pass 1: (group, bucket) histogram cells with per-cell extent
    val cells = base.groupBy("g", "bucket")
      .agg(count(lit(1)).as("cnt"), min("v").as("bmin"), max("v").as("bmax"))
      .localCheckpoint(false)
    // group stats roll up from the tiny cell frame (G rows)
    val stats = cells.groupBy("g")
      .agg(sum(col("cnt")).as("n"), min("bmin").as("vmin"), max("bmax").as("vmax"))
    // needed ranks: floor/ceil of q·(n−1) per (group, q) — ≤ G×4 rows
    val ranks = stats
      .select(col("g"), col("n"), explode(array(qs.map(q => lit(q._1)): _*)).as("q"))
      .withColumn("r", col("q") * (col("n") - 1).cast("double"))
      .select(col("g"), col("q"), col("r"),
        explode(array(floor(col("r")).cast("long"), ceil(col("r")).cast("long"))).as("rank"))
      .distinct()
    val cum = cells
      .withColumn("cum_before",
        coalesce(sum("cnt").over(org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("bucket")
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
    // locate each rank's bucket + offset within it (tiny aggregated frames)
    val needed = ranks.as("rk")
      .join(broadcast(cum).as("cm"),
        col("rk.g") === col("cm.g") &&
          col("rk.rank") >= col("cm.cum_before") &&
          col("rk.rank") < col("cm.cum_before") + col("cm.cnt"))
      .select(col("rk.g").as("g"), col("rk.rank").as("rank"),
        col("cm.bucket").as("bucket"),
        (col("rk.rank") - col("cm.cum_before")).as("local_rank"))
      .localCheckpoint(false)
    // pass 2: rows of located buckets only; per-(g, rank) state = one bucket
    val kth = base
      .join(broadcast(needed), Seq("g", "bucket"))
      .withColumn("pos", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("g", "rank").orderBy("v")) - 1)
      .filter(col("pos") === col("local_rank"))
      .select(col("g"), col("rank"), col("v"))
    val interpolated = ranks.join(kth, Seq("g", "rank"))
      .groupBy("g", "q", "r")
      .agg(min(when(col("rank") === floor(col("r")).cast("long"), col("v"))).as("vf"),
        min(when(col("rank") === ceil(col("r")).cast("long"), col("v"))).as("vc"))
      .withColumn("value",
        when(floor(col("r")) === ceil(col("r")), col("vf"))
          .otherwise((ceil(col("r")) - col("r")) * col("vf") +
            (col("r") - floor(col("r"))) * col("vc")))
    val qCols = qs.map { case (q, name) =>
      min(when(col("q") === q, col("value"))).as(name) }
    interpolated.groupBy("g")
      .agg(qCols.head, qCols.tail: _*)
      .join(stats.select(col("g"), col("vmin").as("pmin"), col("vmax").as("pmax")), Seq("g"))
      .select(col("g").as("l_returnflag"), col("p50"), col("p90"), col("pmin"), col("pmax"))
      .orderBy("l_returnflag")
  }

  val percentilesSql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_extendedprice, 0.5) AS p50,
      |       quantile_cont(l_extendedprice, 0.9) AS p90,
      |       min(l_extendedprice) AS pmin,
      |       max(l_extendedprice) AS pmax
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Regexp function surface: extract, replace, match over part names. */
  def regexpFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
        col("p_name").rlike("^(anti|micro)").as("prefixed"))
      .orderBy("p_partkey")

  val regexpFunctionsSql: String =
    """SELECT p_partkey,
      |       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      |       regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
      |       regexp_matches(p_name, '^(anti|micro)') AS prefixed
      |FROM part ORDER BY p_partkey""".stripMargin

  /** String padding/trim/case/position surface. */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .select(col("n_nationkey"),
        lpad(col("n_name"), 12, "*").as("padded"),
        trim(lit(" x  ")).as("trimmed"),
        initcap(lower(col("n_name"))).as("title_case"),
        instr(col("n_name"), "A").cast("long").as("a_pos"),
        repeat(lit("ab"), 3).as("repeated"),
        translate(col("n_name"), "AEI", "aei").as("translated"))
      .orderBy("n_nationkey")

  val stringFunctionsSql: String =
    """SELECT n_nationkey,
      |       lpad(n_name, 12, '*') AS padded,
      |       trim(' x  ') AS trimmed,
      |       list_aggregate(list_transform(string_split(lower(n_name), ' '),
      |         w -> upper(w[1]) || w[2:]), 'string_agg', ' ') AS title_case,
      |       coalesce(nullif(instr(n_name, 'A'), 0), 0)::BIGINT AS a_pos,
      |       repeat('ab', 3) AS repeated,
      |       translate(n_name, 'AEI', 'aei') AS translated
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Conditional expressions: CASE, nullif, ifnull, least/greatest. */
  def conditionals(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("size_class"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_filled"),
        least(col("o_custkey"), col("o_orderkey")).as("least_key"),
        greatest(col("o_custkey"), col("o_orderkey")).as("greatest_key"))
      .orderBy("o_orderkey")

  val conditionalsSql: String =
    """SELECT o_orderkey,
      |       CASE WHEN o_totalprice > 200000 THEN 'big'
      |            WHEN o_totalprice > 100000 THEN 'mid'
      |            ELSE 'small' END AS size_class,
      |       nullif(o_orderstatus, 'O') AS status_or_null,
      |       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
      |       least(o_custkey, o_orderkey) AS least_key,
      |       greatest(o_custkey, o_orderkey) AS greatest_key
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Double aggregation (the TPC-H Q13 shape): per-customer order
    * counts via a LEFT join (customers with no orders keep count 0 —
    * count over a nullable key skips nulls), then the distribution of
    * those counts. Two cascaded shuffles, both partial+final. */
  def countDistribution(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderstatus") =!= "F")
      .select(col("o_custkey"), col("o_orderkey"))
    t(spark, dir, "customer")
      .join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  val countDistributionSql: String =
    """WITH per_cust AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus <> 'F'
      |  ) o ON c_custkey = o_custkey
      |  GROUP BY c_custkey
      |)
      |SELECT c_count, count(*) AS custdist
      |FROM per_cust GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Scalar subquery over a derived aggregate (the TPC-H Q15 shape):
    * per-supplier revenue, keeping the supplier(s) achieving the global
    * maximum. Catalyst plans the max as a one-row broadcast. */
  def topRevenueSupplier(spark: SparkSession, dir: String): DataFrame = {
    // materialized once: the aggregate feeds both the max side and the
    // join side (Catalyst does not dedupe the shared subplan)
    val revenue = t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
        .cast("double").as("total_revenue"))
      .localCheckpoint(false)
    val maxRev = revenue.agg(max("total_revenue").as("m"))
    revenue.join(broadcast(maxRev), col("total_revenue") === col("m"))
      .select(col("supplier_no"), col("total_revenue"))
      .orderBy("supplier_no")
  }

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  val topRevenueSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      |  FROM lineitem GROUP BY l_suppkey
      |)
      |SELECT supplier_no, total_revenue FROM revenue
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY supplier_no""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sub_correlated_scalar" -> correlatedScalarSubquery,
    "sub_in_semijoin" -> inSubquery,
    "agg_pivot_linestatus" -> pivotQuantities,
    "agg_percentiles" -> percentiles,
    "fn_regexp" -> regexpFunctions,
    "fn_string_extra" -> stringFunctions,
    "fn_conditionals" -> conditionals,
    "agg_count_distribution" -> countDistribution,
    "sub_scalar_agg_max" -> topRevenueSupplier)

  val oracles: Map[String, String] = Map(
    "sub_correlated_scalar" -> correlatedScalarSubquerySql,
    "sub_in_semijoin" -> inSubquerySql,
    "agg_pivot_linestatus" -> pivotQuantitiesSql,
    "agg_percentiles" -> percentilesSql,
    "fn_regexp" -> regexpFunctionsSql,
    "fn_string_extra" -> stringFunctionsSql,
    "fn_conditionals" -> conditionalsSql,
    "agg_count_distribution" -> countDistributionSql,
    "sub_scalar_agg_max" -> topRevenueSupplierSql)
}
