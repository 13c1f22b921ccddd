package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Tables.t
import graft.functions.Portable

/** Distributed sketches and sampling operators — the approximate-query
  * toolkit a 100 TB pipeline leans on when exact answers are too
  * expensive: HyperLogLog cardinality, Bloom-filter join pruning
  * (the manual form of a runtime filter), bottom-k per-stratum samples,
  * and deterministic hash-based stratified sampling.
  *
  * Exactness discipline: engine-internal sketch binaries
  * (approx_count_distinct, bloom_filter_agg) are NOT cross-engine
  * comparable, so these sketches are built as PLAIN DATAFLOW over the
  * portable md5 hash — every register, bit position and estimate is
  * bit-identical in the DuckDB oracle. The shapes are the production
  * ones: one shuffle with map-side combine per sketch build.
  */
object Sketches {

  /** HyperLogLog distinct-count of lineitem's order keys, m=256
    * registers, reported next to the exact count. (The input must be in
    * HLL's n >> m regime: the raw estimator is biased high below ~3m
    * distincts, and the standard linear-counting correction is ln()-based
    * — not bit-portable cross-engine. The documents token vocabulary is
    * ~31 terms, so order keys are the honest demo.)
    *
    * Register build: bucket = h mod 256 from the 60-bit md5 hash; the
    * remaining 52 bits w rank by rho = 53 - bitlength(w) (leading-zero
    * count + 1, via the portable `bin()` string length; w=0 → 53).
    * The harmonic sum Σ 2^-M_j is computed as the INTEGER
    * Σ 2^(53-M_j) (order-independent, exact — doubles would sum in
    * engine-dependent order), with absent registers contributing 2^53;
    * the single final division happens in doubles. Raw estimate only —
    * no small/large-range correction branches (documented; corrections
    * are ln()-based and not bit-portable).
    *
    * Scale: explode → 256-register max-agg (map-side combine) → one
    * scalar. The register table is 256 rows whatever the input size.
    */
  def hllDistinct(spark: SparkSession, dir: String, p: Int = 8): DataFrame = {
    val m = 1 << p // 256
    val toks = t(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("tok"))
      .localCheckpoint(false) // feeds registers + exact count
    val h = Portable.hash60(col("tok"))
    val w = expr(s"h DIV $m")
    val regs = toks
      .select(pmod(h, lit(m.toLong)).as("bucket"), h.as("h"))
      .withColumn("rho", when(w === 0, lit(53L))
        .otherwise(lit(53L) - length(bin(w)).cast("long")))
      .groupBy("bucket").agg(max("rho").as("mreg"))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val est = regs.agg(
        sum(expr("shiftleft(1L, cast(53 - mreg as int))")).as("sum_present"),
        count(lit(1)).as("v"))
      .withColumn("sum_int",
        col("sum_present") + (lit(m.toLong) - col("v")) * lit(1L << 53))
      .withColumn("hll_est",
        lit(alpha * m * m) * lit((1L << 53).toDouble) / col("sum_int").cast("double"))
    val exact = toks.agg(countDistinct(col("tok")).as("n_exact"))
    exact.crossJoin(est.select(col("v").as("n_buckets_used"), col("hll_est")))
  }

  /** Cumulative-distinct curve via HLL register MERGE: per-day
    * registers (hash of event_id) folded forward with a cumulative MAX
    * per bucket over the day grid — the mergeability that makes
    * sketches worth shipping at 100 TB (yesterday's sketch + today's
    * partition = today's curve; the exact path would re-scan history
    * or keep unbounded distinct state). Reported beside the exact
    * cumulative count; same raw-estimator-only discipline as
    * [[hllDistinct]] (no ln()-based corrections — documented), so the
    * first days at tiny SF sit in the biased n < 3m regime and the
    * rel_err column says so honestly.
    *
    * Scale shape: one events scan → (day, bucket) max-agg (grid-sized,
    * map-side combine); the merge is a cum-max window over the
    * 30×256-cell grid, never the data. */
  def hllCumulative(spark: SparkSession, dir: String, p: Int = 8): DataFrame = {
    val m = 1 << p
    val dayNs = 86400L * 1000 * 1000 * 1000
    val toks = t(spark, dir, "events")
      .select(expr(s"ts DIV ${dayNs}L").as("day"),
        col("event_id").cast("string").as("tok")).localCheckpoint(false)
    val h = Portable.hash60(col("tok"))
    val w = expr(s"h DIV $m")
    val dayRegs = toks
      .select(col("day"), pmod(h, lit(m.toLong)).as("bucket"), h.as("h"))
      .withColumn("rho", when(w === 0, lit(53L))
        .otherwise(lit(53L) - length(bin(w)).cast("long")))
      .groupBy("day", "bucket").agg(max("rho").as("mreg"))
    val days = toks.select("day").distinct()
    val buckets = spark.range(m).select(col("id").as("bucket"))
    val cumW = Window.partitionBy("bucket").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grid = days.crossJoin(broadcast(buckets))
      .join(dayRegs, Seq("day", "bucket"), "left")
      .withColumn("cmreg", max("mreg").over(cumW))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val est = grid.groupBy("day")
      .agg(sum(when(col("cmreg").isNotNull,
        expr("shiftleft(1L, cast(53 - cmreg as int))"))).as("sum_present"),
        sum(when(col("cmreg").isNotNull, 1L).otherwise(0L)).as("v"))
      .withColumn("sum_int",
        coalesce(col("sum_present"), lit(0L))
          + (lit(m.toLong) - col("v")) * lit(1L << 53))
      .select(col("day"), col("v").as("n_buckets_used"),
        (lit(alpha * m * m) * lit((1L << 53).toDouble)
          / col("sum_int").cast("double")).as("hll_est"))
    val exact = toks.groupBy("day").agg(countDistinct("tok").as("n_day"))
      .withColumn("n_exact_cum", sum("n_day").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("day", "n_exact_cum")
    exact.join(est, "day")
      .withColumn("rel_err",
        (col("hll_est") - col("n_exact_cum").cast("double"))
          / col("n_exact_cum").cast("double"))
      .orderBy("day")
  }

  def hllCumulativeSql(p: Int = 8): String = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    s"""WITH toks AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS day,
       |         CAST(event_id AS VARCHAR) AS tok
       |  FROM events
       |), hashed AS (
       |  SELECT day, ${Portable.hash60Sql("tok")} AS h FROM toks
       |), dayregs AS (
       |  SELECT day, h % $m AS bucket,
       |         max(CASE WHEN h // $m = 0 THEN 53
       |                  ELSE 53 - length(bin(h // $m)) END) AS mreg
       |  FROM hashed GROUP BY day, bucket
       |), grid AS (
       |  SELECT d.day, b.bucket, r.mreg
       |  FROM (SELECT DISTINCT day FROM toks) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS bucket) b
       |  LEFT JOIN dayregs r ON d.day = r.day AND b.bucket = r.bucket
       |), cum AS (
       |  SELECT day, bucket,
       |         max(mreg) OVER (PARTITION BY bucket ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cmreg
       |  FROM grid
       |), est AS (
       |  SELECT day,
       |         CAST(sum(CASE WHEN cmreg IS NOT NULL
       |                       THEN 1::BIGINT << (53 - cmreg) END) AS BIGINT) AS sum_present,
       |         CAST(sum(CASE WHEN cmreg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
       |  FROM cum GROUP BY day
       |), exact AS (
       |  SELECT day, CAST(sum(count(DISTINCT tok)) OVER (ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_exact_cum
       |  FROM toks GROUP BY day
       |)
       |SELECT e.day, x.n_exact_cum, e.v AS n_buckets_used,
       |       ${alpha * m * m}::DOUBLE * ${(1L << 53).toDouble}::DOUBLE
       |         / CAST(coalesce(e.sum_present, 0) + ($m - e.v) * (1::BIGINT << 53) AS DOUBLE)
       |         AS hll_est,
       |       (${alpha * m * m}::DOUBLE * ${(1L << 53).toDouble}::DOUBLE
       |         / CAST(coalesce(e.sum_present, 0) + ($m - e.v) * (1::BIGINT << 53) AS DOUBLE)
       |        - CAST(x.n_exact_cum AS DOUBLE)) / CAST(x.n_exact_cum AS DOUBLE) AS rel_err
       |FROM est e JOIN exact x ON e.day = x.day
       |ORDER BY e.day""".stripMargin
  }

  def hllDistinctSql(p: Int = 8): String = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    s"""WITH toks AS (
       |  SELECT CAST(l_orderkey AS VARCHAR) AS tok FROM lineitem
       |), hashed AS (
       |  SELECT ${Portable.hash60Sql("tok")} AS h FROM toks
       |), regs AS (
       |  SELECT h % $m AS bucket,
       |         max(CASE WHEN h // $m = 0 THEN 53
       |                  ELSE 53 - length(bin(h // $m)) END) AS mreg
       |  FROM hashed GROUP BY bucket
       |), agg AS (
       |  SELECT CAST(sum(1::BIGINT << (53 - mreg)) AS BIGINT) AS sum_present,
       |         count(*) AS v
       |  FROM regs
       |), est AS (
       |  SELECT v,
       |         sum_present + ($m - v) * (1::BIGINT << 53) AS sum_int
       |  FROM agg
       |)
       |SELECT (SELECT count(DISTINCT tok) FROM toks) AS n_exact,
       |       v AS n_buckets_used,
       |       ${alpha * m * m}::DOUBLE * ${(1L << 53).toDouble}::DOUBLE
       |         / CAST(sum_int AS DOUBLE) AS hll_est
       |FROM est""".stripMargin
  }

  /** Per-group HLL vs exact distinct — the grouped form of
    * [[hllDistinct]] and the third estimator-quality query on the
    * board (with `sim_ann_recall` and `dedup_minhash_est`): distinct
    * customers per order priority, estimated from G×256 register rows.
    * The register table is the MERGEABLE state a 100 TB rollup keeps:
    * per-partition registers max-combine map-side, and coarser
    * groupings merge the same registers without rescanning. rel_err is
    * arithmetic on identical doubles — exact cross-engine.
    *
    * Small-range caveat (same as [[hllDistinct]], and MORE acute here
    * because grouping divides the cardinality): at the verification
    * scale factors the per-group distinct count sits near or below the
    * raw estimator's ~3m biased regime, so the reported hll_est /
    * rel_err reflect small-range bias, not sketch quality — production
    * HLL applies linear counting below that threshold. Cross-engine
    * exactness is unaffected (both engines compute the identical raw
    * estimator); SketchRetrievalSpec's quality floor is calibrated to
    * the biased regime it actually measures. */
  def hllGroups(spark: SparkSession, dir: String, p: Int = 8): DataFrame = {
    val m = 1 << p
    val toks = t(spark, dir, "orders")
      .select(col("o_orderpriority").as("g"),
        col("o_custkey").cast("string").as("tok"))
      .localCheckpoint(false) // feeds registers + exact counts
    val h = Portable.hash60(col("tok"))
    val w = expr(s"h DIV $m")
    val regs = toks
      .select(col("g"), pmod(h, lit(m.toLong)).as("bucket"), h.as("h"))
      .withColumn("rho", when(w === 0, lit(53L))
        .otherwise(lit(53L) - length(bin(w)).cast("long")))
      .groupBy("g", "bucket").agg(max("rho").as("mreg"))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val est = regs.groupBy("g").agg(
        sum(expr("shiftleft(1L, cast(53 - mreg as int))")).as("sum_present"),
        count(lit(1)).as("v"))
      .withColumn("sum_int",
        col("sum_present") + (lit(m.toLong) - col("v")) * lit(1L << 53))
      .select(col("g"),
        (lit(alpha * m * m) * lit((1L << 53).toDouble) / col("sum_int").cast("double"))
          .as("hll_est"))
    toks.groupBy("g").agg(countDistinct(col("tok")).as("n_exact"))
      .join(est, Seq("g"))
      .withColumn("rel_err",
        (col("hll_est") - col("n_exact").cast("double")) / col("n_exact").cast("double"))
      .orderBy("g")
  }

  def hllGroupsSql(p: Int = 8): String = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    s"""WITH toks AS (
       |  SELECT o_orderpriority AS g, CAST(o_custkey AS VARCHAR) AS tok FROM orders
       |), hashed AS (
       |  SELECT g, ${Portable.hash60Sql("tok")} AS h FROM toks
       |), regs AS (
       |  SELECT g, h % $m AS bucket,
       |         max(CASE WHEN h // $m = 0 THEN 53
       |                  ELSE 53 - length(bin(h // $m)) END) AS mreg
       |  FROM hashed GROUP BY g, bucket
       |), agg AS (
       |  SELECT g, CAST(sum(1::BIGINT << (53 - mreg)) AS BIGINT) AS sum_present,
       |         count(*) AS v
       |  FROM regs GROUP BY g
       |), est AS (
       |  SELECT g,
       |         ${alpha * m * m}::DOUBLE * ${(1L << 53).toDouble}::DOUBLE
       |           / CAST(sum_present + ($m - v) * (1::BIGINT << 53) AS DOUBLE) AS hll_est
       |  FROM agg
       |), exact AS (
       |  SELECT g, count(DISTINCT tok) AS n_exact FROM toks GROUP BY g
       |)
       |SELECT e.g, e.n_exact, s.hll_est,
       |       (s.hll_est - CAST(e.n_exact AS DOUBLE)) / CAST(e.n_exact AS DOUBLE) AS rel_err
       |FROM exact e JOIN est s ON e.g = s.g
       |ORDER BY e.g""".stripMargin
  }

  /** Bloom-filter join pruning — the manual form of Spark's runtime
    * bloom filter: build an m=65536-bit, k=3 filter over the custkeys of
    * one market segment, pre-filter orders through it, then verify with
    * the exact join and report the false-positive accounting.
    *
    * The "bitset" is the distinct set of set positions (≤ m rows,
    * broadcast); membership = an order's k positions all hit the set,
    * checked by an equi-join on position + count == k. Everything stays
    * declarative: at scale this is a broadcast semi-join that prunes the
    * probe BEFORE the expensive shuffle join it protects.
    */
  def bloomPrune(spark: SparkSession, dir: String,
                 segment: String = "BUILDING", m: Int = 65536, k: Int = 3): DataFrame = {
    def positions(key: Column): Column = // k portable hash positions
      array((0 until k).map(i =>
        pmod(Portable.hash60(concat_ws("_", lit(s"bf$i"), key)), lit(m.toLong))): _*)
    val build = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey")).localCheckpoint(false) // build side reused 3×
    val bits = build
      .select(explode(positions(col("c_custkey"))).as("pos")).distinct()
    val probe = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val passed = probe
      .select(col("o_orderkey"), col("o_custkey"),
        explode(positions(col("o_custkey"))).as("pos"))
      .join(broadcast(bits), "pos")
      .groupBy("o_orderkey", "o_custkey").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === k)
      .localCheckpoint(false) // reused by pass-count and true-match join
    val trueMatch = passed.join(build, passed("o_custkey") === build("c_custkey"))
    val counts = Seq(
      build.agg(count(lit(1)).as("n_build")),
      probe.agg(count(lit(1)).as("n_probe")),
      bits.agg(count(lit(1)).as("n_bits_set")),
      passed.agg(count(lit(1)).as("n_bloom_pass")),
      trueMatch.agg(count(lit(1)).as("n_true_match")))
    counts.reduceLeft(_ crossJoin _)
      .withColumn("n_false_pos", col("n_bloom_pass") - col("n_true_match"))
  }

  def bloomPruneSql(segment: String = "BUILDING", m: Int = 65536, k: Int = 3): String = {
    val posList = (0 until k).map(i =>
      s"${Portable.hash60Sql(s"'bf${i}_' || key")} % $m")
      .mkString("[", ", ", "]")
    s"""WITH build AS (
       |  SELECT c_custkey FROM customer WHERE c_mktsegment = '$segment'
       |), bits AS (
       |  SELECT DISTINCT unnest($posList) AS pos
       |  FROM (SELECT c_custkey AS key FROM build)
       |), probe_pos AS (
       |  SELECT o_orderkey, o_custkey, unnest($posList) AS pos
       |  FROM (SELECT o_orderkey, o_custkey, o_custkey AS key FROM orders)
       |), passed AS (
       |  SELECT o_orderkey, o_custkey
       |  FROM probe_pos JOIN bits USING (pos)
       |  GROUP BY o_orderkey, o_custkey HAVING count(*) = $k
       |)
       |SELECT (SELECT count(*) FROM build) AS n_build,
       |       (SELECT count(*) FROM orders) AS n_probe,
       |       (SELECT count(*) FROM bits) AS n_bits_set,
       |       (SELECT count(*) FROM passed) AS n_bloom_pass,
       |       (SELECT count(*) FROM passed p JOIN build b ON p.o_custkey = b.c_custkey)
       |         AS n_true_match,
       |       (SELECT count(*) FROM passed) -
       |       (SELECT count(*) FROM passed p JOIN build b ON p.o_custkey = b.c_custkey)
       |         AS n_false_pos""".stripMargin
  }

  /** Bottom-k sample per stratum: the k customers with the smallest
    * portable hash per market segment — a deterministic uniform sample
    * that doubles as the bottom-k distinct-count/Jaccard sketch.
    * Partitioned window top-k (WindowGroupLimit keeps it a partial
    * top-k per partition at scale, never a full sort). */
  def bottomK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Portable.hash60(concat_ws("_", lit("bk"), col("c_custkey")))
    val w = Window.partitionBy("c_mktsegment").orderBy("h", "c_custkey")
    t(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), h.as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("c_mktsegment", "rn")
  }

  def bottomKSql(k: Int = 5): String =
    s"""WITH hashed AS (
       |  SELECT c_mktsegment, c_custkey,
       |         ${Portable.hash60Sql("'bk_' || c_custkey")} AS h
       |  FROM customer
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY h, c_custkey)::BIGINT AS rn
       |  FROM hashed
       |)
       |SELECT c_mktsegment, c_custkey, h, rn FROM ranked
       |WHERE rn <= $k ORDER BY c_mktsegment, rn""".stripMargin

  /** Deterministic stratified sample accounting: a 10% hash-bernoulli
    * sample per order priority (pure function of the key — stable across
    * runs/partitionings/backfills, unlike rand()), reported as
    * per-stratum population vs sample counts and the achieved rate.
    * One aggregation pass; the sample predicate is a map-side filter. */
  def stratifiedSample(spark: SparkSession, dir: String, permille: Int = 100): DataFrame = {
    val inSample =
      pmod(Portable.hash60(concat_ws("_", lit("samp"), col("o_orderkey"))), lit(1000L))
        .lt(permille)
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("population"),
        sum(when(inSample, 1L).otherwise(0L)).as("n_sample"),
        min(when(inSample, col("o_totalprice"))).as("sample_min_price"),
        max(when(inSample, col("o_totalprice"))).as("sample_max_price"))
      .withColumn("rate", col("n_sample").cast("double") / col("population"))
      .orderBy("o_orderpriority")
  }

  def stratifiedSampleSql(permille: Int = 100): String =
    s"""WITH flagged AS (
       |  SELECT o_orderpriority, o_totalprice,
       |         ${Portable.hash60Sql("'samp_' || o_orderkey")} % 1000 < $permille AS in_s
       |  FROM orders
       |)
       |SELECT o_orderpriority,
       |       count(*) AS population,
       |       CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
       |       min(CASE WHEN in_s THEN o_totalprice END) AS sample_min_price,
       |       max(CASE WHEN in_s THEN o_totalprice END) AS sample_max_price,
       |       CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rate
       |FROM flagged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Deterministic WEIGHTED sampling (sequential Poisson / order
    * sampling, Ohlsson 1998): priority = u/w with u the uniform hash of
    * the key and w the weight; the k smallest priorities per stratum are
    * a without-replacement sample with inclusion probability ≈∝ w. Here
    * w = document length — the "sample long documents more" curation
    * shape. Determinism/exactness: u is hash60 (integer), priority is
    * ONE IEEE division u/w (identical doubles both engines, vec-id
    * tie-break); per-stratum top-k is a WindowGroupLimit-bounded window,
    * never a global sort. At 100 TB this is one map + one bounded
    * partial top-k per stratum — the same shape as sample_bottomk. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val u = Portable.hash60(concat_ws("_", lit("wsamp"), col("doc_id")))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        // greatest(len, 1): a zero-length doc has weight 0, whose priority
        // u/0 errors under ANSI mode — clamp so it samples as weight-1.
        greatest(length(col("text")).cast("long"), lit(1L)).as("w"),
        (u.cast("double") /
          greatest(length(col("text")).cast("long"), lit(1L)).cast("double"))
          .as("priority"))
      .select(col("lang"), col("doc_id"), col("w"), col("priority"),
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("lang").orderBy(col("priority"), col("doc_id")))
          .cast("long").as("rank"))
      .filter(col("rank") <= k)
      .orderBy("lang", "rank")
  }

  def weightedSampleSql(k: Int = 5): String =
    s"""WITH pri AS (
       |  SELECT lang, doc_id, greatest(CAST(length(text) AS BIGINT), 1) AS w,
       |         CAST(${Portable.hash60Sql("'wsamp_' || doc_id")} AS DOUBLE)
       |           / CAST(greatest(CAST(length(text) AS BIGINT), 1) AS DOUBLE) AS priority
       |  FROM documents
       |),
       |ranked AS (
       |  SELECT lang, doc_id, w, priority,
       |         row_number() OVER (PARTITION BY lang ORDER BY priority, doc_id) AS rank
       |  FROM pri
       |)
       |SELECT lang, doc_id, w, priority, rank FROM ranked
       |WHERE rank <= $k ORDER BY lang, rank""".stripMargin

  /** Mergeable equi-width quantile sketch with a first-class quality
    * gate — the approximate-quantile path a 100 TB pipeline actually
    * runs (exact selection is a two-pass drill-down; the sketch is ONE
    * partial+final count over B fixed cells, mergeable across shards /
    * days by plain addition, the same contract as the HLL registers).
    * Per (group, q): the sketch answer (midpoint of the cell holding
    * rank ⌊q·(n−1)⌋) next to the EXACT interpolated percentile from
    * [[Relational3.percentiles]]'s sharded two-pass plan, with the
    * absolute error. The structural guarantee is against the
    * NON-interpolated rank-⌊q·(n−1)⌋ value, which lies inside the
    * located cell, so that error is < one cell width ((hi−lo)/B = 512
    * here) by construction; the reported comparison is against the
    * interpolated percentile, which sits between ranks r and r+1 and
    * can leave the cell when rank r+1 falls in a later sparse cell —
    * the ≤ 512 bound ApproxAggSpec pins is therefore empirical on this
    * corpus for the interpolated form, structural only for the rank-r
    * form. A sketch-resolution
    * change that degrades answers beyond its guarantee fails the
    * correctness gate, not a dashboard (the agg_hll_groups pattern).
    * The domain is the documented percentile domain; like there, a
    * mis-declared domain degrades balance (and here, error), never
    * determinism. */
  private val SketchB = 256
  private val (sketchLo, sketchHi) = (0d, 131072d)
  private val sketchWidth = (sketchHi - sketchLo) / SketchB

  /** The shared price sketch: (group, bucket, cnt) cells over the
    * documented l_extendedprice domain — one partial+final count. */
  private def priceCells(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"))
      .withColumn("bucket",
        least(greatest(floor((col("v") - sketchLo) / (sketchHi - sketchLo) * SketchB),
          lit(0d)), lit(SketchB - 1d)).cast("long"))
      .groupBy("g", "bucket").agg(count(lit(1)).as("cnt"))

  /** Locate, per (group, q), the sketch cell holding rank ⌊q·(n−1)⌋.
    * Output: g, q, bucket. `cells` must be the staged cell frame. */
  private def locate(cells: DataFrame, qs: Seq[Double]): DataFrame = {
    val ranks = cells.groupBy("g").agg(sum("cnt").as("n"))
      .select(col("g"), col("n"), explode(array(qs.map(lit(_)): _*)).as("q"))
      .withColumn("rank", floor(col("q") * (col("n") - 1).cast("double")).cast("long"))
    val cum = cells.withColumn("cum_before",
      coalesce(sum("cnt").over(org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy("bucket")
        .rowsBetween(Long.MinValue, -1)), lit(0L)))
    ranks.as("rk")
      .join(broadcast(cum).as("cm"),
        col("rk.g") === col("cm.g") &&
          col("rk.rank") >= col("cm.cum_before") &&
          col("rk.rank") < col("cm.cum_before") + col("cm.cnt"))
      .select(col("rk.g").as("g"), col("rk.q").as("q"), col("cm.bucket").as("bucket"))
  }

  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val B = SketchB
    val (lo, hi) = (sketchLo, sketchHi)
    val width = sketchWidth
    val qs = Seq(0.5 -> "p50", 0.9 -> "p90")
    val cells = priceCells(spark, dir)
      .localCheckpoint(false) // the sketch: ≤ B×G cells, feeds ranks and the cum scan
    val approx = locate(cells, qs.map(_._1))
      .select(col("g"), col("q"),
        (lit(lo) + (col("bucket").cast("double") + 0.5d) * width).as("approx_value"))
    val exact = Relational3.percentiles(spark, dir)
      .select(col("l_returnflag").as("g"),
        explode(array(qs.map { case (q, name) =>
          struct(lit(q).as("q"), col(name).as("exact_value")) }: _*)).as("e"))
      .select(col("g"), col("e.q").as("q"), col("e.exact_value").as("exact_value"))
    approx.join(exact, Seq("g", "q"))
      .select(col("g").as("l_returnflag"), col("q"), col("approx_value"),
        col("exact_value"),
        abs(col("approx_value") - col("exact_value")).as("abs_err"))
      .orderBy("l_returnflag", "q")
  }

  val quantileSketchSql: String =
    """WITH base AS (
      |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
      |         CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE) - 0) / 131072.0 * 256), 0), 255) AS BIGINT) AS bucket
      |  FROM lineitem
      |), cells AS (
      |  SELECT g, bucket, count(*) AS cnt FROM base GROUP BY 1, 2
      |), ranks AS (
      |  SELECT g, n, q,
      |         CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS rank
      |  FROM (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY 1)
      |       CROSS JOIN (SELECT unnest([0.5, 0.9]) AS q)
      |), cum AS (
      |  SELECT g, bucket, cnt,
      |         CAST(coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY bucket
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM cells
      |), approx AS (
      |  SELECT rk.g, rk.q,
      |         0 + (CAST(cm.bucket AS DOUBLE) + 0.5) * 512.0 AS approx_value
      |  FROM ranks rk JOIN cum cm
      |    ON rk.g = cm.g AND rk.rank >= cm.cum_before AND rk.rank < cm.cum_before + cm.cnt
      |), exact AS (
      |  SELECT l_returnflag AS g, 0.5 AS q, quantile_cont(l_extendedprice, 0.5) AS exact_value
      |  FROM lineitem GROUP BY l_returnflag
      |  UNION ALL
      |  SELECT l_returnflag, 0.9, quantile_cont(l_extendedprice, 0.9)
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT a.g AS l_returnflag, a.q AS q, a.approx_value, e.exact_value,
      |       abs(a.approx_value - e.exact_value) AS abs_err
      |FROM approx a JOIN exact e ON a.g = e.g AND a.q = e.q
      |ORDER BY a.g, a.q""".stripMargin

  /** Winsorized robust statistics — the outlier-resistant mean/stddev a
    * metrics pipeline reports when raw moments are poisoned by tail
    * values: clip every price into the sketch-derived [p05 cell floor,
    * p95 cell ceiling] band, then compute EXACT moments of the clipped
    * column. The clip bounds come from the SAME mergeable B-cell sketch
    * as [[quantileSketch]] (cell edges are exact integer multiples of
    * the cell width, so the bounds — and therefore every clipped value —
    * are bit-identical cross-engine; a rank-exact bound would need the
    * two-pass drill-down for no robustness gain). Moments follow the
    * [[Analytics.momentStats]] discipline: integer cent sums (Σx in
    * BIGINT, Σx² in DECIMAL(28)), float math only on the final
    * per-group row. Shapes: the cell build + one clipped-moment
    * partial+final agg — two corpus passes, no sort, no value map. */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cells = priceCells(spark, dir).localCheckpoint(false)
    val bounds = locate(cells, Seq(0.05, 0.95))
      .groupBy("g").agg(
        min(when(col("q") === 0.05, col("bucket"))).as("b05"),
        min(when(col("q") === 0.95, col("bucket"))).as("b95"))
      // cent-domain bounds: cell floor of p05, cell ceiling of p95
      .select(col("g"),
        (col("b05") * (sketchWidth * 100).toLong).as("lb_cents"),
        ((col("b95") + 1L) * (sketchWidth * 100).toLong).as("ub_cents"))
    val cents = t(spark, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("vc"))
    cents.join(broadcast(bounds), "g")
      .withColumn("w", least(greatest(col("vc"), col("lb_cents")), col("ub_cents")))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("vc") < col("lb_cents"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("vc") > col("ub_cents"), 1L).otherwise(0L)).as("n_clipped_high"),
        min("lb_cents").as("lbc"), min("ub_cents").as("ubc"),
        sum(col("w")).as("swl"),
        sum((col("w") * col("w")).cast(DecimalType(28, 0))).as("swwd"))
      .select(col("g").as("l_returnflag"), col("n"),
        col("n_clipped_low"), col("n_clipped_high"),
        (col("lbc").cast("double") / 100).as("lower_bound"),
        (col("ubc").cast("double") / 100).as("upper_bound"),
        (col("swl").cast("double") / 100 / col("n")).as("mean_w"),
        sqrt(((col("swwd").cast("double") / 10000) -
          (col("swl").cast("double") / 100) * (col("swl").cast("double") / 100) / col("n"))
          / (col("n") - 1)).as("stddev_w"))
      .orderBy("l_returnflag")
  }

  val winsorizedStatsSql: String =
    """WITH base AS (
      |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
      |         CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE) - 0) / 131072.0 * 256), 0), 255) AS BIGINT) AS bucket
      |  FROM lineitem
      |), cells AS (
      |  SELECT g, bucket, count(*) AS cnt FROM base GROUP BY 1, 2
      |), ranks AS (
      |  SELECT g, n, q,
      |         CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) AS rank
      |  FROM (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY 1)
      |       CROSS JOIN (SELECT unnest([0.05, 0.95]) AS q)
      |), cum AS (
      |  SELECT g, bucket, cnt,
      |         CAST(coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY bucket
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM cells
      |), located AS (
      |  SELECT rk.g, rk.q, cm.bucket
      |  FROM ranks rk JOIN cum cm
      |    ON rk.g = cm.g AND rk.rank >= cm.cum_before AND rk.rank < cm.cum_before + cm.cnt
      |), bounds AS (
      |  SELECT g,
      |         CAST(min(CASE WHEN q = 0.05 THEN bucket END) * 51200 AS BIGINT) AS lb_cents,
      |         CAST((min(CASE WHEN q = 0.95 THEN bucket END) + 1) * 51200 AS BIGINT) AS ub_cents
      |  FROM located GROUP BY 1
      |), cents AS (
      |  SELECT l_returnflag AS g,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM lineitem
      |), agg AS (
      |  SELECT c.g, count(*) AS n,
      |         CAST(sum(CASE WHEN c.vc < b.lb_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
      |         CAST(sum(CASE WHEN c.vc > b.ub_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
      |         min(b.lb_cents) AS lbc, min(b.ub_cents) AS ubc,
      |         CAST(sum(least(greatest(c.vc, b.lb_cents), b.ub_cents)) AS BIGINT) AS swl,
      |         sum(CAST(least(greatest(c.vc, b.lb_cents), b.ub_cents)
      |             * least(greatest(c.vc, b.lb_cents), b.ub_cents) AS DECIMAL(28,0))) AS swwd
      |  FROM cents c JOIN bounds b USING (g) GROUP BY c.g
      |)
      |SELECT g AS l_returnflag, n, n_clipped_low, n_clipped_high,
      |       CAST(lbc AS DOUBLE) / 100 AS lower_bound,
      |       CAST(ubc AS DOUBLE) / 100 AS upper_bound,
      |       CAST(swl AS DOUBLE) / 100 / n AS mean_w,
      |       sqrt((CAST(swwd AS DOUBLE) / 10000
      |             - (CAST(swl AS DOUBLE) / 100) * (CAST(swl AS DOUBLE) / 100) / n)
      |            / (n - 1)) AS stddev_w
      |FROM agg ORDER BY l_returnflag""".stripMargin

  /** Neyman (variance-proportional) stratified allocation: a total
    * budget K is split across strata ∝ n_s·σ_s — the optimal-variance
    * allocation (Neyman 1934) every survey/eval sampler uses — then
    * each stratum draws its quota deterministically by hash order.
    *
    * Exactness: n_s·σ_s = sqrt(n_s·Σv² − (Σv)²) on exact centi-integer
    * sums; the weight is floor-quantized to a BIGINT per stratum
    * (per-row IEEE sqrt, deterministic) BEFORE the cross-stratum sum,
    * so the allocation q_s = (K·wq_s) DIV Σwq is non-negative integral
    * arithmetic end to end — no cross-engine double accumulation.
    * Selection is rank ≤ q_s over (hash60, event_id) per stratum —
    * the bottom-k machinery, planning as a partial top-k. Output is
    * the per-stratum allocation plus each sampled row. */
  def neymanSample(spark: SparkSession, dir: String, budget: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ev = t(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v"))
    val strata = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_s"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("svv"))
      // n_s·Σv² reaches ~1e22 at sf0.1 — widen to DECIMAL(38,0) (DuckDB:
      // HUGEINT) before the one deterministic double conversion
      .withColumn("wq",
        floor(sqrt(expr("CAST(CAST(n_s AS DECIMAL(38,0)) * svv - CAST(sv AS DECIMAL(38,0)) * sv AS DOUBLE)")))
          .cast("long"))
    val totw = strata.agg(sum("wq").as("tw"))
    val quotas = strata.crossJoin(broadcast(totw))
      .select(col("event_type"), col("n_s"), col("wq"),
        expr(s"($budget * wq) DIV tw").as("quota"))
    val w = Window.partitionBy("event_type")
      .orderBy(pmod(Portable.hash60(concat_ws("_", lit("ney"), col("event_id"))),
        lit(1000000007L)), col("event_id"))
    ev.withColumn("rk", row_number().over(w).cast("long"))
      // static budget bound first: quota ≤ K always, and a LITERAL limit
      // lets the planner push a WindowGroupLimit (the joined quota
      // column could not be pushed below the window)
      .filter(col("rk") <= budget.toLong)
      .join(broadcast(quotas), "event_type")
      .filter(col("rk") <= col("quota"))
      .select("event_type", "n_s", "quota", "rk", "event_id")
      .orderBy("event_type", "rk")
  }

  def neymanSampleSql(budget: Int = 1000): String =
    s"""WITH ev AS (
       |  SELECT event_type, event_id,
       |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM events
       |), strata AS (
       |  SELECT event_type, count(*) AS n_s,
       |         CAST(sum(v) AS BIGINT) AS sv, CAST(sum(v * v) AS BIGINT) AS svv
       |  FROM ev GROUP BY event_type
       |), wqs AS (
       |  SELECT event_type, n_s,
       |         CAST(floor(sqrt(CAST(CAST(n_s AS HUGEINT) * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE))) AS BIGINT) AS wq
       |  FROM strata
       |), tw AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM wqs),
       |quotas AS (
       |  SELECT event_type, n_s, wq, ($budget * wq) // tw.tw AS quota
       |  FROM wqs CROSS JOIN tw
       |), ranked AS (
       |  SELECT event_type, event_id,
       |         row_number() OVER (PARTITION BY event_type
       |           ORDER BY ${Portable.hash60Sql("'ney_' || event_id")} % 1000000007,
       |                    event_id) AS rk
       |  FROM ev
       |)
       |SELECT r.event_type, q.n_s, CAST(q.quota AS BIGINT) AS quota,
       |       CAST(r.rk AS BIGINT) AS rk, r.event_id
       |FROM ranked r JOIN quotas q USING (event_type)
       |WHERE r.rk <= $budget AND r.rk <= q.quota
       |ORDER BY event_type, rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_winsorized" -> winsorizedStats,
    "agg_quantile_sketch" -> quantileSketch,
    "agg_hll_cumulative" -> ((s, d) => hllCumulative(s, d)),
    "agg_hll_distinct" -> ((s, d) => hllDistinct(s, d)),
    "sample_weighted" -> ((s, d) => weightedSample(s, d)),
    "agg_hll_groups" -> ((s, d) => hllGroups(s, d)),
    "join_bloom_prune" -> ((s, d) => bloomPrune(s, d)),
    "sample_bottomk" -> ((s, d) => bottomK(s, d)),
    "sample_stratified" -> ((s, d) => stratifiedSample(s, d)),
    "sample_neyman" -> ((s, d) => neymanSample(s, d)))

  val oracles: Map[String, String] = Map(
    "stat_winsorized" -> winsorizedStatsSql,
    "agg_quantile_sketch" -> quantileSketchSql,
    "agg_hll_cumulative" -> hllCumulativeSql(),
    "agg_hll_distinct" -> hllDistinctSql(),
    "sample_weighted" -> weightedSampleSql(),
    "agg_hll_groups" -> hllGroupsSql(),
    "join_bloom_prune" -> bloomPruneSql(),
    "sample_bottomk" -> bottomKSql(),
    "sample_stratified" -> stratifiedSampleSql(),
    "sample_neyman" -> neymanSampleSql())
}
