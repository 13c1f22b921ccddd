package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable
import org.apache.spark.sql.types.DecimalType
import graft.operators.Tables.t

/** Third analytics batch: Benford first-digit conformance, activity
  * streaks (gaps-and-islands), deterministic epoch reshuffling for
  * training-data delivery, and a Poisson-bootstrap confidence interval.
  *
  * Reference context: the reference engine (/root/reference/src/) has no
  * analytics surface; like the rest of SURVEY §2.4 these are harness
  * capability queries. Exactness discipline as everywhere on the board:
  * doubles quantize to scaled BIGINTs up front (DECIMAL(18,2) rounding is
  * identical in both engines), every aggregate is an order-independent
  * integer sum/min/max, rank orders are hash-plus-id total orders, and
  * any division is integer `DIV` with documented resolution.
  */
object Analytics3 {

  private val dayNs = 86400L * 1000 * 1000 * 1000

  /** Benford's-law first-digit conformance of `l_extendedprice` — the
    * classic fabricated-data / unit-mixup detector for financial-style
    * columns. The price is quantized to exact integer cents (scale-
    * invariance of Benford makes the ×100 irrelevant), the first digit
    * is taken off the decimal string (integer-exact in both engines —
    * no float log10), and the observed per-digit share in permille is
    * compared against the floor(log10(1+1/d)·1000) expectation.
    *
    * Scale shape: one partial+final agg to NINE digit cells plus a
    * 1-row broadcast total — the whole query is a single corpus pass
    * regardless of table size. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    // floor(log10(1 + 1/d) * 1000) for d = 1..9
    val expected = Seq(301, 176, 124, 96, 79, 66, 57, 51, 45)
    val cents = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val digits = t(spark, dir, "lineitem")
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("nn"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(1000 * n) DIV nn").as("obs_permille"),
        element_at(
          array(expected.map(e => lit(e.toLong)): _*),
          col("digit").cast("int")).as("exp_permille"))
      .withColumn("dev_permille", col("obs_permille") - col("exp_permille"))
      .orderBy("digit")
  }

  val benfordDigitsSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                     AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM lineitem
      |), cells AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)
      |SELECT c.digit, c.n,
      |       (1000 * c.n) // t.nn AS obs_permille,
      |       CAST(list_extract([301,176,124,96,79,66,57,51,45], CAST(c.digit AS INT)) AS BIGINT)
      |         AS exp_permille,
      |       (1000 * c.n) // t.nn
      |         - list_extract([301,176,124,96,79,66,57,51,45], CAST(c.digit AS INT)) AS dev_permille
      |FROM cells c CROSS JOIN tot t
      |ORDER BY digit""".stripMargin

  /** Longest consecutive-day activity streak per user, reported as a
    * bounded histogram (streak length → user count) — the classic
    * gaps-and-islands computation engagement pipelines run. Distinct
    * (user, day) first, then island id = day − row_number (equal along
    * a run of consecutive days), then max island length per user.
    *
    * Scale shape: the dedup and both windows are user-partitioned —
    * per-user day counts are bounded by the calendar, never by event
    * volume, and the output is a histogram over streak lengths. No
    * global sort or single-partition window anywhere. */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), expr(s"ts DIV ${dayNs}L").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val streaks = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max("len").as("max_streak"))
    streaks.groupBy("max_streak").agg(count(lit(1)).as("n_users"))
      .orderBy("max_streak")
  }

  val activityStreaksSql: String =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // $dayNs AS day FROM events
       |), isl AS (
       |  SELECT user_id,
       |         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
       |  FROM days
       |), streaks AS (
       |  SELECT user_id, count(*) AS len FROM isl GROUP BY user_id, grp
       |), per_user AS (
       |  SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak FROM streaks GROUP BY user_id
       |)
       |SELECT max_streak, count(*) AS n_users
       |FROM per_user GROUP BY max_streak ORDER BY max_streak""".stripMargin

  /** Deterministic per-epoch reshuffle of the document corpus — the
    * delivery-side operator of a training pipeline: each epoch must
    * visit every document exactly once in a fresh pseudorandom order,
    * reproducibly, WITHOUT a global sort. Documents hash to one of 16
    * shards per epoch (the unit a trainer streams), and the intra-shard
    * order is a per-shard local sort by a second-level hash. The output
    * audits the shuffle: per (epoch, shard) the document count, an
    * order-independent XOR of the member hashes (membership check), and
    * a rank-weighted checksum (order check — any transposition changes
    * it).
    *
    * Scale shape: the explode is map-side (×E epochs), the only shuffle
    * is the (epoch, shard)-keyed exchange every trainer needs anyway,
    * and each window partition is one shard (corpus/16 rows) — the
    * 100 TB epoch shuffle is exactly this plan with more shards. */
  def epochShuffle(spark: SparkSession, dir: String,
                   epochs: Int = 4, shards: Int = 16): DataFrame = {
    val h = graft.functions.Portable.hash60(
      concat_ws("_", lit("epshuf"), col("epoch"), col("doc_id")))
    val assigned = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
    val w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    assigned
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(h)").as("xor_h"),
        sum(col("rk") * pmod(col("h"), lit(997L))).as("order_sum"))
      .orderBy("epoch", "shard")
  }

  def epochShuffleSql(epochs: Int = 4, shards: Int = 16): String =
    s"""WITH assigned AS (
       |  SELECT d.doc_id, e.epoch,
       |         ${Portable.hash60Sql("'epshuf_' || e.epoch || '_' || d.doc_id")} AS h
       |  FROM documents d CROSS JOIN (SELECT unnest(range(0, $epochs)) AS epoch) e
       |), ranked AS (
       |  SELECT epoch, h % $shards AS shard, h,
       |         row_number() OVER (PARTITION BY epoch, h % $shards ORDER BY h, doc_id) AS rk
       |  FROM assigned
       |)
       |SELECT epoch, shard, count(*) AS n_docs,
       |       CAST(bit_xor(h) AS BIGINT) AS xor_h,
       |       CAST(sum(rk * (h % 997)) AS BIGINT) AS order_sum
       |FROM ranked GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  /** Poisson-bootstrap confidence interval for the mean event value —
    * THE bootstrap that works at 100 TB: instead of resampling n rows
    * with replacement (which needs global coordination), every row
    * contributes an independent Poisson(1) weight per replicate
    * (Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams"). Weights come from a deterministic inverse-CDF on a
    * 60-bit hash, so both engines draw identical replicates. Output:
    * one row per replicate with its exact integer weighted moments, the
    * scaled mean, and the replicate's rank — rank 1 / R are the
    * bootstrap CI endpoints.
    *
    * Scale shape: the ×R explode is map-side and collapses to R cells
    * per partition before the one 32-cell shuffle (partial aggregation
    * does the work); the ranking window sees R rows total. */
  def bootstrapCi(spark: SparkSession, dir: String, reps: Int = 32): DataFrame = {
    // cumulative Poisson(1) CDF × 1e6, floored: P(X<=k) for k = 0..5;
    // u >= all thresholds → weight 6 (truncation error < 1e-4)
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)
    val u = pmod(graft.functions.Portable.hash60(
      concat_ws("_", lit("boot"), col("r"), col("event_id"))), lit(1000000L))
    val weight = cdf.zipWithIndex.foldRight(lit(cdf.length.toLong)) {
      case ((thr, k), els) => when(col("u") < thr, k.toLong).otherwise(els)
    }
    // fanOut before the ×R explode: the single-file events scan is ONE
    // task, and the 3.2M-row explode+md5 downstream of it was measured
    // serialized on one core (3.4 s of a 3.6 s query at sf0.1). The
    // round-robin repartition costs one tiny 100k-row shuffle and lets
    // the hash/weight map run at full parallelism (guide §2.5: fix
    // input skew right after the read); a multi-split production scan
    // makes it a planning-time no-op.
    val reps32 = Tables.fanOut(t(spark, dir, "events"))
      .select(col("event_id"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("r"))
      .withColumn("u", u)
      .withColumn("w", weight)
      .groupBy("r")
      .agg(sum("w").as("n_w"), sum(col("w") * col("v")).as("sum_wv"))
      .withColumn("mean_micro", expr("(10000 * sum_wv) DIV n_w"))
    reps32
      .withColumn("rank",
        row_number().over(Window.orderBy("mean_micro", "r")).cast("long"))
      .orderBy("r")
  }

  def bootstrapCiSql(reps: Int = 32): String =
    s"""WITH drawn AS (
       |  SELECT r.r, ev.event_id,
       |         CAST(CAST(ev.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |         ${Portable.hash60Sql("'boot_' || r.r || '_' || ev.event_id")}
       |           % 1000000 AS u
       |  FROM events ev CROSS JOIN (SELECT unnest(range(0, $reps)) AS r) r
       |), weighted AS (
       |  SELECT r, v,
       |         CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
       |              WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
       |              WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
       |              ELSE 6 END AS w
       |  FROM drawn
       |), cells AS (
       |  SELECT r, CAST(sum(w) AS BIGINT) AS n_w, CAST(sum(w * v) AS BIGINT) AS sum_wv
       |  FROM weighted GROUP BY r
       |), means AS (
       |  SELECT r, n_w, sum_wv, (10000 * sum_wv) // n_w AS mean_micro FROM cells
       |)
       |SELECT r, n_w, sum_wv, mean_micro,
       |       CAST(row_number() OVER (ORDER BY mean_micro, r) AS BIGINT) AS rank
       |FROM means ORDER BY r""".stripMargin

  /** Gini coefficient + Lorenz-curve deciles of order value — the
    * concentration report ("what share of revenue do the bottom k/10 of
    * orders carry") that skew-aware capacity planning reads. Computed
    * from GROUPED data on a value-resolution-bounded grid (prices
    * quantized to 10-currency-unit cells), the same bounded-grid trick
    * as the KS statistic: with cells sorted by value, Σ rank·x over the
    * expanded rows equals Σ_cells qv·(c·cumN_prev + c(c+1)/2) — all
    * exact BIGINTs — and G = (2S − (N+1)V) / (N·V) emerges as one
    * integer division at milli resolution (denominator pre-shrunk
    * `DIV 1000` to keep the numerator inside BIGINT at 8× scale).
    *
    * Scale shape: one partial+final agg to the price grid, windows over
    * GRID rows (bounded by value resolution, never table size), and a
    * 10-row decile probe via min_by. */
  def giniLorenz(spark: SparkSession, dir: String): DataFrame = {
    val units10 = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 1000")
    val cells = t(spark, dir, "orders")
      .select(units10.as("qv"))
      .groupBy("qv").agg(count(lit(1)).as("c"))
    val tot = cells.agg(sum("c").as("nn"), sum(col("c") * col("qv")).as("vv"))
    val w = Window.orderBy("qv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("cum_n", sum("c").over(w))
      .withColumn("cum_v", sum(col("c") * col("qv")).over(w))
    val s = cum.agg(
      sum(col("qv") * (col("c") * (col("cum_n") - col("c"))
        + expr("(c * (c + 1)) DIV 2"))).as("s"))
    val gini = s.crossJoin(broadcast(tot))
      .select(col("nn"), col("vv"),
        expr("(2 * s - (nn + 1) * vv) DIV ((nn * vv) DIV 1000)").as("gini_milli"))
    val deciles = cum.crossJoin(broadcast(tot))
      .crossJoin(broadcast(
        spark.range(1, 11).select(col("id").as("decile"))))
      .filter(col("cum_n") * 10 >= col("decile") * col("nn"))
      .groupBy("decile")
      .agg(min_by(col("cum_v"), col("qv")).as("cum_v_at"))
    deciles.crossJoin(broadcast(gini))
      .select(col("decile"),
        expr("(1000 * cum_v_at) DIV vv").as("lorenz_permille"),
        col("gini_milli"))
      .orderBy("decile")
  }

  val giniLorenzSql: String =
    """WITH cells AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000 AS qv,
      |         count(*) AS c
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS nn, CAST(sum(c * qv) AS BIGINT) AS vv FROM cells
      |), cum AS (
      |  SELECT qv, c,
      |         CAST(sum(c) OVER (ORDER BY qv
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
      |         CAST(sum(c * qv) OVER (ORDER BY qv
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v
      |  FROM cells
      |), s AS (
      |  SELECT CAST(sum(qv * (c * (cum_n - c) + (c * (c + 1)) // 2)) AS BIGINT) AS s FROM cum
      |), gini AS (
      |  SELECT t.nn, t.vv, (2 * s.s - (t.nn + 1) * t.vv) // ((t.nn * t.vv) // 1000) AS gini_milli
      |  FROM s CROSS JOIN tot t
      |), deciles AS (
      |  SELECT k.decile, min_by(cum.cum_v, cum.qv) AS cum_v_at
      |  FROM cum CROSS JOIN tot t
      |       CROSS JOIN (SELECT unnest(range(1, 11)) AS decile) k
      |  WHERE cum.cum_n * 10 >= k.decile * t.nn
      |  GROUP BY k.decile
      |)
      |SELECT d.decile, (1000 * d.cum_v_at) // g.vv AS lorenz_permille, g.gini_milli
      |FROM deciles d CROSS JOIN gini g
      |ORDER BY decile""".stripMargin

  /** RAKE keyword extraction (Rose et al. 2010) — corpus-level salient
    * terms: phrases are maximal stopword-free token runs (phrase id =
    * running stopword count, a per-doc window over token positions),
    * word score = degree/frequency where degree sums the lengths of
    * every phrase containing the word. Declarative RAKE: the phrase
    * segmentation that is usually an imperative scan is one cumulative
    * window + a filter. Integral milli score; top-25 with (score, word)
    * tie-break.
    *
    * Scale shape: explode→window→two corpus-linear joins on (doc,
    * phrase) — the inverted-index class; the window partition is one
    * document's tokens. */
  def keywordRake(spark: SparkSession, dir: String, topN: Int = 25): DataFrame = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "was", "for", "on", "with", "as", "by", "at", "it", "that", "this",
      "are", "be", "from", "we", "you", "not")
    val pos = t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.text.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "tok")))
      .withColumn("is_stop",
        col("tok").isInCollection(stop).cast("long"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = pos.withColumn("phrase", sum("is_stop").over(w))
      .filter(col("is_stop") === 0L)
      .select("doc_id", "phrase", "tok")
    val plen = ph.groupBy("doc_id", "phrase").agg(count(lit(1)).as("plen"))
    ph.join(plen, Seq("doc_id", "phrase"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
      .select(col("tok").as("word"), col("freq"), col("degree"),
        expr("(1000 * degree) DIV freq").as("score_milli"))
      .orderBy(col("score_milli").desc, col("word"))
      .limit(topN)
  }

  def keywordRakeSql(topN: Int = 25): String = {
    val stopList = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "was", "for", "on", "with", "as", "by", "at", "it", "that", "this",
      "are", "be", "from", "we", "you", "not")
      .map(s => s"'$s'").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                     x -> len(x) > 0) AS toks
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, u.i AS pos, toks[u.i] AS tok,
       |         CASE WHEN toks[u.i] IN ($stopList) THEN 1 ELSE 0 END AS is_stop
       |  FROM tk, unnest(generate_series(1, len(toks))) AS u(i)
       |), ph AS (
       |  SELECT doc_id, tok, is_stop,
       |         CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS phrase
       |  FROM pos
       |), body AS (
       |  SELECT doc_id, phrase, tok FROM ph WHERE is_stop = 0
       |), plen AS (
       |  SELECT doc_id, phrase, count(*) AS plen FROM body GROUP BY 1, 2
       |), wrd AS (
       |  SELECT b.tok AS word, count(*) AS freq, CAST(sum(l.plen) AS BIGINT) AS degree
       |  FROM body b JOIN plen l USING (doc_id, phrase)
       |  GROUP BY 1
       |)
       |SELECT word, freq, degree, (1000 * degree) // freq AS score_milli
       |FROM wrd ORDER BY score_milli DESC, word LIMIT $topN""".stripMargin
  }

  /** KMV (bottom-k / theta-style) distinct sketch with SET-INTERSECTION
    * estimation — the capability an HLL register bank cannot provide:
    * per event_type the k smallest distinct user hashes form the
    * sketch, the k smallest of a pair's sketch union form the UNION
    * sketch (identical to sketching the union directly, which is what
    * makes KMV mergeable), and the Jaccard estimate is the fraction of
    * union-sketch members present in both sides (Beyer et al. 2007).
    * The EXACT pairwise Jaccard runs beside it as the gate, computed
    * corpus-linearly (per-user type pairs — never a type×type
    * distinct-set join).
    *
    * Scale shape: one distinct (type, user-hash) shuffle; sketches are
    * k-bounded per type (window top-k), every pair computation is over
    * ≤2k rows × (type-pair count) — constant once the corpus exceeds
    * k·|types|. */
  def kmvJaccard(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val tu = t(spark, dir, "events")
      .select(col("event_type"),
        graft.functions.Portable.hash60(
          concat_ws("_", lit("kmv"), col("user_id"))).as("uh"))
      .distinct().localCheckpoint(false) // feeds sketches, per-type totals, and the exact gate
    val wr = Window.partitionBy("event_type").orderBy("uh")
    val sk = tu.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k).select("event_type", "uh")
    val skA = sk.select(col("event_type").as("t1"), col("uh"))
    val skB = sk.select(col("event_type").as("t2"), col("uh"))
    // per-type-pair union sketch: both sides' members, deduped with
    // membership flags, ranked by hash
    val pairsAll = skA.join(skB.select(col("t2")).distinct(), skA("t1") < col("t2"))
      .select(col("t1"), col("t2"), col("uh"), lit(1L).as("in_a"), lit(0L).as("in_b"))
      .unionAll(
        skB.join(skA.select(col("t1")).distinct(), col("t1") < skB("t2"))
          .select(col("t1"), col("t2"), col("uh"), lit(0L).as("in_a"), lit(1L).as("in_b")))
      .groupBy("t1", "t2", "uh")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    val wp = Window.partitionBy("t1", "t2").orderBy("uh")
    val est = pairsAll.withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= k)
      .groupBy("t1", "t2")
      .agg(sum(col("in_a") * col("in_b")).as("est_inter"),
        count(lit(1)).as("k_used"))
      .withColumn("est_permille", expr("(1000 * est_inter) DIV k_used"))
    // exact gate: per-user type pairs (corpus-linear), per-type totals
    val totals = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = tu.as("a").join(tu.as("b"),
        col("a.uh") === col("b.uh") && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n_inter"))
    est.join(inter, Seq("t1", "t2"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(totals.select(col("event_type").as("t1"), col("n").as("n_a")), Seq("t1"))
      .join(totals.select(col("event_type").as("t2"), col("n").as("n_b")), Seq("t2"))
      .select(col("t1"), col("t2"), col("k_used"), col("est_inter"),
        col("est_permille"), col("n_a"), col("n_b"), col("n_inter"),
        expr("(1000 * n_inter) DIV (n_a + n_b - n_inter)").as("exact_permille"))
      .orderBy("t1", "t2")
  }

  def kmvJaccardSql(k: Int = 256): String =
    s"""WITH tu AS (
       |  SELECT DISTINCT event_type,
       |         ${Portable.hash60Sql("'kmv_' || user_id")} AS uh
       |  FROM events
       |), sk AS (
       |  SELECT event_type, uh FROM (
       |    SELECT event_type, uh,
       |           row_number() OVER (PARTITION BY event_type ORDER BY uh) AS rk
       |    FROM tu
       |  ) WHERE rk <= $k
       |), pairs_all AS (
       |  SELECT t1, t2, uh,
       |         CAST(max(in_a) AS BIGINT) AS in_a, CAST(max(in_b) AS BIGINT) AS in_b
       |  FROM (
       |    SELECT a.event_type AS t1, t2s.t2, a.uh, 1 AS in_a, 0 AS in_b
       |    FROM sk a JOIN (SELECT DISTINCT event_type AS t2 FROM sk) t2s
       |      ON a.event_type < t2s.t2
       |    UNION ALL
       |    SELECT t1s.t1, b.event_type AS t2, b.uh, 0 AS in_a, 1 AS in_b
       |    FROM sk b JOIN (SELECT DISTINCT event_type AS t1 FROM sk) t1s
       |      ON t1s.t1 < b.event_type
       |  ) GROUP BY 1, 2, 3
       |), est AS (
       |  SELECT t1, t2, CAST(sum(in_a * in_b) AS BIGINT) AS est_inter,
       |         count(*) AS k_used
       |  FROM (
       |    SELECT t1, t2, in_a, in_b,
       |           row_number() OVER (PARTITION BY t1, t2 ORDER BY uh) AS rk
       |    FROM pairs_all
       |  ) WHERE rk <= $k GROUP BY 1, 2
       |), totals AS (
       |  SELECT event_type, count(*) AS n FROM tu GROUP BY 1
       |), inter AS (
       |  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_inter
       |  FROM tu a JOIN tu b ON a.uh = b.uh AND a.event_type < b.event_type
       |  GROUP BY 1, 2
       |)
       |SELECT e.t1, e.t2, e.k_used, e.est_inter,
       |       (1000 * e.est_inter) // e.k_used AS est_permille,
       |       ta.n AS n_a, tb.n AS n_b,
       |       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |       (1000 * CAST(coalesce(i.n_inter, 0) AS BIGINT))
       |         // (ta.n + tb.n - CAST(coalesce(i.n_inter, 0) AS BIGINT)) AS exact_permille
       |FROM est e
       |LEFT JOIN inter i ON e.t1 = i.t1 AND e.t2 = i.t2
       |JOIN totals ta ON e.t1 = ta.event_type
       |JOIN totals tb ON e.t2 = tb.event_type
       |ORDER BY e.t1, e.t2""".stripMargin

  /** Johnson–Lindenstrauss sparse random projection (Achlioptas 2003:
    * r_ij ∈ {+1, 0, −1} w.p. 1/6, 2/3, 1/6, scale 3/k) from 64 to 16
    * dims, with a distance-distortion report: for every (panel vector,
    * corpus vector) pair, the ratio of the scaled projected squared
    * distance to the original squared distance, bucketed to a bounded
    * histogram. The projection matrix is GENERATED from the portable
    * hash in both engines — no stored model — and all distances are
    * exact integers over the quantized vectors; the single division is
    * integral permille.
    *
    * The matrix is tiny (outDims×inDims cells) and row-independent, so
    * it is materialized ONCE at plan-build time from the same md5
    * definition and embedded as literal coefficient arrays — the first
    * cut evaluated `md5("rp_j_i")` inside the row lambda, which
    * Catalyst cannot constant-fold past the lambda variables, costing
    * 1024 md5 calls per row (measured 5.0 s → this form 1.3 s at
    * sf0.1). The DuckDB oracle keeps the in-query md5 form, proving
    * both derivations agree.
    *
    * Scale shape: pure per-row map (literal-coefficient dot products) +
    * broadcast 8-vector panel + one bounded histogram agg — the corpus
    * is touched once and never shuffled at full width. */
  def randomProjection(spark: SparkSession, dir: String,
                       outDims: Int = 16, inDims: Int = 64): DataFrame = {
    // r_ij from the portable hash: u ∈ {0..5}; 0 → +1, 1 → −1, else 0.
    // Driver-side replica of Portable.hash60 (first 15 md5 hex chars).
    def rij(j: Int, i: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp_${j}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(15), 16) % 6 match {
        case 0 => 1L; case 1 => -1L; case _ => 0L
      }
    }
    val rmat: IndexedSeq[Seq[Long]] =
      (1 to outDims).map(j => (1 to inDims).map(i => rij(j, i)))
    // the barrier is load-bearing TWICE over: (1) base feeds both join sides;
    // (2) without the barrier CollapseProject re-inlines the q/y
    // projections into the pair stage's zip_with args, recomputing the
    // full 16×64 projection PER PAIR — 8× redundant work that the 64×
    // scale study measured as a 103×-for-64×-data superlinear curve
    // (90.2 s at 64×; staged: the projection runs once per corpus row)
    val base = t(spark, dir, "embeddings")
      .select(col("vec_id"), graft.functions.Portable.quantize(col("embedding")).as("q"))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .withColumn("y", array(rmat.map(rj =>
        aggregate(zip_with(col("q"), typedLit(rj), (a, r) => a * r),
          lit(0L), (acc, x) => acc + x)): _*))
      .localCheckpoint(false)
    val panel = base.filter(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("q").as("pq"), col("y").as("py"))
    base.crossJoin(broadcast(panel))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("vec_id"), col("pid"),
        aggregate(zip_with(col("q"), col("pq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2_orig"),
        aggregate(zip_with(col("y"), col("py"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2_proj"))
      .filter(col("d2_orig") > 0L)
      .select(expr(s"((1000 * 3 * d2_proj) DIV ($outDims * d2_orig)) DIV 100")
        .as("ratio_decile"))
      .groupBy("ratio_decile").agg(count(lit(1)).as("n_pairs"))
      .orderBy("ratio_decile")
  }

  def randomProjectionSql(outDims: Int = 16, inDims: Int = 64): String =
    s"""WITH base AS (
       |  SELECT vec_id,
       |         ${Portable.quantizeSql("embedding")} AS q
       |  FROM embeddings
       |), proj AS (
       |  SELECT vec_id, q,
       |         list_transform(generate_series(1, $outDims), j ->
       |           CAST(list_sum(list_transform(generate_series(1, $inDims), i ->
       |             q[CAST(i AS INT)] *
       |             (CASE ${Portable.hash60Sql("'rp_' || j || '_' || i")} % 6
       |              WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END))) AS BIGINT)) AS y
       |  FROM base
       |), panel AS (
       |  SELECT vec_id AS pid, q AS pq, y AS py FROM proj WHERE vec_id < 8
       |), pairs AS (
       |  SELECT c.vec_id, p.pid,
       |         CAST(list_sum(list_transform(generate_series(1, $inDims),
       |           i -> (c.q[CAST(i AS INT)] - p.pq[CAST(i AS INT)])
       |              * (c.q[CAST(i AS INT)] - p.pq[CAST(i AS INT)]))) AS BIGINT) AS d2_orig,
       |         CAST(list_sum(list_transform(generate_series(1, $outDims),
       |           j -> (c.y[CAST(j AS INT)] - p.py[CAST(j AS INT)])
       |              * (c.y[CAST(j AS INT)] - p.py[CAST(j AS INT)]))) AS BIGINT) AS d2_proj
       |  FROM proj c CROSS JOIN panel p
       |  WHERE c.vec_id <> p.pid
       |)
       |SELECT ((1000 * 3 * d2_proj) // ($outDims * d2_orig)) // 100 AS ratio_decile,
       |       count(*) AS n_pairs
       |FROM pairs WHERE d2_orig > 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Spearman rank correlation (with midrank tie handling) between a
    * document's character count and its word-token count — "does char
    * length predict token budget monotonically", the association check
    * a tokenizer-budget planner runs (and the one Pearson understates
    * whenever the relation is monotone but nonlinear). Ranks NEVER
    * require a global sort over rows: both variables reduce to value-
    * resolution-bounded grids, midranks come from grid cumulative sums
    * (doubled — `2·cumN_prev + c + 1` — to stay integral under ties),
    * rows join back to their midranks on the grid key, and the
    * correlation is one exact-moments aggregate. Sums are
    * DECIMAL(38,0)-widened (n·mr² would overflow BIGINT on a corpus
    * 100× this), then ONE identical IEEE expression in both engines
    * produces rho.
    *
    * Scale shape: two bounded-grid aggs + two grid-keyed equi-joins +
    * one partial+final moments agg; windows touch grid rows only. */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val rows = t(spark, dir, "documents")
      .select(col("n_chars").as("x"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("y"))
    def midranks(df: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy(c).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .select(col(c), (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L)
          .as(s"mr2_$c"))
    }
    val joined = rows
      .join(midranks(rows, "x"), Seq("x"))
      .join(midranks(rows, "y"), Seq("y"))
      .select(col("mr2_x").cast(DecimalType(38, 0)).as("rx"),
        col("mr2_y").cast(DecimalType(38, 0)).as("ry"))
    joined.agg(count(lit(1)).as("n"),
        sum("rx").as("sx"), sum("ry").as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .select(col("n"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("n").cast("double") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("spearman_rho"))
  }

  val spearmanCorrSql: String =
    """WITH rows_q AS (
      |  SELECT n_chars AS x,
      |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                              t -> len(t) > 0)) AS BIGINT) AS y
      |  FROM documents
      |), mrx AS (
      |  SELECT x, 2 * (cum - cnt) + cnt + 1 AS mr2_x FROM (
      |    SELECT x, cnt, CAST(sum(cnt) OVER (ORDER BY x
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |    FROM (SELECT x, count(*) AS cnt FROM rows_q GROUP BY x)
      |  )
      |), mry AS (
      |  SELECT y, 2 * (cum - cnt) + cnt + 1 AS mr2_y FROM (
      |    SELECT y, cnt, CAST(sum(cnt) OVER (ORDER BY y
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |    FROM (SELECT y, count(*) AS cnt FROM rows_q GROUP BY y)
      |  )
      |), joined AS (
      |  SELECT CAST(mr2_x AS HUGEINT) AS rx, CAST(mr2_y AS HUGEINT) AS ry
      |  FROM rows_q r JOIN mrx USING (x) JOIN mry USING (y)
      |), s AS (
      |  SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
      |         sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
      |  FROM joined
      |)
      |SELECT n,
      |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |         AS spearman_rho
      |FROM s""".stripMargin

  /** Exact integer division of non-negative DECIMAL(38,0) `a` by
    * positive `b`: `(a − a % b) / b`. The subtraction makes the
    * dividend an exact multiple, so Spark's scale-6 HALF_UP decimal
    * division rounds an exact integer — no `floor(a/b)` edge case
    * where the rational quotient rounds up past the floor. DuckDB
    * mirror is plain HUGEINT `//`. */
  private def decDiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** Per-language OLS fit of a document's word-token count on its
    * character count — the parametric counterpart of [[spearmanCorr]]
    * (tokens ≈ chars / avg-word-length is genuinely linear, so slope ≈
    * 1/avg-word-length and R² is high; the tokenizer-budget planner's
    * cost model). Slope, intercept, R² come from exact DECIMAL(38,0)
    * moments (Σx² escapes BIGINT once docs reach ~1e6 chars at corpus
    * scale), then ONE identical IEEE expression in both engines. The
    * grouped form exercises partial+final moment aggregation per key —
    * the distributed regression shape (a 100 TB fit is six sums, never
    * a solver).
    *
    * Scale shape: one scan → per-group partial+final agg on a
    * language-cardinality key; everything after is per-group scalar
    * math. */
  def olsFit(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val rows = t(spark, dir, "documents").select(
      col("lang"),
      col("n_chars").cast(d).as("x"),
      size(graft.text.TextAnalysis.tokens(col("text"))).cast("long")
        .cast(d).as("y"))
    val dbl = (c: String) => col(c).cast("double")
    rows.groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lang"), col("n"),
        ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
          / (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))).as("slope"),
        ((dbl("sy") - (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
            / (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) * dbl("sx"))
          / dbl("n")).as("intercept"),
        ((dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
          * (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy"))
          / ((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
            * (dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")))).as("r2"))
      .orderBy("lang")
  }

  val olsFitSql: String =
    """WITH rows_q AS (
      |  SELECT lang,
      |         CAST(n_chars AS HUGEINT) AS x,
      |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                              t -> len(t) > 0)) AS HUGEINT) AS y
      |  FROM documents
      |), m AS (
      |  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      |  FROM rows_q GROUP BY lang
      |)
      |SELECT lang, n,
      |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |         AS slope,
      |       (CAST(sy AS DOUBLE)
      |        - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * CAST(sx AS DOUBLE))
      |       / CAST(n AS DOUBLE) AS intercept,
      |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |         AS r2
      |FROM m ORDER BY lang""".stripMargin

  /** Chi-square test of independence over the bounded
    * (o_orderpriority × o_orderstatus) grid — "is priority assigned
    * independently of status", the categorical-association gate a
    * data-quality suite runs beside [[categoryPmi]]'s pointwise view.
    * Per cell: observed count, expected count at milli resolution, and
    * the χ² contribution (N·n_ij − r_i·c_j)²/(N·r_i·c_j) at micro
    * resolution — all EXACT integers via DECIMAL(38,0) arithmetic and
    * the [[decDiv]] exact-multiple division (the squared numerator
    * passes 1e22 at 8× scale, far outside BIGINT), so the statistic
    * never sums floats in engine-dependent order. A TOTAL row carries
    * χ²_micro and the degrees of freedom.
    *
    * Scale shape: one scan → 15-cell partial+final agg; margins are
    * two tiny aggs of the CELL frame (the corpus is read once) joined
    * back at grid cardinality. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val cells = t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).cast(d).as("n_ij")).localCheckpoint(false)
    val rowTot = cells.groupBy("o_orderpriority").agg(sum("n_ij").as("r_i"))
    val colTot = cells.groupBy("o_orderstatus").agg(sum("n_ij").as("c_j"))
    val nTot = cells.agg(sum("n_ij").as("n_tot"))
    val perCell = cells
      .join(broadcast(rowTot), Seq("o_orderpriority"))
      .join(broadcast(colTot), Seq("o_orderstatus"))
      .crossJoin(broadcast(nTot))
      .withColumn("dev", col("n_tot") * col("n_ij") - col("r_i") * col("c_j"))
      .select(col("o_orderpriority"), col("o_orderstatus"),
        col("n_ij").cast("long").as("observed"),
        decDiv(col("r_i") * col("c_j") * lit(1000L).cast(d), col("n_tot"))
          .as("expected_milli"),
        decDiv(col("dev") * col("dev") * lit(1000000L).cast(d),
          col("n_tot") * col("r_i") * col("c_j")).as("contrib_micro"))
    val total = perCell.agg(
        count(lit(1)).as("observed"),
        ((countDistinct(col("o_orderpriority")) - 1)
          * (countDistinct(col("o_orderstatus")) - 1)).as("expected_milli"),
        sum("contrib_micro").as("contrib_micro"))
      .select(lit("ZZ_TOTAL").as("o_orderpriority"),
        lit("-").as("o_orderstatus"), col("observed"),
        col("expected_milli"), col("contrib_micro"))
    perCell.unionByName(total)
      .orderBy("o_orderpriority", "o_orderstatus")
  }

  val chi2IndependenceSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS HUGEINT) AS n_ij
      |  FROM orders GROUP BY 1, 2
      |), rt AS (SELECT o_orderpriority, sum(n_ij) AS r_i FROM cells GROUP BY 1),
      |ct AS (SELECT o_orderstatus, sum(n_ij) AS c_j FROM cells GROUP BY 1),
      |nt AS (SELECT sum(n_ij) AS n_tot FROM cells),
      |per_cell AS (
      |  SELECT c.o_orderpriority, c.o_orderstatus,
      |         CAST(c.n_ij AS BIGINT) AS observed,
      |         CAST((r_i * c_j * 1000) // n_tot AS BIGINT) AS expected_milli,
      |         CAST(((n_tot * n_ij - r_i * c_j) * (n_tot * n_ij - r_i * c_j) * 1000000)
      |              // (n_tot * r_i * c_j) AS BIGINT) AS contrib_micro
      |  FROM cells c JOIN rt USING (o_orderpriority) JOIN ct USING (o_orderstatus)
      |       CROSS JOIN nt
      |)
      |SELECT * FROM per_cell
      |UNION ALL
      |SELECT 'ZZ_TOTAL', '-', count(*),
      |       (count(DISTINCT o_orderpriority) - 1) * (count(DISTINCT o_orderstatus) - 1),
      |       CAST(sum(contrib_micro) AS BIGINT)
      |FROM per_cell
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  /** Exact distinct-user counts per event type via FIXED-WIDTH BITMAP
    * WORDS (the ClickHouse/Doris/roaring groupBitmap pattern): user id
    * u sets bit u%64 of word u DIV 64, words merge with the
    * commutative `bit_or`, and the distinct count is Σ popcount(word).
    * Why this beats `count(DISTINCT)` at 100 TB: the shuffle carries
    * one 8-byte word per (type, 64-user block) — a DENSITY-bounded key
    * space — instead of one row per distinct (type, user), partial
    * bit_or runs map-side, and the per-type word sets are mergeable
    * across days/partitions for free (the same words re-or). The
    * oracle computes plain `count(DISTINCT user_id)`, so the bitmap
    * identity itself is what the gate verifies; n_words pins the
    * block-count bookkeeping.
    *
    * Scale shape: one scan → (type, word)-keyed bit_or with map-side
    * combine → type-cardinality popcount sum. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"), expr("user_id DIV 64").as("word_idx"),
        expr("shiftleft(1L, CAST(user_id % 64 AS INT))").as("bit"))
      .groupBy("event_type", "word_idx")
      .agg(expr("bit_or(bit)").as("word"))
      .groupBy("event_type")
      .agg(sum(bit_count(col("word")).cast("long")).as("n_distinct"),
        count(lit(1)).as("n_words"))
      .orderBy("event_type")

  val bitmapDistinctSql: String =
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
      |       CAST(count(DISTINCT user_id // 64) AS BIGINT) AS n_words
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val hourNs = 3600L * 1000 * 1000 * 1000
  private def centi(colName: String) =
    (col(colName).cast(DecimalType(18, 2)) * 100).cast("long")
  private val centiSql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Seasonal-naive forecast backtest per event type: the forecast for
    * hour h is the ACTUAL at h−24 (same hour yesterday — the baseline
    * every fancier forecaster must beat, and the one ops dashboards
    * ship first). Hourly centi-unit totals align by an exact
    * (type, h = h'+24) equi-join on the hour grid — robust to missing
    * hours, unlike a row-lag — and the report is per-type backtest
    * coverage, MAE (centi, floor-DIV), and bias (forecast-minus-actual
    * sign balance). All integers end-to-end.
    *
    * Scale shape: one scan → (type, hour) agg; everything after lives
    * on the hour grid (span-bounded), including the self-join. */
  def backtestSnaive(spark: SparkSession, dir: String): DataFrame = {
    val hourly = t(spark, dir, "events")
      .select(col("event_type"), expr(s"ts div $hourNs").as("h"), centi("value").as("v"))
      .groupBy("event_type", "h").agg(sum("v").as("sv")).localCheckpoint(false)
    val prev = hourly.select(col("event_type"), (col("h") + 24L).as("h"),
      col("sv").as("sv_pred"))
    hourly.join(prev, Seq("event_type", "h"))
      .withColumn("err", col("sv_pred") - col("sv"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        expr("sum(abs(err)) DIV count(1)").as("mae_centi"),
        sum(when(col("err") > 0L, 1L).when(col("err") < 0L, -1L)
          .otherwise(0L)).as("bias_sign"))
      .orderBy("event_type")
  }

  val backtestSnaiveSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_ns(ts) // $hourNs AS h,
       |         CAST(sum($centiSql) AS BIGINT) AS sv
       |  FROM events GROUP BY 1, 2
       |), joined AS (
       |  SELECT c.event_type, p.sv - c.sv AS err
       |  FROM hourly c JOIN hourly p
       |    ON c.event_type = p.event_type AND c.h = p.h + 24
       |)
       |SELECT event_type, count(*) AS n_hours,
       |       CAST(sum(abs(err)) // count(*) AS BIGINT) AS mae_centi,
       |       CAST(sum(CASE WHEN err > 0 THEN 1 WHEN err < 0 THEN -1 ELSE 0 END)
       |            AS BIGINT) AS bias_sign
       |FROM joined GROUP BY 1 ORDER BY 1""".stripMargin

  /** Seasonal anomaly report: each event z-tested against its
    * (event_type, hour-of-day) cell — "is this value extreme FOR THIS
    * HOUR", the shape that catches a 3am traffic spike a global
    * z-score normalizes away. The |z|>3 test runs in cross-multiplied
    * integers ((n·v − s1)² > 9·(n·s2 − s1²)), DECIMAL(38,0)-widened
    * (n·s2 passes 1e19 at 8× sf0.1), so no rational mean or variance
    * ever materializes; the report is per-cell counts and an
    * anomaly-permille rate. Population cells (the event's own value
    * included) — documented, and what one pass buys.
    *
    * Scale shape: one scan → 120-cell moment agg (broadcast back) →
    * one more scan-side map + cell-keyed count. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val ev = t(spark, dir, "events")
      .select(col("event_type"), (expr(s"ts div $hourNs") % 24).as("hod"),
        centi("value").cast(d).as("v"))
    val cells = ev.groupBy("event_type", "hod")
      .agg(count(lit(1)).cast(d).as("n"), sum("v").as("s1"),
        sum(col("v") * col("v")).as("s2"))
    ev.join(broadcast(cells), Seq("event_type", "hod"))
      .withColumn("num", col("n") * col("v") - col("s1"))
      .withColumn("den", col("n") * col("s2") - col("s1") * col("s1"))
      .withColumn("is_anom", col("num") * col("num") > lit(9L).cast(d) * col("den"))
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anomalies"))
      .withColumn("anom_permille", expr("(1000 * n_anomalies) DIV n_events"))
      .orderBy("event_type", "hod")
  }

  val seasonalAnomalySql: String =
    s"""WITH ev AS (
       |  SELECT event_type, (epoch_ns(ts) // $hourNs) % 24 AS hod,
       |         CAST($centiSql AS HUGEINT) AS v
       |  FROM events
       |), cells AS (
       |  SELECT event_type, hod, CAST(count(*) AS HUGEINT) AS n,
       |         sum(v) AS s1, sum(v * v) AS s2
       |  FROM ev GROUP BY 1, 2
       |), tested AS (
       |  SELECT e.event_type, e.hod,
       |         (c.n * e.v - c.s1) * (c.n * e.v - c.s1)
       |           > 9 * (c.n * c.s2 - c.s1 * c.s1) AS is_anom
       |  FROM ev e JOIN cells c USING (event_type, hod)
       |)
       |SELECT event_type, hod, count(*) AS n_events,
       |       CAST(sum(CASE WHEN is_anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       |       (1000 * CAST(sum(CASE WHEN is_anom THEN 1 ELSE 0 END) AS BIGINT))
       |         // count(*) AS anom_permille
       |FROM tested GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** OHLC candle bars per (event_type, hour): open/close are the
    * values of the FIRST/LAST event in the bar (total order =
    * (ts, event_id), so ties are deterministic), high/low are extremes,
    * volume is the event count — the time-series summarization every
    * market-data / metrics pipeline ships. Open/close come from ONE
    * min/max over a packed (ts, event_id, value) struct — no window,
    * no self-join, so the whole query is a single partial+final agg on
    * the (type, hour) grid key.
    *
    * Scale shape: one scan → one grid-keyed agg with map-side combine;
    * output is span-bounded. */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"), expr(s"ts div $hourNs").as("h"),
        col("ts"), col("event_id"), centi("value").as("v"))
      .groupBy("event_type", "h")
      .agg(min(struct(col("ts"), col("event_id"), col("v"))).as("first"),
        max(struct(col("ts"), col("event_id"), col("v"))).as("last"),
        max("v").as("high_centi"), min("v").as("low_centi"),
        count(lit(1)).as("volume"))
      .select(col("event_type"), col("h"),
        col("first.v").as("open_centi"), col("high_centi"),
        col("low_centi"), col("last.v").as("close_centi"), col("volume"))
      .orderBy("event_type", "h")

  // the (ts, event_id) total order packs into ONE HUGEINT key
  // (event_id < 1e10 on every fixture scale), since min_by/max_by
  // take a scalar key
  val ohlcBarsSql: String =
    s"""WITH q AS (
       |  SELECT event_type, epoch_ns(ts) // $hourNs AS h,
       |         CAST(epoch_ns(ts) AS HUGEINT) * 10000000000 + event_id AS ord,
       |         $centiSql AS v
       |  FROM events
       |)
       |SELECT event_type, h,
       |       CAST(min_by(v, ord) AS BIGINT) AS open_centi,
       |       CAST(max(v) AS BIGINT) AS high_centi,
       |       CAST(min(v) AS BIGINT) AS low_centi,
       |       CAST(max_by(v, ord) AS BIGINT) AS close_centi,
       |       count(*) AS volume
       |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Growth accounting (the Social-Capital "growth accounting"
    * decomposition): every active (user, day) is NEW (first day ever),
    * RETAINED (also active the previous calendar day) or RESURRECTED
    * (returning after a gap), and CHURNED(d) counts users active on
    * d−1 who did not return on d — so active(d) = new + retained +
    * resurrected and churned(d) = active(d−1) − retained(d), an
    * identity the spec asserts. One distinct (user, day) frame, one
    * user-partitioned lag window, one day-grain agg, one day-grid
    * self-join for churn — no per-day distinct-count state carried
    * across days.
    *
    * Scale shape: user-keyed shuffle for the dedup + lag; everything
    * after lives on the day grid. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), expr(s"ts DIV ${dayNs}L").as("day"))
      .distinct().localCheckpoint(false)
    val w = Window.partitionBy("user_id").orderBy("day")
    val classified = days
      .withColumn("prev", lag("day", 1).over(w))
      .withColumn("status",
        when(col("prev").isNull, "new")
          .when(col("prev") === col("day") - 1L, "retained")
          .otherwise("resurrected"))
    val daily = classified.groupBy("day")
      .agg(count(lit(1)).as("active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    daily.alias("d")
      .join(daily.select((col("day") + 1L).as("day"), col("active").as("prev_active"))
        .alias("p"), Seq("day"), "left")
      .select(col("day"), col("active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained")).as("n_churned"))
      .orderBy("day")
  }

  val growthAccountingSql: String =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id, epoch_ns(ts) // ${dayNs} AS day FROM events
       |), cl AS (
       |  SELECT day,
       |         CASE WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day) IS NULL
       |                THEN 'new'
       |              WHEN lag(day) OVER (PARTITION BY user_id ORDER BY day) = day - 1
       |                THEN 'retained'
       |              ELSE 'resurrected' END AS status
       |  FROM days
       |), daily AS (
       |  SELECT day, count(*) AS active,
       |         CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |         CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       |         CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
       |  FROM cl GROUP BY day
       |)
       |SELECT d.day, d.active, d.n_new, d.n_retained, d.n_resurrected,
       |       coalesce(p.active, 0) - d.n_retained AS n_churned
       |FROM daily d LEFT JOIN daily p ON d.day = p.day + 1
       |ORDER BY d.day""".stripMargin

  /** Welch's two-sample t-test between the value distributions of two
    * event types (unequal variances — the honest default): t statistic
    * and Welch–Satterthwaite degrees of freedom from EXACT
    * DECIMAL(38,0) moments (n, Σv, Σv² in centi units), converted to
    * doubles only inside ONE identical IEEE expression per output —
    * the same discipline as [[olsFit]]/[[spearmanCorr]]. The 100 TB
    * shape of every A/B readout: two partial+final moment aggregates,
    * then scalar math.
    *
    * Scale shape: one scan → 2-group agg → driver-sized join of two
    * single rows. */
  def welchTtest(spark: SparkSession, dir: String,
                 typeA: String = "click", typeB: String = "purchase"): DataFrame = {
    val d = DecimalType(38, 0)
    val m = t(spark, dir, "events")
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), centi("value").cast(d).as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("svv"))
    val a = m.filter(col("event_type") === typeA)
      .select(col("n").as("n1"), col("sv").as("sv1"), col("svv").as("svv1"))
    val b = m.filter(col("event_type") === typeB)
      .select(col("n").as("n2"), col("sv").as("sv2"), col("svv").as("svv2"))
    val dbl = (c: String) => col(c).cast("double")
    a.crossJoin(broadcast(b))
      .select(col("n1"), col("n2"),
        // se2_i = s_i^2 / n_i with s_i^2 = (n·svv − sv²)/(n(n−1))
        ((dbl("n1") * dbl("svv1") - dbl("sv1") * dbl("sv1"))
          / (dbl("n1") * (dbl("n1") - 1d) * dbl("n1"))).as("se2_1"),
        ((dbl("n2") * dbl("svv2") - dbl("sv2") * dbl("sv2"))
          / (dbl("n2") * (dbl("n2") - 1d) * dbl("n2"))).as("se2_2"),
        (dbl("sv1") / dbl("n1") - dbl("sv2") / dbl("n2")).as("mean_diff_centi"))
      .select(col("n1"), col("n2"), col("mean_diff_centi"),
        (col("mean_diff_centi") / sqrt(col("se2_1") + col("se2_2"))).as("t_stat"),
        (((col("se2_1") + col("se2_2")) * (col("se2_1") + col("se2_2")))
          / (col("se2_1") * col("se2_1") / (col("n1").cast("double") - 1d)
            + col("se2_2") * col("se2_2") / (col("n2").cast("double") - 1d)))
          .as("welch_df"))
  }

  def welchTtestSql(typeA: String = "click", typeB: String = "purchase"): String =
    s"""WITH m AS (
       |  SELECT event_type, count(*) AS n,
       |         sum(CAST($centiSql AS HUGEINT)) AS sv,
       |         sum(CAST($centiSql AS HUGEINT) * CAST($centiSql AS HUGEINT)) AS svv
       |  FROM events WHERE event_type IN ('$typeA', '$typeB')
       |  GROUP BY event_type
       |), a AS (SELECT n AS n1, sv AS sv1, svv AS svv1 FROM m WHERE event_type = '$typeA'),
       |b AS (SELECT n AS n2, sv AS sv2, svv AS svv2 FROM m WHERE event_type = '$typeB'),
       |j AS (
       |  SELECT n1, n2,
       |         (CAST(n1 AS DOUBLE) * CAST(svv1 AS DOUBLE) - CAST(sv1 AS DOUBLE) * CAST(sv1 AS DOUBLE))
       |           / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1) * CAST(n1 AS DOUBLE)) AS se2_1,
       |         (CAST(n2 AS DOUBLE) * CAST(svv2 AS DOUBLE) - CAST(sv2 AS DOUBLE) * CAST(sv2 AS DOUBLE))
       |           / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1) * CAST(n2 AS DOUBLE)) AS se2_2,
       |         CAST(sv1 AS DOUBLE) / CAST(n1 AS DOUBLE)
       |           - CAST(sv2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_diff_centi
       |  FROM a CROSS JOIN b
       |)
       |SELECT n1, n2, mean_diff_centi,
       |       mean_diff_centi / sqrt(se2_1 + se2_2) AS t_stat,
       |       ((se2_1 + se2_2) * (se2_1 + se2_2))
       |       / (se2_1 * se2_1 / (CAST(n1 AS DOUBLE) - 1)
       |          + se2_2 * se2_2 / (CAST(n2 AS DOUBLE) - 1)) AS welch_df
       |FROM j""".stripMargin

  /** Vocabulary-coverage report: what fraction of each language's
    * token stream is covered by the corpus-global top-K vocabulary
    * (deterministic tiebreak: count desc, token asc) — the number a
    * tokenizer-budget decision actually hinges on (coverage cliffs by
    * language reveal who pays the OOV tax). Vocab selection is a
    * TakeOrderedAndProject (partial top-K per partition, never a full
    * sort), membership is a broadcast semi-join, and the rates are
    * integer permille.
    *
    * Scale shape: one explode→count shuffle for the counts, vocab-size
    * bounded top-K, broadcast membership, language-keyed agg. */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 1000): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("lang"), explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      .localCheckpoint(false)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(k).select("tok")
    val covered = toks.join(broadcast(vocab), Seq("tok"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("n_covered"))
    toks.groupBy("lang").agg(count(lit(1)).as("n_tokens"))
      .join(covered, Seq("lang"), "left")
      .select(col("lang"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage_permille", expr("(1000 * n_covered) DIV n_tokens"))
      .orderBy("lang")
  }

  def vocabCoverageSql(k: Int = 1000): String =
    s"""WITH toks AS (
       |  SELECT lang,
       |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                            x -> len(x) > 0)) AS tok
       |  FROM documents
       |), vocab AS (
       |  SELECT tok FROM (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
       |  ORDER BY cnt DESC, tok LIMIT $k
       |), cov AS (
       |  SELECT lang, count(*) AS n_covered FROM toks
       |  WHERE tok IN (SELECT tok FROM vocab) GROUP BY lang
       |)
       |SELECT t.lang, count(*) AS n_tokens,
       |       CAST(coalesce(any_value(c.n_covered), 0) AS BIGINT) AS n_covered,
       |       (1000 * CAST(coalesce(any_value(c.n_covered), 0) AS BIGINT)) // count(*)
       |         AS coverage_permille
       |FROM toks t LEFT JOIN cov c ON t.lang = c.lang
       |GROUP BY t.lang ORDER BY t.lang""".stripMargin

  /** Differentially-private release mechanism for per-(type, day)
    * event counts: DISCRETE Laplace noise (two-sided geometric,
    * Canonne–Kamath–Steinke 2020 — the integer-valued mechanism real
    * DP deployments use, because continuous Laplace on floats leaks
    * through rounding). The noise is drawn by integer inverse-CDF over
    * a bounded support [−8, 8] at α = 1/2: thresholds are exact
    * integers out of 2^16, the uniform is a 16-bit slice of the cell's
    * 60-bit hash, and the whole draw is engine-exact — no exp/log
    * whose libm rounding could differ. Deterministic seeding makes the
    * release REPRODUCIBLE (and is how a real pipeline pins its noise
    * for audit, swapping the seed per release). Bounded support
    * truncates <0.4% of the tail mass — documented, standard for
    * bounded-contribution releases.
    *
    * Scale shape: one grid-keyed count agg + pure per-cell maps. */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    // P(|k| >= j) thresholds for alpha=1/2 over 2^16: cdf lookup via
    // nested whens on u = hash % 65536. pmf: p(0)=1/3, p(±j)=(1/3)/2^j.
    // Cumulative (scaled by 3*2^16/3...): exact integer thresholds.
    val u = pmod(hash60Col(concat_ws("_", lit("dp"), col("event_type"), col("day"))),
      lit(65536L))
    // thresholds: k=0 for u < 21845; then alternating +j/−j bands of
    // width 65536/(3·2^j) each (floor), remainder → 0
    def bands: Column = {
      var lower = 0L
      val widths = Seq(
        (0L, 21845L), (1L, 10922L), (-1L, 10922L), (2L, 5461L), (-2L, 5461L),
        (3L, 2730L), (-3L, 2730L), (4L, 1365L), (-4L, 1365L),
        (5L, 682L), (-5L, 682L), (6L, 341L), (-6L, 341L),
        (7L, 170L), (-7L, 170L), (8L, 85L), (-8L, 85L))
      var cond: Column = null
      widths.foreach { case (k, w) =>
        val hi = lower + w
        val c = (u >= lower && u < hi)
        cond = if (cond == null) when(c, k) else cond.when(c, k)
        lower = hi
      }
      cond.otherwise(0L)
    }
    t(spark, dir, "events")
      .select(col("event_type"), expr(s"ts DIV ${dayNs}L").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("true_count"))
      .withColumn("noise", bands)
      .withColumn("released_count", greatest(lit(0L), col("true_count") + col("noise")))
      .orderBy("event_type", "day")
  }

  private def hash60Col(c: Column): Column = graft.functions.Portable.hash60(c)

  val dpCountsSql: String = {
    val widths = Seq(
      (0L, 21845L), (1L, 10922L), (-1L, 10922L), (2L, 5461L), (-2L, 5461L),
      (3L, 2730L), (-3L, 2730L), (4L, 1365L), (-4L, 1365L),
      (5L, 682L), (-5L, 682L), (6L, 341L), (-6L, 341L),
      (7L, 170L), (-7L, 170L), (8L, 85L), (-8L, 85L))
    var lower = 0L
    val cases = widths.map { case (k, w) =>
      val hi = lower + w
      val s = s"WHEN u >= $lower AND u < $hi THEN $k"
      lower = hi
      s
    }.mkString("\n|             ")
    s"""WITH g AS (
       |  SELECT event_type, epoch_ns(ts) // ${dayNs} AS day, count(*) AS true_count
       |  FROM events GROUP BY 1, 2
       |), n AS (
       |  SELECT event_type, day, true_count,
       |         ${Portable.hash60Sql("'dp_' || event_type || '_' || day")}
       |           % 65536 AS u
       |  FROM g
       |)
       |SELECT event_type, day, true_count,
       |       CAST(CASE $cases
       |             ELSE 0 END AS BIGINT) AS noise,
       |       greatest(0, true_count + CAST(CASE $cases
       |             ELSE 0 END AS BIGINT)) AS released_count
       |FROM n ORDER BY event_type, day""".stripMargin
  }

  /** ABC / Pareto analysis of part revenue: parts ranked by revenue
    * (exact cents, deterministic tiebreak), classified A/B/C at
    * cumulative-share thresholds 80%/95% — the inventory-analysis
    * classic. The cumulative window runs over the PART dimension
    * (already aggregated), not line items — a dimension-sized sort is
    * the documented acceptable global-window shape (same as the layout
    * compaction planner); the fact scan contributes one partial+final
    * agg. All shares are integer permille against cross-multiplied
    * exact totals.
    *
    * Scale shape: lineitem → part-keyed agg (one shuffle) →
    * part-cardinality window → 3-row report. */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("rev"))
    val tot = rev.agg(sum("rev").as("tot"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum", sum("rev").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum") * 1000L <= col("tot") * 800L, "A")
          .when(col("cum") * 1000L <= col("tot") * 950L, "B")
          .otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("revenue_cents"))
      .crossJoin(broadcast(tot))
      .withColumn("share_permille", expr("(1000 * revenue_cents) DIV tot"))
      .select("cls", "n_parts", "revenue_cents", "share_permille")
      .orderBy("cls")
  }

  val abcAnalysisSql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS rev
      |  FROM lineitem GROUP BY l_partkey
      |), tot AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM rev),
      |c AS (
      |  SELECT rev,
      |         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM rev
      |), cls AS (
      |  SELECT rev,
      |         CASE WHEN cum * 1000 <= (SELECT tot FROM tot) * 800 THEN 'A'
      |              WHEN cum * 1000 <= (SELECT tot FROM tot) * 950 THEN 'B'
      |              ELSE 'C' END AS cls
      |  FROM c
      |)
      |SELECT cls, count(*) AS n_parts, CAST(sum(rev) AS BIGINT) AS revenue_cents,
      |       (1000 * CAST(sum(rev) AS BIGINT)) // (SELECT tot FROM tot) AS share_permille
      |FROM cls GROUP BY cls ORDER BY cls""".stripMargin

  /** Ranking AUC (Mann–Whitney U) of event value as a classifier score
    * for the 'purchase' class — EXACT, via the same value-grid midrank
    * machinery as [[spearmanCorr]]: doubled midranks from grid
    * cumulative sums stay integral under ties, Σ_pos mr2 is one
    * cell-weighted sum, and AUC = (Σ_pos mr2 − n_pos(n_pos+1)) /
    * (2·n_pos·n_neg) — numerator and denominator reported as exact
    * integers beside the one IEEE division. Ranks never require a
    * global row sort: the grid is value-resolution bounded.
    *
    * Scale shape: one scan → grid agg (+ pos counts per cell) → grid
    * window → single-row moments. */
  def aucRank(spark: SparkSession, dir: String,
              posType: String = "purchase"): DataFrame = {
    val d = DecimalType(38, 0)
    val cells = t(spark, dir, "events")
      .select(centi("value").as("v"),
        when(col("event_type") === posType, 1L).otherwise(0L).as("pos"))
      .groupBy("v")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("n_pos"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = cells
      .withColumn("cum", sum("cnt").over(w))
      .select(col("n_pos").cast(d).as("np"),
        (lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L).cast(d).as("mr2"),
        col("cnt").cast(d).as("cnt"))
    g.agg(sum(col("np")).as("n_pos"), sum(col("cnt") - col("np")).as("n_neg"),
        sum(col("np") * col("mr2")).as("s_mr2"))
      .select(col("n_pos").cast("long").as("n_pos"),
        col("n_neg").cast("long").as("n_neg"),
        (col("s_mr2") - col("n_pos") * (col("n_pos") + 1)).cast("long").as("u2_num"),
        (lit(2L).cast(d) * col("n_pos") * col("n_neg")).cast("long").as("u2_den"))
      .withColumn("auc", col("u2_num").cast("double") / col("u2_den").cast("double"))
  }

  def aucRankSql(posType: String = "purchase"): String =
    s"""WITH cells AS (
       |  SELECT $centiSql AS v, count(*) AS cnt,
       |         CAST(sum(CASE WHEN event_type = '$posType' THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_pos
       |  FROM events GROUP BY 1
       |), g AS (
       |  SELECT CAST(n_pos AS HUGEINT) AS np, CAST(cnt AS HUGEINT) AS cnt,
       |         CAST(2 * (CAST(sum(cnt) OVER (ORDER BY v
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
       |              + cnt + 1 AS HUGEINT) AS mr2
       |  FROM cells
       |), m AS (
       |  SELECT sum(np) AS n_pos, sum(cnt - np) AS n_neg, sum(np * mr2) AS s_mr2 FROM g
       |)
       |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       |       CAST(s_mr2 - n_pos * (n_pos + 1) AS BIGINT) AS u2_num,
       |       CAST(2 * n_pos * n_neg AS BIGINT) AS u2_den,
       |       CAST(CAST(s_mr2 - n_pos * (n_pos + 1) AS BIGINT) AS DOUBLE)
       |         / CAST(CAST(2 * n_pos * n_neg AS BIGINT) AS DOUBLE) AS auc
       |FROM m""".stripMargin

  /** Mann–Kendall trend test per event type, EXACT: S = Σ_{i<j}
    * sign(x_j − x_i) over the HOURLY grid (the pair join is grid² —
    * bounded by time span, NOT event volume, so 8× data leaves it
    * unchanged), with the tie-corrected variance reported as the
    * exact integer var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the /18
    * never happens in integer space) and the continuity-corrected z
    * as the one IEEE expression. The monotone-trend detector that,
    * unlike OLS-on-time, needs no distributional assumption.
    *
    * Scale shape: one scan → (type, hour) agg; the pair join and tie
    * groups live on the span-bounded grid. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val hourly = t(spark, dir, "events")
      .select(col("event_type"), expr(s"ts div $hourNs").as("h"), centi("value").as("v"))
      .groupBy("event_type", "h").agg(sum("v").as("sv")).localCheckpoint(false)
    val pairs = hourly.alias("a")
      .join(hourly.alias("b"),
        col("a.event_type") === col("b.event_type") && col("a.h") < col("b.h"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.sv") - col("a.sv")).cast("long")).as("s_stat"))
    val ties = hourly.groupBy("event_type", "sv").agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_groups"), sum("t").as("n_hours"),
        sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie_term"))
    pairs.join(ties, "event_type")
      .select(col("event_type"), col("n_hours"), col("s_stat"),
        (col("n_hours") * (col("n_hours") - 1L) * (lit(2L) * col("n_hours") + 5L)
          - col("tie_term")).as("var18"))
      .withColumn("z",
        when(col("var18") > 0L,
          (col("s_stat").cast("double") - signum(col("s_stat").cast("double")))
            / sqrt(col("var18").cast("double") / 18d)).otherwise(lit(0d)))
      .orderBy("event_type")
  }

  val mannKendallSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_ns(ts) // $hourNs AS h,
       |         CAST(sum($centiSql) AS BIGINT) AS sv
       |  FROM events GROUP BY 1, 2
       |), pairs AS (
       |  SELECT a.event_type,
       |         CAST(sum(CASE WHEN b.sv > a.sv THEN 1 WHEN b.sv < a.sv THEN -1
       |                       ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM hourly a JOIN hourly b
       |    ON a.event_type = b.event_type AND a.h < b.h
       |  GROUP BY a.event_type
       |), ties AS (
       |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_hours,
       |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
       |  FROM (SELECT event_type, sv, count(*) AS t FROM hourly GROUP BY 1, 2)
       |  GROUP BY event_type
       |)
       |SELECT p.event_type, t.n_hours, p.s_stat,
       |       t.n_hours * (t.n_hours - 1) * (2 * t.n_hours + 5) - t.tie_term AS var18,
       |       CASE WHEN t.n_hours * (t.n_hours - 1) * (2 * t.n_hours + 5) - t.tie_term > 0
       |         THEN (CAST(p.s_stat AS DOUBLE) - sign(CAST(p.s_stat AS DOUBLE)))
       |              / sqrt(CAST(t.n_hours * (t.n_hours - 1) * (2 * t.n_hours + 5)
       |                          - t.tie_term AS DOUBLE) / 18)
       |         ELSE 0 END AS z
       |FROM pairs p JOIN ties t USING (event_type)
       |ORDER BY p.event_type""".stripMargin

  /** Discrete churn hazard curve: for each day d, users AT RISK
    * (first_day ≤ d ≤ last_day) and users whose last activity was d
    * (the churn event), hazard = churn/at_risk permille — the
    * Kaplan–Meier hazard table without the float survival product
    * (the cumulative product is the one piece integer arithmetic
    * can't carry; the hazard column IS the estimator's input, exact).
    * at_risk comes from two day-grid cumulative sums (births minus
    * prior deaths), never a per-day distinct count.
    *
    * Scale shape: one user-keyed agg (first/last), two day-grid
    * windows, day-grid output. */
  def hazardCurve(spark: SparkSession, dir: String): DataFrame = {
    val span = t(spark, dir, "events")
      .select(col("user_id"), expr(s"ts DIV ${dayNs}L").as("day"))
      .groupBy("user_id").agg(min("day").as("first"), max("day").as("last"))
    val births = span.groupBy(col("first").as("day")).agg(count(lit(1)).as("b"))
    val deaths = span.groupBy(col("last").as("day")).agg(count(lit(1)).as("d"))
    val grid = births.join(deaths, Seq("day"), "full")
      .select(col("day"), coalesce(col("b"), lit(0L)).as("b"),
        coalesce(col("d"), lit(0L)).as("d"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("at_risk", sum("b").over(w) - coalesce(sum("d").over(wPrev), lit(0L)))
      .select(col("day"), col("at_risk"), col("d").as("n_churned"),
        expr("(1000 * d) DIV at_risk").as("hazard_permille"))
      .orderBy("day")
  }

  val hazardCurveSql: String =
    s"""WITH span AS (
       |  SELECT user_id, min(epoch_ns(ts) // ${dayNs}) AS first,
       |         max(epoch_ns(ts) // ${dayNs}) AS last FROM events GROUP BY user_id
       |), births AS (SELECT first AS day, count(*) AS b FROM span GROUP BY 1),
       |deaths AS (SELECT last AS day, count(*) AS d FROM span GROUP BY 1),
       |grid AS (
       |  SELECT coalesce(births.day, deaths.day) AS day,
       |         coalesce(b, 0) AS b, coalesce(d, 0) AS d
       |  FROM births FULL JOIN deaths ON births.day = deaths.day
       |)
       |SELECT day,
       |       CAST(sum(b) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            - coalesce(sum(d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
       |                                    AND 1 PRECEDING), 0) AS BIGINT) AS at_risk,
       |       CAST(d AS BIGINT) AS n_churned,
       |       (1000 * CAST(d AS BIGINT))
       |         // CAST(sum(b) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |              - coalesce(sum(d) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
       |                                      AND 1 PRECEDING), 0) AS BIGINT) AS hazard_permille
       |FROM grid ORDER BY day""".stripMargin

  /** Surrogate-key hygiene audit over the id-bearing tables: row
    * count, distinct ids, duplicate count, id span, and gap count
    * (span − distinct) — the first check run when an upstream
    * extractor is suspected of dropping or double-emitting rows. One
    * partial+final aggregate per table, unioned; span arithmetic is
    * exact BIGINT. */
  def idAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(table: String, idCol: String): DataFrame =
      t(spark, dir, table).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(idCol)).as("n_distinct"),
        min(col(idCol)).cast("long").as("id_min"),
        max(col(idCol)).cast("long").as("id_max"))
        .select(lit(table).as("table_name"), col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dups"),
          (col("id_max") - col("id_min") + 1L - col("n_distinct")).as("n_gaps"))
    Seq(("events", "event_id"), ("orders", "o_orderkey"),
      ("customer", "c_custkey"), ("part", "p_partkey"),
      ("documents", "doc_id"))
      .map { case (tb, c) => audit(tb, c) }
      .reduce(_ unionAll _)
      .orderBy("table_name")
  }

  val idAuditSql: String = {
    val tables = Seq(("events", "event_id"), ("orders", "o_orderkey"),
      ("customer", "c_custkey"), ("part", "p_partkey"), ("documents", "doc_id"))
    tables.map { case (tb, c) =>
      s"""SELECT '$tb' AS table_name, count(*) AS n_rows,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |       CAST(count(*) - count(DISTINCT $c) AS BIGINT) AS n_dups,
         |       CAST(max($c) - min($c) + 1 - count(DISTINCT $c) AS BIGINT) AS n_gaps
         |FROM $tb""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY table_name"
  }

  /** The null-semantics surface, exercised explicitly: nulls PLANTED
    * deterministically (`nullif(l_linenumber % 3, 0)`), then counted
    * through null-safe equality (`<=>` ≡ IS NOT DISTINCT FROM),
    * `nullif`/`nvl2`/`coalesce`, and the null-vs-zero aggregate
    * distinction (count(col) skips nulls, sum over coalesce doesn't).
    * Every SQL engine claims these; this row-set proves the exact
    * three-valued-logic behavior matches the independent engine. */
  def nullSafety(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(expr("nullif(l_linenumber % 3, 0)").as("v"), col("l_linenumber"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        sum(when(col("v") <=> lit(null), 1L).otherwise(0L)).as("n_nullsafe_eq_null"),
        sum(when(col("v") <=> (col("l_linenumber") % 3), 1L).otherwise(0L))
          .as("n_nullsafe_eq_raw"),
        sum(expr("nvl2(v, 10, 1)")).as("nvl2_weighted"),
        sum(coalesce(col("v"), lit(-1L))).as("coalesce_sum"))

  val nullSafetySql: String =
    """WITH q AS (SELECT nullif(l_linenumber % 3, 0) AS v, l_linenumber FROM lineitem)
      |SELECT count(*) AS n_rows,
      |       count(v) AS n_nonnull,
      |       CAST(sum(CASE WHEN v IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_nullsafe_eq_null,
      |       CAST(sum(CASE WHEN v IS NOT DISTINCT FROM l_linenumber % 3 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_nullsafe_eq_raw,
      |       CAST(sum(CASE WHEN v IS NOT NULL THEN 10 ELSE 1 END) AS BIGINT) AS nvl2_weighted,
      |       CAST(sum(coalesce(v, -1)) AS BIGINT) AS coalesce_sum
      |FROM q""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_id_audit" -> idAudit,
    "fn_null_safety" -> nullSafety,
    "ts_mann_kendall" -> mannKendall,
    "window_hazard_curve" -> hazardCurve,
    "stat_auc_rank" -> ((s, d) => aucRank(s, d)),
    "agg_abc_analysis" -> abcAnalysis,
    "dq_dp_counts" -> dpCounts,
    "stat_welch_ttest" -> ((s, d) => welchTtest(s, d)),
    "text_vocab_coverage" -> ((s, d) => vocabCoverage(s, d)),
    "stat_gini" -> giniLorenz,
    "text_keyword_rake" -> ((s, d) => keywordRake(s, d)),
    "agg_kmv_jaccard" -> ((s, d) => kmvJaccard(s, d)),
    "sim_random_projection" -> ((s, d) => randomProjection(s, d)),
    "stat_spearman" -> spearmanCorr,
    "stat_ols_fit" -> olsFit,
    "dq_chi2_independence" -> chi2Independence,
    "agg_bitmap_distinct" -> bitmapDistinct,
    "ts_backtest_snaive" -> backtestSnaive,
    "ts_seasonal_anomaly" -> seasonalAnomaly,
    "ts_ohlc_bars" -> ohlcBars,
    "window_growth_accounting" -> growthAccounting,
    "dq_benford" -> benfordDigits,
    "window_streaks" -> activityStreaks,
    "pipeline_epoch_shuffle" -> ((s, d) => epochShuffle(s, d)),
    "stat_bootstrap_ci" -> ((s, d) => bootstrapCi(s, d)))

  val oracles: Map[String, String] = Map(
    "dq_id_audit" -> idAuditSql,
    "fn_null_safety" -> nullSafetySql,
    "ts_mann_kendall" -> mannKendallSql,
    "window_hazard_curve" -> hazardCurveSql,
    "stat_auc_rank" -> aucRankSql(),
    "agg_abc_analysis" -> abcAnalysisSql,
    "dq_dp_counts" -> dpCountsSql,
    "stat_welch_ttest" -> welchTtestSql(),
    "text_vocab_coverage" -> vocabCoverageSql(),
    "stat_gini" -> giniLorenzSql,
    "text_keyword_rake" -> keywordRakeSql(),
    "agg_kmv_jaccard" -> kmvJaccardSql(),
    "sim_random_projection" -> randomProjectionSql(),
    "stat_spearman" -> spearmanCorrSql,
    "stat_ols_fit" -> olsFitSql,
    "dq_chi2_independence" -> chi2IndependenceSql,
    "agg_bitmap_distinct" -> bitmapDistinctSql,
    "ts_backtest_snaive" -> backtestSnaiveSql,
    "ts_seasonal_anomaly" -> seasonalAnomalySql,
    "ts_ohlc_bars" -> ohlcBarsSql,
    "window_growth_accounting" -> growthAccountingSql,
    "dq_benford" -> benfordDigitsSql,
    "window_streaks" -> activityStreaksSql,
    "pipeline_epoch_shuffle" -> epochShuffleSql(),
    "stat_bootstrap_ci" -> bootstrapCiSql())
}
