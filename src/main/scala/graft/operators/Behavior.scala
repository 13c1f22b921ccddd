package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** Behavioral analytics over the event stream: cohort retention and the
  * next-event transition matrix — the two standard product-analytics
  * shapes next to the funnel ([[Temporal.funnelConversion]]).
  *
  * Reference context: the reference engine (/root/reference/src/) has no
  * analytics surface at all; like the rest of §2.4, these enter the
  * build as harness-verified capability the engine must carry. Time is
  * integer epoch-day / epoch-µs arithmetic end to end, so every value is
  * bit-identical in the DuckDB oracle.
  */
object Behavior {

  private val dayNs = 86400L * 1000 * 1000 * 1000

  /** Cohort retention triangle: users are cohorted by the DAY of their
    * first event; retention at offset d = distinct cohort users active
    * d days later, as integer permille of the cohort size.
    *
    * Scale shape: first-seen per user is one partial+final min-agg on
    * user_id; the activity set is distinct (user, day) — the same
    * user-keyed shuffle layout, so the join back is exchange-aligned;
    * the final aggregate's key space is days × offsets (time-range
    * bounded, never event-count bounded). No window over events, no
    * self-join of the event set.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .select(col("user_id"), expr(s"ts div $dayNs").as("day"))
    val firstDay = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val activity = ev.distinct()
    val cells = activity.join(firstDay, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(countDistinct("user_id").as("n_active"))
    // offset 0 is the cohort size itself (every user is active on its
    // first day), so the denominator joins from the same frame
    val sizes = cells.filter(col("offset_days") === 0L)
      .select(col("cohort_day"), col("n_active").as("n_cohort"))
    cells.join(sizes, "cohort_day")
      .select(
        (col("cohort_day") * 86400L).as("cohort_day_s"),
        col("offset_days"), col("n_active"), col("n_cohort"),
        expr("(1000 * n_active) div n_cohort").as("retention_permille"))
      .orderBy("cohort_day_s", "offset_days")
  }

  val retentionCohortsSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
      |), firstday AS (
      |  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1
      |), activity AS (
      |  SELECT DISTINCT user_id, day FROM ev
      |), cells AS (
      |  SELECT f.cohort_day, a.day - f.cohort_day AS offset_days,
      |         count(DISTINCT a.user_id) AS n_active
      |  FROM activity a JOIN firstday f USING (user_id)
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT cohort_day, n_active AS n_cohort FROM cells WHERE offset_days = 0
      |)
      |SELECT c.cohort_day * 86400 AS cohort_day_s, c.offset_days,
      |       c.n_active, s.n_cohort,
      |       (1000 * c.n_active) // s.n_cohort AS retention_permille
      |FROM cells c JOIN sizes s USING (cohort_day)
      |ORDER BY cohort_day_s, offset_days""".stripMargin

  /** Next-event transition matrix: counts and integer-permille
    * probabilities of each (event_type → next event_type) step inside a
    * user's event-time-ordered stream — the Markov-chain view of user
    * behavior (clickstream path analysis).
    *
    * Scale shape: one user-partitioned lead() window (a single shuffle
    * on user_id — the same layout every event-time operator here uses)
    * followed by a partial+final count on the 5×5-bounded (src, dst)
    * key; the row totals reuse the transition frame itself (a second
    * tiny agg over ≤25 rows), so the event set is scanned once.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val steps = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type").as("src"),
        expr("ts div 1000").as("tus"))
      .withColumn("dst", lead("src", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    val totals = steps.groupBy("src").agg(sum("n").as("n_src"))
    steps.join(totals, "src")
      .select(col("src"), col("dst"), col("n"), col("n_src"),
        expr("(1000 * n) div n_src").as("p_permille"))
      .orderBy("src", "dst")
  }

  val eventTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type AS src, epoch_us(ts) AS tus
      |  FROM events
      |), steps AS (
      |  SELECT src,
      |         lead(src) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS dst
      |  FROM e
      |), counts AS (
      |  SELECT src, dst, count(*) AS n FROM steps WHERE dst IS NOT NULL GROUP BY 1, 2
      |), totals AS (
      |  SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM counts GROUP BY 1
      |)
      |SELECT c.src, c.dst, c.n, t.n_src, (1000 * c.n) // t.n_src AS p_permille
      |FROM counts c JOIN totals t USING (src)
      |ORDER BY src, dst""".stripMargin

  /** RFM customer segmentation: per purchasing user, recency (days
    * since last purchase vs the global frontier), frequency (purchase
    * count) and monetary (sum in exact cents), each scored 1–3 by FIXED
    * business thresholds — not ntile(): a global rank over users is a
    * global sort of the user universe, while fixed thresholds are a map,
    * and real RFM programs pin thresholds so segments stay comparable
    * across runs. Output is the 27-cell segment grid with per-cell user
    * counts and monetary totals. Shapes: one filtered per-user agg, a
    * 1-row broadcast frontier, one ≤27-key aggregate. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perUser = t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(expr(s"ts div $dayNs")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("mon_cents"))
    val frontier = perUser.agg(max("last_day").as("global_last"))
    perUser.crossJoin(broadcast(frontier))
      .withColumn("recency_days", col("global_last") - col("last_day"))
      .withColumn("r_score",
        when(col("recency_days") <= 2L, 3L).when(col("recency_days") <= 5L, 2L).otherwise(1L))
      .withColumn("f_score",
        when(col("freq") >= 16L, 3L).when(col("freq") >= 11L, 2L).otherwise(1L))
      .withColumn("m_score",
        when(col("mon_cents") >= 80000L, 3L).when(col("mon_cents") >= 45000L, 2L).otherwise(1L))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        (sum("mon_cents").cast("double") / 100).as("monetary_total"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmSegmentsSql: String =
    """WITH pu AS (
      |  SELECT user_id, max(epoch_ns(ts) // 86400000000000) AS last_day,
      |         count(*) AS freq,
      |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS mon_cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), f AS (SELECT max(last_day) AS global_last FROM pu),
      |scored AS (
      |  SELECT CAST(CASE WHEN global_last - last_day <= 2 THEN 3
      |              WHEN global_last - last_day <= 5 THEN 2 ELSE 1 END AS BIGINT) AS r_score,
      |         CAST(CASE WHEN freq >= 16 THEN 3 WHEN freq >= 11 THEN 2 ELSE 1 END AS BIGINT) AS f_score,
      |         CAST(CASE WHEN mon_cents >= 80000 THEN 3 WHEN mon_cents >= 45000 THEN 2 ELSE 1 END AS BIGINT) AS m_score,
      |         mon_cents
      |  FROM pu, f
      |)
      |SELECT r_score, f_score, m_score, count(*) AS n_users,
      |       CAST(sum(mon_cents) AS DOUBLE) / 100 AS monetary_total
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Rolling active users (DAU / 7-day WAU) — exactly, at scale. A
    * trailing-window COUNT(DISTINCT) is non-decomposable (per-row
    * distinct state grows with the window), so WAU uses the interval-
    * coverage identity instead: a user active on day d is WAU-active on
    * days d..d+6, so distinct (user, activity day) → a bounded 7×
    * explode of COVERED days → distinct (user, covered day) → a plain
    * partial+final count per day. Every stage is a bounded map or a
    * hash aggregate; nothing carries per-row distinct state. Days past
    * the data frontier are trimmed (their windows are incomplete). */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val userDays = t(spark, dir, "events")
      .select(col("user_id"), expr(s"ts div $dayNs").as("day"))
      .distinct()
      .localCheckpoint(false) // feeds DAU, the coverage explode, and the frontier
    val frontier = userDays.agg(max("day").as("last_day"))
    val dau = userDays.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = userDays
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .distinct()
      .groupBy("day").agg(countDistinct("user_id").as("wau"))
    dau.join(wau, Seq("day"))
      .crossJoin(broadcast(frontier))
      .filter(col("day") <= col("last_day"))
      .select((col("day") * 86400L).as("day_start_s"), col("dau"), col("wau"))
      .orderBy("day_start_s")
  }

  val activeUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
      |), f AS (SELECT max(day) AS last_day FROM ud),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
      |cov AS (
      |  SELECT DISTINCT user_id, day + o AS day
      |  FROM ud, (SELECT unnest(range(0, 7)) AS o)
      |), wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM cov GROUP BY 1)
      |SELECT d.day * 86400 AS day_start_s, d.dau, w.wau
      |FROM dau d JOIN wau w USING (day), f
      |WHERE d.day <= f.last_day
      |ORDER BY day_start_s""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "window_retention_cohorts" -> retentionCohorts,
    "window_event_transitions" -> eventTransitions,
    "window_rfm_segments" -> rfmSegments,
    "window_active_users" -> activeUsers)

  val oracles: Map[String, String] = Map(
    "window_retention_cohorts" -> retentionCohortsSql,
    "window_event_transitions" -> eventTransitionsSql,
    "window_rfm_segments" -> rfmSegmentsSql,
    "window_active_users" -> activeUsersSql)
}
