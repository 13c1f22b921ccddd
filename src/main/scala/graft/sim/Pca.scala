package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t
import graft.functions.Portable

/** PCA by power iteration over the embedding covariance — the
  * PageRank recipe (scaled-integer iteration, exact at every step)
  * applied to dense linear algebra. The leading principal component is
  * the workhorse of embedding hygiene: whitening, anisotropy removal
  * (the "all-but-the-top" post-process of Mu & Viswanath 2018), OPQ
  * rotation seeding, and drift monitoring all start from it.
  *
  * Reference context: /root/reference/src/ has no linear-algebra
  * surface; SURVEY §2.4 harness capability, LLM-data-pipeline class.
  *
  * Exactness strategy: the covariance is the CROSS-MULTIPLIED integer
  * moment C_ij = N·Σ q_i q_j − (Σ q_i)(Σ q_j) (no rational mean), then
  * every power-iteration step is integer arithmetic: the matrix is
  * pre-scaled to ≤S by C'_ij = ((C_ij + M)·S) div M − S with
  * M = max|C| (the SHIFT keeps both operands non-negative, so Spark's
  * truncating DIV and DuckDB's flooring // agree — signed integer
  * division semantics differ between the engines and must never be
  * exercised), and each iterate renormalizes by the same shifted
  * division. Three fixed rounds from the all-ones start; identical
  * integers in both engines, so the oracle replays the whole
  * iteration as unrolled CTEs.
  *
  * Scale shape: the corpus is touched ONCE — a posexplode² outer
  * product pass partial+final-aggregated to the D² = 4096-cell moment
  * table (map-side combine collapses each partition to ≤4096 cells).
  * Everything after is model-cardinality (64-row vector ⋈ 4096-row
  * matrix per round, broadcast-sized at any corpus scale) — the
  * iteration cost is INDEPENDENT of corpus size, which is the whole
  * point of the moments-first formulation.
  */
object Pca {

  private val dims = 64
  private val S = 1000000L // vector/matrix fixed-point scale

  /** Raw second/first moment cells from one pass over the corpus:
    * (i, j) → (Σ q_i·q_j), plus first moments via the j==i diagonal of
    * a separate single explode. */
  private def moments(spark: SparkSession, dir: String): (DataFrame, DataFrame, Long) = {
    val q = t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(Portable.quantize(col("embedding")).as("q"))
      .localCheckpoint(false) // one corpus read feeds both moment passes
    val n = q.count()
    val second = q
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), posexplode(transform(col("q"), x => x * col("qi"))).as(Seq("j", "p")))
      .groupBy("i", "j").agg(sum("p").as("sij"))
    val first = q
      .select(posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("i").agg(sum("qi").as("si"))
    (second, first, n)
  }

  /** Scaled covariance C' (64×64, values in [−S, S]) as a DataFrame of
    * (i, j, c) — the broadcastable model every iteration consumes. */
  private[graft] def scaledCov(spark: SparkSession, dir: String): DataFrame = {
    val (second, first, n) = moments(spark, dir)
    val cov = second
      .join(first.select(col("i"), col("si").as("s_i")), "i")
      .join(first.select(col("i").as("j"), col("si").as("s_j")), "j")
      .select(col("i"), col("j"), (lit(n) * col("sij") - col("s_i") * col("s_j")).as("c0"))
      .localCheckpoint(false) // model-cardinality (4096 rows); feeds max and rescale
    val m = cov.agg(max(abs(col("c0"))).as("m"))
    // (c0+m)·S can reach ~2e24 — widen to DECIMAL(38,0) for the product
    // (DuckDB mirrors with HUGEINT); operands stay non-negative so the
    // integral division floors identically in both engines
    cov.crossJoin(broadcast(m))
      .select(col("i"), col("j"),
        (expr(s"((CAST(c0 AS DECIMAL(38,0)) + m) * $S) DIV m") - S).as("c"))
  }

  /** The staged 4096-cell covariance model, memoized ([[graft.Memo]]):
    * pcaPower, pcaExplained and anisotropyReport each re-paid the corpus
    * moment pass + the 3-round iteration per query. */
  private[graft] def covStaged(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("pca.cov", graft.Memo.input(dir)))(scaledCov(spark, dir).localCheckpoint(false))

  /** The final power-iterate over [[covStaged]], memoized. */
  private[graft] def leadVec(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("pca.lead", graft.Memo.input(dir)))(iterate(covStaged(spark, dir)))

  /** Three power-iteration rounds; returns the (dim, v) iterate at
    * scale S. Every join is model-cardinality. */
  private[graft] def iterate(cov: DataFrame, rounds: Int = 3): DataFrame = {
    var v = cov.select(col("j")).distinct().select(col("j").as("d"), lit(S).as("v"))
    for (_ <- 1 to rounds) {
      val w = cov.join(v, cov("j") === v("d"))
        .groupBy("i").agg(sum(expr("c * v")).as("w"))
      val mw = w.agg(max(abs(col("w"))).as("mw"))
      v = w.crossJoin(broadcast(mw))
        .select(col("i").as("d"),
          (expr(s"((CAST(w AS DECIMAL(38,0)) + mw) * $S) DIV mw") - S).as("v"))
        .localCheckpoint(false) // per-round lineage cut
    }
    v
  }

  /** Leading principal direction after 3 rounds: (dim, v) with v at
    * scale 1e6, renormalized to max|v| = S each round. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    leadVec(spark, dir)
      .select(col("d").cast("long").as("dim"), col("v"))
      .orderBy("dim")

  /** Unrolled-CTE oracle of the full pipeline: moments → shift-scaled
    * covariance → 3 renormalized iterations. */
  private def pipelineSql(rounds: Int = 3): String = {
    val iters = (1 to rounds).map { k =>
      s"""w$k AS (
         |  SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS w
         |  FROM cs c JOIN v${k - 1} v ON c.j = v.d GROUP BY c.i
         |), mw$k AS (SELECT max(abs(w)) AS mw FROM w$k),
         |v$k AS (
         |  SELECT i AS d,
         |         CAST(((CAST(w AS HUGEINT) + mw) * ${S}) // mw - ${S} AS BIGINT) AS v
         |  FROM w$k CROSS JOIN mw$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
       |  SELECT ${Portable.quantizeSql("embedding")} AS qv
       |  FROM embeddings
       |), nt AS (SELECT count(*) AS n FROM q),
       |cells AS (
       |  SELECT i.i - 1 AS i, j.j - 1 AS j,
       |         CAST(sum(qv[i.i] * qv[j.j]) AS BIGINT) AS sij
       |  FROM q, generate_series(1, $dims) i(i), generate_series(1, $dims) j(j)
       |  GROUP BY 1, 2
       |), firsts AS (
       |  SELECT i.i - 1 AS i, CAST(sum(qv[i.i]) AS BIGINT) AS si
       |  FROM q, generate_series(1, $dims) i(i) GROUP BY 1
       |), cov AS (
       |  SELECT c.i, c.j, CAST(n * c.sij - fi.si * fj.si AS BIGINT) AS c0
       |  FROM cells c
       |  JOIN firsts fi ON c.i = fi.i
       |  JOIN firsts fj ON c.j = fj.i
       |  CROSS JOIN nt
       |), mm AS (SELECT max(abs(c0)) AS m FROM cov),
       |cs AS (
       |  SELECT i, j,
       |         CAST(((CAST(c0 AS HUGEINT) + m) * ${S}) // m - ${S} AS BIGINT) AS c
       |  FROM cov CROSS JOIN mm
       |), v0 AS (SELECT DISTINCT j AS d, CAST(${S} AS BIGINT) AS v FROM cs),
       |$iters""".stripMargin
  }

  val pcaPowerSql: String =
    s"""WITH ${pipelineSql()}
       |SELECT d AS dim, CAST(v AS BIGINT) AS v FROM v3 ORDER BY dim""".stripMargin

  /** Explained-variance report beside the direction: the Rayleigh
    * quotient λ = vᵀC'v / vᵀv on the final iterate vs trace(C') —
    * λ/trace is the explained-variance share in the scaled metric.
    * Quadratic forms are exact DECIMAL(38,0) sums (|terms| ≤ S³, 4096
    * of them — far inside 38 digits and order-independent); the two
    * ratios are single IEEE divisions of exact integers. One row. */
  def pcaExplained(spark: SparkSession, dir: String): DataFrame = {
    val cov = covStaged(spark, dir)
    val v = leadVec(spark, dir)
    val quad = cov.join(v.select(col("d").as("i"), col("v").as("vi")), "i")
      .join(v.select(col("d").as("j"), col("v").as("vj")), "j")
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * vi * vj")).as("vcv"))
    val vv = v.agg(sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("vtv"))
    val tr = cov.filter(col("i") === col("j"))
      .agg(sum("c").as("trace"))
    quad.crossJoin(broadcast(vv)).crossJoin(broadcast(tr))
      .select(col("trace"),
        (col("vcv").cast("double") / col("vtv").cast("double")).as("lambda_scaled"),
        ((col("vcv").cast("double") / col("vtv").cast("double"))
          / col("trace").cast("double")).as("explained_share"))
  }

  val pcaExplainedSql: String =
    s"""WITH ${pipelineSql()},
       |quad AS (
       |  SELECT CAST(sum(CAST(c.c AS DECIMAL(38,0)) * vi.v * vj.v) AS DECIMAL(38,0)) AS vcv
       |  FROM cs c
       |  JOIN v3 vi ON c.i = vi.d
       |  JOIN v3 vj ON c.j = vj.d
       |), vv AS (
       |  SELECT CAST(sum(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0)) AS vtv FROM v3
       |), tr AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS trace FROM cs WHERE i = j
       |)
       |SELECT trace,
       |       CAST(vcv AS DOUBLE) / CAST(vtv AS DOUBLE) AS lambda_scaled,
       |       (CAST(vcv AS DOUBLE) / CAST(vtv AS DOUBLE)) / CAST(trace AS DOUBLE)
       |         AS explained_share
       |FROM quad CROSS JOIN vv CROSS JOIN tr""".stripMargin

  /** Anisotropy report — the "all-but-the-top" post-process (Mu &
    * Viswanath 2018) as a measured corpus transform: remove each
    * vector's projection onto the leading PC and compare the corpus'
    * alignment with its centroid direction before vs after.
    *
    * Exactness: the residual is the CROSS-MULTIPLIED integer form
    * r_i = x_i·(vᵀv) − (xᵀv)·v_i (the rational projection coefficient
    * never materializes), then each residual vector is floor-rescaled
    * to ≤S by the shift-before-divide idiom (mr = per-VECTOR max|r|;
    * all-zero residuals keep r' = 0). Per-vector cosines to the exact
    * integer centroid directions (Σx, Σr') are single IEEE trees over
    * DECIMAL(38,0)-widened dots, quantized to shifted micros
    * (floor((cos+1)·1e6) ≥ 0) so the corpus MEAN is an integer sum and
    * a non-negative DIV. One row out.
    *
    * Scale shape: the corpus appears only in cell form — explode once,
    * then every stage is either vec_id-keyed (p, mr, the cosine aggs —
    * exchange-aligned) or a 64/1-row broadcast (v, vᵀv, centroids).
    * Nothing joins corpus×corpus. */
  def anisotropyReport(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), posexplode(Portable.quantize(col("embedding"))).as(Seq("i", "xi")))
      .localCheckpoint(false) // one corpus explode feeds projection, residual and both cosine passes
    val v = leadVec(spark, dir)
    val vb = v.select(col("d").as("i"), col("v").as("vi"))
    val vv = v.agg(sum(col("v") * col("v")).as("vv"))
    val p = cells.join(broadcast(vb), "i")
      .groupBy("vec_id").agg(sum(col("xi") * col("vi")).as("p"))
    val r = cells.join(p, "vec_id").join(broadcast(vb), "i")
      .crossJoin(broadcast(vv))
      .select(col("vec_id"), col("i"),
        (col("xi") * col("vv") - col("p") * col("vi")).as("ri"))
    val mr = r.groupBy("vec_id").agg(max(abs(col("ri"))).as("mr"))
    val rp = r.join(mr, "vec_id")
      .select(col("vec_id"), col("i"),
        when(col("mr") === 0L, 0L).otherwise(
          expr(s"CAST(((CAST(ri AS DECIMAL(38,0)) + mr) * $S) DIV mr AS BIGINT)") - S)
          .as("ri"))
      .localCheckpoint(false) // residual cells feed the after-centroid AND the after-cosines
    def report(cs: DataFrame, valCol: String, tag: String): DataFrame = {
      val cent = cs.groupBy("i").agg(sum(col(valCol)).as("s"))
      val ns = cent.agg(sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("ns"))
      cs.join(broadcast(cent), "i")
        .groupBy("vec_id")
        .agg(sum(expr(s"CAST($valCol AS DECIMAL(38,0)) * s")).as("dot"),
          sum(expr(s"CAST($valCol AS DECIMAL(38,0)) * $valCol")).as("nx"))
        .filter(col("nx") > 0) // zero vectors carry no direction
        .crossJoin(broadcast(ns))
        .select(floor((Portable.cosine(col("dot"), col("nx"), col("ns"))
          + 1.0d) * 1000000d).cast("long").as("qcos"))
        .agg(count(lit(1)).as(s"n_$tag"),
          expr(s"sum(qcos) DIV count(1)").as(s"mean_qcos_$tag"))
    }
    report(cells, "xi", "before")
      .crossJoin(broadcast(report(rp, "ri", "after")))
  }

  val anisotropyReportSql: String =
    s"""WITH ${pipelineSql()},
       |cellsx AS (
       |  SELECT vec_id, i.i - 1 AS i, qv2.qv[i.i] AS xi
       |  FROM (SELECT vec_id,
       |          ${Portable.quantizeSql("embedding")} AS qv
       |        FROM embeddings) qv2, generate_series(1, $dims) i(i)
       |), vvt AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM v3),
       |pt AS (
       |  SELECT c.vec_id, CAST(sum(c.xi * v.v) AS BIGINT) AS p
       |  FROM cellsx c JOIN v3 v ON c.i = v.d GROUP BY c.vec_id
       |), rt AS (
       |  SELECT c.vec_id, c.i, c.xi * vvt.vv - pt.p * v.v AS ri
       |  FROM cellsx c
       |  JOIN pt ON c.vec_id = pt.vec_id
       |  JOIN v3 v ON c.i = v.d
       |  CROSS JOIN vvt
       |), mrt AS (
       |  SELECT vec_id, max(abs(ri)) AS mr FROM rt GROUP BY vec_id
       |), rp AS (
       |  SELECT r.vec_id, r.i,
       |         CASE WHEN m.mr = 0 THEN 0
       |              ELSE CAST(((CAST(r.ri AS HUGEINT) + m.mr) * ${S}) // m.mr - ${S} AS BIGINT)
       |         END AS ri
       |  FROM rt r JOIN mrt m ON r.vec_id = m.vec_id
       |), centb AS (SELECT i, CAST(sum(xi) AS BIGINT) AS s FROM cellsx GROUP BY i),
       |nsb AS (SELECT CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ns FROM centb),
       |cosb AS (
       |  SELECT c.vec_id,
       |         CAST(sum(CAST(c.xi AS HUGEINT) * cb.s) AS HUGEINT) AS dot,
       |         CAST(sum(CAST(c.xi AS HUGEINT) * c.xi) AS HUGEINT) AS nx
       |  FROM cellsx c JOIN centb cb ON c.i = cb.i GROUP BY c.vec_id
       |), qb AS (
       |  SELECT CAST(floor((${Portable.cosineSql("dot", "nx", "ns")} + 1.0) * 1000000)
       |         AS BIGINT) AS qcos
       |  FROM cosb CROSS JOIN nsb WHERE nx > 0
       |), centa AS (SELECT i, CAST(sum(ri) AS BIGINT) AS s FROM rp GROUP BY i),
       |nsa AS (SELECT CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ns FROM centa),
       |cosa AS (
       |  SELECT r.vec_id,
       |         CAST(sum(CAST(r.ri AS HUGEINT) * ca.s) AS HUGEINT) AS dot,
       |         CAST(sum(CAST(r.ri AS HUGEINT) * r.ri) AS HUGEINT) AS nx
       |  FROM rp r JOIN centa ca ON r.i = ca.i GROUP BY r.vec_id
       |), qa AS (
       |  SELECT CAST(floor((${Portable.cosineSql("dot", "nx", "ns")} + 1.0) * 1000000)
       |         AS BIGINT) AS qcos
       |  FROM cosa CROSS JOIN nsa WHERE nx > 0
       |), rb AS (
       |  SELECT count(*) AS n_before, CAST(sum(qcos) // count(*) AS BIGINT) AS mean_qcos_before
       |  FROM qb
       |), ra AS (
       |  SELECT count(*) AS n_after, CAST(sum(qcos) // count(*) AS BIGINT) AS mean_qcos_after
       |  FROM qa
       |)
       |SELECT n_before, mean_qcos_before, n_after, mean_qcos_after
       |FROM rb CROSS JOIN ra""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pca_power" -> pcaPower,
    "sim_pca_explained" -> pcaExplained,
    "sim_anisotropy_report" -> anisotropyReport)

  val oracles: Map[String, String] = Map(
    "sim_pca_power" -> pcaPowerSql,
    "sim_pca_explained" -> pcaExplainedSql,
    "sim_anisotropy_report" -> anisotropyReportSql)
}
