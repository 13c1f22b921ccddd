package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t
import graft.functions.Portable

/** Similarity search over the embedding column (`Array[Float]`, 64-d).
  *
  * Numeric strategy: embeddings are fixed-point-quantized to BIGINTs
  * (Portable.quantize) so dot products and norms are exact integers and
  * the final cosine is the identical IEEE double in Spark and the DuckDB
  * oracle — float-sum ordering differences can never flip a rank.
  *
  * Scale design:
  *  - Brute-force top-k: the query set is tiny → broadcast it; the corpus
  *    scan is a single map stage, and per-query top-k is a bounded
  *    partial+final aggregation (no global sort of the corpus).
  *  - LSH ANN: 16 random-hyperplane sign bits (hyperplane components ±1,
  *    derived from the portable hash — deterministic, no stored model).
  *    Bucket join on the signature prefilters candidates; exact cosine
  *    re-ranks. At 100 TB the corpus is scanned once to build signatures
  *    and all joins are equi-joins on (bucket).
  *  - Near-dup pairs: cosine ≥ τ via the LSH buckets (the exact
  *    brute-force variant exists as the small-scale baseline).
  */
object Similarity {

  private val dims = 64
  private val nPlanes = 16

  /** Quantized embeddings: vec_id, q (BIGINT[64]), norm (BIGINT). */
  private[graft] def quantizedFrom(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), Portable.quantize(col("embedding")).as("q"))
      .withColumn("nsq", Portable.normSqQ(col("q")))

  /** As above, from the sf dir: the ONE quantized-corpus reader of the
    * vector family. Repartitioned off the single-file scan so the
    * quantize/projection map stages parallelize (no-op at production
    * scale). */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedFrom(t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id")))

  /** DuckDB twin of [[quantized]]: CTEs `q` (vec_id, qv) and `qn`
    * (vec_id, qv, nsq) over the `embeddings` table. */
  private[graft] val quantizedSql: String =
    s"""q AS (
      |  SELECT vec_id,
      |         ${Portable.quantizeSql("embedding")} AS qv
      |  FROM embeddings
      |),
      |qn AS (
      |  SELECT vec_id, qv,
      |         ${Portable.normSqSql("qv")} AS nsq
      |  FROM q
      |)""".stripMargin

  /** Exact cosine of the quantized rows aliased `a` and `b` (columns
    * qv, nsq): the DuckDB twin of the vector family's scoring. */
  private[sim] val abCosineSql: String =
    Portable.cosineSql(Portable.dotSql("a.qv", "b.qv"), "a.nsq", "b.nsq")

  /** Brute-force exact cosine top-k: queries = vec_id < 8 against the full
    * corpus (self excluded). The TINY QUERY SIDE broadcasts (the corpus is
    * the 100 TB side — it streams through a single map stage and must
    * never be the broadcast/build side). The `rank <= k` filter over the
    * partitioned row_number window plans as WindowGroupLimit, which keeps
    * only k rows per query per map task BEFORE the shuffle — a bounded
    * partial+final top-k, not a global sort of the scored corpus. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val qn = quantized(spark, dir)
    val queries = qn.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nsq").as("na"))
    val corpus = qn.select(col("vec_id").as("cand_id"), col("q").as("qb"), col("nsq").as("nb"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
    Portable.topK(scored, Seq("query_id"), desc("cosine"), "cand_id", lit(k))
      .select("query_id", "cand_id", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  def cosineTopKSql(k: Int = 10): String =
    s"""WITH $quantizedSql,
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |         $abCosineSql AS cosine
       |  FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 8
       |),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |         ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Random-hyperplane LSH signatures: bit p = sign of Σ_i q_i·s(p,i),
    * s(p,i) ∈ {±1} from the portable hash of "p_i". Integer projections →
    * exactly reproducible.
    *
    * The hyperplane matrix depends only on (plane, dim) — a fixed 16×64
    * constant — so it is derived ONCE on the driver (same md5 rule as
    * Portable.hash60, hence identical bits) and embedded as literal
    * arrays. Each projection is then a codegen'd integer dot product
    * against a constant-folded literal; the signature assembles in the
    * same map stage. Zero hashing in the hot path, zero shuffle. */
  private[graft] def planeSign(p: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_${i}".getBytes("UTF-8")).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 1) 1L else -1L
  }
  private[graft] val planeSigns: Array[Array[Long]] =
    Array.tabulate(nPlanes, dims)(planeSign)

  def lshSignatures(spark: SparkSession, dir: String): DataFrame =
    lshSignaturesFrom(quantized(spark, dir)).orderBy("vec_id")

  private[graft] def lshSignaturesFrom(qn: DataFrame): DataFrame = {
    val sig = (0 until nPlanes).map { p =>
      val row = array(planeSigns(p).map(lit(_)): _*) // foldable → one constant ArrayData
      when(Portable.dotQ(col("q"), row) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    qn.select(col("vec_id"), sig.cast("long").as("signature"))
  }

  /** The same 16×64 matrix as a DuckDB literal (list-of-lists). */
  private val planeSignsSql: String =
    planeSigns.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  private val signatureSqlCte: String =
    s"""smat AS (SELECT $planeSignsSql AS m),
       |proj AS (
       |  SELECT vec_id, ps.p AS p,
       |         CAST(list_sum(list_transform(generate_series(1, $dims),
       |           i -> qv[i] * m[ps.p + 1][i])) AS BIGINT) AS proj
       |  FROM qn, smat, (SELECT unnest(generate_series(0, ${nPlanes - 1})) AS p) ps
       |),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN proj > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS signature
       |  FROM proj GROUP BY vec_id
       |)""".stripMargin

  val lshSignaturesSql: String =
    s"""WITH $quantizedSql,
       |$signatureSqlCte
       |SELECT vec_id, signature FROM sig ORDER BY vec_id""".stripMargin

  /** ANN via LSH buckets: candidates share the exact 16-bit signature;
    * exact cosine re-ranks within the bucket. Recall trades off with
    * bucket width — the scale path when brute force is too big. */
  def annLsh(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn = quantized(spark, dir).localCheckpoint(false)
    // signatures derive from the SAME materialized qn (no second
    // quantize pass, no harness-output orderBy before the join);
    // side is materialized once for both join sides
    val side = qn.join(lshSignaturesFrom(qn), "vec_id").localCheckpoint(false)
    val l = side.select(col("vec_id").as("query_id"), col("q").as("qa"),
      col("nsq").as("na"), col("signature"))
    val r = side.select(col("vec_id").as("cand_id"), col("q").as("qb"),
      col("nsq").as("nb"), col("signature"))
    l.join(r, Seq("signature"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
      .select("query_id", "cand_id", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  def annLshSql(k: Int = 5): String =
    s"""WITH $quantizedSql,
       |$signatureSqlCte,
       |side AS (SELECT qn.vec_id, qv, nsq, signature FROM qn JOIN sig ON qn.vec_id = sig.vec_id),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |         $abCosineSql AS cosine
       |  FROM side a JOIN side b ON a.signature = b.signature AND a.vec_id <> b.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, cand_id, cosine,
       |         ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Embedding near-duplicate pairs, bucketed: candidates are pairs that
    * collide in at least one of `nBands` bands of `bandBits` sign bits of
    * the hyperplane signature (OR-amplified LSH); each candidate is then
    * verified by EXACT cosine ≥ τ, so false positives are impossible.
    *
    * Scale shape: candidate generation is an equi-join on (band, bucket)
    * — never an all-pairs theta-join, never a broadcast of the corpus.
    * Recall: a true pair at cosine τ=0.9 disagrees on a given hyperplane
    * bit with p = arccos(τ)/π ≈ 0.14, so P[miss] = (1-(1-p)^4)^4 ≈ 0.05
    * at the threshold and ≈ 8·10⁻⁴ at cosine 0.99 — and duplicates in
    * real corpora sit near 1.0. The exact all-pairs form remains the
    * DuckDB oracle, which proves this bucketed path lossless on the test
    * corpus. */
  /** The harness corpus is random vectors (max pairwise cosine ≈ 0.51 at
    * sf0.01), so at τ=0.9 the plain query is vacuous — both engines
    * agree on empty, proving nothing. The harness entry therefore
    * SELF-PLANTS: the first 8 vectors are re-appended under vec_id+10⁶
    * with one quantized dimension nudged by +1 (cosine ≈ 0.9999), all
    * derived deterministically from the parquet input so the DuckDB
    * oracle plants identically. The query must recover exactly those 8
    * pairs through the banded-LSH path — end-to-end detection evidence
    * in the harness row itself (AnnRecallSpec covers it on synthetic
    * data too). */
  def nearDupPairs(spark: SparkSession, dir: String, tau: Double = 0.9): DataFrame = {
    val qn = quantized(spark, dir)
    // plant ids start past the corpus maximum (1-row broadcast scalar,
    // mirrored in the SQL oracle) — a fixed offset would collide with
    // real ids once the corpus reaches it
    val planted = qn.filter(col("vec_id") < 8)
      .crossJoin(broadcast(qn.agg((max("vec_id") + 1L).as("plant_base"))))
      .select((col("vec_id") + col("plant_base")).as("vec_id"),
        zip_with(col("q"), sequence(lit(0), lit(dims - 1)),
          (x, i) => x + when(i === 0, 1L).otherwise(0L)).as("q"))
      .withColumn("nsq", Portable.normSqQ(col("q")))
    nearDupPairsFrom(qn.unionByName(planted), tau)
  }

  private val nBands = 4
  private val bandBits = nPlanes / nBands

  /** Collapse-first banded search. Dup-heavy corpora (crawls run 30%+
    * duplicate mass) put MANY ids on one quantized vector; identical
    * vectors share a signature, so if every copy enters the bucket
    * index the candidate join's work grows QUADRATICALLY in copy count
    * (the 64×-replica board measured exactly that — 969 s and an
    * eventual failure). The scalable form collapses exact duplicates
    * first: the LSH/cosine machinery runs over DISTINCT vectors only,
    * and member ids expand back combinatorially at the end —
    * within-group C(n,2) pairs plus cross-group member products, both
    * linear in the OUTPUT pair count, which those pairs are. Output is
    * identical to the uncollapsed form: members share their rep's exact
    * vector, so every expanded pair's cosine equals the formula value
    * the all-pairs oracle computes. Cluster-membership arrays are
    * bounded by duplicate multiplicity; at extreme multiplicities the
    * pair FORM is inherently quadratic in cluster size (an n-copy
    * cluster IS n(n−1)/2 pairs) and the family's cluster form is the
    * production deliverable — same adjudication as dedup_simhash_pairs. */
  private[graft] def nearDupPairsFrom(qnIn: DataFrame, tau: Double): DataFrame = {
    val grouped = qnIn.groupBy("q", "nsq")
      .agg(min("vec_id").as("rep"), collect_list("vec_id").as("members"))
      .localCheckpoint(false)
    // pure column-prune of the staged frame — re-deriving it per
    // consumer is free, a second checkpoint is not
    val qn = grouped.select(col("rep").as("vec_id"), col("q"), col("nsq"))
    val sig = lshSignaturesFrom(qn).localCheckpoint(false)
    val buckets = sig
      .select(col("vec_id"), col("signature"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bucket",
        expr(s"shiftright(signature, band * $bandBits) & ${(1 << bandBits) - 1}"))
      .drop("signature")
    val cand = buckets.select(col("band"), col("bucket"), col("vec_id").as("a"))
      .join(buckets.select(col("band"), col("bucket"), col("vec_id").as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val repPairs = cand
      .join(qn.select(col("vec_id").as("a"), col("q").as("qa"), col("nsq").as("na")), Seq("a"))
      .join(qn.select(col("vec_id").as("b"), col("q").as("qb"), col("nsq").as("nb")), Seq("b"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cosine") >= tau)
      .select("a", "b", "cosine")
    // cross-group expansion: every member of rep-a's group pairs with
    // every member of rep-b's group (groups are disjoint, so each
    // unordered id pair appears exactly once)
    val cross = repPairs
      .join(grouped.select(col("rep").as("a"), col("members").as("ma")), Seq("a"))
      .join(grouped.select(col("rep").as("b"), col("members").as("mb")), Seq("b"))
      .select(explode(col("ma")).as("x"), col("mb"), col("cosine"))
      .select(col("x"), explode(col("mb")).as("y"), col("cosine"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"), col("cosine"))
    // within-group pairs: n identical copies are n(n−1)/2 pairs at the
    // formula's own cosine of q with itself (exact-dup near-dups);
    // positional i<j combos emit each unordered pair once
    val within = grouped.filter(size(col("members")) > 1)
      .select(col("q"), col("nsq"),
        explode(expr(
          """flatten(transform(members, (x, i) ->
            |  transform(slice(members, i + 2, size(members)),
            |            y -> struct(x AS x, y AS y))))""".stripMargin)).as("p"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("q"), col("q")), col("nsq"), col("nsq")))
      .filter(col("cosine") >= tau)
      .select(least(col("p.x"), col("p.y")).as("a"),
        greatest(col("p.x"), col("p.y")).as("b"), col("cosine"))
    cross.unionByName(within).orderBy("a", "b")
  }

  def nearDupPairsSql(tau: Double = 0.9): String =
    s"""WITH $quantizedSql,
       |planted AS (
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM qn) AS vec_id,
       |         list_transform(generate_series(1, $dims),
       |           i -> qv[i] + CASE WHEN i = 1 THEN 1 ELSE 0 END) AS qv
       |  FROM qn WHERE vec_id < 8
       |),
       |plantedn AS (
       |  SELECT vec_id, qv,
       |         ${Portable.normSqSql("qv")} AS nsq
       |  FROM planted
       |),
       |corpus AS (
       |  SELECT vec_id, qv, nsq FROM qn
       |  UNION ALL SELECT vec_id, qv, nsq FROM plantedn
       |)
       |SELECT a.vec_id AS a, b.vec_id AS b,
       |       $abCosineSql AS cosine
       |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       |WHERE $abCosineSql >= $tau
       |ORDER BY a, b""".stripMargin

  /** INCREMENTAL embedding near-dup — the nightly-ingest shape for the
    * vector corpus (the embedding twin of Dedup.simhashIncremental):
    * only the DELTA batch probes the banded-LSH bucket index of the
    * full corpus; base×base pairs are never recomputed. The delta here
    * IS the self-planted batch of [[nearDupPairs]] (8 near-copies of
    * existing vectors appended past the corpus max id — exactly what a
    * nightly ingest of near-duplicates looks like), so the query also
    * proves end-to-end that a delta-only probe recovers every planted
    * pair through the bucketed path: candidates are (band, bucket)
    * equi-join rows with a delta side of |delta|, verification is exact
    * cosine ≥ τ. Pairs normalized (a < b); delta↔delta pairs (random
    * nudged vectors, cosine ≪ τ) fail verification. */
  def nearDupIncremental(spark: SparkSession, dir: String, tau: Double = 0.9): DataFrame = {
    val qnBase = quantized(spark, dir)
    val planted = qnBase.filter(col("vec_id") < 8)
      .crossJoin(broadcast(qnBase.agg((max("vec_id") + 1L).as("plant_base"))))
      .select((col("vec_id") + col("plant_base")).as("vec_id"),
        zip_with(col("q"), sequence(lit(0), lit(dims - 1)),
          (x, i) => x + when(i === 0, 1L).otherwise(0L)).as("q"))
      .withColumn("nsq", Portable.normSqQ(col("q")))
    // the full corpus = base ∪ delta; only the delta side probes it
    val qn = qnBase.unionByName(planted).localCheckpoint(false)
    val sig = lshSignaturesFrom(qn).localCheckpoint(false)
    val buckets = sig
      .select(col("vec_id"), col("signature"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bucket",
        expr(s"shiftright(signature, band * $bandBits) & ${(1 << bandBits) - 1}"))
      .drop("signature")
      .localCheckpoint(false) // read twice (delta slice + index side)
    // plant_base as a 1-row broadcast: "tonight's batch" = ids past the
    // base corpus maximum
    val base = qnBase.agg((max("vec_id") + 1L).as("plant_base"))
    val deltaB = buckets.crossJoin(broadcast(base))
      .filter(col("vec_id") >= col("plant_base"))
      .select(col("vec_id").as("d"), col("band"), col("bucket"))
    val cand = deltaB
      .join(buckets.select(col("band"), col("bucket"), col("vec_id").as("x")),
        Seq("band", "bucket"))
      .filter(col("d") =!= col("x"))
      .select(least(col("d"), col("x")).as("a"),
        greatest(col("d"), col("x")).as("b"))
      .distinct()
    cand
      .join(qn.select(col("vec_id").as("a"), col("q").as("qa"), col("nsq").as("na")), Seq("a"))
      .join(qn.select(col("vec_id").as("b"), col("q").as("qb"), col("nsq").as("nb")), Seq("b"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cosine") >= tau)
      .select("a", "b", "cosine")
      .orderBy("a", "b")
  }

  /** Oracle: exact all-pairs cosine over base ∪ planted, restricted to
    * pairs with at least one side in the delta (vec_id ≥ plant base) —
    * the incremental contract stated declaratively. */
  def nearDupIncrementalSql(tau: Double = 0.9): String =
    s"""WITH $quantizedSql,
       |planted AS (
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM qn) AS vec_id,
       |         list_transform(generate_series(1, $dims),
       |           i -> qv[i] + CASE WHEN i = 1 THEN 1 ELSE 0 END) AS qv
       |  FROM qn WHERE vec_id < 8
       |),
       |plantedn AS (
       |  SELECT vec_id, qv,
       |         ${Portable.normSqSql("qv")} AS nsq
       |  FROM planted
       |),
       |corpus AS (
       |  SELECT vec_id, qv, nsq FROM qn
       |  UNION ALL SELECT vec_id, qv, nsq FROM plantedn
       |)
       |SELECT a.vec_id AS a, b.vec_id AS b,
       |       $abCosineSql AS cosine
       |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       |WHERE (a.vec_id >= (SELECT max(vec_id) + 1 FROM qn)
       |       OR b.vec_id >= (SELECT max(vec_id) + 1 FROM qn))
       |  AND $abCosineSql >= $tau
       |ORDER BY a, b""".stripMargin

  /** IVF-style ANN: a deterministic coarse quantizer (centroids = the
    * first 16 vectors — a stand-in for trained k-means centroids; the
    * dataflow is identical), each vector assigned to its nearest
    * centroid cell; a query probes its nprobe=2 nearest cells and ranks
    * only those cells' members by exact cosine.
    *
    * Scale shape: assignment is a broadcast map-stage (corpus × 16
    * centroids); the search joins the probe list to the cell-partitioned
    * corpus on cell id — an equi-join, never a cross product. This is
    * the standard IVF layout for billion-vector corpora. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2,
              nCells: Int = 16): DataFrame = {
    val qn = quantized(spark, dir).localCheckpoint(false)
    val cents = qn.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("q").as("qc"), col("nsq").as("nc"))
    // the n nearest cells of each vector (cosine desc, cid asc tie-break)
    def nearest(vecs: DataFrame, n: Int): DataFrame =
      Portable.topK(vecs.crossJoin(broadcast(cents))
        .withColumn("ccos",
          Portable.cosine(Portable.dotQ(col("q"), col("qc")), col("nsq"), col("nc"))),
        Seq("vec_id"), desc("ccos"), "cid", lit(n))
    val cells = nearest(qn, 1)
      .select(col("vec_id").as("cand_id"), col("q").as("qb"), col("nsq").as("nb"),
        col("cid"))
      .localCheckpoint(false)
    // query side: nprobe nearest cells
    val probes = nearest(qn.filter(col("vec_id") < 8), nprobe)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nsq").as("na"),
        col("cid"))
    probes.join(cells, Seq("cid"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
      .select("query_id", "cand_id", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  def ivfTopKSql(k: Int = 5, nprobe: Int = 2, nCells: Int = 16): String =
    s"""WITH $quantizedSql,
       |cents AS (SELECT vec_id AS cid, qv AS qc, nsq AS nc FROM qn WHERE vec_id < $nCells),
       |assign AS (
       |  SELECT qn.vec_id, qn.qv, qn.nsq, c.cid,
       |         ${Portable.cosineSql(Portable.dotSql("qn.qv", "c.qc"), "qn.nsq", "c.nc")} AS ccos
       |  FROM qn CROSS JOIN cents c
       |),
       |ranked_assign AS (
       |  SELECT vec_id, qv, nsq, cid, ccos,
       |         ${Portable.rankSql("vec_id", "ccos DESC", "cid")} AS crn
       |  FROM assign
       |),
       |cells AS (SELECT vec_id AS cand_id, qv AS qb, nsq AS nb, cid
       |          FROM ranked_assign WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, qv AS qa, nsq AS na, cid
       |           FROM ranked_assign WHERE vec_id < 8 AND crn <= $nprobe),
       |scored AS (
       |  SELECT query_id, cand_id,
       |         ${Portable.cosineSql(Portable.dotSql("p.qa", "s.qb"), "p.na", "s.nb")} AS cosine
       |  FROM probes p JOIN cells s USING (cid)
       |  WHERE p.query_id <> s.cand_id
       |),
       |final_rank AS (
       |  SELECT query_id, cand_id, cosine,
       |         ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |  FROM scored
       |)
       |SELECT query_id, cand_id, cosine, rank FROM final_rank
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** ANN quality measurement as a first-class query: recall@k of the
    * LSH path against the exact brute-force top-k, per query. The
    * approximate path is the production plan; the exact side runs only
    * over the measurement panel (here the 8 fixed queries — at 100 TB
    * recall is always measured on a sampled panel exactly like this,
    * never the full corpus). The compare is a left join on
    * (query, candidate) + per-query counts; recall = hits/k is a
    * division of identical small integers → identical doubles. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    ExactPanels.recall(ExactPanels.cosine(spark, dir, k),
      annLsh(spark, dir, k).filter(col("query_id") < 8))

  def annRecallSql(k: Int = 5): String =
    s"""WITH exact AS (SELECT query_id, cand_id FROM (${cosineTopKSql(k)})),
       |approx AS (SELECT query_id, cand_id FROM (${annLshSql(k)}) WHERE query_id < 8)
       |${ExactPanels.recallSql}""".stripMargin

  /** IVF recall@k vs the exact brute-force top-k — the same
    * measurement surface as [[annRecall]] for the OTHER approximate
    * path, so both production ANN variants carry a first-class quality
    * query (nprobe tuning reads directly off this report). Same scale
    * posture: the exact side runs only over the fixed query panel. */
  def ivfRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    ExactPanels.recall(ExactPanels.cosine(spark, dir, k),
      ivfTopK(spark, dir, k).filter(col("query_id") < 8))

  def ivfRecallSql(k: Int = 5): String =
    s"""WITH exact AS (SELECT query_id, cand_id FROM (${cosineTopKSql(k)})),
       |approx AS (SELECT query_id, cand_id FROM (${ivfTopKSql(k)}) WHERE query_id < 8)
       |${ExactPanels.recallSql}""".stripMargin

  /** Matryoshka (MRL) truncation quality as a first-class query:
    * recall@k of brute-force search over the FIRST `prefixDims`
    * dimensions against the exact full-dimension top-k. MRL-trained
    * embeddings pack the most information into leading dims, so
    * truncated storage/search (¼ the bytes and FLOPs here) is the
    * standard embedding-cost lever — and this report is the number
    * that decides how far to truncate, exactly like [[annRecall]]
    * decides LSH parameters. Prefix vectors are `slice`s of the same
    * quantized integers (norms recomputed over the prefix), so both
    * engines compute the identical truncated cosine; same panel
    * posture: exact side only over the 8 fixed queries.
    *
    * On the harness's ISOTROPIC random embeddings the measured recall
    * sits near the k/N chance floor (prefix dims of a random vector
    * carry no privileged information) — which is precisely the report
    * working: it is the number that PROVES a given embedding family
    * tolerates truncation before anyone ships quarter-width vectors,
    * and random vectors don't. */
  def mrlRecall(spark: SparkSession, dir: String, k: Int = 5,
                prefixDims: Int = 16): DataFrame = {
    val exact = ExactPanels.cosine(spark, dir, k)
    val pq = quantized(spark, dir)
      .select(col("vec_id"), slice(col("q"), 1, prefixDims).as("pq"))
      .withColumn("pnsq", Portable.normSqQ(col("pq")))
    val queries = pq.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("pq").as("qa"), col("pnsq").as("na"))
    val corpus = pq.select(col("vec_id").as("cand_id"), col("pq").as("qb"), col("pnsq").as("nb"))
    val approx = corpus.join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
    ExactPanels.recall(exact, approx)
  }

  def mrlRecallSql(k: Int = 5, prefixDims: Int = 16): String = {
    val pcos = Portable.cosineSql(Portable.dotSql("a.pq", "b.pq", prefixDims), "a.pnsq", "b.pnsq")
    s"""WITH $quantizedSql,
       |pq AS (
       |  SELECT vec_id, list_slice(qv, 1, $prefixDims) AS pq,
       |         ${Portable.normSqSql(s"list_slice(qv, 1, $prefixDims)")} AS pnsq
       |  FROM qn
       |),
       |approx AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |           ${Portable.rankSql("a.vec_id", s"$pcos DESC", "b.vec_id")} AS rank
       |    FROM pq a JOIN pq b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 8)
       |  WHERE rank <= $k
       |),
       |exact AS (SELECT query_id, cand_id FROM (${cosineTopKSql(k)}))
       |${ExactPanels.recallSql}""".stripMargin
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k highest-cosine candidates whose `label` DIFFERS from
    * the query's — the negatives a contrastive loss learns the most
    * from. Same plan shape as [[cosineTopK]]: the tiny query panel
    * broadcasts, the corpus streams through one scoring map stage, and
    * `rank <= k` over the per-query row_number window plans as
    * WindowGroupLimit (bounded partial+final top-k before the shuffle —
    * never a global sort). The label inequality rides the broadcast
    * join condition, so mismatched-label candidates are dropped before
    * scoring; at 100 TB the corpus side is still a single pass. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val qn = t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), col("label"),
        Portable.quantize(col("embedding")).as("q"))
      .withColumn("nsq", Portable.normSqQ(col("q")))
    val queries = qn.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("q").as("qa"), col("nsq").as("na"))
    val corpus = qn.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
      col("q").as("qb"), col("nsq").as("nb"))
    corpus.join(broadcast(queries), col("cand_label") =!= col("query_label"))
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
      .select(col("query_id"), col("query_label").cast("long").as("query_label"),
        col("cand_id"), col("cand_label").cast("long").as("cand_label"), col("cosine"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  def hardNegativesSql(k: Int = 10): String =
    s"""WITH $quantizedSql,
       |scored AS (
       |  SELECT a.vec_id AS query_id, la.label::BIGINT AS query_label,
       |         b.vec_id AS cand_id, lb.label::BIGINT AS cand_label,
       |         $abCosineSql AS cosine
       |  FROM qn a JOIN embeddings la ON la.vec_id = a.vec_id
       |  JOIN embeddings lb ON lb.label <> la.label
       |  JOIN qn b ON b.vec_id = lb.vec_id
       |  WHERE a.vec_id < 8
       |),
       |ranked AS (
       |  SELECT query_id, query_label, cand_id, cand_label, cosine,
       |         ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |  FROM scored
       |)
       |SELECT query_id, query_label, cand_id, cand_label, cosine, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Binary quantization with asymmetric rerank — the 1-bit-per-dim
    * compression point of the ANN family (the production pattern behind
    * Cohere/Qdrant/Weaviate "BQ + rescore"): each vector stores only its
    * 64 sign bits, packed into two 32-bit words (two BIGINT-safe halves —
    * the top bit of a single 64-bit word would be sign-ambiguous across
    * engines). Search is a Hamming scan (2× xor+popcount per candidate —
    * the cheapest distance there is) for a shortlist of `s`, then an
    * exact-cosine rerank of the shortlist only.
    *
    * Scale shape: codes are 8 BYTES per vector — 32× smaller than fp32,
    * small enough to pin the whole index in memory at 100 TB corpus
    * scale. The scan is a map over codes with the broadcast panel; the
    * rerank fetches full vectors for ≤ s·|panel| candidates via one
    * equi-join. The corpus never shuffles, and the full-precision
    * vectors are touched only s/N of the time — the asymmetric part. */
  private val bqShortlist = 32

  /** The two packed sign words (dims lo+1..lo+32, bit b = dim lo+b+1>0) —
    * statically unrolled so the whole pack stays codegen'd arithmetic. */
  private def bqWord(q: Column, lo: Int): Column =
    (0 until 32).map(b =>
      when(element_at(q, lo + b + 1) > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def bqCodes(qn0: DataFrame): DataFrame =
    qn0.select(col("vec_id"), bqWord(col("q"), 0).as("w0"),
      bqWord(col("q"), 32).as("w1"))

  def bqTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn0 = quantized(spark, dir).localCheckpoint(false)
    val codes = bqCodes(qn0)
    val panel = codes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("w0").as("p0"), col("w1").as("p1"))
    val short = codes.crossJoin(broadcast(panel))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("hamming",
        (bit_count(col("w0").bitwiseXOR(col("p0"))) +
          bit_count(col("w1").bitwiseXOR(col("p1")))).cast("long"))
      .transform(Portable.topK(_, Seq("query_id"), col("hamming"), "vec_id", lit(bqShortlist)))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("hamming"))
    // asymmetric rerank: ONLY the shortlist pays a full-vector fetch
    val qa = qn0.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nsq").as("na"))
    val qb = qn0.select(col("vec_id").as("cand_id"), col("q").as("qb"), col("nsq").as("nb"))
    short.join(qb, "cand_id").join(broadcast(qa), "query_id")
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
      .select("query_id", "cand_id", "hamming", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  /** Recall@k of the BQ-shortlist+rerank path against exact cosine — the
    * gate that prices the 32× memory saving, beside the LSH/IVF/PQ gates. */
  def bqRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    ExactPanels.recall(ExactPanels.cosine(spark, dir, k),
      bqTopK(spark, dir, k))

  private def bqCodesSql: String = {
    def word(lo: Int): String =
      s"""CAST(list_sum(list_transform(generate_series(1, 32),
         |           i -> CASE WHEN qv[i + $lo] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT)""".stripMargin
    s"""codes AS (
       |  SELECT vec_id,
       |         ${word(0)} AS w0,
       |         ${word(32)} AS w1
       |  FROM q)""".stripMargin
  }

  def bqTopKSql(k: Int = 5): String =
    s"""WITH $quantizedSql,
       |$bqCodesSql,
       |ham AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
       |         CAST(bit_count(xor(p.w0, c.w0)) + bit_count(xor(p.w1, c.w1)) AS BIGINT) AS hamming
       |  FROM codes c JOIN codes p ON p.vec_id < 8 AND p.vec_id <> c.vec_id),
       |short AS (
       |  SELECT query_id, cand_id, hamming FROM (
       |    SELECT *, ${Portable.rankSql("query_id", "hamming", "cand_id")} AS rn
       |    FROM ham) WHERE rn <= $bqShortlist),
       |rerank AS (
       |  SELECT s.query_id, s.cand_id, s.hamming,
       |         $abCosineSql AS cosine
       |  FROM short s JOIN qn a ON a.vec_id = s.query_id
       |  JOIN qn b ON b.vec_id = s.cand_id)
       |SELECT query_id, cand_id, hamming, cosine, rank FROM (
       |  SELECT query_id, cand_id, hamming, cosine,
       |         ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |  FROM rerank)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def bqRecallSql(k: Int = 5): String =
    s"""WITH $quantizedSql,
       |$bqCodesSql,
       |ham AS (
       |  SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
       |         CAST(bit_count(xor(p.w0, c.w0)) + bit_count(xor(p.w1, c.w1)) AS BIGINT) AS hamming
       |  FROM codes c JOIN codes p ON p.vec_id < 8 AND p.vec_id <> c.vec_id),
       |short AS (
       |  SELECT query_id, cand_id, hamming FROM (
       |    SELECT *, ${Portable.rankSql("query_id", "hamming", "cand_id")} AS rn
       |    FROM ham) WHERE rn <= $bqShortlist),
       |rerank AS (
       |  SELECT s.query_id, s.cand_id,
       |         $abCosineSql AS cosine
       |  FROM short s JOIN qn a ON a.vec_id = s.query_id
       |  JOIN qn b ON b.vec_id = s.cand_id),
       |approx AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |           ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |    FROM rerank) WHERE rank <= $k),
       |exact AS (${ExactPanels.cosineSql(k)})
       |${ExactPanels.recallSql}""".stripMargin

  /** Composed IVF + binary quantization — the third member of the
    * composition matrix beside IVF×PQ-raw (sim_ivfpq) and IVF×PQ-residual
    * (sim_ivfadc): the trained IVF quantizer prunes to `nprobe` cells,
    * the 8-byte sign codes Hamming-shortlist WITHIN those cells, and the
    * exact rerank touches full vectors only for the shortlist — the
    * binary-IVF shape (FAISS's binary IVF / "BQ + rescore over an ANN
    * index"). At 100 TB the stored index is (cell, 8-byte code) per
    * vector partitioned by cell; a query scans nprobe/K of it at
    * 2×xor+popcount per candidate, the cheapest composed scan on the
    * board. */
  def ivfBqTopK(spark: SparkSession, dir: String, k: Int = 5,
                nprobe: Int = 2): DataFrame = {
    val (corpus, cent) = Clustering.train(spark, dir)
    val codes = bqCodes(corpus)
    // the stored index: (cell, sign code) per vector
    val celled = codes
      .join(Clustering.assign(corpus, cent).select(col("vec_id"), col("cid")), "vec_id")
      .localCheckpoint(false)
    val probes = Clustering.probes(corpus, cent, nprobe)
      .select(col("vec_id").as("query_id"), col("probe").getField("cid").as("cid"))
    val panel = probes.join(
      codes.select(col("vec_id").as("query_id"), col("w0").as("p0"), col("w1").as("p1")),
      "query_id") // ≤ 8·nprobe rows
    val short = celled.join(broadcast(panel), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("hamming",
        (bit_count(col("w0").bitwiseXOR(col("p0"))) +
          bit_count(col("w1").bitwiseXOR(col("p1")))).cast("long"))
      .transform(Portable.topK(_, Seq("query_id"), col("hamming"), "vec_id", lit(bqShortlist)))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("hamming"))
    val qa = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nsq").as("na"))
    val qb = corpus.select(col("vec_id").as("cand_id"), col("q").as("qb"), col("nsq").as("nb"))
    short.join(qb, "cand_id").join(broadcast(qa), "query_id")
      .withColumn("cosine",
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
      .select("query_id", "cand_id", "hamming", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  /** Recall@k of the IVF×BQ path against exact cosine — with
    * [[bqRecall]] it separates the cell-pruning loss from the sign-code
    * loss, the same two-gate decomposition as sim_ivfpq vs sim_pq. */
  def ivfBqRecall(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    ExactPanels.recall(ExactPanels.cosine(spark, dir, k),
      ivfBqTopK(spark, dir, k))

  private def ivfBqCtes(nprobe: Int): String =
    s"""$quantizedSql,
       |${Clustering.kmeansCtesNoQuantize},
       |$bqCodesSql,
       |${Clustering.probesSql(nprobe)},
       |panel AS (
       |  SELECT p.query_id, p.cid, c.w0 AS p0, c.w1 AS p1
       |  FROM probes p JOIN codes c ON c.vec_id = p.query_id),
       |celled AS (
       |  SELECT c.vec_id, f.cid, c.w0, c.w1
       |  FROM codes c JOIN fin f ON f.vec_id = c.vec_id),
       |ham AS (
       |  SELECT pa.query_id, ce.vec_id AS cand_id,
       |         CAST(bit_count(xor(pa.p0, ce.w0)) + bit_count(xor(pa.p1, ce.w1)) AS BIGINT) AS hamming
       |  FROM celled ce JOIN panel pa ON pa.cid = ce.cid AND ce.vec_id <> pa.query_id),
       |short AS (
       |  SELECT query_id, cand_id, hamming FROM (
       |    SELECT *, ${Portable.rankSql("query_id", "hamming", "cand_id")} AS rn
       |    FROM ham) WHERE rn <= $bqShortlist),
       |rerank AS (
       |  SELECT s.query_id, s.cand_id, s.hamming,
       |         $abCosineSql AS cosine
       |  FROM short s JOIN qn a ON a.vec_id = s.query_id
       |  JOIN qn b ON b.vec_id = s.cand_id),
       |ivfbq_ranked AS (
       |  SELECT query_id, cand_id, hamming, cosine,
       |         ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |  FROM rerank)""".stripMargin

  def ivfBqTopKSql(k: Int = 5, nprobe: Int = 2): String =
    s"""WITH ${ivfBqCtes(nprobe)}
       |SELECT query_id, cand_id, hamming, cosine, rank FROM ivfbq_ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def ivfBqRecallSql(k: Int = 5, nprobe: Int = 2): String =
    s"""WITH ${ivfBqCtes(nprobe)},
       |exact AS (${ExactPanels.cosineSql(k)}),
       |approx AS (
       |  SELECT query_id, cand_id FROM ivfbq_ranked WHERE rank <= $k)
       |${ExactPanels.recallSql}""".stripMargin

  /** Bit width of the multi-probe bucket key (the low bits of the
    * 16-plane signature). The full 16-bit key is sim_ann_lsh's
    * high-precision/low-recall operating point — on this corpus its
    * buckets are so selective that BOTH probe strategies measure 0
    * recall (sim_ann_recall documents that); the 8-bit key is the wider
    * operating point where the single-vs-multi lift is actually
    * measurable, which is the point of this report. */
  private val probeBits = 8

  /** Multi-probe LSH (Lv et al. 2007): a query probes its own bucket
    * PLUS the [[probeBits]] single-bit-flip neighbor buckets — the
    * standard recall lever that costs probe fan-out instead of extra
    * index storage (more hash tables would multiply the 100 TB index
    * size; multi-probe multiplies only the per-query lookups, here 9,
    * all on the 8-row panel side — the corpus/index side is untouched).
    * The report pairs single-probe and multi-probe recall@k against the
    * exact top-k per query, so the probe budget is tuned off one gated
    * number, exactly like nprobe off sim_ivf_recall. Dataflow: panel
    * explodes 9×, equi-join on the probe bucket, DISTINCT collapses
    * candidates reached via several probes, exact cosine re-ranks. */
  def annMultiprobe(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn0 = quantized(spark, dir).localCheckpoint(false)
    val mask = (1L << probeBits) - 1
    val side = qn0.join(lshSignaturesFrom(qn0), "vec_id")
      .withColumn("bucket", col("signature").bitwiseAND(lit(mask)))
      .localCheckpoint(false)
    val corpus = side.select(col("vec_id").as("cand_id"), col("q").as("qb"),
      col("nsq").as("nb"), col("bucket").as("probe"))
    // both arms share the SAME 8-bit key so the report isolates the
    // probing strategy, not a key-width change
    def topOf(panel: DataFrame, hit: String): DataFrame =
      panel.join(corpus, Seq("probe"))
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
        .distinct() // candidates reachable via several probes collapse
        .transform(Portable.topK(_, Seq("query_id"), desc("cosine"), "cand_id", lit(k)))
        .select(col("query_id"), col("cand_id"), lit(1L).as(hit))
    val panelBase = side.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("nsq").as("na"), col("bucket"))
    val multiTop = topOf(panelBase.select(col("query_id"), col("qa"), col("na"),
      explode(array(col("bucket") +: (0 until probeBits).map(p =>
        col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("probe")), "h_multi")
    val singleTop = topOf(panelBase.withColumnRenamed("bucket", "probe"), "h_single")
    val exact = ExactPanels.cosine(spark, dir, k)
    exact
      .join(singleTop, Seq("query_id", "cand_id"), "left")
      .join(multiTop, Seq("query_id", "cand_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("h_single"), lit(0L))).as("n_hits_single"),
        sum(coalesce(col("h_multi"), lit(0L))).as("n_hits_multi"))
      .withColumn("recall_single",
        col("n_hits_single").cast("double") / col("n_exact").cast("double"))
      .withColumn("recall_multi",
        col("n_hits_multi").cast("double") / col("n_exact").cast("double"))
      .orderBy("query_id")
  }

  def annMultiprobeSql(k: Int = 5): String =
    s"""WITH $quantizedSql,
       |$signatureSqlCte,
       |side AS (
       |  SELECT qn.vec_id, qv, nsq, signature & ${(1L << probeBits) - 1} AS bucket
       |  FROM qn JOIN sig ON qn.vec_id = sig.vec_id),
       |probes AS (
       |  SELECT vec_id AS query_id, qv, nsq,
       |         CASE WHEN pp.p = -1 THEN bucket
       |              ELSE xor(bucket, (1::BIGINT << pp.p)) END AS probe
       |  FROM side, (SELECT unnest(generate_series(-1, ${probeBits - 1})) AS p) pp
       |  WHERE vec_id < 8
       |),
       |multi AS (
       |  SELECT DISTINCT a.query_id, b.vec_id AS cand_id,
       |         $abCosineSql AS cosine
       |  FROM probes a JOIN side b ON b.bucket = a.probe AND b.vec_id <> a.query_id
       |),
       |multitop AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT query_id, cand_id,
       |           ${Portable.rankSql("query_id", "cosine DESC", "cand_id")} AS rank
       |    FROM multi) WHERE rank <= $k
       |),
       |singletop AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
       |           ${Portable.rankSql("a.vec_id", s"$abCosineSql DESC", "b.vec_id")} AS rank
       |    FROM side a JOIN side b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 8) WHERE rank <= $k
       |),
       |exact AS (${ExactPanels.cosineSql(k)})
       |SELECT e.query_id, count(*) AS n_exact,
       |       CAST(sum(CASE WHEN s.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_single,
       |       CAST(sum(CASE WHEN m.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_multi,
       |       CAST(sum(CASE WHEN s.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS recall_single,
       |       CAST(sum(CASE WHEN m.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS recall_multi
       |FROM exact e
       |LEFT JOIN singletop s ON e.query_id = s.query_id AND e.cand_id = s.cand_id
       |LEFT JOIN multitop m ON e.query_id = m.query_id AND e.cand_id = m.cand_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  /** Budget-recall CURVE for multi-probe LSH: recall@k at probe budgets
    * = all buckets within Hamming radius r of the query's own bucket,
    * r ∈ {0, 1, 2} → 1 / 9 / 37 probes on the 8-bit key. One row per
    * budget (micro recall over the whole panel), so the gate pins the
    * curve an operator tunes against, not a single point —
    * [[annMultiprobe]] keeps the per-query paired view at r ∈ {0, 1}.
    * Probe cost stays panel-side: 8 queries × ≤37 probes explode before
    * the bucket equi-join; the corpus/index side is untouched, exactly
    * the 100 TB posture of the parent query. */
  def annProbeCurve(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qn0 = quantized(spark, dir).localCheckpoint(false)
    val mask = (1L << probeBits) - 1
    val side = qn0.join(lshSignaturesFrom(qn0), "vec_id")
      .withColumn("bucket", col("signature").bitwiseAND(lit(mask)))
      .localCheckpoint(false)
    val corpus = side.select(col("vec_id").as("cand_id"), col("q").as("qb"),
      col("nsq").as("nb"), col("bucket").as("probe"))
    // (budget, xor-mask) pairs: every mask of Hamming weight w serves all
    // budgets >= w — 1 + 9 + 37 = 47 probe rows per panel query
    val weighted: Seq[(Int, Long)] =
      Seq((0, 0L)) ++ (0 until probeBits).map(i => (1, 1L << i)) ++
        (for { i <- 0 until probeBits; j <- (i + 1) until probeBits }
          yield (2, (1L << i) | (1L << j)))
    val probeDefs = for { b <- Seq(0, 1, 2); (w, m) <- weighted if w <= b }
      yield (b, m)
    val nProbes: Map[Int, Int] = probeDefs.groupBy(_._1).map { case (b, s) => b -> s.size }
    val panel = side.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("nsq").as("na"), col("bucket"))
      .withColumn("bm", explode(array(probeDefs.map { case (b, m) =>
        struct(lit(b).as("budget"), lit(m).as("mask")) }: _*)))
      .select(col("query_id"), col("qa"), col("na"),
        col("bm.budget").as("budget"),
        col("bucket").bitwiseXOR(col("bm.mask")).as("probe"))
    val top = panel.join(corpus, Seq("probe"))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("budget"), col("query_id"), col("cand_id"),
        Portable.cosine(Portable.dotQ(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
      .distinct() // candidates reachable via several probes collapse
      .transform(Portable.topK(_, Seq("budget", "query_id"), desc("cosine"), "cand_id",
        lit(k)))
    val exact = ExactPanels.cosine(spark, dir, k)
    val budgets = Seq(0, 1, 2).map(b =>
        struct(lit(b).as("budget"), lit(nProbes(b).toLong).as("n_probes")))
    ExactPanels.recall(
      exact.crossJoin(broadcast(
        spark.range(1).select(explode(array(budgets: _*)).as("b"))
          .select(col("b.budget").as("budget"), col("b.n_probes").as("n_probes")))),
      top, Seq("budget", "query_id", "cand_id"), Seq("budget", "n_probes"))
  }

  def annProbeCurveSql(k: Int = 5): String =
    s"""WITH $quantizedSql,
       |$signatureSqlCte,
       |side AS (
       |  SELECT qn.vec_id, qv, nsq, signature & ${(1L << probeBits) - 1} AS bucket
       |  FROM qn JOIN sig ON qn.vec_id = sig.vec_id),
       |masks AS (
       |  SELECT 0 AS w, 0::BIGINT AS mask
       |  UNION ALL
       |  SELECT 1, (1::BIGINT << i.i)
       |  FROM (SELECT unnest(generate_series(0, ${probeBits - 1})) AS i) i
       |  UNION ALL
       |  SELECT 2, (1::BIGINT << i.i) | (1::BIGINT << j.j)
       |  FROM (SELECT unnest(generate_series(0, ${probeBits - 1})) AS i) i,
       |       (SELECT unnest(generate_series(0, ${probeBits - 1})) AS j) j
       |  WHERE i.i < j.j),
       |budgets AS (
       |  SELECT b.budget, (SELECT count(*) FROM masks m WHERE m.w <= b.budget) AS n_probes
       |  FROM (SELECT unnest([0, 1, 2]) AS budget) b),
       |probes AS (
       |  SELECT b.budget, s.vec_id AS query_id, s.qv, s.nsq,
       |         xor(s.bucket, m.mask) AS probe
       |  FROM side s, budgets b, masks m
       |  WHERE m.w <= b.budget AND s.vec_id < 8),
       |cand AS (
       |  SELECT DISTINCT a.budget, a.query_id, b.vec_id AS cand_id,
       |         $abCosineSql AS cosine
       |  FROM probes a JOIN side b ON b.bucket = a.probe AND b.vec_id <> a.query_id),
       |top AS (
       |  SELECT budget, query_id, cand_id FROM (
       |    SELECT budget, query_id, cand_id,
       |           ${Portable.rankSql("budget, query_id", "cosine DESC", "cand_id")} AS rank
       |    FROM cand) WHERE rank <= $k),
       |exact AS (${ExactPanels.cosineSql(k)})
       |SELECT b.budget, b.n_probes, count(*) AS n_exact,
       |       CAST(sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       CAST(sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS recall
       |FROM budgets b CROSS JOIN exact e
       |LEFT JOIN top t ON t.budget = b.budget AND t.query_id = e.query_id
       |  AND t.cand_id = e.cand_id
       |GROUP BY b.budget, b.n_probes ORDER BY b.budget""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ann_multiprobe" -> ((s, d) => annMultiprobe(s, d)),
    "sim_ann_probe_curve" -> ((s, d) => annProbeCurve(s, d)),
    "sim_bq_topk" -> ((s, d) => bqTopK(s, d)),
    "sim_bq_recall" -> ((s, d) => bqRecall(s, d)),
    "sim_ivfbq_topk" -> ((s, d) => ivfBqTopK(s, d)),
    "sim_ivfbq_recall" -> ((s, d) => ivfBqRecall(s, d)),
    "sim_ivf_topk" -> ((s, d) => ivfTopK(s, d)),
    "sim_cosine_topk" -> ((s, d) => cosineTopK(s, d)),
    "sim_lsh_signatures" -> lshSignatures,
    "sim_ann_lsh" -> ((s, d) => annLsh(s, d)),
    "sim_ann_recall" -> ((s, d) => annRecall(s, d)),
    "sim_ivf_recall" -> ((s, d) => ivfRecall(s, d)),
    "sim_mrl_recall" -> ((s, d) => mrlRecall(s, d)),
    "sim_neardup_pairs" -> ((s, d) => nearDupPairs(s, d)),
    "sim_neardup_incremental" -> ((s, d) => nearDupIncremental(s, d)),
    "sim_hard_negatives" -> ((s, d) => hardNegatives(s, d)))

  val oracles: Map[String, String] = Map(
    "sim_ann_multiprobe" -> annMultiprobeSql(),
    "sim_ann_probe_curve" -> annProbeCurveSql(),
    "sim_bq_topk" -> bqTopKSql(),
    "sim_bq_recall" -> bqRecallSql(),
    "sim_ivfbq_topk" -> ivfBqTopKSql(),
    "sim_ivfbq_recall" -> ivfBqRecallSql(),
    "sim_ivf_topk" -> ivfTopKSql(),
    "sim_cosine_topk" -> cosineTopKSql(),
    "sim_lsh_signatures" -> lshSignaturesSql,
    "sim_ann_lsh" -> annLshSql(),
    "sim_ann_recall" -> annRecallSql(),
    "sim_ivf_recall" -> ivfRecallSql(),
    "sim_mrl_recall" -> mrlRecallSql(),
    "sim_neardup_pairs" -> nearDupPairsSql(),
    "sim_neardup_incremental" -> nearDupIncrementalSql(),
    "sim_hard_negatives" -> hardNegativesSql())
}
