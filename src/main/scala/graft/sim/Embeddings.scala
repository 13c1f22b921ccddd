package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Tables.t
import graft.functions.Portable

/** Embedding-column maintenance operators: int8 quantization (the
  * storage/serving format for billion-vector ANN indexes) — plus, in
  * GraphOps, the rank propagation a content-graph pipeline runs over
  * linked documents.
  *
  * Exactness: floats are first fixed-point-quantized (Portable.quantize,
  * exact BIGINTs); the int8 code is floor(q*127/maxabs + 0.5) where the
  * division happens on identical doubles in both engines (IEEE
  * correctly-rounded, same order) — so every code, checksum and stat is
  * bit-identical cross-engine.
  */
object Embeddings {

  /** Symmetric int8 quantization of the 64-d embedding column:
    * per-vector max-abs scale, codes in [-127, 127], with integer
    * summaries (sum / L1 / min / max of the codes) that make the whole
    * codebook hash-comparable. Pure per-row map stage over a
    * column-pruned scan — the 100 TB shape is one pass, no shuffle. */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val q = Portable.quantize(col("embedding"))
    t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), q.as("q"))
      .withColumn("maxabs_q",
        array_max(transform(col("q"), x => abs(x))))
      .filter(col("maxabs_q") > 0) // all-zero vectors have no scale
      .withColumn("q8", transform(col("q"),
        x => floor(x.cast("double") * 127d / col("maxabs_q").cast("double") + 0.5d)
          .cast("long")))
      .select(
        col("vec_id"), col("maxabs_q"),
        size(col("q8")).cast("long").as("n_dims"),
        aggregate(col("q8"), lit(0L), (a, v) => a + v).as("sum_q8"),
        aggregate(col("q8"), lit(0L), (a, v) => a + abs(v)).as("l1_q8"),
        array_min(col("q8")).as("min_q8"),
        array_max(col("q8")).as("max_q8"))
      .orderBy("vec_id")
  }

  val int8QuantizeSql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |         ${Portable.quantizeSql("embedding")} AS q
      |  FROM embeddings
      |), scaled AS (
      |  SELECT vec_id, q,
      |         list_max(list_transform(q, x -> abs(x))) AS maxabs_q
      |  FROM q
      |), codes AS (
      |  SELECT vec_id, maxabs_q,
      |         list_transform(q, x -> CAST(floor(CAST(x AS DOUBLE) * CAST(127 AS DOUBLE) / CAST(maxabs_q AS DOUBLE) + 0.5) AS BIGINT)) AS q8
      |  FROM scaled WHERE maxabs_q > 0
      |)
      |SELECT vec_id, maxabs_q,
      |       len(q8)::BIGINT AS n_dims,
      |       CAST(list_sum(q8) AS BIGINT) AS sum_q8,
      |       CAST(list_sum(list_transform(q8, x -> abs(x))) AS BIGINT) AS l1_q8,
      |       list_min(q8) AS min_q8,
      |       list_max(q8) AS max_q8
      |FROM codes ORDER BY vec_id""".stripMargin

  /** Pairwise cosine similarity between per-label centroids — the
    * class-separation report under every labeled-embedding audit
    * (are the classes collapsing? is a new labeling drift-merging two
    * of them?). The centroid DIRECTION is the exact integer per-dim
    * sum Σq (cosine is scale-invariant in each argument, so the 1/n
    * normalization never materializes — no rational centroid); dots
    * and norms are exact BIGINTs, the final cosine one shared IEEE
    * tree. Scale shape: one posexplode pass partial+final-aggregated
    * to |labels|×64 cells; everything after is label-cardinality. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val cells = t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("label").cast("long").as("label"),
        posexplode(Portable.quantize(col("embedding"))).as(Seq("i", "qi")))
      .groupBy("label", "i").agg(sum("qi").as("s"), count(lit(1)).as("n"))
      .localCheckpoint(false) // label-cardinality model; feeds norms and the pair join
    val norms = cells.groupBy("label")
      .agg(sum(col("s") * col("s")).as("nsq"), max("n").as("n_vecs"))
    val pairs = cells.select(col("label").as("la"), col("i"), col("s").as("sa"))
      .join(cells.select(col("label").as("lb"), col("i"), col("s").as("sb")), Seq("i"))
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb").agg(sum(col("sa") * col("sb")).as("dot"))
    pairs
      .join(norms.select(col("label").as("la"), col("nsq").as("na"),
        col("n_vecs").as("n_a")), Seq("la"))
      .join(norms.select(col("label").as("lb"), col("nsq").as("nb"),
        col("n_vecs").as("n_b")), Seq("lb"))
      .select(col("la"), col("lb"), col("n_a"), col("n_b"), col("dot"),
        Portable.cosine(col("dot"), col("na"), col("nb")).as("cos"))
      .orderBy("la", "lb")
  }

  val labelCentroidsSql: String =
    s"""WITH q AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |         ${Portable.quantizeSql("embedding")} AS qv
      |  FROM embeddings
      |), cells AS (
      |  SELECT label, i.i AS i, CAST(sum(qv[i.i]) AS BIGINT) AS s,
      |         count(*) AS n
      |  FROM q, generate_series(1, 64) i(i) GROUP BY 1, 2
      |), norms AS (
      |  SELECT label, CAST(sum(s * s) AS BIGINT) AS nsq, max(n) AS n_vecs
      |  FROM cells GROUP BY label
      |), pairs AS (
      |  SELECT a.label AS la, b.label AS lb, CAST(sum(a.s * b.s) AS BIGINT) AS dot
      |  FROM cells a JOIN cells b ON a.i = b.i AND a.label < b.label
      |  GROUP BY 1, 2
      |)
      |SELECT p.la, p.lb, nna.n_vecs AS n_a, nnb.n_vecs AS n_b, p.dot,
      |       ${Portable.cosineSql("p.dot", "nna.nsq", "nnb.nsq")} AS cos
      |FROM pairs p
      |JOIN norms nna ON p.la = nna.label
      |JOIN norms nnb ON p.lb = nnb.label
      |ORDER BY la, lb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_embed_quantize" -> int8Quantize,
    "sim_label_centroids" -> labelCentroids)

  val oracles: Map[String, String] = Map(
    "sim_embed_quantize" -> int8QuantizeSql,
    "sim_label_centroids" -> labelCentroidsSql)
}

/** Iterative rank propagation (PageRank) as pure dataflow — the shape of
  * every link-analysis / popularity job a corpus pipeline runs: an edge
  * table, per-node out-degrees, and K join+aggregate rounds.
  *
  * Exactness across engines comes from SCALED-INTEGER arithmetic: ranks
  * are BIGINTs at scale 1e12 and every step is integer DIV / multiply /
  * SUM — order-independent, so Spark's partial aggregation and DuckDB's
  * serial sum agree bit-for-bit (a double-valued PageRank would diverge
  * in the last ulp from summation order alone).
  *
  * Scale: each round is one equi-join on src + one groupBy on dst —
  * the standard distributed PageRank layout; K is fixed (3), lineage is
  * cut per round.
  */
object GraphOps {

  private val S = 1000000000000L // rank scale

  /** Undirected part↔supplier graph from distinct lineitem pairs.
    * Node ids are INTEGER-encoded (part → 2k, supplier → 2k+1): every
    * per-round join and shuffle keys on a BIGINT instead of a string —
    * narrower exchanges and cheaper hashing, which is the whole cost of
    * the iteration at scale. */
  private[graft] def edges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "lineitem")
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("p").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("p").as("dst")))
  }

  private[graft] val edgesSql: String =
    """pairs AS (
      |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s FROM lineitem
      |), edges AS (
      |  SELECT p AS src, s AS dst FROM pairs
      |  UNION ALL
      |  SELECT s AS src, p AS dst FROM pairs
      |)""".stripMargin

  // ---------------------------------------------------------------------
  // Shared graph surface, memoized per (session, input) — optimization r16
  // ---------------------------------------------------------------------

  /** (pairs, edges, degrees), all lazily staged, memoized
    * ([[graft.Memo]]): ~20 graph-family queries derive from the SAME
    * distinct part↔supplier projection of lineitem and re-paid its scan
    * + DISTINCT exchange + materialization per query (~0.2–0.4 s each
    * at sf0.1). All three frames are lazy until the first consumer
    * materializes them. */
  private def shared(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    graft.Memo(spark, ("graph.shared", graft.Memo.input(dir))) {
      val pairs = t(spark, dir, "lineitem")
        .select(col("l_partkey").as("part"), col("l_suppkey").as("supp"))
        .distinct().localCheckpoint(false)
      val enc = pairs.select((col("part") * 2).as("p"),
        (col("supp") * 2 + 1).as("s"))
      val e = enc.select(col("p").as("src"), col("s").as("dst"))
        .unionAll(enc.select(col("s").as("src"), col("p").as("dst")))
        .localCheckpoint(false)
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(false)
      (pairs, e, deg)
    }

  /** The distinct (part, supp) membership projection, staged. */
  private[graft] def pairsStaged(spark: SparkSession, dir: String): DataFrame =
    shared(spark, dir)._1

  /** The integer-encoded undirected edge list, staged. */
  private[graft] def edgesStaged(spark: SparkSession, dir: String): DataFrame =
    shared(spark, dir)._2

  /** Per-src degree table over [[edgesStaged]] (src, deg), staged. Its
    * src column is the distinct node set — consumers that only need
    * node identities project it instead of re-paying a DISTINCT. */
  private[graft] def degrees(spark: SparkSession, dir: String): DataFrame =
    shared(spark, dir)._3

  /** Un-memoized core: the capped undirected co-purchase edge list and
    * the per-node triangle-end counts (n, tri), full lineage. */
  private[graft] def triCore(spark: SparkSession, dir: String,
                             maxPartDegree: Int): (DataFrame, DataFrame) = {
    val pairs = pairsStaged(spark, dir)
    val eligible = pairs.groupBy("part").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxPartDegree).select("part")
    val p2 = pairs.join(eligible, "part")
    val und = p2.select(col("part"), col("supp").as("u"))
      .join(p2.select(col("part"), col("supp").as("v")), "part")
      .filter(col("u") < col("v"))
      .select("u", "v").distinct().localCheckpoint(false)
    val edges = orientByDegree(und).localCheckpoint(false)
    val wedges = edges.select(col("u").as("a"), col("v").as("b"))
      .join(edges.select(col("u").as("b"), col("v").as("c")), "b")
    val tri = wedges.join(edges,
      wedges("a") === edges("u") && wedges("c") === edges("v"), "left_semi")
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    (und, tri)
  }

  /** (und, triPerNode) of the degree-capped supplier co-purchase
    * projection, memoized per cap beside [[shared]]: `graph_triangles`
    * and `graph_clustering_coeff` recomputed the identical projection +
    * degree orientation + wedge close per query (the two halves differ
    * only in the final aggregation). */
  private[graft] def triShared(spark: SparkSession, dir: String,
                               maxPartDegree: Int): (DataFrame, DataFrame) =
    graft.Memo(spark, ("graph.tri", graft.Memo.input(dir), maxPartDegree)) {
      val (und, tri) = triCore(spark, dir, maxPartDegree)
      (und, tri.localCheckpoint(false))
    }

  /** 3 rounds of scaled-integer PageRank (d=0.85), top-20 nodes.
    * r0 = S DIV N; r' = (15*S DIV 100) DIV N + 85 * Σ(r(u) DIV deg(u)) DIV 100. */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3, topN: Int = 20): DataFrame = {
    val e = edgesStaged(spark, dir) // reused every round
    val deg = degrees(spark, dir)
    val n = deg.count() // node count (every node has outdegree here)
    val baseRank = expr(s"${S}L DIV ${n}L")
    val teleport = expr(s"(15 * ${S}L DIV 100) DIV ${n}L")
    var ranks = deg.select(col("src").as("node"), baseRank.as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst"), expr("rank DIV deg").as("c"))
      ranks = contrib.groupBy("dst").agg(sum("c").as("in_sum"))
        .select(col("dst").as("node"),
          (teleport + expr("85 * in_sum DIV 100")).as("rank"))
      // no per-round checkpoint: K is small and fixed, so the whole
      // iteration executes as ONE job with K chained shuffles — a
      // materialization barrier per round costs more than the shallow
      // lineage it would cut (measured ~2× on the harness). An
      // open-ended iteration (convergence-driven) would need the cuts.
    }
    ranks.orderBy(desc("rank"), col("node")).limit(topN)
  }

  def pageRankSql(iters: Int = 3, topN: Int = 20): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         (15 * ${S} // 100) // n.n + 85 * sum(r.rank // d.deg) // 100 AS rank
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |       JOIN deg d ON e.src = d.src
         |       CROSS JOIN n
         |  GROUP BY e.dst, n.n
         |)"""
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |n AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, ${S} // n.n AS rank FROM deg CROSS JOIN n),
       |$rounds
       |SELECT node, CAST(rank AS BIGINT) AS rank
       |FROM r$iters ORDER BY rank DESC, node LIMIT $topN""".stripMargin
  }

  /** Triangle counting on the supplier co-part projection (two
    * suppliers are linked when they have shipped the same part) — the
    * standard clustering/motif signal the bipartite part↔supplier graph
    * cannot exhibit (bipartite graphs have no triangles). Parts above a
    * degree cap are dropped BEFORE the projection: a hub part with d
    * suppliers would emit d² projected edges, so the cap bounds the
    * projection exactly the way df caps bound the dedup candidate
    * joins — the documented trade of completeness-on-hubs for a
    * worst-case fanout bound.
    * Enumeration is the distributed node-iterator: edges oriented by
    * (degree, id) — each undirected edge points from its lower-degree
    * endpoint to its higher-degree one, ids breaking ties, so every
    * triangle is counted exactly once under the total order. Wedges come
    * from the oriented edge list self-joined on the middle vertex,
    * closed by a LEFT SEMI probe into the same edge list. All stages
    * are equi-joins; the edge list is materialized once and reused.
    *
    * WHY by-degree (Schank & Wagner 2005; Suri & Vassilvitskii 2011
    * "Counting triangles and the curse of the last reducer"): wedge
    * fanout at a middle vertex b is indeg(b)·outdeg(b). Under by-ID
    * orientation a hub with degree d and mid-range id splits d/2 in,
    * d/2 out → d²/4 wedge rows on ONE join key — the exact last-reducer
    * hot spot. Degree orientation bounds every node's out-degree by
    * O(√m) (a node of degree k > √m has < √m higher-degree neighbors on
    * average), so hub wedges collapse to d·O(√m) and the join key
    * distribution stays flat on power-law graphs. The harness fixture is
    * benign either way; TriangleOrientationSpec plants a hub and pins
    * the fanout difference. */
  def triangles(spark: SparkSession, dir: String,
                maxPartDegree: Int = 16, topN: Int = 20): DataFrame = {
    // per-node triangle counts shared with graph_clustering_coeff
    // (identical capped projection + orientation + wedge close)
    val (_, tri) = triShared(spark, dir, maxPartDegree)
    tri.select(col("n").as("supp"), col("tri").as("n_triangles"))
      .orderBy(desc("n_triangles"), col("supp"))
      .limit(topN)
  }

  /** Orient an undirected distinct edge list (u, v) by (degree, id):
    * each edge leaves its (deg, id)-smaller endpoint. Two node-table
    * equi-joins (the degree table is node-sized, orders smaller than the
    * edge list). Package-visible so TriangleOrientationSpec can measure
    * wedge fanout on a planted hub. */
  private[graft] def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // und already has u < v by id, so the id tie-break is just du <= dv
    val fwd = col("du") <= col("dv")
    und.join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("eu"),
        when(fwd, col("v")).otherwise(col("u")).as("ev"))
      .select(col("eu").as("u"), col("ev").as("v"))
  }

  /** Core on any (part, supp) membership frame — see [[triangles]]. */
  private[graft] def trianglesFrom(pairs0: DataFrame,
                                   maxPartDegree: Int, topN: Int): DataFrame = {
    // feeds the degree filter AND the projection join — materialize once
    val pairs = pairs0.localCheckpoint(false)
    val eligible = pairs.groupBy("part").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxPartDegree).select("part")
    val p2 = pairs.join(eligible, "part")
    val und = p2.select(col("part"), col("supp").as("u"))
      .join(p2.select(col("part"), col("supp").as("v")), "part")
      .filter(col("u") < col("v"))
      .select("u", "v").distinct()
    val edges = orientByDegree(und)
      .localCheckpoint(false) // feeds wedges AND the closing semi-join
    val wedges = edges.select(col("u").as("a"), col("v").as("b"))
      .join(edges.select(col("u").as("b"), col("v").as("c")), "b")
    val tri = wedges.join(edges,
      wedges("a") === edges("u") && wedges("c") === edges("v"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("supp"))
      .groupBy("supp").agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), col("supp"))
      .limit(topN)
  }

  def trianglesSql(maxPartDegree: Int = 16, topN: Int = 20): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp FROM lineitem
       |), eligible AS (
       |  SELECT part FROM pairs GROUP BY part HAVING count(*) <= $maxPartDegree
       |), edges AS (
       |  SELECT DISTINCT a.supp AS u, b.supp AS v
       |  FROM pairs a JOIN eligible USING (part) JOIN pairs b USING (part)
       |  WHERE a.supp < b.supp
       |), tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
       |  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = e1.u AND e3.v = e2.v)
       |), pernode AS (
       |  SELECT unnest([a, b, c]) AS supp FROM tri
       |)
       |SELECT supp, count(*) AS n_triangles
       |FROM pernode GROUP BY supp
       |ORDER BY n_triangles DESC, supp LIMIT $topN""".stripMargin

  /** Bounded k-core peeling (the fixpoint loop of k-core decomposition,
    * Matula & Beck 1983; distributed form per Batagelj–Zaveršnik's
    * degree-based peeling): `rounds` rounds of deleting every node whose
    * surviving degree is < k from the part↔supplier graph, then the
    * survivors with their core-subgraph degrees. The standard density
    * screen a content/link-graph pipeline runs before community mining —
    * and the same bounded-round posture as the near-dup label
    * propagation: a fixed round count keeps the oracle replayable and
    * the plan ONE job; an open-ended run would add per-round lineage
    * cuts. Each round is one degree agg + two semi-joins, all on BIGINT
    * keys — no shuffle grows beyond the (shrinking) edge list, so the
    * round cost is monotonically decreasing at any scale. */
  def kcore(spark: SparkSession, dir: String, k: Int = 4, rounds: Int = 4): DataFrame = {
    var e = edgesStaged(spark, dir)
    for (r <- 1 to rounds) {
      // drain cut at the top of each round (Cache scaladoc): plans nest
      // otherwise; cutting the PREVIOUS round keeps the last round's
      // semi-join shape visible in the final plan (PlanShapeSpec)
      if (r > 1) e = e.localCheckpoint(false)
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      // the edge list is symmetric, so one degree table serves both
      // endpoints: an edge survives iff both ends keep degree >= k
      e = e.join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  def kcoreSql(k: Int = 4, rounds: Int = 4): String = {
    val rs = (1 to rounds).map { i =>
      s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  WHERE e.src IN (SELECT src FROM k$i) AND e.dst IN (SELECT src FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |e0 AS (SELECT src, dst FROM edges),
       |$rs
       |SELECT src AS node, count(*) AS deg FROM e$rounds
       |GROUP BY src ORDER BY node""".stripMargin
  }

  /** Degree histogram by node side (part = even id, supplier = odd):
    * (side, degree) → node count. The structural summary every graph
    * job starts from; two partial+final aggs (per-node degree, then the
    * histogram), output bounded by max-degree × 2 — never node count. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir)
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy(when(col("src") % 2 === 0, "part").otherwise("supplier").as("side"),
        col("deg"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("side", "deg")

  val degreeHistogramSql: String =
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
       |SELECT CASE WHEN src % 2 = 0 THEN 'part' ELSE 'supplier' END AS side,
       |       deg, count(*) AS n_nodes
       |FROM deg GROUP BY 1, 2 ORDER BY side, deg""".stripMargin

  /** Degree assortativity (Newman 2002): Pearson correlation of endpoint
    * degrees over the DIRECTED edge list (each undirected edge counted
    * both ways — the standard estimator for undirected graphs). The
    * momentStats recipe: exact BIGINT sums of degree products (one
    * degree agg + two equi-joins back onto the edge list), then a single
    * identical IEEE expression in both engines. One row out. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = edgesStaged(spark, dir)
    val deg = degrees(spark, dir)
    val xy = e
      .join(deg.select(col("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("y")), Seq("dst"))
    xy.agg(count(lit(1)).as("n_edges"),
        sum("x").as("sxl"), sum("y").as("syl"),
        sum(col("x") * col("x")).as("sxxl"),
        sum(col("y") * col("y")).as("syyl"),
        sum(col("x") * col("y")).as("sxyl"))
      .select(col("n_edges"), col("sxl"), col("syl"), col("sxyl"),
        ((col("n_edges") * col("sxyl").cast("double")
          - col("sxl").cast("double") * col("syl").cast("double"))
          / (sqrt(col("n_edges") * col("sxxl").cast("double")
              - col("sxl").cast("double") * col("sxl").cast("double"))
            * sqrt(col("n_edges") * col("syyl").cast("double")
              - col("syl").cast("double") * col("syl").cast("double"))))
          .as("assortativity"))
  }

  val assortativitySql: String =
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |xy AS (
       |  SELECT dx.deg AS x, dy.deg AS y
       |  FROM edges e
       |  JOIN deg dx ON e.src = dx.src
       |  JOIN deg dy ON e.dst = dy.src
       |), s AS (
       |  SELECT count(*) AS n_edges,
       |         CAST(sum(x) AS BIGINT) AS sxl, CAST(sum(y) AS BIGINT) AS syl,
       |         CAST(sum(x * x) AS BIGINT) AS sxxl,
       |         CAST(sum(y * y) AS BIGINT) AS syyl,
       |         CAST(sum(x * y) AS BIGINT) AS sxyl
       |  FROM xy
       |)
       |SELECT n_edges, sxl, syl, sxyl,
       |       (n_edges * CAST(sxyl AS DOUBLE) - CAST(sxl AS DOUBLE) * CAST(syl AS DOUBLE))
       |       / (sqrt(n_edges * CAST(sxxl AS DOUBLE) - CAST(sxl AS DOUBLE) * CAST(sxl AS DOUBLE))
       |          * sqrt(n_edges * CAST(syyl AS DOUBLE) - CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)))
       |         AS assortativity
       |FROM s""".stripMargin

  /** Neighbor-set Jaccard similarity — the classic link-prediction /
    * node-dedup primitive: candidate pairs (a, b) sharing a common
    * neighbor m, scored |N(a)∩N(b)| / |N(a)∪N(b)| in exact integral
    * permille. The pair generator is the WEDGE equi-join on the middle
    * node with a degree cap on m (deg ≤ maxMidDeg — hub-mediated
    * candidates are dropped, same df-cap rationale as the shingle
    * index: a hub of degree h fans out h² wedges and ranks everything
    * against everything). Degrees in the denominator stay UNCAPPED.
    * Top-50 overall by (permille DESC, a, b) — a bounded TakeOrdered. */
  def jaccardNeighbors(spark: SparkSession, dir: String,
                       maxMidDeg: Int = 32, topN: Int = 50): DataFrame = {
    val e = edgesStaged(spark, dir)
    val deg = degrees(spark, dir)
    val mids = deg.filter(col("deg") <= maxMidDeg)
      .select(col("src").as("m"))
    // Pin the wedge join's parallelism: the staged edge list is a
    // byte-tiny LogicalRDD that AQE coalesces to ~1 partition, which
    // serialized the deg(m)²-row wedge explode+agg (measured 1.6 s of
    // a 2.9 s query in one 3-task stage at sf0.1). An explicit m0-keyed
    // repartition at defaultParallelism is what the planner picks for
    // this join at production sizes anyway; both self-join branches
    // reuse the ONE exchange (ReusedExchange), so this adds no shuffle
    // — it only widens the wedge stage. (guide §2.5 / §2.4)
    val capped = e.join(mids, e("src") === mids("m"))
      .select(col("src").as("m0"), col("dst"))
      .repartition(spark.sparkContext.defaultParallelism, col("m0"))
    val wedges = capped.as("x").join(capped.as("y"), Seq("m0"))
      .filter(col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("a"), col("y.dst").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    wedges
      .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"), col("deg_a"), col("deg_b"),
        expr("(1000 * n_common) DIV (deg_a + deg_b - n_common)").as("j_permille"))
      .orderBy(col("j_permille").desc, col("a"), col("b"))
      .limit(topN)
  }

  def jaccardNeighborsSql(maxMidDeg: Int = 32, topN: Int = 50): String =
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |mids AS (SELECT src AS m FROM deg WHERE deg <= $maxMidDeg),
       |capped AS (
       |  SELECT e.src AS m0, e.dst FROM edges e JOIN mids ON e.src = mids.m
       |), wedges AS (
       |  SELECT x.dst AS a, y.dst AS b, count(*) AS n_common
       |  FROM capped x JOIN capped y ON x.m0 = y.m0 AND x.dst < y.dst
       |  GROUP BY 1, 2
       |)
       |SELECT w.a, w.b, w.n_common, da.deg AS deg_a, db.deg AS deg_b,
       |       CAST((1000 * w.n_common) // (da.deg + db.deg - w.n_common) AS BIGINT)
       |         AS j_permille
       |FROM wedges w
       |JOIN deg da ON w.a = da.src
       |JOIN deg db ON w.b = db.src
       |ORDER BY j_permille DESC, a, b LIMIT $topN""".stripMargin

  /** BFS layer histogram from a deterministic seed set (node % seedMod
    * == 0) — the multi-source shortest-path-layers primitive behind
    * "distance-to-labeled-node" features and reachability audits. K
    * rounds of min-distance propagation (dist' = min(dist, min over
    * in-neighbors dist+1)) — the same bounded-iteration dataflow shape
    * as pageRank: each round is one equi-join + one min-agg on the
    * BIGINT node key, the whole iteration executes as ONE job with K
    * chained shuffles, and the output is a (K+2)-row histogram
    * (distance → node count, −1 = unreached within K hops).
    *
    * Scale: frontier state is one row per reached node; rounds never
    * materialize paths. 100 TB form is identical with per-round lineage
    * cuts once K is convergence-driven rather than fixed. */
  def bfsLayers(spark: SparkSession, dir: String,
                rounds: Int = 4, seedMod: Int = 101): DataFrame = {
    val e = edgesStaged(spark, dir) // reused every round
    // degrees' src IS the distinct node set — no per-query DISTINCT
    val nodes = degrees(spark, dir).select(col("src").as("node"))
    var dist = nodes.filter(pmod(col("node"), lit(seedMod.toLong)) === 0L)
      .select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val prop = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.select("node", "dist").unionAll(prop)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(false) // per-round drain cut
    }
    nodes.join(dist, Seq("node"), "left")
      .select(coalesce(col("dist"), lit(-1L)).as("dist"))
      .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      .orderBy("dist")
  }

  def bfsLayersSql(rounds: Int = 4, seedMod: Int = 101): String = {
    val iters = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM edges e JOIN d${i - 1} d ON e.src = d.node
         |  ) GROUP BY node
         |)"""
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |d0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % $seedMod = 0
       |),
       |$iters
       |SELECT CAST(coalesce(d.dist, -1) AS BIGINT) AS dist, count(*) AS n_nodes
       |FROM nodes n LEFT JOIN d$rounds d ON n.node = d.node
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Bounded-round connected components: K rounds of min-label
    * propagation over the undirected edge list (label(v) ←
    * min(label(v), min label over neighbors)), then a component-size
    * histogram. After K rounds a node's label is the minimum node id
    * within K hops — exact CC once the diameter is covered, and a
    * well-defined K-hop contraction before that (the docs say which;
    * the spec asserts the fixture converges). Same iteration shape as
    * [[bfsLayers]]/[[pageRank]]: per round ONE equi-join on the
    * BIGINT-encoded node key + one min-agg, linear in edges, no
    * all-pairs anything. The doubling variant (propagate labels
    * through label-groups) would cover diameter 2^K in K rounds at
    * the cost of a second join per round — documented tradeoff, not
    * needed at this fixture's diameter.
    *
    * Scale shape: K chained (join + partial+final min-agg) stages on
    * the same key layout; the histogram is label-cardinality bounded. */
  def connectedComponents(spark: SparkSession, dir: String,
                          rounds: Int = 4): DataFrame = {
    val e = edgesStaged(spark, dir) // reused every round
    var labels = degrees(spark, dir)
      .select(col("src").as("node"), col("src").as("label"))
    for (_ <- 1 to rounds) {
      val prop = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      labels = labels.select("node", "label").unionAll(prop)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false) // per-round drain cut
    }
    labels.groupBy("label").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .orderBy("csize")
  }

  def connectedComponentsSql(rounds: Int = 4): String = {
    val iters = (1 to rounds).map { i =>
      s"""l$i AS (
         |  SELECT node, CAST(min(label) AS BIGINT) AS label FROM (
         |    SELECT node, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, l.label
         |    FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |  ) GROUP BY node
         |)"""
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$iters,
       |comp AS (SELECT label, count(*) AS csize FROM l$rounds GROUP BY label)
       |SELECT csize, count(*) AS n_components FROM comp
       |GROUP BY csize ORDER BY csize""".stripMargin
  }

  /** Pointer-jumping connected components — the log-diameter variant
    * [[connectedComponents]]'s scaladoc trades against: each round
    * does (a) one neighbor min-propagation AND (b) one pointer jump
    * `label(v) ← label(label(v))` (valid because labels are always
    * node ids with a live row, and monotone: label(x) ≤ x). Reach
    * grows ~geometrically instead of +1 hop per round, so a
    * 100 TB-scale graph of diameter D needs O(log D) shuffles, not D.
    * 3 rounds here vs the plain form's 4 on the same fixture; the
    * spec pins BOTH to the same union-find truth.
    *
    * Scale shape: per round two equi-joins + one min-agg on the
    * BIGINT node key; the jump join is labels⋈labels (node-sized,
    * never edge-sized). */
  def connectedComponentsDoubling(spark: SparkSession, dir: String,
                                  rounds: Int = 3): DataFrame = {
    val e = edgesStaged(spark, dir)
    var labels = degrees(spark, dir)
      .select(col("src").as("node"), col("src").as("label"))
    for (_ <- 1 to rounds) {
      val nb = e.join(labels, e("src") === labels("node"))
        .select(col("dst").as("node"), col("label"))
      val merged = labels.select("node", "label").unionAll(nb)
        .groupBy("node").agg(min("label").as("label"))
      labels = merged.alias("m")
        .join(merged.select(col("node").as("ln"), col("label").as("l2")).alias("j"),
          col("m.label") === col("j.ln"))
        .select(col("m.node").as("node"), col("j.l2").as("label"))
        .localCheckpoint(false) // per-round drain cut — the label self-join SQUARES the tree
    }
    labels.groupBy("label").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .orderBy("csize")
  }

  def connectedComponentsDoublingSql(rounds: Int = 3): String = {
    val iters = (1 to rounds).map { i =>
      s"""m$i AS (
         |  SELECT node, CAST(min(label) AS BIGINT) AS label FROM (
         |    SELECT node, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, l.label
         |    FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |  ) GROUP BY node
         |), l$i AS (
         |  SELECT m.node, j.label FROM m$i m JOIN m$i j ON m.label = j.node
         |)"""
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$iters,
       |comp AS (SELECT label, count(*) AS csize FROM l$rounds GROUP BY label)
       |SELECT csize, count(*) AS n_components FROM comp
       |GROUP BY csize ORDER BY csize""".stripMargin
  }

  /** Modularity trajectory of min-label propagation (Newman–Girvan Q,
    * computed EXACTLY): after each round r = 0..2 of the
    * [[connectedComponents]] iteration, Q of the current label
    * partition — Q = (M·Σintra_c − Σd_c²)/M² over the DIRECTED edge
    * list (M = 2m) — as exact integers (q_num, q_den) plus the one
    * IEEE division. Round 0 (singletons) is negative by construction
    * (q_num = −Σd_v²); on a CONNECTED graph the converged partition
    * lands at Q = 0 exactly (Σintra = M, Σd_c² = M²) — and the
    * mid-trajectory dip the fixture shows is real: min-label
    * contraction is a connectivity iteration, not a community
    * detector, and the curve QUANTIFIES that distinction (a Louvain
    * pass would climb where this dips). No division happens until the
    * final scalar, so there is no signed trunc-vs-floor hazard.
    *
    * Scale shape: per round, two label equi-joins + edge-keyed aggs;
    * Q's terms are label-cardinality bounded; output is one row per
    * round. */
  def modularityCurve(spark: SparkSession, dir: String,
                      rounds: Int = 2): DataFrame = {
    val e = edgesStaged(spark, dir)
    val deg = degrees(spark, dir)
    val d = DecimalType(38, 0)
    val mRow = e.agg(count(lit(1)).cast(d).as("m_dir")).localCheckpoint(false)
    var labels = deg.select(col("src").as("node"), col("src").as("label"))
    val perRound = (0 to rounds).map { r =>
      if (r > 0) {
        val prop = e.join(labels, e("src") === labels("node"))
          .select(col("dst").as("node"), col("label"))
        labels = labels.select("node", "label").unionAll(prop)
          .groupBy("node").agg(min("label").as("label")).localCheckpoint(false)
      }
      val ls = labels.select(col("node").as("src"), col("label").as("ls"))
      val ld = labels.select(col("node").as("dst"), col("label").as("ld"))
      val intra = e.join(ls, "src").join(ld, "dst")
        .agg(sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).cast(d)
          .as("intra_dir"))
      val dsq = deg.join(labels.select(col("node").as("src"), col("label")), "src")
        .groupBy("label").agg(sum("deg").as("d_c"))
        .agg(sum(col("d_c").cast(d) * col("d_c").cast(d)).as("sum_dsq"))
      intra.crossJoin(broadcast(dsq)).crossJoin(broadcast(mRow))
        .select(lit(r.toLong).as("round"),
          col("m_dir").cast("long").as("m_dir"),
          (col("m_dir") * col("intra_dir") - col("sum_dsq")).cast("long").as("q_num"),
          (col("m_dir") * col("m_dir")).cast("long").as("q_den"))
        .withColumn("q", col("q_num").cast("double") / col("q_den").cast("double"))
    }
    perRound.reduce(_.unionByName(_)).orderBy("round")
  }

  def modularityCurveSql(rounds: Int = 2): String = {
    val iters = (1 to rounds).map { i =>
      s"""l$i AS (
         |  SELECT node, CAST(min(label) AS BIGINT) AS label FROM (
         |    SELECT node, label FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, l.label
         |    FROM edges e JOIN l${i - 1} l ON e.src = l.node
         |  ) GROUP BY node
         |)"""
    }.mkString(",\n")
    val qSelects = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |       CAST((SELECT m_dir FROM m) AS BIGINT) AS m_dir,
         |       CAST((SELECT m_dir FROM m)
         |            * (SELECT CAST(sum(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END) AS HUGEINT)
         |               FROM edges e JOIN l$r ls ON e.src = ls.node
         |                            JOIN l$r ld ON e.dst = ld.node)
         |            - (SELECT sum(d_c * d_c) FROM (
         |                 SELECT CAST(sum(deg) AS HUGEINT) AS d_c
         |                 FROM deg d JOIN l$r l ON d.src = l.node GROUP BY l.label))
         |            AS BIGINT) AS q_num,
         |       CAST((SELECT m_dir * m_dir FROM m) AS BIGINT) AS q_den"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $edgesSql,
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$iters,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS m_dir FROM edges)
       |SELECT round, m_dir, q_num, q_den,
       |       CAST(q_num AS DOUBLE) / CAST(q_den AS DOUBLE) AS q
       |FROM ($qSelects)
       |ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Deterministic random walks
  // ---------------------------------------------------------------------

  private val walkLen = 4
  private val walkSeedMod = 13L

  /** Deterministic hash-driven random walks — the sampling primitive
    * under DeepWalk/node2vec-style graph embeddings and Monte-Carlo
    * PageRank, made reproducible: from every supplier node with
    * suppkey % [[walkSeedMod]] == 0, a [[walkLen]]-step walk whose
    * step-t hop is neighbor rank hash60(walk|t|cur) % deg(cur) — a pure
    * function of (walk id, step, current node), so the "random" walk is
    * bit-identical across engines, runs, and partitionings (auditable
    * sampling, the same discipline as `text_split_assign`). Output: one
    * row per walk with the full path string and its endpoint.
    *
    * Scale shape: the adjacency gets a per-source neighbor rank via a
    * source-partitioned window (per-partition work bounded by max
    * degree); each step is ONE equi-join of the walk frontier against
    * the indexed adjacency on (node, rank) — walks are rows, K fixed,
    * one job, chained hash joins. */
  def randomWalks(spark: SparkSession, dir: String): DataFrame = {
    val e = edgesStaged(spark, dir)
    // deg and the rank-indexed adjacency each feed every step of the
    // walk loop — without the cuts the per-source window re-executes
    // once per step (measured 2.8 s staged vs 4× window replays not)
    val deg = degrees(spark, dir)
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    val adj = e.withColumn("rn", row_number().over(wAdj).cast("long")).localCheckpoint(false)
    var walks = deg.select(col("src").as("walk"))
      .filter(col("walk") % 2 === 1 &&
        expr(s"(walk - 1) DIV 2 % $walkSeedMod") === 0L)
      .select(col("walk"), col("walk").as("cur"),
        col("walk").cast("string").as("path"))
    for (t <- 1 to walkLen) {
      val pick = walks.join(deg, walks("cur") === deg("src"))
        .select(col("walk"), col("cur"), col("path"),
          (graft.functions.Portable.hash60(
            concat_ws("|", col("walk"), lit(t), col("cur"))) % col("deg") + 1L)
            .as("pick"))
      walks = pick.join(adj,
        pick("cur") === adj("src") && pick("pick") === adj("rn"))
        .select(col("walk"), col("dst").as("cur"),
          concat(col("path"), lit(">"), col("dst").cast("string")).as("path"))
    }
    walks.select(expr("(walk - 1) DIV 2").as("suppkey"), col("path"),
      col("cur").as("endpoint"))
      .orderBy("suppkey")
  }

  def randomWalksSql: String = {
    val steps = (1 to walkLen).map { t =>
      s"""w$t AS (
         |  SELECT w.walk, a.dst AS cur, w.path || '>' || CAST(a.dst AS VARCHAR) AS path
         |  FROM w${t - 1} w
         |  JOIN deg d ON w.cur = d.src
         |  JOIN adj a ON a.src = w.cur
         |   AND a.rn = ${Portable.hash60Sql(s"CAST(w.walk AS VARCHAR) || '|' || '$t' || '|' || CAST(w.cur AS VARCHAR)")} % d.deg + 1
         |)"""
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |adj AS (
       |  SELECT src, dst,
       |         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rn
       |  FROM edges
       |), w0 AS (
       |  SELECT src AS walk, src AS cur, CAST(src AS VARCHAR) AS path
       |  FROM (SELECT DISTINCT src FROM edges)
       |  WHERE src % 2 = 1 AND ((src - 1) // 2) % $walkSeedMod = 0
       |),
       |$steps
       |SELECT (walk - 1) // 2 AS suppkey, path, cur AS endpoint
       |FROM w$walkLen ORDER BY suppkey""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_random_walk" -> ((s, d) => randomWalks(s, d)),
    "graph_concomp" -> ((s, d) => connectedComponents(s, d)),
    "graph_modularity" -> ((s, d) => modularityCurve(s, d)),
    "graph_concomp_doubling" -> ((s, d) => connectedComponentsDoubling(s, d)),
    "graph_bfs_layers" -> ((s, d) => bfsLayers(s, d)),
    "graph_pagerank" -> ((s, d) => pageRank(s, d)),
    "graph_triangles" -> ((s, d) => triangles(s, d)),
    "graph_kcore" -> ((s, d) => kcore(s, d)),
    "graph_degree_histogram" -> degreeHistogram,
    "graph_assortativity" -> assortativity,
    "graph_jaccard_neighbors" -> ((s, d) => jaccardNeighbors(s, d)))

  val oracles: Map[String, String] = Map(
    "graph_random_walk" -> randomWalksSql,
    "graph_concomp" -> connectedComponentsSql(),
    "graph_concomp_doubling" -> connectedComponentsDoublingSql(),
    "graph_modularity" -> modularityCurveSql(),
    "graph_bfs_layers" -> bfsLayersSql(),
    "graph_pagerank" -> pageRankSql(),
    "graph_triangles" -> trianglesSql(),
    "graph_kcore" -> kcoreSql(),
    "graph_degree_histogram" -> degreeHistogramSql,
    "graph_assortativity" -> assortativitySql,
    "graph_jaccard_neighbors" -> jaccardNeighborsSql())
}
