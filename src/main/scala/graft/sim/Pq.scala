package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** Product quantization (PQ) with asymmetric-distance search — the
  * memory-side half of the IVF-PQ design every planet-scale ANN system
  * runs (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search"). The 64-dim vector splits into [[M]] 16-dim subvectors; each
  * subspace trains its own [[Ks]]-centroid codebook with the same exact
  * integer Lloyd's machinery as [[Clustering]]; a corpus vector is then
  * stored as [[M]] small codes (here 4×3 bits vs 64×64-bit quantized
  * components — the compression that lets codes live in memory at 100 TB
  * while raw vectors cannot). Search is ADC: per query, an M×Ks table of
  * exact subspace distances is built ONCE (O(M·Ks·d/M) = O(Ks·d) work),
  * broadcast, and every candidate's approximate distance is M table
  * lookups — no per-candidate arithmetic in d at all.
  *
  * Numeric strategy: identical to [[Clustering]] — fixed-point integer
  * vectors, exact BIGINT subspace distances (‖q_m−c‖² = n_m − 2·q_m·c +
  * ‖c‖²), argmin ties to the lowest packed position, integer ADC sums —
  * so training, encoding and search are all bit-identical in the DuckDB
  * oracle, which replays the whole run as unrolled CTEs.
  *
  * Scale design (100 TB):
  *  - Training cost is M subspace Lloyd's runs over d/M-wide slices —
  *    the SAME total work as one full-dim run; models are M·Ks rows.
  *  - Encoding is one corpus map against the broadcast codebooks (one
  *    pass, no shuffle).
  *  - Search touches only the code columns: the scored frame carries
  *    M bytes per row, the ADC tables broadcast with the query panel,
  *    and the top-k is the WindowGroupLimit partial form — the corpus
  *    never shuffles.
  *  - The quality gate is first-class ([[pqRecall]]), like every other
  *    approximate path on this board: a code-budget change that drops
  *    recall fails the correctness gate, not a dashboard.
  *
  * Reference context: /root/reference has no similarity surface; PQ
  * extends the engine for the curation workloads the survey targets,
  * completing the ANN family (brute force, LSH, IVF, MRL — and now the
  * quantized-storage path).
  */
object Pq {

  private val dims = 64
  private val M = 4
  private val sd = dims / M // subspace width
  private val Ks = 8 // centroids per subspace codebook
  private val iters = 2 // Lloyd's rounds per subspace
  private val TopK = 5

  // ---------------------------------------------------------------------
  // Spark side
  // ---------------------------------------------------------------------

  /** Subspace slice m of the full quantized vector (1-based slice). */
  private def sliceM(q: Column, m: Int): Column = slice(q, m * sd + 1, sd)

  /** One lockstep assignment pass across ALL subspaces: the exploded
    * (vec_id, m, qm) frame joins the broadcast per-m packed models on m
    * and each row argmins within its own subspace — identical per-m math
    * to a subspace-at-a-time pass, but one stage serves all M models. */
  private def assignAll(subAll: DataFrame, packedByM: DataFrame): DataFrame =
    subAll.join(broadcast(packedByM), "m")
      .withColumn("best", array_min(Clustering.centDists(col("qm"), col("nm"))))
      .select(col("m"), col("qm"),
        col("best").getField("cid").as("cid"))

  /** Lockstep centroid recompute: sd map-side-combinable SUMs + COUNT on
    * the (m, cid) key — ONE shuffle updates all M models; exact integer
    * floor-division means; empty clusters drop. */
  private def recomputeAll(assigned: DataFrame): DataFrame = {
    val sums = (0 until sd).map(i =>
      sum(element_at(col("qm"), i + 1)).as(s"s$i"))
    val comps: Seq[Column] = (0 until sd).map(i =>
      expr(s"(s$i - pmod(s$i, cnt)) div cnt"))
    val aggCols = count(lit(1)).as("cnt") +: sums
    assigned.groupBy(col("m"), col("cid"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("m"), col("cid"), array(comps: _*).as("c"))
      .withColumn("csq", Portable.normSqQ(col("c")))
  }

  private def packByM(model: DataFrame): DataFrame =
    model.groupBy("m")
      .agg(array_sort(Clustering.centPack).as("cents"))

  /** Train the M codebooks; returns one broadcastable row with columns
    * cents0..cents{M-1}, each an array<struct<cid,c,csq>> SORTED by cid —
    * a struct's packed POSITION in that array is the stored code.
    * The shared training kernel over any (vec_id, q) corpus — the raw
    * corpus for plain PQ, the cell-residual corpus for IVFADC. */
  private def trainCodebooks(corpus: DataFrame): DataFrame = {
    // exploded subspace frame: M rows per vector, each sd wide —
    // the SAME total data volume as the corpus, scanned once per
    // round for ALL subspaces (a subspace-at-a-time loop would run
    // M× the rounds, M× the checkpoints)
    val subAll = corpus.select(col("vec_id"),
        explode(array((0 until M).map(m =>
          struct(lit(m).as("m"), sliceM(col("q"), m).as("qm"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.qm").as("qm"))
      .withColumn("nm", Portable.normSqQ(col("qm")))
      .localCheckpoint(false)
    var model = subAll.filter(col("vec_id") < Ks)
      .select(col("m"), col("vec_id").as("cid"), col("qm").as("c"))
      .withColumn("csq", Portable.normSqQ(col("c")))
    for (_ <- 1 to iters)
      // per-round lineage cut — semantic, like Clustering.train
      model = recomputeAll(assignAll(subAll, packByM(model)))
        .localCheckpoint(false)
    // final shape: ONE broadcastable row with cents0..cents{M-1}
    (0 until M).map(m =>
        model.filter(col("m") === m)
          .agg(array_sort(Clustering.centPack).as(s"cents$m")))
      .reduce(_ crossJoin _).localCheckpoint(false)
  }

  /** The raw-corpus codebooks, memoized ([[graft.Memo]]): train once,
    * encode/search many. */
  private[graft] def codebooks(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("pq.codebooks", graft.Memo.input(dir)))(
      trainCodebooks(Similarity.quantized(spark, dir)))

  /** Residual corpus for IVFADC: each vector re-expressed as its offset
    * from its IVF cell centroid (Jégou et al. 2011 §IV: IVFADC encodes
    * x − q_c(x) so the PQ budget models the WITHIN-cell distribution the
    * coarse quantizer didn't already capture). Presented as
    * (vec_id, cid, q, nsq) so the shared training/encoding machinery
    * applies unchanged; residual components are exact BIGINT differences,
    * replayable in the oracle. */
  private def residualCorpus(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, cent) = Clustering.train(spark, dir)
    Clustering.assign(corpus, cent)
      .join(broadcast(cent.select(col("cid"), col("c"))), "cid")
      .withColumn("r", zip_with(col("q"), col("c"), (x, y) => x - y))
      .select(col("vec_id"), col("cid"), col("r").as("q"))
      .withColumn("nsq", Portable.normSqQ(col("q")))
  }

  /** Codebooks trained on cell residuals — the IVFADC model, memoized
    * beside the raw model. */
  private[graft] def residCodebooks(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("pq.resid_codebooks", graft.Memo.input(dir)))(
      trainCodebooks(residualCorpus(spark, dir).select("vec_id", "q")))

  /** The exact subspace distance of slice m (as column `qm`/`nm`) to the
    * packed codebook entry at position i (0-based). */
  private def distToPos(cm: Column, qm: Column, nm: Column, i: Column): Column = {
    val ct = element_at(cm, i + 1)
    nm - lit(2L) * Portable.dotQ(qm, ct.getField("c")) + ct.getField("csq")
  }

  /** struct(dist, pos) argmin of slice m of `q` against its packed
    * codebook column cents{m} — ties to the lowest position (cid
    * order), the ONE tie rule every consumer shares. */
  private def bestOf(m: Int): Column = {
    val qm = sliceM(col("q"), m)
    val nm = Portable.normSqQ(qm)
    val cm = col(s"cents$m")
    array_min(transform(sequence(lit(0), size(cm) - 1), i =>
      struct(distToPos(cm, qm, nm, i).as("dist"), i.cast("int").as("pos"))))
  }

  /** Adds the M ADC distance-table columns t0..t{M-1} to a frame of
    * query vectors already crossJoined with the codebooks row — the ONE
    * table-building form both search paths share. */
  private def withAdcTables(panelWithCb: DataFrame): DataFrame =
    (0 until M).foldLeft(panelWithCb) { (df, m) =>
      val qm = sliceM(col("q"), m)
      val nm = Portable.normSqQ(qm)
      val cm = col(s"cents$m")
      df.withColumn(s"t$m", transform(sequence(lit(0), size(cm) - 1), i =>
        distToPos(cm, qm, nm, i)))
    }

  /** Encode a (vec_id, q, …) corpus against packed codebooks: per
    * subspace, the packed position of the nearest codebook centroid (ties
    * to the lowest position — which is cid order, matching the training
    * argmin). One map pass, codes are ints; `extra` columns (e.g. the
    * IVFADC cell id) ride along. */
  private def encodedFrom(corpus: DataFrame, cb: DataFrame,
                          extra: Seq[String] = Nil): DataFrame =
    (0 until M).foldLeft(corpus.crossJoin(broadcast(cb))) { (df, m) =>
      df.withColumn(s"code$m", bestOf(m).getField("pos"))
    }.select(col("vec_id") +: (extra.map(col) ++ (0 until M).map(m => col(s"code$m"))): _*)

  /** Encode the corpus with the raw-vector codebooks. */
  private[graft] def encoded(spark: SparkSession, dir: String): DataFrame =
    encodedFrom(Similarity.quantized(spark, dir), codebooks(spark, dir))

  /** PQ-ADC top-k: the query panel (vec_id < 8, the board's standard
    * measurement panel) builds its M×Ks distance tables map-side from
    * the broadcast codebooks; the encoded corpus is scored by M array
    * lookups per candidate; per-query top-k is the WindowGroupLimit
    * partial form. Output distances are exact BIGINTs. */
  def pqTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    pqTopKFrom(Similarity.quantized(spark, dir), codebooks(spark, dir), k)

  /** Exact full-dimension L2² top-k over the panel — the ground truth
    * the ADC path approximates (PQ is an L2 method; the cosine family
    * has its own exact baseline in Similarity.cosineTopK). */
  private[sim] def exactL2TopK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val c = Similarity.quantized(spark, dir)
    val queries = c.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nsq").as("na"))
    c.select(col("vec_id").as("cand_id"), col("q").as("qb"), col("nsq").as("nb"))
      .join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("dist",
        col("na") - lit(2L) * Portable.dotQ(col("qa"), col("qb")) + col("nb"))
      .transform(Portable.topK(_, Seq("query_id"), col("dist"), "cand_id", lit(k)))
      .select("query_id", "cand_id")
  }

  /** PQ quality as a first-class query: recall@k of the ADC path against
    * the exact L2 top-k, per panel query — the number that sizes the
    * code budget (M, Ks) before anyone ships 4-byte vectors. Same
    * measurement posture as sim_ann_recall/sim_ivf_recall: exact side
    * only over the fixed panel. */
  def pqRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    ExactPanels.recall(ExactPanels.l2(spark, dir, k),
      pqTopK(spark, dir, k))

  /** Composed IVF-PQ search — the full planet-scale ANN index shape
    * (Jégou et al. 2011; the design behind FAISS's IVFPQ): the trained
    * IVF quantizer ([[Clustering]]'s Lloyd's cells) prunes the corpus to
    * `nprobe` cells, and ONLY those cells' PQ codes are ADC-scored. At
    * 100 TB the stored index is the (cell, codes) table — bytes per
    * vector, partitioned by cell — and a query touches nprobe/K of it
    * with M lookups per candidate: both the scan fraction AND the
    * per-candidate cost are engineered down, which neither half achieves
    * alone. Probe selection is map-side (packed centroid broadcast +
    * argsort); cell membership is an equi-join on cid against the
    * broadcast (query, cell, tables) panel — never a cross product over
    * un-probed cells. */
  def ivfPqTopK(spark: SparkSession, dir: String,
                k: Int = TopK, nprobe: Int = 2): DataFrame = {
    val (corpus, cent) = Clustering.train(spark, dir)
    val celled = encoded(spark, dir)
      .join(Clustering.assign(corpus, cent).select(col("vec_id"), col("cid")),
        "vec_id")
      .localCheckpoint(false) // the stored index: (cell, codes) per vector
    val probes = Clustering.probes(corpus, cent, nprobe)
      .select(col("vec_id").as("query_id"), col("probe").getField("cid").as("cid"))
    val cb = codebooks(spark, dir)
    val tables = withAdcTables(Similarity.quantized(spark, dir).filter(col("vec_id") < 8)
        .crossJoin(broadcast(cb)))
      .select(col("vec_id").as("query_id") +: (0 until M).map(m => col(s"t$m")): _*)
    val panel = probes.join(tables, "query_id") // ≤ 8·nprobe rows
    celled.join(broadcast(panel), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist", (0 until M).map(m =>
        element_at(col(s"t$m"), col(s"code$m") + 1)).reduce(_ + _))
      .transform(Portable.topK(_, Seq("query_id"), col("adist"), "vec_id", lit(k)))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("adist"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Incremental PQ encoding — the nightly-ingest member of this family,
    * mirroring sim_kmeans_incremental / dedup_incremental: only the
    * DELTA batch (canonical split hash ≥ 90) is encoded against the
    * EXISTING codebooks — the base corpus is never re-encoded and the
    * codebooks never retrain. Output is the per-(subspace, code) delta
    * histogram with exact integer quantization error — the
    * code-distribution drift monitor that tells an index operator when
    * the trained codebooks stopped fitting the incoming data (rising
    * qerr / skewing code usage ⇒ retrain). Cost: |delta| map-side argmin
    * evaluations against the O(M·Ks·d/M) broadcast + one M·Ks-key agg. */
  def pqIncremental(spark: SparkSession, dir: String): DataFrame = {
    val cb = codebooks(spark, dir)
    val delta = Similarity.quantized(spark, dir)
      .filter(graft.text.TextAnalysis.splitHash(col("vec_id")) >= 90)
    val enc = (0 until M).foldLeft(delta.crossJoin(broadcast(cb))) { (df, m) =>
      df.withColumn(s"best$m", bestOf(m))
    }
    enc.select(col("vec_id"), explode(array((0 until M).map(m =>
        struct(lit(m).as("m"),
          col(s"best$m").getField("pos").as("code"),
          col(s"best$m").getField("dist").as("qerr"))): _*)).as("e"))
      .groupBy(col("e.m").as("m"), col("e.code").cast("long").as("code"))
      .agg(count(lit(1)).as("delta_n"), sum(col("e.qerr")).as("delta_qerr"))
      .orderBy("m", "code")
  }

  def pqIncrementalSql: String =
    s"""WITH ${Similarity.quantizedSql},
       |$pqModelCtes
       |SELECT m, pos AS code, count(*) AS delta_n,
       |       CAST(sum(dist) AS BIGINT) AS delta_qerr
       |FROM codes_long
       |WHERE ${graft.text.TextAnalysis.splitHashSql("vec_id")} >= 90
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Recall@k of the composed IVF-PQ path against exact L2 — alongside
    * [[pqRecall]] it separates the two approximation losses: the gap
    * between this and pqRecall is the cell-pruning cost (nprobe), the
    * gap between pqRecall and 1 is the code-budget cost (M, Ks). A third
    * gate, [[ivfAdcRecall]], isolates what residual encoding buys back
    * at the SAME (M, Ks, nprobe) budget: its gap to THIS gate is the
    * raw-vs-residual coding gain (PqSpec pins residual ≥ raw). */
  def ivfPqRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    ExactPanels.recall(ExactPanels.l2(spark, dir, k),
      ivfPqTopK(spark, dir, k))

  /** Variance-balanced dimension permutation — OPQ-lite (Ge et al. 2013
    * optimize a rotation; the deterministic, oracle-replayable member of
    * that family is a PERMUTATION chosen to balance per-dimension
    * variance across subspaces, round-robin by variance rank, as in
    * Jégou et al.'s structured-reordering baseline). Exact integer
    * variance keys: rank dims by n·Σx²−(Σx)² (DECIMAL/HUGEINT — the
    * product clears BIGINT at the 8× fixture), dims at variance rank r
    * land in subspace r mod M — so no subspace hoards the high-variance
    * coordinates and every codebook spends its Ks centroids on
    * comparable mass. The model is ONE broadcastable 64-int row; the
    * permuted corpus is a map (no shuffle); training/encoding/search
    * reuse the PQ kernel unchanged. */
  private[graft] def permRow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val aggs = (1 to dims).flatMap(i => Seq(
      sum(element_at(col("q"), i)).as(s"s$i"),
      sum(element_at(col("q"), i) * element_at(col("q"), i)).as(s"ss$i"))) :+
      count(lit(1)).as("n")
    val entries = (1 to dims).map(i =>
      struct((lit(0).cast(dec) - (col("n").cast(dec) * col(s"ss$i").cast(dec)
          - col(s"s$i").cast(dec) * col(s"s$i").cast(dec))).as("negv"),
        lit(i).as("dim")))
    Similarity.quantized(spark, dir).agg(aggs.head, aggs.tail: _*)
      .select(array_sort(array(entries: _*)).as("sorted"))
      // variance rank r sits at permuted position (r mod M)·sd + r div M;
      // inverted: position p reads sorted rank (p mod sd)·M + p div sd
      .select(transform(sequence(lit(0), lit(dims - 1)), p =>
        element_at(col("sorted"),
          ((p % sd) * M + (p / sd).cast("int") + 1).cast("int")).getField("dim"))
        .as("perm"))
  }

  /** The corpus re-laid-out by the OPQ permutation, presented as
    * (vec_id, q) so the shared PQ machinery applies unchanged. */
  private def permutedCorpus(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantized(spark, dir).crossJoin(broadcast(permRow(spark, dir)))
      .select(col("vec_id"),
        transform(col("perm"), d => element_at(col("q"), d)).as("q"))

  private[graft] def opqCodebooks(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, ("pq.opq_codebooks", graft.Memo.input(dir)))(
      trainCodebooks(permutedCorpus(spark, dir)))

  /** PQ-ADC top-k over any (vec_id, q) corpus with its codebooks — the
    * kernel [[pqTopK]] and [[opqTopK]] share. */
  private def pqTopKFrom(corpus: DataFrame, cb: DataFrame, k: Int): DataFrame = {
    val tables = withAdcTables(corpus.filter(col("vec_id") < 8)
        .crossJoin(broadcast(cb)))
      .select(col("vec_id").as("query_id") +: (0 until M).map(m => col(s"t$m")): _*)
    val scored = encodedFrom(corpus, cb).crossJoin(broadcast(tables))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist", (0 until M).map(m =>
        element_at(col(s"t$m"), col(s"code$m") + 1)).reduce(_ + _))
    scored
      .transform(Portable.topK(_, Seq("query_id"), col("adist"), "vec_id", lit(k)))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("adist"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** ADC top-k in the permuted space (L2 is permutation-invariant, so
    * the distances target the same geometry as [[pqTopK]] — only the
    * subspace split changed). */
  def opqTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    pqTopKFrom(permutedCorpus(spark, dir), opqCodebooks(spark, dir), k)

  /** Recall@k of the permuted-space ADC path against exact L2 — prices
    * the permutation against [[pqRecall]] at the identical (M, Ks)
    * budget; the gap is pure subspace-layout effect. */
  def opqRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    ExactPanels.recall(ExactPanels.l2(spark, dir, k),
      opqTopK(spark, dir, k))

  /** IVFADC proper (Jégou et al. 2011 §IV — the form production FAISS
    * ships as IVFPQ): the coarse quantizer prunes to `nprobe` cells, and
    * candidates are scored by ADC over codes of the RESIDUAL x − q_c(x),
    * with the query's own residual re-derived PER PROBED CELL. The
    * distance identity makes the table-lookup form exact for the coded
    * approximation: ‖q − (c + dec(codes))‖² = ‖(q − c) − dec(codes)‖², so
    * the per-(query, cell) tables are built from q − c and scoring stays
    * M array lookups per candidate.
    *
    * Scale shape vs [[ivfPqTopK]]: identical — the stored index is still
    * (cell, M codes) per vector partitioned by cell, the panel is still
    * ≤ 8·nprobe broadcast rows (now each carrying its cell's residual
    * tables), the corpus never shuffles. The only extra cost is nprobe×
    * table builds per query (map-side, O(Ks·d) each) — bought recall for
    * free at the candidate-scoring level. */
  def ivfAdcTopK(spark: SparkSession, dir: String,
                 k: Int = TopK, nprobe: Int = 2): DataFrame = {
    val (corpus, cent) = Clustering.train(spark, dir)
    val rcb = residCodebooks(spark, dir)
    // the stored index: (cell, residual codes) per vector
    val celled = encodedFrom(residualCorpus(spark, dir), rcb, Seq("cid")).localCheckpoint(false)
    val probes = Clustering.probes(corpus, cent, nprobe)
      .select(col("vec_id").as("query_id"), col("q"),
        col("probe").getField("cid").as("cid"))
    // per-(query, probed cell) residual query → its own ADC tables
    val qres = probes.join(broadcast(cent.select(col("cid"), col("c"))), "cid")
      .withColumn("q", zip_with(col("q"), col("c"), (x, y) => x - y))
      .select(col("query_id"), col("cid"), col("q"))
    val tables = withAdcTables(qres.crossJoin(broadcast(rcb)))
      .select(col("query_id") +: col("cid") +:
        (0 until M).map(m => col(s"t$m")): _*)
    celled.join(broadcast(tables), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adist", (0 until M).map(m =>
        element_at(col(s"t$m"), col(s"code$m") + 1)).reduce(_ + _))
      .transform(Portable.topK(_, Seq("query_id"), col("adist"), "vec_id", lit(k)))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("adist"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Recall@k of the residual (IVFADC) path against exact L2 — the gate
    * that prices residual encoding against [[ivfPqRecall]]'s raw-code
    * composition at the identical (M, Ks, nprobe) budget. */
  def ivfAdcRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    ExactPanels.recall(ExactPanels.l2(spark, dir, k),
      ivfAdcTopK(spark, dir, k))

  // ---------------------------------------------------------------------
  // DuckDB oracle — the unrolled per-subspace training replay
  // ---------------------------------------------------------------------

  import Clustering.{assignSql, distSql, recomputeSql}

  /** All subspace CTEs: slices, unrolled training, packed positions,
    * encoded codes, and the panel's ADC tables, in long (m, pos) form. */
  private def pqCtes: String =
    s"""${Similarity.quantizedSql},
       |$pqModelCtes,
       |scored AS (
       |  SELECT t.query_id, c.vec_id AS cand_id, CAST(sum(t.dist) AS BIGINT) AS adist
       |  FROM codes_long c JOIN tables_long t ON c.m = t.m AND c.pos = t.pos
       |  WHERE t.query_id <> c.vec_id
       |  GROUP BY 1, 2),
       |pq_ranked AS (
       |  SELECT query_id, cand_id, adist,
       |         ${Portable.rankSql("query_id", "adist", "cand_id")} AS rank
       |  FROM scored)""".stripMargin

  /** PQ model CTEs trained on `src` (vec_id, qv): per-subspace slices,
    * unrolled Lloyd's, packed positions, and the encoded corpus in long
    * (vec_id, m, pos, dist) form as codes_long{sfx}. Shared by the raw
    * corpus model (sfx = "") and the IVFADC residual model (sfx = "r"). */
  private def pqModelCtesFrom(src: String, sfx: String): String = {
    val perM = (0 until M).map { m =>
      val rounds = (1 to iters).map { r =>
        s"""a${r}_$sfx$m AS (${assignSql(s"qn$sfx$m", s"cent${r - 1}_$sfx$m", sd)}),
           |cent${r}_$sfx$m AS (${recomputeSql(s"a${r}_$sfx$m", sd)})""".stripMargin
      }.mkString(",\n")
      s"""qn$sfx$m AS (
         |  SELECT vec_id, list_slice(qv, ${m * sd + 1}, ${(m + 1) * sd}) AS qv,
         |         ${Portable.normSqSql(s"list_slice(qv, ${m * sd + 1}, ${(m + 1) * sd})")} AS nsq
         |  FROM $src),
         |cent0_$sfx$m AS (SELECT vec_id AS cid, qv AS c FROM qn$sfx$m WHERE vec_id < $Ks),
         |$rounds,
         |pos$sfx$m AS (
         |  SELECT cid, c, row_number() OVER (ORDER BY cid) - 1 AS pos
         |  FROM cent${iters}_$sfx$m),
         |codes$sfx$m AS (
         |  SELECT vec_id, pos, dist FROM (
         |    SELECT s.vec_id, s.pos, s.dist,
         |           ${Portable.rankSql("s.vec_id", "s.dist", "s.pos")} AS rn
         |    FROM (SELECT qn$sfx$m.vec_id, p.pos,
         |                 ${distSql(s"qn$sfx$m", "p", sd)} AS dist
         |          FROM qn$sfx$m CROSS JOIN pos$sfx$m p) s
         |  ) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val codesLong = (0 until M)
      .map(m => s"SELECT vec_id, $m AS m, pos, dist FROM codes$sfx$m").mkString("\n  UNION ALL ")
    s"""$perM,
       |codes_long$sfx AS (
       |  $codesLong)""".stripMargin
  }

  /** The raw-corpus PQ model + the panel's ADC tables, WITHOUT the q/qn
    * quantization prefix and without the full-corpus scoring tail — for
    * composition with the IVF chain, which shares the quantized corpus
    * CTEs and restricts scoring to probed cells. */
  private def pqModelCtes: String = {
    val tm = (0 until M).map { m =>
      s"""t$m AS (
         |  SELECT qq.vec_id AS query_id, p.pos,
         |         ${distSql("qq", "p", sd)} AS dist
         |  FROM qn$m qq CROSS JOIN pos$m p WHERE qq.vec_id < 8)""".stripMargin
    }.mkString(",\n")
    val tablesLong = (0 until M)
      .map(m => s"SELECT query_id, $m AS m, pos, dist FROM t$m").mkString("\n  UNION ALL ")
    s"""${pqModelCtesFrom("q", "")},
       |$tm,
       |tables_long AS (
       |  $tablesLong)""".stripMargin
  }

  def pqTopKSql(k: Int = TopK): String =
    s"""WITH $pqCtes
       |SELECT query_id, cand_id, adist, rank FROM pq_ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def pqRecallSql(k: Int = TopK): String =
    s"""WITH $pqCtes,
       |exact AS (${ExactPanels.l2Sql(k)}),
       |approx AS (
       |  SELECT query_id, cand_id FROM pq_ranked WHERE rank <= $k)
       |${ExactPanels.recallSql}""".stripMargin

  /** The IVF chain + PQ model + cell-restricted ADC scoring. */
  private def ivfPqCtes(nprobe: Int): String =
    s"""${Similarity.quantizedSql},
       |${Clustering.kmeansCtesNoQuantize},
       |$pqModelCtes,
       |${Clustering.probesSql(nprobe)},
       |scored_ivfpq AS (
       |  SELECT p.query_id, f.vec_id AS cand_id, CAST(sum(t.dist) AS BIGINT) AS adist
       |  FROM probes p
       |  JOIN fin f ON f.cid = p.cid
       |  JOIN codes_long c ON c.vec_id = f.vec_id
       |  JOIN tables_long t ON t.query_id = p.query_id AND t.m = c.m AND t.pos = c.pos
       |  WHERE p.query_id <> f.vec_id
       |  GROUP BY 1, 2),
       |ivfpq_ranked AS (
       |  SELECT query_id, cand_id, adist,
       |         ${Portable.rankSql("query_id", "adist", "cand_id")} AS rank
       |  FROM scored_ivfpq)""".stripMargin

  /** The OPQ-permutation chain: exact integer variance ranks, the
    * round-robin permutation, the permuted corpus, and the PQ kernel
    * retrained/searched in the permuted space. */
  private def opqCtes: String = {
    val tm = (0 until M).map { m =>
      s"""to$m AS (
         |  SELECT qq.vec_id AS query_id, p.pos,
         |         ${distSql("qq", "p", sd)} AS dist
         |  FROM qno$m qq CROSS JOIN poso$m p WHERE qq.vec_id < 8)""".stripMargin
    }.mkString(",\n")
    val tablesLong = (0 until M)
      .map(m => s"SELECT query_id, $m AS m, pos, dist FROM to$m")
      .mkString("\n  UNION ALL ")
    s"""${Similarity.quantizedSql},
       |vars AS (
       |  SELECT i.i AS dim,
       |         CAST(count(*) AS HUGEINT) * CAST(sum(qv[i.i]*qv[i.i]) AS HUGEINT)
       |           - CAST(sum(qv[i.i]) AS HUGEINT) * CAST(sum(qv[i.i]) AS HUGEINT) AS v
       |  FROM q, (SELECT unnest(generate_series(1, $dims)) AS i) i
       |  GROUP BY 1),
       |ranked_dims AS (
       |  SELECT dim, row_number() OVER (ORDER BY v DESC, dim) - 1 AS r FROM vars),
       |permlist AS (
       |  SELECT list(dim ORDER BY (r % $M) * $sd + (r // $M)) AS perm FROM ranked_dims),
       |qp AS (
       |  SELECT vec_id, list_transform(pl.perm, d -> qv[d]) AS qv FROM q, permlist pl),
       |${pqModelCtesFrom("qp", "o")},
       |$tm,
       |tables_longo AS (
       |  $tablesLong),
       |scored_o AS (
       |  SELECT t.query_id, c.vec_id AS cand_id, CAST(sum(t.dist) AS BIGINT) AS adist
       |  FROM codes_longo c JOIN tables_longo t ON c.m = t.m AND c.pos = t.pos
       |  WHERE t.query_id <> c.vec_id
       |  GROUP BY 1, 2),
       |opq_ranked AS (
       |  SELECT query_id, cand_id, adist,
       |         ${Portable.rankSql("query_id", "adist", "cand_id")} AS rank
       |  FROM scored_o)""".stripMargin
  }

  def opqTopKSql(k: Int = TopK): String =
    s"""WITH $opqCtes
       |SELECT query_id, cand_id, adist, rank FROM opq_ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def opqRecallSql(k: Int = TopK): String =
    s"""WITH $opqCtes,
       |exact AS (${ExactPanels.l2Sql(k)}),
       |approx AS (
       |  SELECT query_id, cand_id FROM opq_ranked WHERE rank <= $k)
       |${ExactPanels.recallSql}""".stripMargin

  /** The IVFADC residual chain: residual corpus (x − centroid(cell)),
    * the residual-trained PQ model, per-(query, probed-cell) residual ADC
    * tables, and cell-restricted scoring — the oracle replay of
    * [[ivfAdcTopK]]. */
  private def ivfAdcCtes(nprobe: Int): String = {
    val r = Clustering.trainRounds
    val rtm = (0 until M).map { m =>
      s"""qres$m AS (
         |  SELECT query_id, cid, list_slice(qv, ${m * sd + 1}, ${(m + 1) * sd}) AS qv,
         |         ${Portable.normSqSql(s"list_slice(qv, ${m * sd + 1}, ${(m + 1) * sd})")} AS nsq
         |  FROM qresid),
         |rt$m AS (
         |  SELECT qq.query_id, qq.cid, p.pos,
         |         ${distSql("qq", "p", sd)} AS dist
         |  FROM qres$m qq CROSS JOIN posr$m p)""".stripMargin
    }.mkString(",\n")
    val rtLong = (0 until M)
      .map(m => s"SELECT query_id, cid, $m AS m, pos, dist FROM rt$m")
      .mkString("\n  UNION ALL ")
    s"""${Similarity.quantizedSql},
       |${Clustering.kmeansCtesNoQuantize},
       |resid AS (
       |  SELECT f.vec_id, f.cid,
       |         list_transform(generate_series(1, $dims), i -> f.qv[i] - c.c[i]) AS qv
       |  FROM fin f JOIN cent$r c ON c.cid = f.cid),
       |${pqModelCtesFrom("resid", "r")},
       |${Clustering.probesSql(nprobe)},
       |qresid AS (
       |  SELECT p.query_id, p.cid,
       |         list_transform(generate_series(1, $dims), i -> qn.qv[i] - c.c[i]) AS qv
       |  FROM probes p JOIN qn ON qn.vec_id = p.query_id
       |  JOIN cent$r c ON c.cid = p.cid),
       |$rtm,
       |rtables_long AS (
       |  $rtLong),
       |scored_adc AS (
       |  SELECT rt.query_id, cl.vec_id AS cand_id, CAST(sum(rt.dist) AS BIGINT) AS adist
       |  FROM codes_longr cl
       |  JOIN fin f ON f.vec_id = cl.vec_id
       |  JOIN rtables_long rt ON rt.cid = f.cid AND rt.m = cl.m AND rt.pos = cl.pos
       |  WHERE rt.query_id <> cl.vec_id
       |  GROUP BY 1, 2),
       |adc_ranked AS (
       |  SELECT query_id, cand_id, adist,
       |         ${Portable.rankSql("query_id", "adist", "cand_id")} AS rank
       |  FROM scored_adc)""".stripMargin
  }

  def ivfAdcTopKSql(k: Int = TopK, nprobe: Int = 2): String =
    s"""WITH ${ivfAdcCtes(nprobe)}
       |SELECT query_id, cand_id, adist, rank FROM adc_ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def ivfAdcRecallSql(k: Int = TopK, nprobe: Int = 2): String =
    s"""WITH ${ivfAdcCtes(nprobe)},
       |exact AS (${ExactPanels.l2Sql(k)}),
       |approx AS (
       |  SELECT query_id, cand_id FROM adc_ranked WHERE rank <= $k)
       |${ExactPanels.recallSql}""".stripMargin

  def ivfPqTopKSql(k: Int = TopK, nprobe: Int = 2): String =
    s"""WITH ${ivfPqCtes(nprobe)}
       |SELECT query_id, cand_id, adist, rank FROM ivfpq_ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  def ivfPqRecallSql(k: Int = TopK, nprobe: Int = 2): String =
    s"""WITH ${ivfPqCtes(nprobe)},
       |exact AS (${ExactPanels.l2Sql(k)}),
       |approx AS (
       |  SELECT query_id, cand_id FROM ivfpq_ranked WHERE rank <= $k)
       |${ExactPanels.recallSql}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pq_topk" -> ((s, d) => pqTopK(s, d)),
    "sim_pq_recall" -> ((s, d) => pqRecall(s, d)),
    "sim_ivfpq_topk" -> ((s, d) => ivfPqTopK(s, d)),
    "sim_ivfpq_recall" -> ((s, d) => ivfPqRecall(s, d)),
    "sim_ivfadc_topk" -> ((s, d) => ivfAdcTopK(s, d)),
    "sim_ivfadc_recall" -> ((s, d) => ivfAdcRecall(s, d)),
    "sim_opq_topk" -> ((s, d) => opqTopK(s, d)),
    "sim_opq_recall" -> ((s, d) => opqRecall(s, d)),
    "sim_pq_incremental" -> pqIncremental)

  val oracles: Map[String, String] = Map(
    "sim_pq_topk" -> pqTopKSql(),
    "sim_pq_recall" -> pqRecallSql(),
    "sim_ivfpq_topk" -> ivfPqTopKSql(),
    "sim_ivfpq_recall" -> ivfPqRecallSql(),
    "sim_ivfadc_topk" -> ivfAdcTopKSql(),
    "sim_ivfadc_recall" -> ivfAdcRecallSql(),
    "sim_opq_topk" -> opqTopKSql(),
    "sim_opq_recall" -> opqRecallSql(),
    "sim_pq_incremental" -> pqIncrementalSql)
}
