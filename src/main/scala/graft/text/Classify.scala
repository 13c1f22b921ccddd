package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** In-query Naive Bayes quality classifier — the fastText/CCNet-style
  * model-based quality filter (Wenzek et al. 2020, CCNet; Joulin et al.
  * 2017): train multinomial NB term weights on the TRAIN split against
  * a deterministic heuristic label, then score EVERY document with the
  * log-likelihood ratio. The whole train+score round trip is one query —
  * the shape a 100 TB curation pipeline runs nightly (the "model" is a
  * term → weight table, naturally a DataFrame).
  *
  * Reference context: /root/reference/src/ has no text surface; this is
  * SURVEY §2.4 harness capability, LLM-data-pipeline class.
  *
  * Exactness: class-conditional surprisal is QUANTIZED to integer bits
  * with the perplexity trick — s_c(term) = floor(log2((T_c + V)·2^20
  * div (c_c(term)+1))) as length(bin(x))−1, exact integer arithmetic in
  * both engines — and the per-doc margin is the RAW integer sum
  * Σ tf·(s_bad − s_good) (no division: Spark's DIV truncates toward
  * zero while DuckDB's // floors, and the margin is signed — emitting
  * the undivided sum sidesteps the semantic gap entirely). Positive
  * margin ⇒ the good-class likelihood wins (equal priors — a
  * likelihood-ratio score; the doc-count prior is a per-doc constant a
  * deployment adds back trivially).
  *
  * Scale shape: the heuristic label is a per-doc map; class term counts
  * are ONE partial+final agg over the train split's (term → tf·1{class})
  * rows; (T_c, V) is a 1-row broadcast; scoring is an equi-join of the
  * corpus tf table with the |vocabulary|-sized weight table on term,
  * then a per-doc agg — identical layout to [[TextAnalysis.perplexity]]
  * (which is the same query against a one-class LM). Same 2^43-token
  * shift-overflow bound as perplexity; widen the scale type past that.
  *
  * API contract: only TRAIN-VOCABULARY tokens score (inner join — OOV
  * tokens carry no evidence either way under equal smoothing); documents
  * with zero in-vocab tokens are absent from the output.
  */
object Classify {

  /** Heuristic label: good ⇔ stopword tokens ≥ 20% of tokens (integer
    * cross-multiplied — no ratio materializes). The stand-in for the
    * "known-good reference corpus" label CCNet trains against. */
  private def isGood(toks: org.apache.spark.sql.Column) =
    size(filter(toks, tk => tk.isin(TextAnalysis.enStop: _*))) * 5 >= size(toks)

  private val isGoodSql: String = {
    val stopList = TextAnalysis.enStop.map(s => s"'$s'").mkString("[", ", ", "]")
    s"len(list_filter(toks, x -> list_contains($stopList, x))) * 5 >= len(toks)"
  }

  def nbQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .withColumn("split", TextAnalysis.splitOf(col("doc_id")))
      .withColumn("label", when(isGood(col("toks")), "good").otherwise("bad"))
    val tf = docs
      .select(col("doc_id"), col("split"), col("label"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "split", "label", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds training AND scoring
    // training: per-term class counts over the train split, one agg
    val vocab = tf.filter(col("split") === "train")
      .groupBy("term")
      .agg(sum(when(col("label") === "good", col("tf")).otherwise(0L)).as("cg"),
        sum(when(col("label") === "bad", col("tf")).otherwise(0L)).as("cb"))
      .localCheckpoint(false)
    val totals = vocab.agg(sum("cg").as("tg"), sum("cb").as("tb"),
      count(lit(1)).as("v"))
    val weights = vocab.crossJoin(broadcast(totals))
      .select(col("term"),
        (length(bin(expr("((tg + v) * 1048576) DIV (cg + 1)"))).cast("long") - 1L)
          .as("sg"),
        (length(bin(expr("((tb + v) * 1048576) DIV (cb + 1)"))).cast("long") - 1L)
          .as("sb"))
    tf.join(weights, "term")
      .groupBy("doc_id", "split", "label")
      .agg(sum("tf").as("n_scored_tokens"),
        sum(col("tf") * (col("sb") - col("sg"))).as("margin_bits"))
      .withColumn("pred", when(col("margin_bits") > 0, "good").otherwise("bad"))
      .select("doc_id", "split", "label", "n_scored_tokens", "margin_bits", "pred")
      .orderBy("doc_id")
  }

  val nbQualitySql: String = {
    val tok = TextAnalysis.tokSql
    s"""WITH d AS (
       |  SELECT doc_id, $tok AS toks,
       |         CASE WHEN ${TextAnalysis.splitHashSql("doc_id")} < 80 THEN 'train'
       |              WHEN ${TextAnalysis.splitHashSql("doc_id")} < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents
       |), lab AS (
       |  SELECT doc_id, toks, split,
       |         CASE WHEN $isGoodSql THEN 'good' ELSE 'bad' END AS label
       |  FROM d
       |), tf AS (
       |  SELECT doc_id, split, label, term, count(*) AS tf
       |  FROM (SELECT doc_id, split, label, unnest(toks) AS term FROM lab)
       |  GROUP BY 1, 2, 3, 4
       |), vocab AS (
       |  SELECT term,
       |         CAST(sum(CASE WHEN label = 'good' THEN tf ELSE 0 END) AS BIGINT) AS cg,
       |         CAST(sum(CASE WHEN label = 'bad' THEN tf ELSE 0 END) AS BIGINT) AS cb
       |  FROM tf WHERE split = 'train' GROUP BY term
       |), tot AS (
       |  SELECT CAST(sum(cg) AS BIGINT) AS tg, CAST(sum(cb) AS BIGINT) AS tb,
       |         count(*) AS v
       |  FROM vocab
       |), w AS (
       |  SELECT term,
       |         length(bin(((tg + v) * 1048576) // (cg + 1))) - 1 AS sg,
       |         length(bin(((tb + v) * 1048576) // (cb + 1))) - 1 AS sb
       |  FROM vocab CROSS JOIN tot
       |)
       |SELECT tf.doc_id, tf.split, tf.label,
       |       CAST(sum(tf.tf) AS BIGINT) AS n_scored_tokens,
       |       CAST(sum(tf.tf * (w.sb - w.sg)) AS BIGINT) AS margin_bits,
       |       CASE WHEN CAST(sum(tf.tf * (w.sb - w.sg)) AS BIGINT) > 0
       |            THEN 'good' ELSE 'bad' END AS pred
       |FROM tf JOIN w USING (term)
       |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin
  }

  /** Confusion summary of [[nbQuality]] on the HELD-OUT splits only —
    * the model-eval step beside the scorer: (split, label, pred) cell
    * counts plus each cell's mean margin in exact milli-bits-per-token
    * (1000·Σ margin is divided by Σ tokens once, in DOUBLE — identical
    * IEEE op on identical integer sums). Nine-ish rows out. */
  def nbConfusion(spark: SparkSession, dir: String): DataFrame =
    nbQuality(spark, dir)
      .filter(col("split") =!= "train")
      .groupBy("split", "label", "pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_scored_tokens").as("n_tokens"),
        sum("margin_bits").as("sum_margin"))
      .withColumn("mean_margin_mbits",
        (col("sum_margin").cast("double") * 1000d) / col("n_tokens").cast("double"))
      .orderBy("split", "label", "pred")

  val nbConfusionSql: String =
    s"""WITH scored AS (${nbQualitySql.replace("ORDER BY doc_id", "")})
       |SELECT split, label, pred, count(*) AS n_docs,
       |       CAST(sum(n_scored_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(margin_bits) AS BIGINT) AS sum_margin,
       |       CAST(sum(margin_bits) AS DOUBLE) * 1000 / CAST(sum(n_scored_tokens) AS DOUBLE)
       |         AS mean_margin_mbits
       |FROM scored WHERE split <> 'train'
       |GROUP BY 1, 2, 3 ORDER BY split, label, pred""".stripMargin

  /** Calibration curve of the NB margin — the reliability diagram every
    * model-based filter ships with: docs bucketed by margin (fixed
    * 256-bit-wide bins; floor of a power-of-two double division is
    * IEEE-exact and floors identically in both engines, unlike signed
    * integer DIV), per-(split, bin) label-good rate in exact permille.
    * Output bounded by bins × splits, never doc count. */
  def nbCalibration(spark: SparkSession, dir: String): DataFrame =
    nbQuality(spark, dir)
      .withColumn("margin_bin",
        floor(col("margin_bits").cast("double") / 256.0d).cast("long"))
      .groupBy("split", "margin_bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label") === "good", 1L).otherwise(0L)).as("n_good"))
      .withColumn("good_permille", expr("(1000 * n_good) DIV n_docs"))
      .orderBy("split", "margin_bin")

  val nbCalibrationSql: String =
    s"""WITH scored AS (${nbQualitySql.replace("ORDER BY doc_id", "")})
       |SELECT split, CAST(floor(margin_bits / 256.0) AS BIGINT) AS margin_bin,
       |       count(*) AS n_docs,
       |       CAST(sum(CASE WHEN label = 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       |       CAST((1000 * sum(CASE WHEN label = 'good' THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
       |         AS good_permille
       |FROM scored GROUP BY 1, 2 ORDER BY split, margin_bin""".stripMargin

  /** Per-document cross-entropy under the corpus BIGRAM language model
    * with add-one smoothing — the KenLM-shaped quality signal one rung
    * above [[TextAnalysis.perplexity]]'s unigram LM (a doc of real words
    * in scrambled order is invisible to unigram surprisal; the bigram
    * model prices the transitions). P(w2|w1) = (c(w1w2)+1)/(c(w1·)+V),
    * surprisal quantized to whole bits via the bin trick — exact integer
    * arithmetic both engines; same 2^43 shift bound as the unigram form.
    *
    * Scale shape: adjacent-pair explode → per-(doc,bigram) tf agg →
    * corpus bigram counts (shuffle keyed on the bigram) → context
    * counts by first-word agg over THE BIGRAM TABLE (|bigram vocab|
    * input, not corpus) → two equi-joins (bigram, then w1) + per-doc
    * agg. Every stage partial+final; nothing global but the 1-row V.
    * Docs with <2 tokens have no transitions and are excluded. */
  def bigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val bg = t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .localCheckpoint(false) // keep the split() out of the per-index lambda
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), (i + 1).cast("int"))))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds corpus counts AND the score join
    val corpus = bg.groupBy("bg").agg(sum("tf").as("c12")).localCheckpoint(false)
    val ctx = corpus
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy("w1").agg(sum("c12").as("c1"))
    val v = corpus.agg(count(lit(1)).as("v"))
    val scored = bg.join(corpus, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(ctx, "w1")
      .crossJoin(broadcast(v))
      .withColumn("s",
        length(bin(expr("((c1 + v) * 1048576) DIV (c12 + 1)"))).cast("long") - 1L)
    scored.groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        expr("(1000 * sum(tf * s)) DIV sum(tf)").as("h2_mbits"))
      .orderBy("doc_id")
  }

  val bigramPerplexitySql: String = {
    val tok = TextAnalysis.tokSql
    s"""WITH d AS (
       |  SELECT doc_id, $tok AS toks FROM documents
       |), bgl AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i + 1])) AS bg
       |  FROM d WHERE len(toks) >= 2
       |), tf AS (
       |  SELECT doc_id, bg, count(*) AS tf FROM bgl GROUP BY 1, 2
       |), corpus AS (
       |  SELECT bg, CAST(sum(tf) AS BIGINT) AS c12 FROM tf GROUP BY bg
       |), ctx AS (
       |  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
       |  FROM corpus GROUP BY 1
       |), vt AS (SELECT count(*) AS v FROM corpus)
       |SELECT tf.doc_id,
       |       CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
       |       CAST((1000 * sum(tf.tf * (length(bin(((c.c1 + vt.v) * 1048576) // (co.c12 + 1))) - 1)))
       |            // sum(tf.tf) AS BIGINT) AS h2_mbits
       |FROM tf
       |JOIN corpus co USING (bg)
       |JOIN ctx c ON split_part(tf.bg, ' ', 1) = c.w1
       |CROSS JOIN vt
       |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin
  }

  /** Zipf-law fit over the top-1000 corpus terms — the vocabulary-health
    * diagnostic (a natural corpus fits log f ≈ −log r; template spam and
    * synthetic text bend the curve). Log coordinates are QUANTIZED to
    * exact fractional bits with the bin trick — rank at quarter-bit
    * resolution (floor(4·log2 r) = len(bin(r⁴))−1, r ≤ 1000 so r⁴ fits
    * BIGINT), frequency at half-bit (f² needs f < 3e9 — widen past
    * that corpus size) — so the regression sums are integers and the
    * least-squares slope is one shared IEEE tree. slope_bits ≈ −1 for
    * Zipfian text.
    *
    * Scale shape: term counts are one partial+final agg; the top-1000
    * is a bounded TakeOrdered (never a global sort of the vocabulary);
    * the regression runs over exactly 1000 rows. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = t(spark, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term").asc)
      .limit(1000)
    val ranked = top
      .withColumn("r", row_number()
        .over(Window.orderBy(col("f").desc, col("term").asc)).cast("long"))
      .select(
        (length(bin(col("r") * col("r") * col("r") * col("r"))).cast("long") - 1L).as("xq"),
        (length(bin(col("f") * col("f"))).cast("long") - 1L).as("yq"))
    ranked.agg(count(lit(1)).as("n_terms"),
        sum("xq").as("sx"), sum("yq").as("sy"),
        sum(col("xq") * col("xq")).as("sxx"),
        sum(col("xq") * col("yq")).as("sxy"))
      .select(col("n_terms"), col("sx"), col("sy"), col("sxy"),
        // slope in quantized units, rescaled: Y half-bits over X
        // quarter-bits → ×(1/2)/(1/4) = ×2 to true bits/bits
        (lit(2.0d) * (col("n_terms") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_terms") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
          .as("slope_bits"))
  }

  val zipfFitSql: String = {
    val tok = TextAnalysis.tokSql
    s"""WITH tf AS (
       |  SELECT term, count(*) AS f
       |  FROM (SELECT unnest($tok) AS term FROM documents)
       |  GROUP BY term
       |), top AS (
       |  SELECT term, f FROM tf ORDER BY f DESC, term LIMIT 1000
       |), ranked AS (
       |  SELECT length(bin(r * r * r * r)) - 1 AS xq,
       |         length(bin(f * f)) - 1 AS yq
       |  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM top)
       |), s AS (
       |  SELECT count(*) AS n_terms,
       |         CAST(sum(xq) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
       |         CAST(sum(xq * xq) AS BIGINT) AS sxx,
       |         CAST(sum(xq * yq) AS BIGINT) AS sxy
       |  FROM ranked
       |)
       |SELECT n_terms, sx, sy, sxy,
       |       2.0 * (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |       / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |         AS slope_bits
       |FROM s""".stripMargin
  }

  /** Threshold grid for [[qualitySweep]], in milli-bits per scored
    * token. Fixed so the oracle enumerates the same grid. */
  private val sweepTaus =
    Seq(-2000L, -1000L, -500L, -200L, -100L, 0L, 100L, 200L, 500L, 1000L, 2000L)

  /** Quality-filter threshold sweep — the tuning report a curation
    * pipeline runs BEFORE fixing the filter: for each candidate
    * threshold τ (milli-bits per scored token), how many documents and
    * tokens survive `margin ≥ τ·tokens`, and how many of the survivors
    * carry the heuristic good label. Retention is compared by CROSS
    * MULTIPLICATION (`1000·margin ≥ τ·tokens`) — no per-doc division,
    * which both avoids the Spark-DIV-vs-DuckDB-// signed-floor gap the
    * [[nbQuality]] scaladoc documents and keeps the comparison exact.
    *
    * Scale shape: one ×|grid| map-side explode of the scored-docs frame
    * that collapses to ≤|grid| cells per partition before the final
    * ≤|grid|-row shuffle (the `stat_bootstrap_ci` explode pattern);
    * corpus-level totals ride a 1-row broadcast. Thresholds that retain
    * nothing simply have no row — both engines agree. */
  def qualitySweep(spark: SparkSession, dir: String): DataFrame = {
    val s = nbQuality(spark, dir)
      .select(col("label"), col("n_scored_tokens"), col("margin_bits"))
      .localCheckpoint(false) // consumers: the sweep explode + the totals row
    val tot = s.agg(count(lit(1)).as("total_docs"),
      sum("n_scored_tokens").as("total_tokens"))
    s.select(col("label"), col("n_scored_tokens"), col("margin_bits"),
        explode(array(sweepTaus.map(lit(_)): _*)).as("tau_mbits"))
      .filter(col("margin_bits") * 1000L >= col("tau_mbits") * col("n_scored_tokens"))
      .groupBy("tau_mbits")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_scored_tokens").as("n_tokens"),
        sum(when(col("label") === "good", 1L).otherwise(0L)).as("n_good"))
      .crossJoin(broadcast(tot))
      .select(col("tau_mbits"), col("n_docs"), col("n_tokens"), col("n_good"),
        expr("(1000 * n_docs) DIV total_docs").as("doc_permille"),
        expr("(1000 * n_tokens) DIV total_tokens").as("token_permille"))
      .orderBy("tau_mbits")
  }

  val qualitySweepSql: String = {
    val grid = sweepTaus.mkString("[", ", ", "]")
    s"""WITH sc AS (
       |$nbQualitySql
       |),
       |grid AS (SELECT CAST(unnest($grid) AS BIGINT) AS tau_mbits),
       |ret AS (
       |  SELECT g.tau_mbits,
       |         count(*) AS n_docs,
       |         CAST(sum(s.n_scored_tokens) AS BIGINT) AS n_tokens,
       |         CAST(sum(CASE WHEN s.label = 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_good
       |  FROM sc s JOIN grid g
       |    ON s.margin_bits * 1000 >= g.tau_mbits * s.n_scored_tokens
       |  GROUP BY 1),
       |tot AS (
       |  SELECT count(*) AS total_docs,
       |         CAST(sum(n_scored_tokens) AS BIGINT) AS total_tokens
       |  FROM sc)
       |SELECT tau_mbits, n_docs, n_tokens, n_good,
       |       (1000 * n_docs) // total_docs AS doc_permille,
       |       (1000 * n_tokens) // total_tokens AS token_permille
       |FROM ret CROSS JOIN tot
       |ORDER BY tau_mbits""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_nb_quality" -> nbQuality,
    "text_nb_confusion" -> nbConfusion,
    "text_nb_calibration" -> nbCalibration,
    "text_bigram_perplexity" -> bigramPerplexity,
    "text_zipf_fit" -> zipfFit,
    "pipeline_quality_sweep" -> qualitySweep)

  val oracles: Map[String, String] = Map(
    "text_nb_quality" -> nbQualitySql,
    "text_nb_confusion" -> nbConfusionSql,
    "text_nb_calibration" -> nbCalibrationSql,
    "text_bigram_perplexity" -> bigramPerplexitySql,
    "text_zipf_fit" -> zipfFitSql,
    "pipeline_quality_sweep" -> qualitySweepSql)
}
