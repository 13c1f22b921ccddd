package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** Unigram-LM (SentencePiece-style) tokenization as distributed
  * dataflow — the second member of the tokenizer family next to
  * [[Bpe]]: a LEARNED piece vocabulary (Kudo 2018's unigram language
  * model, hard-EM variant), then Viterbi segmentation of the corpus
  * under the learned model.
  *
  * Training (hard EM, a.k.a. Viterbi EM — the E-step uses the 1-best
  * segmentation instead of forward–backward expectations; rounds fixed
  * so the DuckDB oracle can unroll the loop):
  *  1. SEED: every substring of length ≤ [[maxPieceLen]] of every word
  *     form, weighted by corpus occurrence count; vocabulary = top
  *     [[seedK]] by (count desc, piece asc — a total order) UNION all
  *     single characters (initial full coverage).
  *  2. Per round: Viterbi-segment every form under the current model,
  *     re-count pieces corpus-weighted (E), renormalize (M), PRUNE to
  *     the top [[pruneK]] by (count desc, piece asc). Characters can
  *     fall out of the vocabulary — positions they'd cover fall back to
  *     a minimum-probability UNK piece (SentencePiece's coverage knob),
  *     which is what gives encode REAL out-of-vocab accounting.
  *
  * Cross-engine exactness (the part that makes a DuckDB oracle possible
  * for a probabilistic model): piece probabilities are QUANTIZED to
  * dyadic rationals — q(piece) = (cnt · 2³⁰) div Σcnt as an exact
  * integer, prob = q / 2³⁰ (a power-of-two division, exact in IEEE
  * doubles). The Viterbi DP multiplies those exact doubles in the SAME
  * order in both engines (dp[prev] · prob, positions left to right), so
  * every intermediate score is bit-identical, and argmax ties break by
  * smallest piece-start (Spark: strict `>` keeps the first maximum of
  * an ascending fold; DuckDB: ORDER BY score DESC, start ASC LIMIT 1).
  * At corpora where counts approach 2⁶³⁻³⁰ the scale factor drops to
  * 2²⁰ — a config change, not a redesign.
  *
  * Scale: training state is the Zipf-small distinct word-form table
  * (identical discipline to [[Bpe]]); the model is a ≤[[seedK]]-row
  * frame broadcast as a map literal (the 1-row-aggregate crossJoin
  * idiom); the only corpus-sized work is one occurrence shuffle and the
  * final occ ⋈ form-stats broadcast join. The Viterbi DP is a per-form
  * higher-order-function fold — O(word length × maxPieceLen) per form,
  * no shuffle.
  */
object Unigram {

  /** Longest candidate piece (chars). */
  val maxPieceLen = 4

  /** Seed vocabulary size (plus all single characters). */
  val seedK = 60

  /** Post-round vocabulary size — pieces only, no unconditional
    * character floor, so rare characters genuinely fall out and the
    * UNK path is exercised on the harness corpus (at 32, the fixture's
    * rarest singles — 'w', 'p', 'j', 'q' at sf0.001 — drop below the
    * cut while only some have multi-char cover, giving every encode
    * query real nonzero UNK accounting). */
  val pruneK = 32

  /** Hard-EM rounds (= prune steps). Fixed for oracle unrolling. */
  val emRounds = 2

  /** Probability scale: q = (cnt · 2^scaleBits) div total. */
  val scaleBits = 30
  private val scale = 1L << scaleBits // 1073741824

  // -------------------------------------------------------------------
  // Viterbi segmentation expression (shared by every round and encode)
  // -------------------------------------------------------------------

  /** Per-form Viterbi DP as one SQL higher-order fold over positions
    * 1..len(w). State: array of (d: best score, b: chosen piece start),
    * entry k ↔ position k−1 (position 0 seeds d=1.0). Candidate starts
    * s ∈ [max(1, i−maxPieceLen+1), i] scan ascending; strict `>` keeps
    * the smallest s on ties. A length-1 piece missing from the model is
    * the UNK fallback at q=1 (prob 2⁻³⁰); longer missing pieces are
    * skipped. The finish lambda backtracks start pointers into the
    * piece array (reverse order — consumers only count). Expects
    * columns `w` and `vm` (map piece → q). */
  private[graft] val viterbiSegs: Column = {
    val lookup = (piece: String) => s"try_element_at(vm, $piece)"
    val piece = s"substring(w, s, i - s + 1)"
    val prob =
      s"(cast(coalesce(${lookup(piece)}, 1L) as double) / $scale.0D)"
    expr(
      s"""aggregate(
         |  sequence(1, length(w)),
         |  array(named_struct('d', 1.0D, 'b', -1)),
         |  (st, i) -> concat(st, array(
         |    aggregate(
         |      sequence(greatest(1, i - ${maxPieceLen - 1}), i),
         |      named_struct('d', cast(-1.0 as double), 'b', -1),
         |      (b, s) -> case
         |        when coalesce(${lookup(piece)},
         |               if(i = s, 1L, cast(null as bigint))) is null then b
         |        when element_at(st, s).d * $prob > b.d
         |          then named_struct('d', element_at(st, s).d * $prob, 'b', s)
         |        else b end))),
         |  st -> aggregate(
         |    sequence(1, length(w)),
         |    named_struct('p', length(w), 'ps', cast(array() as array<string>)),
         |    (acc, x) -> if(acc.p <= 0, acc,
         |      named_struct(
         |        'p', element_at(st, acc.p + 1).b - 1,
         |        'ps', concat(acc.ps, array(substring(w,
         |                element_at(st, acc.p + 1).b,
         |                acc.p - element_at(st, acc.p + 1).b + 1))))),
         |    acc -> acc.ps))""".stripMargin)
  }

  /** Attach the model as a broadcast 1-row map literal and segment each
    * form: (w, wcnt) × model(piece, q) → (w, wcnt, segs). */
  private def segment(forms: DataFrame, model: DataFrame): DataFrame =
    forms
      .crossJoin(broadcast(model.agg(
        map_from_entries(collect_list(struct(col("piece"), col("q")))).as("vm"))))
      .select(col("w"), col("wcnt"), viterbiSegs.as("segs"), col("vm"))

  // -------------------------------------------------------------------
  // Training
  // -------------------------------------------------------------------

  /** (piece, cnt) → (piece, cnt, q) under the model's own total — the
    * M-step renormalization, exact integer arithmetic. */
  private def withQ(vocab: DataFrame): DataFrame = {
    val v = vocab.localCheckpoint(false)
    v.crossJoin(broadcast(v.agg(sum(col("cnt")).as("t"))))
      .select(col("piece"), col("cnt"),
        expr(s"(cnt * $scale) div t").as("q"))
  }

  /** Seed candidate counts: every substring of length 1..maxPieceLen of
    * every form, weighted by the form's corpus count. */
  private[graft] def seedCounts(forms: DataFrame): DataFrame =
    forms
      .select(col("wcnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  s -> transform(sequence(1, least($maxPieceLen, length(w) - s + 1)),
           |       l -> substring(w, s, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))

  /** The hard-EM training loop over a form table: returns the final
    * model (piece, cnt, q). Each round's model is a ≤seedK-row frame —
    * localCheckpoint cuts the loop's lineage at O(vocab) cost. */
  private[graft] def trainModel(forms: DataFrame): DataFrame = {
    val seeds = seedCounts(forms).localCheckpoint(false)
    val vocab0 = seeds
      .orderBy(desc("cnt"), col("piece")).limit(seedK)
      .unionAll(seeds.filter(length(col("piece")) === 1))
      .distinct()
    var model = withQ(vocab0).localCheckpoint(false)
    for (_ <- 1 to emRounds) {
      val counts = segment(forms, model)
        .select(col("wcnt"), explode(col("segs")).as("piece"))
        .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))
      model = withQ(counts.orderBy(desc("cnt"), col("piece")).limit(pruneK))
        .localCheckpoint(false)
    }
    model
  }

  // -------------------------------------------------------------------
  // Queries
  // -------------------------------------------------------------------

  /** The released model artifact — (piece, cnt, q): final-round piece
    * counts and quantized probabilities, the unigram analog of
    * [[Bpe.bpeMerges]]' merges.txt. Integer columns only, so the oracle
    * comparison is exact without any float column. */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame =
    trainedModel(t(spark, dir, "documents"),
      Some(("text.unigram", graft.Memo.input(dir), "full")))
      .orderBy(desc("cnt"), col("piece"))

  /** Encode the corpus under the learned model — per-doc token
    * accounting plus a corpus-total ROLLUP row (doc_id = −1):
    * (doc_id, n_words, n_unigram_tokens, n_unk_tokens). UNK counts are
    * REAL on the same corpus (pruning drops rare characters), not a
    * structural zero. */
  def unigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    encodeAcross(docs, docs, Some(("text.unigram", graft.Memo.input(dir), "full")))
  }

  /** Held-out encode — model learned on the canonical TRAIN split
    * ([[TextAnalysis.splitHash]] < 80), applied to the VAL split
    * (80 ≤ h < 90): unseen val words segment under train statistics,
    * mirroring [[Bpe.bpeEncodeHeldout]]. */
  def unigramEncodeHeldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val h = TextAnalysis.splitHash(col("doc_id"))
    encodeAcross(docs.filter(h < 80), docs.filter(h >= 80 && h < 90),
      Some(("text.unigram", graft.Memo.input(dir), "train80")))
  }

  /** Train on `trainDocs`, Viterbi-encode `evalDocs`, account per doc.
    * The eval corpus pays one occurrence shuffle; everything else is
    * form-level work under broadcast models. */
  /** [[trainModel]] memoized under `memoKey` (None = direct). */
  private[graft] def trainedModel(trainDocs: DataFrame,
                                  memoKey: Option[Product]): DataFrame = {
    def train = trainModel(Bpe.formTable(trainDocs))
    memoKey.fold(train)(graft.Memo(trainDocs.sparkSession, _)(train))
  }

  private[graft] def encodeAcross(trainDocs: DataFrame,
                                  evalDocs: DataFrame,
                                  memoKey: Option[Product] = None): DataFrame = {
    val model = trainedModel(trainDocs, memoKey)
    val occ = evalDocs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("occ"))
      .localCheckpoint(false)
    val evalForms = occ.groupBy("w").agg(sum(col("occ")).as("wcnt"))
    // per-form stats: piece count + UNK count (pieces absent from the
    // model — only UNK fallback emissions can be absent)
    val formStats = segment(evalForms, model)
      .select(col("w"),
        size(col("segs")).cast("long").as("n_tok"),
        size(expr("filter(segs, p -> try_element_at(vm, p) is null)"))
          .cast("long").as("n_unk"))
    occ.join(broadcast(formStats), Seq("w"))
      .rollup(col("doc_id"))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("n_tok")).as("n_unigram_tokens"),
        sum(col("occ") * col("n_unk")).as("n_unk_tokens"))
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        col("n_words"), col("n_unigram_tokens"), col("n_unk_tokens"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // DuckDB oracles: the same machine, occurrence-quantization identical,
  // with the Viterbi DP as recursive CTEs carrying (dp, bp) lists.
  // -------------------------------------------------------------------

  private val tokSql = TextAnalysis.tokSql

  /** Form table CTEs over a restricted document set. */
  private def formCtes(where: String, pfx: String): String =
    s"""${pfx}tk AS (SELECT doc_id, $tokSql AS toks FROM documents$where),
       |${pfx}words AS (
       |  SELECT doc_id, toks[u.i] AS w
       |  FROM ${pfx}tk, unnest(generate_series(1, len(toks))) AS u(i)),
       |${pfx}forms AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM ${pfx}words GROUP BY w)""".stripMargin

  /** One Viterbi pass over `formsCte` under model `m`.
    *
    * DuckDB restrictions shape this SQL: the binder refuses outer joins
    * on correlated columns inside LATERAL, and lambda expressions
    * inside a RECURSIVE term mis-evaluate outer column references at
    * multi-chunk row counts (observed on v1.0.0 — correct standalone,
    * wrong in recursion at sf0.01) — so the recursive term uses NO
    * lambdas at all. Candidate piece scores per (word, end-position)
    * are precomputed non-recursively and PIVOTED to one column per
    * piece length (qv1..qv$maxPieceLen, NULL = no candidate); the
    * recursive DP (dp$tag — dp/bp lists 1-indexed, entry k ↔ position
    * k−1, position 0 seeded d=1.0/b=−1) joins that row 1:1 and unrolls
    * the argmax as scalar CASE logic: longest piece (= smallest start)
    * checked first with `>=`, exactly the first-max-wins order of the
    * Spark fold; score = dp[prev] · (q / 2³⁰), q from the model or the
    * UNK 1 for uncovered single characters. seg$tag backtracks (bp at
    * position p lives at index p+1). */
  private def viterbiCtes(tag: String, formsCte: String, m: String): String = {
    // pivoted candidate columns qv1..qvN (piece length l, start s = i-l+1)
    val qvCols = (1 to maxPieceLen).map(l =>
      s"max(CASE WHEN i - s + 1 = $l THEN qv END) AS qv$l").mkString(",\n       |         ")
    // score per length: dp index of prev position (s-1) is i_new - l + 1 = d.i + 2 - l
    val scCols = (1 to maxPieceLen).map(l =>
      s"d.dp[d.i + ${2 - l}] * (CAST(c.qv$l AS DOUBLE) / $scale.0) AS s$l")
      .mkString(",\n       |           ")
    // first-max-wins over l descending (smallest start first): sN wins iff
    // non-null and >= every shorter-piece score
    def others(l: Int) =
      (1 until l).map(k => if (k == 1) "s1" else s"coalesce(s$k, -1.0)")
        .mkString("greatest(", ", ", ")")
    val bpCase = (maxPieceLen to 2 by -1).map(l =>
      s"WHEN s$l IS NOT NULL AND s$l >= ${others(l)} THEN i - ${l - 1}")
      .mkString("CASE\n       |             ", "\n       |             ", "\n       |             ELSE i END")
    val bestSc = (2 to maxPieceLen).map(l => s"coalesce(s$l, -1.0)")
      .mkString("greatest(s1, ", ", ", ")")
    s"""base$tag AS (
       |  SELECT f.w, x.i, y.s, substr(f.w, y.s, x.i - y.s + 1) AS piece
       |  FROM $formsCte f,
       |       unnest(generate_series(1, length(f.w))) AS x(i),
       |       unnest(generate_series(greatest(1, x.i - ${maxPieceLen - 1}),
       |                              x.i)) AS y(s)),
       |cands$tag AS (
       |  SELECT w, i,
       |         $qvCols
       |  FROM (
       |    SELECT b.w, b.i, b.s,
       |           coalesce(mm.q, CASE WHEN b.s = b.i THEN 1 END) AS qv
       |    FROM base$tag b LEFT JOIN $m mm ON mm.piece = b.piece
       |    WHERE coalesce(mm.q, CASE WHEN b.s = b.i THEN 1 END) IS NOT NULL)
       |  GROUP BY w, i),
       |dp$tag AS (
       |  SELECT w, wcnt, 0 AS i,
       |         [CAST(1.0 AS DOUBLE)] AS dp, [CAST(-1 AS BIGINT)] AS bp
       |  FROM $formsCte
       |  UNION ALL
       |  SELECT w, wcnt, i,
       |         list_append(dp, $bestSc) AS dp,
       |         list_append(bp, CAST($bpCase AS BIGINT)) AS bp
       |  FROM (
       |    SELECT d.w, d.wcnt, d.i + 1 AS i, d.dp AS dp, d.bp AS bp,
       |           $scCols
       |    FROM dp$tag d JOIN cands$tag c ON c.w = d.w AND c.i = d.i + 1
       |    WHERE d.i < length(d.w))),
       |seg$tag AS (
       |  SELECT w, wcnt, length(w) AS pos, CAST([] AS VARCHAR[]) AS ps, bp
       |  FROM dp$tag WHERE i = length(w)
       |  UNION ALL
       |  SELECT w, wcnt, bp[pos + 1] - 1,
       |         list_append(ps, substr(w, CAST(bp[pos + 1] AS INT),
       |                                pos - CAST(bp[pos + 1] AS INT) + 1)),
       |         bp
       |  FROM seg$tag WHERE pos > 0)""".stripMargin
  }

  /** Model CTEs: seed (with the all-singles union) then `emRounds`
    * Viterbi/E/M/prune rounds over the `pfx` form table; the final
    * model CTE is `${pfx}m$emRounds`. */
  private def trainCtes(pfx: String): String = {
    val seed =
      s"""${pfx}seeds AS (
         |  SELECT substr(w, a.s, b.l) AS piece, CAST(sum(wcnt) AS BIGINT) AS cnt
         |  FROM ${pfx}forms,
         |       unnest(generate_series(1, length(w))) AS a(s),
         |       unnest(generate_series(1, least($maxPieceLen,
         |                length(w) - a.s + 1))) AS b(l)
         |  GROUP BY 1),
         |${pfx}vocab0 AS (
         |  SELECT DISTINCT piece, cnt FROM (
         |    (SELECT piece, cnt FROM ${pfx}seeds
         |     ORDER BY cnt DESC, piece LIMIT $seedK)
         |    UNION ALL
         |    SELECT piece, cnt FROM ${pfx}seeds WHERE length(piece) = 1)),
         |${pfx}m0 AS (
         |  SELECT piece, cnt, (cnt * $scale) // t AS q
         |  FROM ${pfx}vocab0,
         |       (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM ${pfx}vocab0))""".stripMargin
    val rounds = (1 to emRounds).map { r =>
      s"""${viterbiCtes(s"_$pfx$r", s"${pfx}forms", s"${pfx}m${r - 1}")},
         |${pfx}counts$r AS (
         |  SELECT unnest(ps) AS piece, wcnt FROM seg_$pfx$r WHERE pos = 0),
         |${pfx}vocab$r AS (
         |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt
         |  FROM ${pfx}counts$r GROUP BY piece
         |  ORDER BY cnt DESC, piece LIMIT $pruneK),
         |${pfx}m$r AS (
         |  SELECT piece, cnt, (cnt * $scale) // t AS q
         |  FROM ${pfx}vocab$r,
         |       (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM ${pfx}vocab$r))""".stripMargin
    }.mkString(",\n")
    s"$seed,\n$rounds"
  }

  /** Encode-and-account CTE chain: Viterbi over `${evalPfx}forms` under
    * `model`, per-form stats, occurrence join + ROLLUP. */
  private def encodeSql(evalPfx: String, model: String): String =
    s"""${viterbiCtes(s"_enc$evalPfx", s"${evalPfx}forms", model)},
       |fstats$evalPfx AS (
       |  SELECT u.w, CAST(count(*) AS BIGINT) AS n_tok,
       |         CAST(sum(CASE WHEN mm.piece IS NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_unk
       |  FROM (SELECT w, unnest(ps) AS piece
       |        FROM seg_enc$evalPfx WHERE pos = 0) u
       |  LEFT JOIN $model mm ON mm.piece = u.piece
       |  GROUP BY u.w),
       |occ$evalPfx AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
       |  FROM ${evalPfx}words GROUP BY doc_id, w)
       |SELECT coalesce(doc_id, -1) AS doc_id,
       |       CAST(sum(occ) AS BIGINT) AS n_words,
       |       CAST(sum(occ * n_tok) AS BIGINT) AS n_unigram_tokens,
       |       CAST(sum(occ * n_unk) AS BIGINT) AS n_unk_tokens
       |FROM occ$evalPfx JOIN fstats$evalPfx USING (w)
       |GROUP BY ROLLUP(doc_id)
       |ORDER BY doc_id""".stripMargin

  val unigramTrainSql: String =
    s"""WITH RECURSIVE ${formCtes("", "")},
       |${trainCtes("")}
       |SELECT piece, cnt, q FROM m$emRounds
       |ORDER BY cnt DESC, piece""".stripMargin

  val unigramEncodeSql: String =
    s"""WITH RECURSIVE ${formCtes("", "")},
       |${trainCtes("")},
       |${encodeSql("", s"m$emRounds")}""".stripMargin

  val unigramEncodeHeldoutSql: String = {
    val h = TextAnalysis.splitHashSql("doc_id")
    s"""WITH RECURSIVE ${formCtes(s" WHERE $h < 80", "tr")},
       |${trainCtes("tr")},
       |${formCtes(s" WHERE $h >= 80 AND $h < 90", "ev")},
       |${encodeSql("ev", s"trm$emRounds")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_train" -> unigramTrain,
    "text_unigram_encode" -> unigramEncode,
    "text_unigram_encode_heldout" -> unigramEncodeHeldout)

  val oracles: Map[String, String] = Map(
    "text_unigram_train" -> unigramTrainSql,
    "text_unigram_encode" -> unigramEncodeSql,
    "text_unigram_encode_heldout" -> unigramEncodeHeldoutSql)
}
