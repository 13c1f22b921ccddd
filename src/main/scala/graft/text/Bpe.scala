package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** Byte-pair-encoding-style tokenization as pure distributed dataflow —
  * LEARNED merges, not a heuristic: the real BPE training loop
  * (Sennrich et al. 2016) run for a fixed number of rounds, then
  * per-document token counts under the learned vocabulary.
  *
  * One merge round, relationally:
  *  1. adjacent-pair frequencies corpus-wide: a lead() over each word's
  *     symbol sequence + one groupBy(sym, nxt) shuffle;
  *  2. the argmax pair (count desc, then lexicographic — a total order,
  *     so both engines pick the same pair) as a 1-row broadcast;
  *  3. simultaneous rewrite: rows starting a match become the merged
  *     symbol, rows consumed by the match drop out. Merges of a symbol
  *     with ITSELF are excluded from vocabulary learning — with x ≠ y
  *     matches can never overlap, so the whole round is one windowed
  *     projection with no sequential scan (the documented deviation
  *     from run-greedy BPE, which must arbitrate overlapping "aaa"
  *     matches).
  *
  * Scale: training state is the DISTINCT WORD-FORM table with corpus
  * counts (the standard Sennrich formulation) — Zipf: orders of
  * magnitude smaller than the corpus. Pair statistics are
  * count-weighted aggregations over that form table (identical totals
  * to occurrence-level counting, so the learned merges are the same —
  * the DuckDB oracle deliberately stays occurrence-level, making the
  * correctness gate a proof of that equivalence), each round's rewrite
  * is a per-form-row fold, and the learned merges are applied to
  * occurrences ONCE at the end via a single (doc_id, w) ⋈ form join.
  * Per-round state and checkpoint cost are O(|word forms|), not
  * O(corpus × rounds); each round's form table is lazily checkpointed
  * so the K-round loop doesn't snowball lineage (same pattern as
  * PageRank's fixed-K rounds).
  */
object Bpe {

  /** Learning rounds (= merges learned). Fixed so the DuckDB oracle can
    * unroll the loop as CTEs. */
  val rounds = 6

  /** Per-document token counts under `rounds` learned merges:
    * (doc_id, n_words, n_chars, n_bpe_tokens).
    *
    * Each round, over the DISTINCT form table (w, wcnt, syms):
    * (1) adjacent-pair frequencies weighted by `wcnt` — explode each
    * form's (sym, nxt) pairs, one partial+final groupBy whose key
    * space is the vocabulary; weighting by corpus count makes the
    * totals identical to occurrence-level counting, so the learned
    * merges are the same; (2) the argmax pair (count desc, then
    * lexicographic — a total order, so both engines learn the same
    * merge) as a 0-or-1-row broadcast LEFT-joined onto the forms (left,
    * not cross: if NO pair qualifies — every form single-symbol or only
    * sym==nxt pairs remain — bx/by come through null, every rewrite
    * comparison with null falls to the keep-symbol branch, and the
    * round is a no-op instead of annihilating the table — the
    * degenerate-input guard, kept declarative so all 6 rounds share ONE
    * generated-code shape: inlining bx/by as collected literals was
    * measured to force a fresh whole-stage-codegen compile per round
    * and per cache eviction, ~1-2 s each); (3) the rewrite — a
    * left-to-right fold over each form's symbol array that replaces
    * [.., bx] + by with [.., bx·by]. Because bx ≠ by, matches can never
    * overlap, so the sequential fold IS the simultaneous rewrite (the
    * oracle's windowed occurrence-level form — lead/lag over symbol
    * rows — is kept in SQL and the correctness gate proves the
    * equivalence every round). */
  def bpeCounts(spark: SparkSession, dir: String): DataFrame =
    bpeCountsFrom(t(spark, dir, "documents"),
      Some(("text.bpe", graft.Memo.input(dir), "full")))

  /** One round's count-weighted adjacent-pair statistics over a form
    * table (w, wcnt, syms): the ONLY per-round shuffle, keyed on the
    * (sym, nxt) VOCABULARY — never on doc_id or the corpus.
    * Package-visible so PlanShapeSpec can pin that property. */
  private[graft] def pairStats(forms: DataFrame): DataFrame =
    forms
      .filter(size(col("syms")) >= 2)
      .select(col("wcnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS sym, syms[i] AS nxt))")).as("p"))
      .select(col("p.sym").as("sym"), col("p.nxt").as("nxt"), col("wcnt"))
      .filter(col("sym") =!= col("nxt"))
      .groupBy("sym", "nxt").agg(sum(col("wcnt")).as("cnt"))

  /** Character-split expression deriving each form's symbol array. */
  private val symsExpr =
    expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")

  /** One merge application over a form row's symbol array: replaces
    * [.., bx] + by with [.., bx·by] left-to-right (non-overlapping
    * because bx ≠ by). Null-safe: with bx/by null (empty `best`), both
    * `when` predicates are null → every symbol takes the keep branch →
    * the round is a no-op. Shared by the training loop and the
    * merge-table REPLAY in [[bpeEncodeFrom]] — sharing it is what makes
    * "encode ≡ train on the training corpus" an identity, not a
    * coincidence. */
  private val rewrite = expr(
    """aggregate(syms, cast(array() as array<string>),
      |  (acc, s) -> case
      |    when size(acc) = 0 then array(s)
      |    when element_at(acc, -1) = bx and s = by
      |      then concat(slice(acc, 1, size(acc) - 1), array(concat(bx, by)))
      |    else concat(acc, array(s)) end)""".stripMargin)

  /** The shared training loop over a form table (w, wcnt, syms):
    * `rounds` merge rounds exactly as [[bpeCounts]] runs them, extracted
    * so the tokenizer-artifact queries ([[bpeMerges]], [[bpeVocab]])
    * provably share the loop. When `recordMerges` is set, each round's
    * winning pair is kept as a 1-row staged frame (two consumers: the
    * rewrite join and the merge report) and returned alongside the
    * final form table; otherwise the plan is bit-identical to the
    * original inline loop. */
  private[graft] def trainForms(forms0: DataFrame, recordMerges: Boolean)
      : (DataFrame, Seq[DataFrame]) = {
    var forms = forms0
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val won = pairStats(forms)
        .orderBy(desc("cnt"), col("sym"), col("nxt")).limit(1)
      val best = if (recordMerges) won.localCheckpoint(false) else won
      if (recordMerges)
        merges += best.select(lit(r.toLong).as("rank"),
          col("sym").as("bx"), col("nxt").as("by"), col("cnt"))
      forms = forms
        .join(broadcast(best.select(col("sym").as("bx"), col("nxt").as("by"))),
          lit(true), "left")
        .select(col("w"), col("wcnt"), rewrite.as("syms"))
        .localCheckpoint(false)
    }
    (forms, merges.result())
  }

  /** [[trainForms]] memoized under `memoKey` via [[graft.Memo]] (None =
    * direct call, unmemoized — the spec hand-corpus path). Memoized
    * trainings always record merges so ONE memo entry serves every
    * consumer in the family (counts need only forms; encode needs the
    * merge table; recording adds six 1-row staged frames and changes no
    * result — trainForms' scaladoc pins the equivalence). */
  private def trainedForms(forms0: DataFrame, memoKey: Option[Product],
                           recordMerges: Boolean): (DataFrame, Seq[DataFrame]) =
    memoKey match {
      case None => trainForms(forms0, recordMerges)
      case Some(k) => graft.Memo(forms0.sparkSession, k)(
        trainForms(forms0, recordMerges = true))
    }

  /** Core on any (doc_id, text) frame — see [[bpeCounts]]. */
  private[graft] def bpeCountsFrom(docs: DataFrame,
                                   memoKey: Option[Product] = None): DataFrame = {
    // occurrences folded to (doc_id, w, occ): one corpus shuffle, read
    // twice (form derivation + final application join)
    val occ = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("occ"))
      .localCheckpoint(false)
    // training state: distinct word forms with corpus counts (Zipf-small)
    // merge-round loop state: lineage cut per round
    val forms0 = occ.groupBy("w").agg(sum(col("occ")).as("wcnt"))
      .select(col("w"), col("wcnt"), symsExpr.as("syms"))
      .localCheckpoint(false)
    val (forms, _) = trainedForms(forms0, memoKey, recordMerges = false)
    // apply the learned vocabulary ONCE: occurrences ⋈ rewritten forms.
    // Explicit broadcast: the checkpointed form table carries no stats
    // (sizeInBytes defaults to huge), so the hint — not the optimizer —
    // keeps the vocabulary on the small side of the join.
    occ.join(broadcast(forms.select(col("w"), size(col("syms")).cast("long").as("w_tokens"),
        length(col("w")).cast("long").as("w_chars"))), Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("w_chars")).cast("long").as("n_chars"),
        sum(col("occ") * col("w_tokens")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // Tokenizer artifacts: the merge table and the vocabulary report
  // ---------------------------------------------------------------------

  /** The form table built directly from token counts — same values as
    * [[bpeCountsFrom]]'s occ-derived form (Σ per-doc occ ≡ corpus
    * count), without materializing doc-level occurrences the artifact
    * queries never need. */
  private[graft] def formTable(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wcnt"))
      .select(col("w"), col("wcnt"), symsExpr.as("syms"))
      .localCheckpoint(false)

  /** The learned merge table (rank, bx, by, cnt) — the tokenizer
    * artifact a release ships (merges.txt with ranks): round r's winning
    * adjacent pair and its corpus-wide frequency at the moment it won.
    * Spark counts pairs FORM-level weighted by corpus count; the oracle
    * counts OCCURRENCE-level — so this query's `cnt` match is a direct
    * proof of the Sennrich form/occurrence equivalence the whole BPE
    * family rests on (the token-count queries prove it only indirectly
    * through downstream totals). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrom(t(spark, dir, "documents"),
      Some(("text.bpe", graft.Memo.input(dir), "full")))

  private[graft] def bpeMergesFrom(docs: DataFrame,
                                   memoKey: Option[Product] = None): DataFrame = {
    val (_, merges) = trainedForms(formTable(docs), memoKey, recordMerges = true)
    merges.reduce(_ unionAll _).orderBy("rank")
  }

  /** Token-frequency vocabulary report under the learned merges: the
    * top-30 tokens by corpus occurrences after all `rounds` rewrites —
    * what a tokenizer release publishes next to the merge table. One
    * explode of the rewritten FORM table weighted by corpus counts (the
    * Zipf-small state, never the corpus) + one token-keyed agg; top-k
    * plans as TakeOrderedAndProject. */
  def bpeVocab(spark: SparkSession, dir: String, topK: Int = 30): DataFrame =
    bpeVocabFrom(t(spark, dir, "documents"), topK,
      Some(("text.bpe", graft.Memo.input(dir), "full")))

  private[graft] def bpeVocabFrom(docs: DataFrame, topK: Int = 30,
                                  memoKey: Option[Product] = None): DataFrame = {
    val (forms, _) = trainedForms(formTable(docs), memoKey, recordMerges = false)
    forms.select(explode(col("syms")).as("token"), col("wcnt"))
      .groupBy("token").agg(sum("wcnt").as("occurrences"))
      .orderBy(desc("occurrences"), col("token")).limit(topK)
  }

  // ---------------------------------------------------------------------
  // Encode: APPLY the learned tokenizer (the step every training run
  // takes after merges.txt ships)
  // ---------------------------------------------------------------------

  /** Released-vocabulary size for [[bpeEncode]]: the top-K tokens by
    * corpus occurrences are "in vocab"; any other symbol the merges
    * produce falls back to characters (the byte-fallback convention —
    * single characters are always representable). Deliberately small so
    * the fixture corpus actually EXERCISES the OOV path. */
  val releasedVocabK = 50

  /** Re-tokenize the corpus under the LEARNED merge table — the encode
    * step of a shipped BPE tokenizer: greedy lowest-rank-first merge
    * application at FORM level (rank r applies only after ranks < r,
    * exactly how a release consumer replays merges.txt), then
    * token accounting under the released top-[[releasedVocabK]] vocab
    * with character fallback for out-of-vocab symbols.
    *
    * Output: one row per document plus a corpus-total row
    * (doc_id = −1, via ROLLUP) — (doc_id, n_bpe_tokens, n_oov_tokens,
    * n_final_tokens) where n_final counts in-vocab symbols as 1 token
    * and each OOV symbol as its character count.
    *
    * The encode path REPLAYS the recorded merge table rank-by-rank over
    * a fresh form table rather than reusing training's final state —
    * a genuinely separate application path, so its agreement with the
    * occurrence-level oracle (and, transitively, with `text_bpe_counts`)
    * proves the shipped artifact round-trips: learn → merges.txt →
    * encode reproduces the training segmentation on the training
    * corpus.
    *
    * Scale: the replay is `rounds` broadcast joins over the Zipf-small
    * form table; the released vocab is a K-row broadcast; the only
    * corpus-sized work is the one occurrence shuffle and the final
    * occ ⋈ form-stats broadcast join — same shape as [[bpeCounts]]. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeFrom(t(spark, dir, "documents"),
      memoKey = Some(("text.bpe", graft.Memo.input(dir), "full")))

  /** Replay a recorded merge table (the `merges` frames of
    * [[trainForms]]) in rank order over a form table — the shipped-
    * artifact application loop both encode paths share. */
  private def replayMerges(forms0: DataFrame, merges: Seq[DataFrame]): DataFrame = {
    var encoded = forms0
    for (m <- merges) {
      encoded = encoded
        .join(broadcast(m.select(col("bx"), col("by"))), lit(true), "left")
        .select(col("w"), col("wcnt"), rewrite.as("syms"))
        .localCheckpoint(false)
    }
    encoded
  }

  /** Released top-`vocabK` vocabulary of an encoded form table, as a
    * broadcastable (token, iv) membership frame. */
  private def releasedVocab(encoded: DataFrame, vocabK: Int): DataFrame =
    encoded.select(explode(col("syms")).as("token"), col("wcnt"))
      .groupBy("token").agg(sum("wcnt").as("occurrences"))
      .orderBy(desc("occurrences"), col("token")).limit(vocabK)
      .select(col("token"), lit(1L).as("iv"))

  /** Token accounting of (doc_id, w, occ) occurrences under an encoded
    * form table and a released vocab: per-doc rows + corpus-total
    * ROLLUP row. Form-level × corpus-count weighting — the Sennrich
    * equivalence again. */
  private def accountUnderVocab(occ: DataFrame, encoded: DataFrame,
                                vocab: DataFrame): DataFrame = {
    val formStats = encoded
      .select(col("w"), explode(col("syms")).as("sym"))
      .join(broadcast(vocab), col("sym") === col("token"), "left")
      .groupBy("w")
      .agg(count(lit(1)).as("n_sym"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov_sym"),
        sum(when(col("iv").isNull, length(col("sym")).cast("long"))
          .otherwise(1L)).as("n_final_sym"))
    occ
      .join(broadcast(formStats), Seq("w"))
      // rollup(Column), not rollup(String): the String overload resolves
      // through Dataset.col, whose dataset-id tag trips
      // DetectAmbiguousSelfJoin against the staged occ lineage
      .rollup(col("doc_id"))
      .agg(sum(col("occ") * col("n_sym")).as("n_bpe_tokens"),
        sum(col("occ") * col("n_oov_sym")).as("n_oov_tokens"),
        sum(col("occ") * col("n_final_sym")).as("n_final_tokens"))
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        col("n_bpe_tokens"), col("n_oov_tokens"), col("n_final_tokens"))
      .orderBy("doc_id")
  }

  private[graft] def bpeEncodeFrom(docs: DataFrame,
                                   vocabK: Int = releasedVocabK,
                                   memoKey: Option[Product] = None): DataFrame = {
    val occ = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("occ"))
      .localCheckpoint(false)
    val forms0 = occ.groupBy("w").agg(sum(col("occ")).as("wcnt"))
      .select(col("w"), col("wcnt"), symsExpr.as("syms"))
      .localCheckpoint(false)
    // learn — keep only the merge-table artifact, discard the trained state
    val (_, merges) = trainedForms(forms0, memoKey, recordMerges = true)
    // encode — replay the artifact in rank order over a fresh form table
    val encoded = replayMerges(forms0, merges)
    accountUnderVocab(occ, encoded, releasedVocab(encoded, vocabK))
  }

  /** HELD-OUT encode — the deployment case [[bpeEncode]]'s same-corpus
    * tie-out cannot exercise: merges and the released vocab are learned
    * on the TRAIN split only (the canonical hash split,
    * [[TextAnalysis.splitHash]] < 80) and applied to the VAL split
    * (80 ≤ h < 90), whose unseen words stay character-split wherever no
    * learned merge matches and whose symbols can be genuinely
    * out-of-vocabulary — REAL byte-fallback accounting, not the
    * structural zero the training corpus gives. Output shape matches
    * [[bpeEncode]] (per-val-doc rows + ROLLUP total).
    *
    * Scale: identical to [[bpeEncode]] — training state is the train
    * split's Zipf-small form table, the val corpus pays one occurrence
    * shuffle, and the replay/vocab are broadcasts. */
  /** Held-out released-vocab size: the harness val split's encoded
    * symbol inventory is exactly 30 (24 letters + the 6 merged forms),
    * so any K ≥ 30 would make OOV structurally zero; 24 leaves the
    * train corpus's six rarest symbols out-of-vocabulary (rare letters
    * — the merged forms are all high-frequency by construction), so
    * every val doc pays real single-char fallback on the fixture
    * (1,119 OOV tokens across all 63 val docs at sf0.01). The
    * multi-char fallback arm is pinned by the hand-corpus spec, whose
    * vocabK=2 forces merged-form OOV. */
  val heldoutVocabK = 24

  def bpeEncodeHeldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val h = TextAnalysis.splitHash(col("doc_id"))
    bpeEncodeAcross(docs.filter(h < 80), docs.filter(h >= 80 && h < 90),
      heldoutVocabK, Some(("text.bpe", graft.Memo.input(dir), "train80")))
  }

  private[graft] def bpeEncodeAcross(trainDocs: DataFrame, evalDocs: DataFrame,
                                     vocabK: Int = releasedVocabK,
                                     memoKey: Option[Product] = None): DataFrame = {
    // artifacts from the TRAIN corpus: merge table + released vocab
    // (vocab from the trained state — identical to replaying the merges
    // over the train forms, which trainForms' loop just did)
    val (trained, merges) =
      trainedForms(formTable(trainDocs), memoKey, recordMerges = true)
    val vocab = releasedVocab(trained, vocabK)
    // EVAL corpus: fresh form table (unseen words included), replay
    val occ = evalDocs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("occ"))
      .localCheckpoint(false)
    val evalForms0 = occ.groupBy("w").agg(sum(col("occ")).as("wcnt"))
      .select(col("w"), col("wcnt"), symsExpr.as("syms"))
      .localCheckpoint(false)
    accountUnderVocab(occ, replayMerges(evalForms0, merges), vocab)
  }

  private val tokSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** Occurrence-level training rounds as CTEs (p/b/s per round); with
    * `cntInBest` the b-CTEs also carry the winning pair's count for the
    * merge report. s$r joins the 1-row best-pair CTE with LEFT JOIN ON
    * TRUE + null-safe guards (not a comma join): if a round finds NO
    * qualifying pair (pairs run dry before the fixed round count on a
    * tiny/degenerate corpus), b$r is empty and a comma join would
    * silently drop every document, where the Spark rewrite's null-safe
    * left join no-ops the round — the guards keep the two engines
    * aligned on that edge (ADVICE r15). */
  private[text] def sqlRounds(cntInBest: Boolean): String =
    (1 to rounds).map { r =>
      val cnt = if (cntInBest) ", count(*) AS cnt" else ""
      s"""p$r AS (
         |  SELECT doc_id, wid, pos, sym,
         |         lead(sym) OVER (PARTITION BY doc_id, wid ORDER BY pos) AS nxt,
         |         lag(sym)  OVER (PARTITION BY doc_id, wid ORDER BY pos) AS prv
         |  FROM s${r - 1}),
         |b$r AS (
         |  SELECT sym AS bx, nxt AS by$cnt FROM p$r
         |  WHERE nxt IS NOT NULL AND sym <> nxt
         |  GROUP BY sym, nxt ORDER BY count(*) DESC, sym, nxt LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT doc_id, wid, pos,
         |         CASE WHEN coalesce(sym = b.bx AND nxt = b.by, FALSE)
         |              THEN sym || nxt ELSE sym END AS sym
         |  FROM p$r LEFT JOIN b$r b ON TRUE
         |  WHERE NOT coalesce(prv = b.bx AND sym = b.by, FALSE))""".stripMargin
    }.mkString(",\n")

  /** Occurrence-level corpus CTEs; `where` restricts the document set
    * (held-out oracle trains on a split). */
  private def corpusCtes(where: String = ""): String =
    s"""tk AS (SELECT doc_id, $tokSql AS toks FROM documents$where),
       |words AS (
       |  SELECT doc_id, u.i - 1 AS wid, toks[u.i] AS w
       |  FROM tk, unnest(generate_series(1, len(toks))) AS u(i)),
       |s0 AS MATERIALIZED (
       |  SELECT doc_id, wid, v.i - 1 AS pos, w[v.i] AS sym
       |  FROM words, unnest(generate_series(1, length(w))) AS v(i))""".stripMargin

  val bpeCountsSql: String =
    s"""WITH ${corpusCtes()},
       |${sqlRounds(cntInBest = false)},
       |base AS (
       |  SELECT doc_id, count(*) AS n_chars,
       |         CAST(max(wid) + 1 AS BIGINT) AS n_words
       |  FROM s0 GROUP BY doc_id)
       |SELECT s.doc_id, base.n_words, base.n_chars, count(*) AS n_bpe_tokens
       |FROM s$rounds s JOIN base ON s.doc_id = base.doc_id
       |GROUP BY s.doc_id, base.n_words, base.n_chars
       |ORDER BY s.doc_id""".stripMargin

  val bpeMergesSql: String = {
    val union = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS rank, bx, by, cnt FROM b$r"
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH ${corpusCtes()},
       |${sqlRounds(cntInBest = true)}
       |$union
       |ORDER BY rank""".stripMargin
  }

  def bpeVocabSql(topK: Int = 30): String =
    s"""WITH ${corpusCtes()},
       |${sqlRounds(cntInBest = false)}
       |SELECT sym AS token, count(*) AS occurrences
       |FROM s$rounds GROUP BY 1
       |ORDER BY occurrences DESC, token LIMIT $topK""".stripMargin

  /** Occurrence-level encode oracle: s`rounds` IS the encoded corpus
    * (one row per final token), so the vocab, the OOV flags, and the
    * fallback expansion are direct aggregations over it — the whole
    * form-level replay on the Spark side must tie out against this. */
  val bpeEncodeSql: String =
    s"""WITH ${corpusCtes()},
       |${sqlRounds(cntInBest = false)},
       |voc AS (
       |  SELECT sym AS token FROM s$rounds GROUP BY sym
       |  ORDER BY count(*) DESC, sym LIMIT $releasedVocabK
       |),
       |tok AS (
       |  SELECT s.doc_id,
       |         CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov,
       |         CASE WHEN v.token IS NULL THEN length(s.sym) ELSE 1 END AS fin
       |  FROM s$rounds s LEFT JOIN voc v ON s.sym = v.token
       |)
       |SELECT coalesce(doc_id, -1) AS doc_id,
       |       count(*) AS n_bpe_tokens,
       |       CAST(sum(oov) AS BIGINT) AS n_oov_tokens,
       |       CAST(sum(fin) AS BIGINT) AS n_final_tokens
       |FROM tok GROUP BY ROLLUP(doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Held-out oracle: the train chain (tk/words/s0 + learning rounds)
    * restricted to the train split, the released vocab from the
    * train-encoded corpus, then an APPLY-ONLY chain (q/v CTEs — no b
    * of its own, each round cross-joins the train chain's b$r) over the
    * val split, accounted like [[bpeEncodeSql]]. */
  val bpeEncodeHeldoutSql: String = {
    val h = TextAnalysis.splitHashSql("doc_id")
    val applyRounds = (1 to rounds).map { r =>
      s"""q$r AS (
         |  SELECT doc_id, wid, pos, sym,
         |         lead(sym) OVER (PARTITION BY doc_id, wid ORDER BY pos) AS nxt,
         |         lag(sym)  OVER (PARTITION BY doc_id, wid ORDER BY pos) AS prv
         |  FROM v${r - 1}),
         |v$r AS MATERIALIZED (
         |  SELECT doc_id, wid, pos,
         |         CASE WHEN sym = b.bx AND coalesce(nxt = b.by, FALSE)
         |              THEN sym || nxt ELSE sym END AS sym
         |  FROM q$r, b$r b
         |  WHERE NOT coalesce(prv = b.bx AND sym = b.by, FALSE))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${corpusCtes(s" WHERE $h < 80")},
       |${sqlRounds(cntInBest = false)},
       |voc AS (
       |  SELECT sym AS token FROM s$rounds GROUP BY sym
       |  ORDER BY count(*) DESC, sym LIMIT $heldoutVocabK
       |),
       |tkv AS (SELECT doc_id, $tokSql AS toks FROM documents
       |        WHERE $h >= 80 AND $h < 90),
       |wordsv AS (
       |  SELECT doc_id, u.i - 1 AS wid, toks[u.i] AS w
       |  FROM tkv, unnest(generate_series(1, len(toks))) AS u(i)),
       |v0 AS MATERIALIZED (
       |  SELECT doc_id, wid, vv.i - 1 AS pos, w[vv.i] AS sym
       |  FROM wordsv, unnest(generate_series(1, length(w))) AS vv(i)),
       |$applyRounds,
       |tok AS (
       |  SELECT s.doc_id,
       |         CASE WHEN vc.token IS NULL THEN 1 ELSE 0 END AS oov,
       |         CASE WHEN vc.token IS NULL THEN length(s.sym) ELSE 1 END AS fin
       |  FROM v$rounds s LEFT JOIN voc vc ON s.sym = vc.token
       |)
       |SELECT coalesce(doc_id, -1) AS doc_id,
       |       count(*) AS n_bpe_tokens,
       |       CAST(sum(oov) AS BIGINT) AS n_oov_tokens,
       |       CAST(sum(fin) AS BIGINT) AS n_final_tokens
       |FROM tok GROUP BY ROLLUP(doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer fertility per language — the multilingual-bias report
    * every tokenizer release ships (Ács 2019; a language whose
    * tokens-per-word ratio runs high pays more sequence length per
    * sentence, i.e. gets less model for the same budget). Per lang:
    * word/char/BPE-token mass under the same-corpus learned merges,
    * fertility = BPE tokens per word, chars-per-token = compression.
    * Ratios are divisions of identical integers → bit-equal doubles.
    *
    * Scale: [[bpeCountsFrom]]'s dataflow (one occurrence shuffle,
    * form-level training state, broadcast apply join) plus one 5-row
    * language aggregate. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    bpeCountsFrom(docs, Some(("text.bpe", graft.Memo.input(dir), "full")))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_chars").as("n_chars"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") / col("n_words"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens"))
      .orderBy("lang")
  }

  val tokenFertilitySql: String =
    s"""WITH ${corpusCtes()},
       |${sqlRounds(cntInBest = false)},
       |base AS (
       |  SELECT doc_id, count(*) AS n_chars,
       |         CAST(max(wid) + 1 AS BIGINT) AS n_words
       |  FROM s0 GROUP BY doc_id),
       |enc AS (SELECT doc_id, count(*) AS n_bpe FROM s$rounds GROUP BY doc_id),
       |perdoc AS (
       |  SELECT d.lang, base.n_words, base.n_chars, enc.n_bpe
       |  FROM base JOIN enc USING (doc_id)
       |  JOIN documents d USING (doc_id))
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_words,
       |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(n_bpe) AS DOUBLE) / CAST(sum(n_words) AS BIGINT) AS fertility,
       |       CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_bpe) AS BIGINT) AS chars_per_token
       |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_counts" -> bpeCounts,
    "text_bpe_merges" -> bpeMerges,
    "text_bpe_vocab" -> ((s, d) => bpeVocab(s, d)),
    "text_bpe_encode" -> bpeEncode,
    "text_bpe_encode_heldout" -> bpeEncodeHeldout,
    "text_token_fertility" -> tokenFertility)

  val oracles: Map[String, String] = Map(
    "text_bpe_counts" -> bpeCountsSql,
    "text_bpe_merges" -> bpeMergesSql,
    "text_bpe_vocab" -> bpeVocabSql(),
    "text_bpe_encode" -> bpeEncodeSql,
    "text_bpe_encode_heldout" -> bpeEncodeHeldoutSql,
    "text_token_fertility" -> tokenFertilitySql)
}
