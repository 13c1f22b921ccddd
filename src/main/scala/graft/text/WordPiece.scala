package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** WordPiece (BERT-style) tokenization as distributed dataflow — the
  * third member of the tokenizer family next to [[Bpe]] (merge replay)
  * and [[Unigram]] (Viterbi under a learned LM): greedy
  * LONGEST-MATCH-FIRST segmentation against a role-tagged piece
  * vocabulary, where word-initial pieces are raw strings and
  * word-internal continuations carry the `##` prefix (Wu et al. 2016;
  * the tokenizer BERT ships). A word any of whose positions has no
  * matching piece maps to ONE `[UNK]` token — whole-word UNK, the
  * spec's behavior, unlike unigram's per-character fallback.
  *
  * The vocabulary here is the deterministic count-seeded artifact
  * (top-[[vocabK]] role-tagged substrings of length ≤ [[maxPieceLen]]
  * by corpus-weighted count, ties broken by piece string — a total
  * order), not the likelihood-trained one: the OPERATOR under test is
  * the greedy encoder, and a fixed deterministic vocab is what makes a
  * cross-engine exact oracle possible. No char-coverage floor is
  * added, so rare characters genuinely fall out of the top-K and the
  * `[UNK]` path carries real nonzero mass on the harness corpus.
  *
  * Scale shape (identical discipline to [[Unigram]]): all per-string
  * work happens on the Zipf-small DISTINCT word-form table; the vocab
  * is a ≤[[vocabK]]-row frame broadcast as a map literal via the
  * 1-row-aggregate crossJoin idiom; the only corpus-sized operations
  * are one (doc, word) occurrence shuffle and the final occ ⋈
  * form-stats broadcast join. The greedy scan is a per-form
  * higher-order fold — O(len · maxPieceLen) per form, no shuffle, no
  * iteration over the corpus. */
object WordPiece {

  /** Longest candidate piece (chars), per role. */
  val maxPieceLen = 4

  /** Vocabulary size — initial and continuation pieces compete for the
    * same top-K slots (cnt desc, piece asc), exactly like a real
    * size-budgeted released vocab. At 128 on the harness corpus, 32
    * single-character role slots survive the cut, so words containing
    * a rare letter in the missing role carry real whole-word-UNK mass
    * (~23% at sf0.001) while the bulk of the corpus segments — the
    * small-budget WordPiece regime, measured honestly. */
  val vocabK = 128

  // -------------------------------------------------------------------
  // Greedy longest-match segmentation (shared by encode + heldout)
  // -------------------------------------------------------------------

  /** Greedy WordPiece scan as one SQL fold over positions 1..len(w).
    * State (p: next unconsumed position, n: pieces emitted, bad:
    * whole-word UNK). Position i acts only when i = p: the inner fold
    * scans candidate lengths DESCENDING (longest-match-first) and
    * consumes the first piece present in the vocab map — word-initial
    * raw at i = 1, `'##' ||` continuation otherwise; if no length
    * matches (not even the single character), the word is `[UNK]`:
    * p jumps past the end, n is forced to 1. Finish emits
    * (n_tok, n_unk) with n_unk at WORD granularity. Expects columns
    * `w` and `vm` (map piece → cnt; only key presence matters).
    * Empty `w` short-circuits to (0, 0): without the guard the inner
    * descending sequence would be sequence(0, 1, -1) — a Spark
    * boundary violation — on an input no tokenizer ever feeds it
    * (TextAnalysis.tokens can't emit empty strings) but that this
    * reusable Column must not throw on. */
  private[graft] val greedySeg: Column = {
    val key = s"if(i = 1, substring(w, i, l), concat('##', substring(w, i, l)))"
    expr(
      s"""if(length(w) = 0, named_struct('n_tok', 0L, 'n_unk', 0L),
         |aggregate(
         |  sequence(1, length(w)),
         |  named_struct('p', 1, 'n', 0L, 'bad', false),
         |  (st, i) -> if(st.bad or i != st.p, st,
         |    aggregate(
         |      sequence(least($maxPieceLen, length(w) - i + 1), 1, -1),
         |      named_struct('p', -1, 'n', st.n, 'bad', false),
         |      (b, l) -> if(b.p >= 0, b,
         |        if(try_element_at(vm, $key) is not null,
         |           named_struct('p', i + l, 'n', st.n + 1L, 'bad', false),
         |           b)),
         |      b -> if(b.p >= 0, b,
         |        named_struct('p', length(w) + 1, 'n', 1L, 'bad', true)))),
         |  st -> named_struct('n_tok', st.n, 'n_unk', if(st.bad, 1L, 0L))))"""
        .stripMargin)
  }

  // -------------------------------------------------------------------
  // Vocabulary
  // -------------------------------------------------------------------

  /** Role-tagged seed counts: every substring of length ≤ maxPieceLen
    * of every form, word-initial raw / word-internal `##`-prefixed,
    * weighted by the form's corpus count. */
  private[graft] def seedCounts(forms: DataFrame): DataFrame =
    forms
      .select(col("wcnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
           |  s -> transform(sequence(1, least($maxPieceLen, length(w) - s + 1)),
           |       l -> if(s = 1, substring(w, s, l),
           |                concat('##', substring(w, s, l))))))""".stripMargin))
        .as("piece"))
      .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))

  /** The released vocab artifact: top-[[vocabK]] by (cnt desc, piece). */
  private[graft] def vocabOf(forms: DataFrame): DataFrame =
    seedCounts(forms).orderBy(desc("cnt"), col("piece")).limit(vocabK)

  // -------------------------------------------------------------------
  // Queries
  // -------------------------------------------------------------------

  /** The vocab as a query artifact — (piece, cnt), integer columns
    * only, the WordPiece analog of [[Bpe.bpeVocab]]. */
  def wordpieceVocab(spark: SparkSession, dir: String): DataFrame =
    trainedVocab(t(spark, dir, "documents"),
      Some(("text.wordpiece", graft.Memo.input(dir), "full")))
      .orderBy(desc("cnt"), col("piece"))

  /** Encode the corpus under its own vocab — per-doc accounting plus a
    * corpus ROLLUP row (doc_id = −1): (doc_id, n_words,
    * n_wordpiece_tokens, n_unk_words). UNK is whole-word and REAL
    * (no char floor in the vocab). */
  def wordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    encodeAcross(docs, docs, Some(("text.wordpiece", graft.Memo.input(dir), "full")))
  }

  /** Held-out encode — vocab from the canonical TRAIN split
    * ([[TextAnalysis.splitHash]] < 80), applied to the VAL split
    * (80 ≤ h < 90), mirroring [[Bpe.bpeEncodeHeldout]] /
    * [[Unigram.unigramEncodeHeldout]]. */
  def wordpieceEncodeHeldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val h = TextAnalysis.splitHash(col("doc_id"))
    encodeAcross(docs.filter(h < 80), docs.filter(h >= 80 && h < 90),
      Some(("text.wordpiece", graft.Memo.input(dir), "train80")))
  }

  /** Vocab from `trainDocs`, greedy-encode `evalDocs`, account per
    * doc. Eval corpus pays one occurrence shuffle; the greedy scan is
    * form-level under the broadcast vocab map. */
  /** [[vocabOf]] memoized under `memoKey` (None = direct). */
  private[graft] def trainedVocab(trainDocs: DataFrame,
                                  memoKey: Option[Product]): DataFrame = {
    def train = vocabOf(Bpe.formTable(trainDocs))
    memoKey.fold(train)(graft.Memo(trainDocs.sparkSession, _)(train))
  }

  private[graft] def encodeAcross(trainDocs: DataFrame,
                                  evalDocs: DataFrame,
                                  memoKey: Option[Product] = None): DataFrame = {
    val vocab = trainedVocab(trainDocs, memoKey)
    val occ = evalDocs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("occ"))
      .localCheckpoint(false)
    val formStats = occ.select(col("w")).distinct()
      .crossJoin(broadcast(vocab.agg(
        map_from_entries(collect_list(struct(col("piece"), col("cnt")))).as("vm"))))
      .select(col("w"), greedySeg.as("g"))
      .select(col("w"), col("g.n_tok").as("n_tok"), col("g.n_unk").as("n_unk"))
    occ.join(broadcast(formStats), Seq("w"))
      .rollup(col("doc_id"))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("n_tok")).as("n_wordpiece_tokens"),
        sum(col("occ") * col("n_unk")).as("n_unk_words"))
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        col("n_words"), col("n_wordpiece_tokens"), col("n_unk_words"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // DuckDB oracles: the greedy walk as a recursive pointer chase over a
  // PRECOMPUTED longest-match table (no lambdas in the recursive term —
  // same binder constraint the Unigram oracles document).
  // -------------------------------------------------------------------

  private val tokSql = TextAnalysis.tokSql

  private def formCtes(where: String, pfx: String): String =
    s"""${pfx}tk AS (SELECT doc_id, $tokSql AS toks FROM documents$where),
       |${pfx}words AS (
       |  SELECT doc_id, toks[u.i] AS w
       |  FROM ${pfx}tk, unnest(generate_series(1, len(toks))) AS u(i)),
       |${pfx}forms AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM ${pfx}words GROUP BY w)"""
      .stripMargin

  /** Vocab CTE over `${pfx}forms` → `${pfx}wv`. */
  private def vocabCtes(pfx: String): String =
    s"""${pfx}wpseeds AS (
       |  SELECT CASE WHEN a.s = 1 THEN substr(w, a.s, b.l)
       |              ELSE '##' || substr(w, a.s, b.l) END AS piece,
       |         CAST(sum(wcnt) AS BIGINT) AS cnt
       |  FROM ${pfx}forms,
       |       unnest(generate_series(1, length(w))) AS a(s),
       |       unnest(generate_series(1, least($maxPieceLen,
       |                length(w) - a.s + 1))) AS b(l)
       |  GROUP BY 1),
       |${pfx}wv AS (
       |  SELECT piece, cnt FROM ${pfx}wpseeds
       |  ORDER BY cnt DESC, piece LIMIT $vocabK)""".stripMargin

  /** Greedy walk over `${evalPfx}forms` under vocab `$v`: bm holds the
    * longest matching piece length per (form, position); the recursive
    * walk consumes bm jumps left to right — a failed position jumps
    * past the end with the failed flag set (whole-word UNK). */
  private def walkCtes(tag: String, evalPfx: String, v: String): String =
    s"""bm$tag AS (
       |  SELECT q.w, q.s, max(q.l) AS plen
       |  FROM (
       |    SELECT f.w, a.s, b.l,
       |           CASE WHEN a.s = 1 THEN substr(f.w, a.s, b.l)
       |                ELSE '##' || substr(f.w, a.s, b.l) END AS key
       |    FROM ${evalPfx}forms f,
       |         unnest(generate_series(1, length(f.w))) AS a(s),
       |         unnest(generate_series(1, least($maxPieceLen,
       |                  length(f.w) - a.s + 1))) AS b(l)) q
       |  JOIN $v vv ON vv.piece = q.key
       |  GROUP BY q.w, q.s),
       |walk$tag AS (
       |  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS n_tok, false AS failed
       |  FROM ${evalPfx}forms
       |  UNION ALL
       |  SELECT k.w,
       |         CASE WHEN b.plen IS NULL THEN length(k.w) + 1
       |              ELSE k.pos + CAST(b.plen AS INT) END,
       |         k.n_tok + 1,
       |         k.failed OR b.plen IS NULL
       |  FROM walk$tag k LEFT JOIN bm$tag b ON b.w = k.w AND b.s = k.pos
       |  WHERE k.pos <= length(k.w)),
       |fstats$tag AS (
       |  SELECT w,
       |         CASE WHEN failed THEN 1 ELSE n_tok END AS n_tok,
       |         CASE WHEN failed THEN 1 ELSE 0 END AS n_unk
       |  FROM walk$tag WHERE pos = length(w) + 1)""".stripMargin

  private def encodeSql(evalPfx: String, v: String): String =
    s"""${walkCtes(s"_$evalPfx", evalPfx, v)},
       |wocc$evalPfx AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS occ
       |  FROM ${evalPfx}words GROUP BY doc_id, w)
       |SELECT coalesce(doc_id, -1) AS doc_id,
       |       CAST(sum(occ) AS BIGINT) AS n_words,
       |       CAST(sum(occ * n_tok) AS BIGINT) AS n_wordpiece_tokens,
       |       CAST(sum(occ * n_unk) AS BIGINT) AS n_unk_words
       |FROM wocc$evalPfx JOIN fstats_$evalPfx USING (w)
       |GROUP BY ROLLUP(doc_id)
       |ORDER BY doc_id""".stripMargin

  val wordpieceVocabSql: String =
    s"""WITH ${formCtes("", "")},
       |${vocabCtes("")}
       |SELECT piece, cnt FROM wv ORDER BY cnt DESC, piece""".stripMargin

  val wordpieceEncodeSql: String =
    s"""WITH RECURSIVE ${formCtes("", "")},
       |${vocabCtes("")},
       |${encodeSql("", "wv")}""".stripMargin

  val wordpieceEncodeHeldoutSql: String = {
    val h = TextAnalysis.splitHashSql("doc_id")
    s"""WITH RECURSIVE ${formCtes(s" WHERE $h < 80", "tr")},
       |${vocabCtes("tr")},
       |${formCtes(s" WHERE $h >= 80 AND $h < 90", "ev")},
       |${encodeSql("ev", "trwv")}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_wordpiece_vocab" -> wordpieceVocab,
    "text_wordpiece_encode" -> wordpieceEncode,
    "text_wordpiece_encode_heldout" -> wordpieceEncodeHeldout)

  val oracles: Map[String, String] = Map(
    "text_wordpiece_vocab" -> wordpieceVocabSql,
    "text_wordpiece_encode" -> wordpieceEncodeSql,
    "text_wordpiece_encode_heldout" -> wordpieceEncodeHeldoutSql)
}
