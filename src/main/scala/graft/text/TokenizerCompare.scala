package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** The tokenizer BAKE-OFF report — the table a pipeline owner reads
  * before picking a tokenizer for a corpus: corpus-level token count,
  * UNK mass, and fertility (tokens per word, integer permille) for
  * each member of the tokenizer family on the SAME corpus, next to the
  * character baseline every fertility number is implicitly against.
  *
  * One row per tokenizer:
  *  - `chars`     — the ceiling: every character a token, UNK 0.
  *  - `bpe`       — [[Bpe]]'s released-vocab encode; tokens = the
  *                  emitted stream AFTER byte-fallback, UNK = symbols
  *                  that fell back.
  *  - `bytebpe`   — [[ByteBpe]]'s byte-axis encode (GPT-2 regime:
  *                  case/punct-preserving pretokens, UTF-8 byte
  *                  symbols); UNK structurally 0.
  *  - `unigram`   — [[Unigram]]'s Viterbi encode; UNK = character
  *                  fallback emissions (per-piece granularity).
  *  - `wordpiece` — [[WordPiece]]'s greedy encode; UNK = whole WORDS
  *                  that failed (the BERT semantics — granularities
  *                  deliberately differ per family and are documented
  *                  here rather than papered over).
  *
  * Each arm recomputes its family's full train+encode chain (this is a
  * report, not a hot path); all heavy state stays form-level under
  * broadcast models exactly as in the source families. The DuckDB
  * oracle nests each family's complete oracle SQL as a derived-table
  * subquery and reads its ROLLUP row — so this report's correctness is
  * the three families' correctness, restated jointly. */
object TokenizerCompare {

  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val base = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .localCheckpoint(false) // feeds the chars row and every fertility denominator
    val armRows = Seq(
      ("bpe",
        Bpe.bpeEncodeFrom(docs, memoKey = Some(("text.bpe", graft.Memo.input(dir), "full"))),
        "n_final_tokens", "n_oov_tokens"),
      ("bytebpe",
        ByteBpe.byteBpeEncodeFrom(docs, Some(("text.bytebpe", graft.Memo.input(dir), "full"))),
        "n_bytebpe_tokens", "n_unk_tokens"),
      ("unigram",
        Unigram.encodeAcross(docs, docs, Some(("text.unigram", graft.Memo.input(dir), "full"))),
        "n_unigram_tokens", "n_unk_tokens"),
      ("wordpiece",
        WordPiece.encodeAcross(docs, docs, Some(("text.wordpiece", graft.Memo.input(dir), "full"))),
        "n_wordpiece_tokens", "n_unk_words"))
      .map { case (name, df, tokCol, unkCol) =>
        df.filter(col("doc_id") === -1L)
          .select(lit(name).as("tokenizer"), col(tokCol).as("n_tokens"),
            col(unkCol).as("n_unk_tokens"))
      }
    val charsRow = base.select(lit("chars").as("tokenizer"),
      col("n_chars").as("n_tokens"), lit(0L).as("n_unk_tokens"))
    (charsRow +: armRows).reduce(_.unionByName(_))
      .crossJoin(broadcast(base.select(col("n_words"))))
      .select(col("tokenizer"), col("n_words"), col("n_tokens"),
        col("n_unk_tokens"),
        expr("(1000 * n_tokens) DIV n_words").as("fertility_permille"))
      .orderBy("tokenizer")
  }

  val tokenizerCompareSql: String = {
    val tok = TextAnalysis.tokSql
    s"""WITH base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(length(w)) AS BIGINT) AS n_chars
       |  FROM (SELECT unnest($tok) AS w FROM documents) t),
       |bpe AS (
       |  SELECT n_final_tokens AS n_tokens, n_oov_tokens AS n_unk
       |  FROM (${Bpe.bpeEncodeSql}) WHERE doc_id = -1),
       |bb AS (
       |  SELECT n_bytebpe_tokens AS n_tokens, n_unk_tokens AS n_unk
       |  FROM (${ByteBpe.byteBpeEncodeSql}) WHERE doc_id = -1),
       |uni AS (
       |  SELECT n_unigram_tokens AS n_tokens, n_unk_tokens AS n_unk
       |  FROM (${Unigram.unigramEncodeSql}) WHERE doc_id = -1),
       |wp AS (
       |  SELECT n_wordpiece_tokens AS n_tokens, n_unk_words AS n_unk
       |  FROM (${WordPiece.wordpieceEncodeSql}) WHERE doc_id = -1)
       |SELECT tokenizer, n_words, n_tokens, n_unk_tokens,
       |       (1000 * n_tokens) // n_words AS fertility_permille
       |FROM (
       |  SELECT 'chars' AS tokenizer, base.n_words, base.n_chars AS n_tokens,
       |         CAST(0 AS BIGINT) AS n_unk_tokens FROM base
       |  UNION ALL
       |  SELECT 'bpe', base.n_words, bpe.n_tokens, bpe.n_unk FROM base, bpe
       |  UNION ALL
       |  SELECT 'bytebpe', base.n_words, bb.n_tokens, bb.n_unk FROM base, bb
       |  UNION ALL
       |  SELECT 'unigram', base.n_words, uni.n_tokens, uni.n_unk FROM base, uni
       |  UNION ALL
       |  SELECT 'wordpiece', base.n_words, wp.n_tokens, wp.n_unk FROM base, wp)
       |ORDER BY tokenizer""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokenizer_compare" -> tokenizerCompare)

  val oracles: Map[String, String] = Map(
    "text_tokenizer_compare" -> tokenizerCompareSql)
}
