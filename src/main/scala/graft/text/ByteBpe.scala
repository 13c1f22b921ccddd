package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Tables.t

/** Byte-level BPE — the GPT-2/Llama default regime (Radford et al.
  * 2019 §2.2) the char-fallback family deliberately doesn't cover:
  *
  *  - the PRETOKENIZER preserves case and punctuation and attaches the
  *    leading space to the following pretoken (the ` world` marker
  *    convention) — a simplified GPT-2 pattern
  *    `' ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+'`, plain enough that
  *    Java regex and RE2 agree token-for-token;
  *  - the SYMBOL AXIS is UTF-8 BYTES, not characters: each pretoken's
  *    base sequence is its hex-pair byte rendering (both engines emit
  *    uppercase hex, so merged symbols — concatenated hex runs — are
  *    byte-identical strings), multi-byte characters split into their
  *    bytes and merges may recombine them or cross character
  *    boundaries;
  *  - there is NO unknown token, structurally: all 256 single bytes
  *    are representable, so the encode reports `n_unk_tokens` as a
  *    constant 0 — the property that makes byte-level the default for
  *    open-domain corpora (the report keeps the column so the bake-off
  *    compares UNK mass across families on equal footing).
  *
  * Training reuses [[Bpe.trainForms]] verbatim — pair statistics,
  * argmax, and the non-overlapping rewrite are symbol-agnostic — over
  * the byte-axis form table. Scale shape is the BPE family's: the
  * corpus pays one occurrence shuffle, training state is the
  * Zipf-small distinct-pretoken form table, the learned segmentation
  * applies through one broadcast join.
  *
  * The harness corpus is pure ASCII (1 byte = 1 char), so here the
  * byte axis differs from chars only through the pretokenizer; the
  * multi-byte path (CJK → 3 hex-pair symbols, merges across them) is
  * pinned by ByteBpeSpec's hand fixture through the same
  * [[byteBpeEncodeFrom]] entry.
  */
object ByteBpe {

  /** Merge rounds — same budget as [[Bpe.rounds]] so the bake-off
    * compares equal-size merge tables. */
  val rounds: Int = Bpe.rounds

  private val preTokPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"

  private[graft] def preTokens(text: Column): Column =
    regexp_extract_all(text, lit(preTokPattern), lit(0))

  private[text] val preTokSql =
    s"regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+')"

  /** Byte-axis symbol array of a pretoken: uppercase hex pairs of its
    * UTF-8 bytes. The hx projection is a separate select so the hex()
    * evaluates once per row, not once per lambda reference. */
  private def byteForms(occ: DataFrame): DataFrame =
    occ.groupBy("w").agg(sum(col("occ")).as("wcnt"))
      .select(col("w"), col("wcnt"), hex(encode(col("w"), "UTF-8")).as("hx"))
      .select(col("w"), col("wcnt"), expr(
        "transform(sequence(1, length(hx) DIV 2), i -> substring(hx, 2*i - 1, 2))")
        .as("syms"))
      .localCheckpoint(false)

  /** Per-document byte-BPE accounting under `rounds` learned merges:
    * (doc_id, n_pretokens, n_bytes, n_bytebpe_tokens, n_unk_tokens=0)
    * plus the corpus ROLLUP row (doc_id = −1) the bake-off reads. */
  def byteBpeEncode(spark: SparkSession, dir: String): DataFrame =
    byteBpeEncodeFrom(t(spark, dir, "documents"),
      Some(("text.bytebpe", graft.Memo.input(dir), "full")))

  private[graft] def byteBpeEncodeFrom(docs: DataFrame,
                                       memoKey: Option[Product] = None): DataFrame = {
    val occ = docs
      .select(col("doc_id"), explode(preTokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("occ"))
      .localCheckpoint(false) // two consumers: form derivation + the final apply join
    def train = Bpe.trainForms(byteForms(occ), recordMerges = true)
    val (forms, _) = memoKey.fold(train)(graft.Memo(docs.sparkSession, _)(train))
    occ
      .join(broadcast(forms.select(col("w"),
        size(col("syms")).cast("long").as("w_tokens"),
        octet_length(col("w")).cast("long").as("w_bytes"))), Seq("w"))
      .rollup(col("doc_id"))
      .agg(sum(col("occ")).as("n_pretokens"),
        sum(col("occ") * col("w_bytes")).cast("long").as("n_bytes"),
        sum(col("occ") * col("w_tokens")).cast("long").as("n_bytebpe_tokens"))
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        col("n_pretokens"), col("n_bytes"), col("n_bytebpe_tokens"),
        lit(0L).as("n_unk_tokens"))
      .orderBy("doc_id")
  }

  /** Occurrence-level oracle: pretoken occurrences exploded to hex-pair
    * byte rows, the same unrolled merge rounds as the char family
    * ([[Bpe.sqlRounds]] is symbol-agnostic), then per-doc + ROLLUP
    * accounting — so the tie-out again proves the Sennrich
    * form/occurrence equivalence, now on the byte axis. */
  val byteBpeEncodeSql: String =
    s"""WITH tk AS (SELECT doc_id, $preTokSql AS toks FROM documents),
       |words AS (
       |  SELECT doc_id, u.i - 1 AS wid, toks[u.i] AS w
       |  FROM tk, unnest(generate_series(1, len(toks))) AS u(i)),
       |wh AS (SELECT doc_id, wid, hex(encode(w)) AS hx FROM words),
       |s0 AS MATERIALIZED (
       |  SELECT doc_id, wid, v.i - 1 AS pos, substr(hx, 2*v.i - 1, 2) AS sym
       |  FROM wh, unnest(generate_series(1, length(hx) // 2)) AS v(i)),
       |${Bpe.sqlRounds(cntInBest = false)},
       |base AS (
       |  SELECT doc_id, count(*) AS n_bytes,
       |         CAST(max(wid) + 1 AS BIGINT) AS n_pretokens
       |  FROM s0 GROUP BY doc_id),
       |enc AS (SELECT doc_id, count(*) AS n_tok FROM s$rounds GROUP BY doc_id),
       |perdoc AS (
       |  SELECT base.doc_id, base.n_pretokens, base.n_bytes, enc.n_tok
       |  FROM base JOIN enc USING (doc_id))
       |SELECT coalesce(doc_id, -1) AS doc_id,
       |       CAST(sum(n_pretokens) AS BIGINT) AS n_pretokens,
       |       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       |       CAST(sum(n_tok) AS BIGINT) AS n_bytebpe_tokens,
       |       CAST(0 AS BIGINT) AS n_unk_tokens
       |FROM perdoc GROUP BY ROLLUP(doc_id)
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bytebpe_encode" -> byteBpeEncode)

  val oracles: Map[String, String] = Map(
    "text_bytebpe_encode" -> byteBpeEncodeSql)
}
