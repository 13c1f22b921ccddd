package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Tables.t
import graft.functions.Portable

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language ID, fingerprinting.
  *
  * All per-document (embarrassingly parallel — no shuffle except the
  * final presentation sort), built from codegen'd array/string built-ins:
  * at 100 TB these run as a single map stage over the parquet scan with
  * only `doc_id`/`text` read (column pruning).
  */
object TextAnalysis {

  /** Lowercased word tokens; empty strings filtered.
    * DuckDB: `list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x -> len(x)>0)`. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => length(x) > 0)

  private[graft] val tokSql = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  /** Token counting: whitespace tokens, distinct tokens, chars, and a
    * BPE-ish sub-word count (tokens plus an extra unit per 4 chars over
    * the first 4 — a crude proxy for byte-pair splits, same formula both
    * engines). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        length(col("text")).cast("long").as("n_chars_computed"),
        // NB: `/` on integers is DOUBLE division in Spark SQL — use
        // floor((len-1)/4.0) to mirror DuckDB's `(length(x)-1) // 4`.
        aggregate(transform(col("toks"),
          tk => lit(1L) + floor((length(tk).cast("double") - 1d) / 4d)),
          lit(0L), (a, v) => a + v).as("n_subwords"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    s"""WITH tk AS (SELECT doc_id, text, $tokSql AS toks FROM documents)
       |SELECT doc_id,
       |       len(toks)::BIGINT AS n_tokens,
       |       len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
       |       length(text)::BIGINT AS n_chars_computed,
       |       CAST(list_sum(list_transform(toks, x -> 1 + (length(x) - 1) // 4)) AS BIGINT) AS n_subwords
       |FROM tk ORDER BY doc_id""".stripMargin

  private[text] val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** Quality scoring: length, mean token length, stopword ratio, repetition
    * (1 - distinct/total), alpha-space purity. Ratios are divisions of
    * exact integers → identical doubles in both engines. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    t(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .filter(size(toks) > 0)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_computed"),
        (aggregate(transform(toks, tk => length(tk).cast("long")), lit(0L), (a, v) => a + v)
          .cast("double") / size(toks)).as("mean_token_len"),
        (size(filter(toks, tk => tk.isin(enStop: _*))).cast("double") / size(toks))
          .as("stopword_ratio"),
        (lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks))
          .as("repetition_ratio"),
        (length(regexp_replace(col("text"), "[^a-z ]", "")).cast("double") /
          length(col("text"))).as("purity_ratio"))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val stopList = enStop.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH tk AS (SELECT doc_id, text, $tokSql AS toks FROM documents)
       |SELECT doc_id,
       |       length(text)::BIGINT AS n_chars_computed,
       |       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_token_len,
       |       CAST(len(list_filter(toks, x -> list_contains($stopList, x))) AS DOUBLE) / len(toks) AS stopword_ratio,
       |       1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS repetition_ratio,
       |       CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) / length(text) AS purity_ratio
       |FROM tk WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin
  }

  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "zh" -> Seq("de0", "shi4", "le0", "zai4", "he2", "you3", "wo3", "ta1"))

  /** Language ID: stopword-hit-count heuristic with a fixed priority
    * tie-break (en > de > es > fr > zh). A real deployment swaps the word
    * lists for n-gram profiles; the dataflow (pure per-row map) is
    * identical. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scored = stopwords.foldLeft(
      t(spark, dir, "documents").withColumn("toks", toks)) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang",
        size(filter(col("toks"), tk => tk.isin(words: _*))).cast("long"))
    }
    val langs = stopwords.map(_._1)
    val best = greatest(langs.map(l => col(s"s_$l")): _*)
    // first lang (in priority order) achieving the max score
    val pred = langs.reverse.foldLeft(lit("unknown")) { case (acc, l) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.select(col("doc_id"), col("lang").as("labeled_lang"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val scores = stopwords.map { case (l, ws) =>
      s"len(list_filter(toks, x -> list_contains(${lst(ws)}, x)))::BIGINT AS s_$l"
    }.mkString(",\n|       ")
    val langs = stopwords.map(_._1)
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'")
      .mkString("\n|         ")
    s"""WITH tk AS (SELECT doc_id, lang, $tokSql AS toks FROM documents),
       |sc AS (SELECT doc_id, lang,
       |       $scores
       |FROM tk)
       |SELECT doc_id, lang AS labeled_lang,
       |       CASE $cases
       |         ELSE 'unknown' END AS pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: (a) content fingerprint = md5 of the sorted
    * distinct token set (word-order/duplication invariant); (b) a
    * positional rolling hash Σ i·(h(tok_i) mod 1000003) — order-sensitive,
    * overflow-safe. Both exactly reproducible in SQL. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))).as("set_fingerprint"),
        coalesce(aggregate(
          zip_with(col("toks"), sequence(lit(1), greatest(size(col("toks")), lit(1))),
            (tk, i) => i.cast("long") * pmod(Portable.hash60(tk), lit(1000003L))),
          lit(0L), (a, v) => a + v), lit(0L)).as("rolling_hash"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS toks FROM documents)
       |SELECT doc_id,
       |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS set_fingerprint,
       |       CAST(coalesce(list_sum(list_transform(generate_series(1, len(toks)),
       |           i -> i * (${Portable.hash60Sql("toks[i]")} % 1000003))), 0) AS BIGINT) AS rolling_hash
       |FROM tk ORDER BY doc_id""".stripMargin

  /** Duplicate-trigram fraction — the n-gram repetition signal
    * large-scale quality filters use (a doc whose trigrams repeat
    * heavily is boilerplate/spam): 1 − distinct/total over the sliding
    * token 3-grams. Pure per-row map stage, like the other text ops. */
  def trigramStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("tris", transform(sequence(lit(1), size(col("toks")) - 2),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))
      .select(col("doc_id"),
        size(col("tris")).cast("long").as("n_trigrams"),
        size(array_distinct(col("tris"))).cast("long").as("n_distinct_trigrams"),
        (lit(1.0) - size(array_distinct(col("tris"))).cast("double") / size(col("tris")))
          .as("dup_trigram_ratio"))
      .orderBy("doc_id")

  val trigramStatsSql: String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS toks FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(1, len(toks) - 2),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tris
       |  FROM tk WHERE len(toks) >= 3
       |)
       |SELECT doc_id,
       |       len(tris)::BIGINT AS n_trigrams,
       |       len(list_distinct(tris))::BIGINT AS n_distinct_trigrams,
       |       1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris) AS dup_trigram_ratio
       |FROM tri ORDER BY doc_id""".stripMargin

  /** Count-min sketch of the corpus token frequencies — a distributed
    * sketch as pure dataflow: d=4 hash rows × w=1024 buckets, each
    * cell a commutative count (one shuffle with map-side combine, like
    * any production CMS build at 100 TB). The hash family is the
    * portable md5 (`hash60(i || '_' || token) mod w`), so the ENTIRE
    * sketch — and every estimate read from it — is bit-identical in the
    * DuckDB oracle, unlike engine-internal HLL/CMS binaries. Output:
    * the 20 most frequent tokens with exact and sketch-estimated counts
    * (estimate = min over the d cells; ≥ exact by construction, equal
    * absent collisions). */
  def countMinEstimates(spark: SparkSession, dir: String,
                        d: Int = 4, w: Int = 1024, topN: Int = 20): DataFrame = {
    // repartition off the single-file scan (the 4× explode + md5 per
    // token is the CPU-heavy stage) and materialize once — the token
    // stream feeds BOTH the sketch build and the exact probe counts
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .select("tok")
      .localCheckpoint(false)
    def bucket(i: Column, tok: Column): Column =
      pmod(Portable.hash60(concat_ws("_", i, tok)), lit(w.toLong))
    val sketch = toks
      .select(col("tok"), explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("bucket", bucket(col("i"), col("tok")))
      .groupBy("i", "bucket").agg(count(lit(1)).as("c"))
    val probes = toks.groupBy("tok").agg(count(lit(1)).as("exact_count"))
      .orderBy(desc("exact_count"), col("tok")).limit(topN)
    probes
      .select(col("tok"), col("exact_count"), explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("bucket", bucket(col("i"), col("tok")))
      .join(sketch, Seq("i", "bucket"))
      .groupBy("tok", "exact_count").agg(min("c").as("est_count"))
      .orderBy(desc("exact_count"), col("tok"))
  }

  def countMinEstimatesSql(d: Int = 4, w: Int = 1024, topN: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT unnest($tokSql) AS tok FROM documents
       |), cells AS (
       |  SELECT tok, i.i AS i,
       |         ${Portable.hash60Sql("i.i || '_' || tok")} % $w AS bucket
       |  FROM toks, (SELECT unnest(generate_series(0, ${d - 1})) AS i) i
       |), sketch AS (
       |  SELECT i, bucket, count(*) AS c FROM cells GROUP BY i, bucket
       |), probes AS (
       |  SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok
       |  ORDER BY exact_count DESC, tok LIMIT $topN
       |), probe_cells AS (
       |  SELECT p.tok, p.exact_count, i.i AS i,
       |         ${Portable.hash60Sql("i.i || '_' || p.tok")} % $w AS bucket
       |  FROM probes p, (SELECT unnest(generate_series(0, ${d - 1})) AS i) i
       |)
       |SELECT pc.tok, pc.exact_count, min(s.c)::BIGINT AS est_count
       |FROM probe_cells pc JOIN sketch s ON pc.i = s.i AND pc.bucket = s.bucket
       |GROUP BY pc.tok, pc.exact_count
       |ORDER BY exact_count DESC, tok""".stripMargin

  /** Per-document CHARACTER entropy — the compression-proxy quality
    * signal (gibberish / binary-paste / repeated-char spam scores far
    * from natural-language entropy; cf. Gopher/C4-style symbol filters).
    * Unlike [[perplexityFrom]] (cross-entropy under the CORPUS unigram
    * LM), this is each document's self-entropy over its own character
    * distribution — a pure per-doc map+agg with no corpus-wide model,
    * so the whole operator is two partial-aggregable shuffles (doc×char
    * histogram, then per-doc sum) regardless of corpus size.
    * Exactness: surprisal quantized to whole bits via
    * length(bin((L·2²⁰) div k))−1 (the perplexity trick) — exact
    * integer arithmetic in both engines; h_mbits ≈ 1000·(H + 20).
    *
    * API contract: ZERO-LENGTH documents are EXCLUDED from the output
    * (they have no character distribution; emitting entropy 0 would be
    * indistinguishable from a genuine one-symbol document). Callers
    * joining on doc_id must treat absence as "empty doc". */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropyFrom(t(spark, dir, "documents"))

  private[graft] def charEntropyFrom(docs: DataFrame): DataFrame =
    docs
      // Zero-length docs have no character distribution and would divide
      // by n_chars = 0 (an error under ANSI mode); exclude them up front.
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "n_chars", "ch").agg(count(lit(1)).as("k"))
      .groupBy("doc_id", "n_chars")
      .agg(count(lit(1)).as("distinct_chars"),
        expr("(1000 * sum(k * (length(bin((n_chars * 1048576) DIV k)) - 1))) DIV n_chars")
          .as("h_mbits"))
      .orderBy("doc_id")

  val charEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
      |         unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE length(text) > 0
      |), hist AS (
      |  SELECT doc_id, n_chars, ch, count(*) AS k
      |  FROM chars GROUP BY doc_id, n_chars, ch
      |)
      |SELECT doc_id, n_chars, count(*) AS distinct_chars,
      |       CAST((1000 * sum(k * (length(bin((n_chars * 1048576) // k)) - 1))) // n_chars AS BIGINT) AS h_mbits
      |FROM hist GROUP BY doc_id, n_chars ORDER BY doc_id""".stripMargin

  /** Per-document cross-entropy under the corpus unigram language
    * model — the classic LM-based quality signal (a doc whose tokens
    * are all corpus-rare reads as noise; one that is all stopwords as
    * boilerplate). Exactness: surprisal is QUANTIZED to integer bits —
    * s(term) = floor(log2((T·2^20) div c(term))) computed as
    * length(bin(x))−1, which is exact integer arithmetic on both
    * engines (no libm log whose last ulp could differ); the per-doc
    * mean is the scaled integer (1000·Σ tf·s) div n. s ≈ 20 + log2(T/c)
    * within 1 bit. Needs T < 2^43 total tokens before the shift
    * overflows — at larger corpora raise the shift to a wider type or
    * drop the 2^20 scale.
    * Plan: one shuffle for per-(doc,term) tf, one for corpus term
    * counts, an equi-join on term (both sides shuffle-partitioned by
    * term; the corpus-count side is |vocabulary|, not |corpus|), and a
    * final per-doc agg — every stage partial+final, nothing global but
    * the 1-row broadcast total. */
  def perplexity(spark: SparkSession, dir: String): DataFrame =
    perplexityFrom(t(spark, dir, "documents"))

  /** Core on any (doc_id, text) frame — see [[perplexity]]. */
  private[graft] def perplexityFrom(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds corpus counts AND the score join
    val corpus = tf.groupBy("term").agg(sum(col("tf")).as("c"))
    val total = corpus.agg(sum(col("c")).as("t"))
    val surprisal = length(bin(expr("(t * 1048576) DIV c"))).cast("long") - 1L
    tf.join(corpus, "term").crossJoin(broadcast(total))
      .withColumn("s", surprisal)
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        expr("(1000 * sum(tf * s)) DIV sum(tf)").as("h_mbits"))
      .orderBy("doc_id")
  }

  val perplexitySql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, unnest($tokSql) AS term FROM documents
       |), tfc AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term
       |), corpus AS (
       |  SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tfc GROUP BY term
       |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM corpus)
       |SELECT doc_id,
       |       CAST(sum(tf) AS BIGINT) AS n_tokens,
       |       CAST((1000 * sum(tf * (length(bin((t * 1048576) // c)) - 1))) // sum(tf) AS BIGINT) AS h_mbits
       |FROM tfc JOIN corpus USING (term) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** THE canonical split hash: hash60("split_" + doc_id) mod 100.
    * Every consumer of the train/val/test assignment (splitAssign,
    * Pipeline.curationFunnel, Retrieval.decontaminate) derives from
    * this one expression — a drifted copy would silently stop
    * describing the published split. SQL twin: [[splitHashSql]]. */
  def splitHash(docId: Column): Column =
    pmod(Portable.hash60(concat_ws("_", lit("split"), docId)), lit(100L))

  def splitHashSql(id: String): String = s"${Portable.hash60Sql(s"'split_' || $id")} % 100"

  /** 80/10/10 split label from [[splitHash]]. */
  def splitOf(docId: Column): Column = {
    val h = splitHash(docId)
    when(h < 80, "train").when(h < 90, "val").otherwise("test")
  }

  /** Deterministic train/val/test split assignment — hash-based
    * bernoulli (NOT rand(): the split of every document is a pure
    * function of its id, stable across runs, partitionings and
    * backfills — the only defensible way to split a 100 TB corpus).
    * 80/10/10 on hash60("split_" + doc_id) mod 100. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), splitHash(col("doc_id")).as("h"))
      .select(col("doc_id"), col("h"),
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  val splitAssignSql: String =
    s"""WITH h AS (
      |  SELECT doc_id, ${splitHashSql("doc_id")} AS h
      |  FROM documents
      |)
      |SELECT doc_id, h,
      |       CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
      |FROM h ORDER BY doc_id""".stripMargin

  /** Corpus-mixture report: documents and tokens per (source, split) —
    * the mixture dashboard a training pipeline runs before weighting
    * domains. Token fractions are divisions of exact integers against
    * the 1-row broadcast corpus total. One explode-free pass (token
    * counts are per-row array sizes), one partial+final agg. */
  def mixReport(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = t(spark, dir, "documents")
      .select(col("source"), splitOf(col("doc_id")).as("split"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
    val cells = perDoc.groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("t"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("split"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("t").cast("double")).as("token_frac"))
      .orderBy("source", "split")
  }

  val mixReportSql: String =
    s"""WITH per_doc AS (
       |  SELECT source,
       |         CASE WHEN ${splitHashSql("doc_id")} < 80 THEN 'train'
       |              WHEN ${splitHashSql("doc_id")} < 90 THEN 'val' ELSE 'test' END AS split,
       |         len($tokSql)::BIGINT AS n_toks
       |  FROM documents
       |), cells AS (
       |  SELECT source, split, count(*) AS n_docs,
       |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |  FROM per_doc GROUP BY source, split
       |), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM cells)
       |SELECT source, split, n_docs, n_tokens,
       |       CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS token_frac
       |FROM cells CROSS JOIN tot
       |ORDER BY source, split""".stripMargin

  /** Gopher-style repetition filters (Rae et al. 2021, §A1.1): the
    * fraction of characters inside the single most frequent word
    * 2-gram, and the fraction of characters inside duplicated word
    * 3-grams. Complements [[trigramStats]] (a per-row count ratio):
    * these are character-weighted, and the top-bigram argmax is the
    * distributed explode→count shape — grams shuffle on
    * (doc_id, gram) with map-side partial counts, the argmax is a
    * row_number window over each doc's distinct grams (bounded by doc
    * length), and everything re-joins on doc_id equi-joins. That shape
    * holds for docs of any length at 100 TB, unlike per-row
    * array_distinct which is bounded by a single row's array.
    *
    * Char weight of a gram = length of its space-joined string (same
    * formula both engines); denominator = Σ token lengths. Occurrences
    * are count-weighted (overlapping grams each contribute), so a
    * pathologically repetitive doc can score above 1 — the signal is a
    * threshold, not a probability. Ties on the top bigram break to the
    * lexicographically smallest gram, so the argmax is deterministic.
    * Docs with < 3 tokens are excluded (no trigram exists; the corpus
    * minimum is far above). */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(transform(col("toks"), x => length(x).cast("long")),
          lit(0L), (a, v) => a + v).as("total_chars"))

    def grams(n: Int): DataFrame = base.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(col("toks"), i + k)): _*)))
        .as("gram"))

    val bgTop = grams(2).groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("cnt").desc, col("gram").asc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("gram").as("top_bigram"), col("cnt").as("top_bigram_count"),
        (col("cnt") * length(col("gram")).cast("long")).as("top_chars"))

    val tgDup = grams(3).groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")).cast("long"))
          .otherwise(lit(0L))).as("dup_chars"))

    base.select(col("doc_id"), col("n_tokens"), col("total_chars"))
      .join(bgTop, Seq("doc_id")).join(tgDup, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        col("top_bigram"), col("top_bigram_count"),
        (col("top_chars").cast("double") / col("total_chars")).as("top_bigram_char_frac"),
        (col("dup_chars").cast("double") / col("total_chars")).as("dup_trigram_char_frac"))
      .orderBy("doc_id")
  }

  val repetitionStatsSql: String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS toks FROM documents),
       |base AS (
       |  SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens,
       |         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars
       |  FROM tk WHERE len(toks) >= 3),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
       |           i -> toks[i] || ' ' || toks[i+1])) AS gram FROM base),
       |bgc AS (SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM bg GROUP BY doc_id, gram),
       |bgtop AS (
       |  SELECT doc_id, gram AS top_bigram, cnt AS top_bigram_count,
       |         cnt * length(gram) AS top_chars
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
       |        FROM bgc) WHERE rn = 1),
       |tg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram FROM base),
       |tgc AS (SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM tg GROUP BY doc_id, gram),
       |tgdup AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS BIGINT) AS dup_chars
       |  FROM tgc GROUP BY doc_id)
       |SELECT base.doc_id, base.n_tokens, bgtop.top_bigram, bgtop.top_bigram_count,
       |       CAST(bgtop.top_chars AS DOUBLE) / base.total_chars AS top_bigram_char_frac,
       |       CAST(tgdup.dup_chars AS DOUBLE) / base.total_chars AS dup_trigram_char_frac
       |FROM base JOIN bgtop USING (doc_id) JOIN tgdup USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Exact heavy hitters: every token whose corpus frequency exceeds
    * 1/1000 of all token positions — the exact answer the count-min
    * sketch approximates (paired the way agg_hll_groups pairs the HLL
    * with exact distincts: the sketch is the stream/merge path, this is
    * the ground truth that gates it). The threshold form is the
    * Misra-Gries/SpaceSaving target — at most 1000 tokens can exceed
    * it, so the OUTPUT is bounded by construction no matter the corpus.
    * Shapes: one explode → (token) partial+final count, a 1-row
    * broadcast total, a filter — one shuffle end to end. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") > expr("total div 1000"))
      .select(col("tok"), col("cnt"), col("total"),
        expr("(1000 * cnt) div total").as("permille"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  val heavyHittersSql: String =
    """WITH c AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> len(x) > 0)) AS tok
      |  FROM documents
      |), counts AS (
      |  SELECT tok, count(*) AS cnt FROM c GROUP BY 1
      |), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
      |SELECT tok, cnt, t.total, (1000 * cnt) // t.total AS permille
      |FROM counts, t
      |WHERE cnt > t.total // 1000
      |ORDER BY cnt DESC, tok""".stripMargin

  /** Code-vs-prose detection (the modality split a pretraining corpus
    * runs before routing to code/prose-specific cleaning): per-doc
    * symbol and digit densities at integer permille — code text is
    * dense in `(){}[];=<>` where prose is not — with a fixed-threshold
    * flag (symbol_permille > 100). Pure per-row character counting via
    * regexp strip; thresholds are a documented map, not a trained
    * model, so the split is stable across runs and corpora. The
    * planted-code spec proves the detector fires.
    *
    * Scale shape: pure map + one output sort; no shuffle before it. */
  def codeRatio(spark: SparkSession, dir: String): DataFrame = {
    val stripped = regexp_replace(col("text"), "[^A-Za-z0-9 \t\n]", "")
    val digits = regexp_replace(col("text"), "[^0-9]", "")
    t(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        (length(col("text")) - length(stripped)).cast("long").as("n_sym"),
        length(digits).cast("long").as("n_dig"),
        length(col("text")).cast("long").as("n_all"))
      .select(col("doc_id"),
        expr("(1000 * n_sym) DIV n_all").as("symbol_permille"),
        expr("(1000 * n_dig) DIV n_all").as("digit_permille"))
      .withColumn("is_code", col("symbol_permille") > 100L)
      .orderBy("doc_id")
  }

  val codeRatioSql: String =
    """SELECT doc_id,
      |       (CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 \t\n]', '', 'g'))
      |             AS BIGINT) * 1000) // len(text) AS symbol_permille,
      |       (CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) * 1000)
      |         // len(text) AS digit_permille,
      |       (CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 \t\n]', '', 'g'))
      |             AS BIGINT) * 1000) // len(text) > 100 AS is_code
      |FROM documents WHERE len(text) > 0 ORDER BY doc_id""".stripMargin

  /** Unicode NFC normalization pass — the mandatory pre-hash step of any
    * multilingual dedup pipeline ('é' composed vs 'e'+combining-acute
    * are one text to curation but two byte strings to every hash/
    * shingle operator). Runs through the native [[graft.functions
    * .NfcNormalize]] codegen expression (Spark has no normalization
    * builtin; a UDF would fall out of whole-stage codegen).
    *
    * The corpus is ASCII (already NFC), so the query SELF-PLANTS
    * decomposed text: docs with doc_id % 5 == 0 get every 'a' replaced
    * by 'a'+U+0301; NFC must re-compose those to 'á' (U+00E1), shrink
    * the code-point count by exactly the number of planted marks, and
    * leave every other doc byte-identical. Per-lang report pins the
    * normalized bytes via an xor'd content hash — the DuckDB oracle
    * recomputes the whole pass with its own `nfc_normalize()` (both
    * engines implement Unicode TR15, so bytes match exactly).
    *
    * Scale shape: pure map stage + one small aggregate; the expression
    * short-circuits ASCII rows (byte==char count) so at 100 TB only the
    * genuinely decomposed fraction pays the normalize. */
  def unicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          regexp_replace(col("text"), lit("a"), lit("a\u0301")))
          .otherwise(col("text")).as("t"))
    planted
      .withColumn("nt", Portable.nfc(col("t")))
      .withColumn("h", Portable.hash60(col("nt")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nt") =!= col("t"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("t")).cast("long")).as("chars_before"),
        sum(length(col("nt")).cast("long")).as("chars_after"),
        expr("bit_xor(h)").as("xor_norm_hash"))
      .orderBy("lang")
  }

  val unicodeNormalizeSql: String =
    s"""WITH planted AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN doc_id % 5 = 0
      |              THEN regexp_replace(text, 'a', 'a' || chr(769), 'g')
      |              ELSE text END AS t
      |  FROM documents
      |), n AS (SELECT lang, t, nfc_normalize(t) AS nt FROM planted)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN nt <> t THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |       CAST(sum(length(t)) AS BIGINT) AS chars_before,
      |       CAST(sum(length(nt)) AS BIGINT) AS chars_after,
      |       bit_xor(${Portable.hash60Sql("nt")}) AS xor_norm_hash
      |FROM n GROUP BY 1 ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unicode_normalize" -> unicodeNormalize,
    "text_code_ratio" -> codeRatio,
    "text_heavy_hitters" -> heavyHitters,
    "text_token_counts" -> tokenCounts,
    "text_quality_score" -> qualityScore,
    "text_lang_id" -> langId,
    "text_fingerprint" -> fingerprint,
    "text_trigram_stats" -> trigramStats,
    "text_repetition_stats" -> repetitionStats,
    "text_countmin_est" -> ((s, d) => countMinEstimates(s, d)),
    "text_perplexity" -> perplexity,
    "text_mix_report" -> mixReport,
    "text_char_entropy" -> charEntropy,
    "text_split_assign" -> splitAssign)

  val oracles: Map[String, String] = Map(
    "text_unicode_normalize" -> unicodeNormalizeSql,
    "text_code_ratio" -> codeRatioSql,
    "text_heavy_hitters" -> heavyHittersSql,
    "text_token_counts" -> tokenCountsSql,
    "text_quality_score" -> qualityScoreSql,
    "text_lang_id" -> langIdSql,
    "text_fingerprint" -> fingerprintSql,
    "text_trigram_stats" -> trigramStatsSql,
    "text_repetition_stats" -> repetitionStatsSql,
    "text_countmin_est" -> countMinEstimatesSql(),
    "text_perplexity" -> perplexitySql,
    "text_mix_report" -> mixReportSql,
    "text_char_entropy" -> charEntropySql,
    "text_split_assign" -> splitAssignSql)
}
