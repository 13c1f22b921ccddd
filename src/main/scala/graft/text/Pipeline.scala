package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.operators.Tables.t

/** The end-to-end corpus-curation pipeline, composed from the
  * already-verified stages: language filter → quality filter → exact
  * dedup (min-id per content hash) → LSH near-dup removal → split
  * assignment, reported as a retention funnel (stage, surviving docs,
  * surviving chars).
  *
  * This is the query a training-data team actually runs: every stage is
  * one of the first-class operators (langId, tokenCounts/qualityScore,
  * exact hash-dedup, the banded-minhash candidate join, the hash
  * split), chained on doc_id equi-joins — so the whole funnel keeps the
  * per-stage 100 TB shapes (map-stage filters, one content-hash
  * shuffle, the bucketed LSH candidate join; never all-pairs).
  *
  * Near-dup rule (deterministic, engine-mirrored): a doc is dropped if
  * it is the LARGER id of any LSH candidate pair whose smaller id
  * survived the pre-near-dup stages — the greedy keep-smallest policy.
  */
object Pipeline {

  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("nc"))
      .localCheckpoint(false) // every stage and the funnel reference it
    val keepLang = TextAnalysis.langId(spark, dir)
      .filter(col("pred_lang") =!= "unknown").select("doc_id")
    val s1 = base.join(keepLang, "doc_id").localCheckpoint(false)
    val keepTokens = TextAnalysis.tokenCounts(spark, dir)
      .filter(col("n_tokens") >= 10).select("doc_id")
    val keepQuality = TextAnalysis.qualityScore(spark, dir)
      .filter(col("repetition_ratio") < 0.5).select("doc_id")
    val s2 = s1.join(keepTokens, "doc_id").join(keepQuality, "doc_id")
      .localCheckpoint(false)
    val keepers = s2.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val s3 = s2.join(keepers, Seq("doc_id"), "left_semi").localCheckpoint(false)
    val cand = graft.dedup.Dedup.minhashCandidates(spark, dir)
    val dropped = cand
      .join(s3.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .select(col("b").as("doc_id")).distinct()
    val s4 = s3.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint(false)
    val withSplit = s4.select(col("nc"),
      TextAnalysis.splitOf(col("doc_id")).as("split"))
    def stageRow(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"), coalesce(sum("nc"), lit(0L)).as("n_chars"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_chars"))
    val funnel = Seq(
      stageRow("0_input", base), stageRow("1_lang", s1),
      stageRow("2_quality", s2), stageRow("3_exact_dedup", s3),
      stageRow("4_neardup", s4)).reduce(_ unionAll _)
    val splitRows = withSplit.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("nc"), lit(0L)).as("n_chars"))
      .select(concat(lit("5_"), col("split")).as("stage"), col("n_docs"), col("n_chars"))
    funnel.unionAll(splitRows).orderBy("stage")
  }

  private def asCte(sql: String): String =
    sql.replace("ORDER BY doc_id, band", "").replace("ORDER BY doc_id", "")

  val curationFunnelSql: String = {
    val lang = asCte(TextAnalysis.langIdSql)
    val tc = asCte(TextAnalysis.tokenCountsSql)
    val q = asCte(TextAnalysis.qualityScoreSql)
    val cand = asCte(graft.dedup.Dedup.minhashCandidatesSql)
    s"""WITH base AS (
       |  SELECT doc_id, text, length(text)::BIGINT AS nc FROM documents
       |), s1 AS (
       |  SELECT base.* FROM base
       |  JOIN (SELECT doc_id FROM ($lang) WHERE pred_lang <> 'unknown') kl USING (doc_id)
       |), s2 AS (
       |  SELECT s1.* FROM s1
       |  JOIN (SELECT doc_id FROM ($tc) WHERE n_tokens >= 10) kt USING (doc_id)
       |  JOIN (SELECT doc_id FROM ($q) WHERE repetition_ratio < 0.5) kq USING (doc_id)
       |), s3 AS (
       |  SELECT s2.* FROM s2
       |  WHERE doc_id IN (SELECT min(doc_id) FROM s2 GROUP BY md5(text))
       |), cand AS (
       |  SELECT * FROM ($cand)
       |), dropped AS (
       |  SELECT DISTINCT c.b AS doc_id FROM cand c
       |  WHERE c.a IN (SELECT doc_id FROM s3)
       |), s4 AS (
       |  SELECT s3.* FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
       |), sp AS (
       |  SELECT nc,
       |         CASE WHEN ${TextAnalysis.splitHashSql("doc_id")} < 80 THEN 'train'
       |              WHEN ${TextAnalysis.splitHashSql("doc_id")} < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM s4
       |)
       |SELECT * FROM (
       |  SELECT '0_input' AS stage, count(*) AS n_docs, CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_chars FROM base
       |  UNION ALL SELECT '1_lang', count(*), CAST(coalesce(sum(nc), 0) AS BIGINT) FROM s1
       |  UNION ALL SELECT '2_quality', count(*), CAST(coalesce(sum(nc), 0) AS BIGINT) FROM s2
       |  UNION ALL SELECT '3_exact_dedup', count(*), CAST(coalesce(sum(nc), 0) AS BIGINT) FROM s3
       |  UNION ALL SELECT '4_neardup', count(*), CAST(coalesce(sum(nc), 0) AS BIGINT) FROM s4
       |  UNION ALL SELECT '5_' || split, count(*), CAST(coalesce(sum(nc), 0) AS BIGINT) FROM sp GROUP BY split
       |)
       |ORDER BY stage""".stripMargin
  }

  /** Deterministic sequence packing: assign documents to fixed
    * token-budget training chunks (the step that turns a curated corpus
    * into context-window-sized examples). Distributed shape: documents
    * are hash-assigned to one of [[PackShards]] independent packer
    * shards (a pure function of doc_id — stable across runs and
    * backfills), each shard packs its documents in doc_id order by
    * cumulative token offset, and a chunk is `start_offset div budget`
    * (documents may straddle a boundary; the chunk owns the doc whose
    * first token falls inside it). One map + one window partitioned by
    * shard + one aggregate on the SAME key — a single shuffle end to
    * end, never a global sort/window. At cluster scale the shard count
    * is sized to executors (it is the packing parallelism); 8 here
    * keeps sf-fixture chunks non-trivial.
    */
  val PackShards = 8
  val PackBudget = 512L

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"),
        Portable.hashMod(concat(lit("pack_"), col("doc_id").cast("string")),
          PackShards).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("start_off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .groupBy(col("shard"), expr(s"start_off div $PackBudget").as("chunk_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  val packSequencesSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         len(${TextAnalysis.tokSql})::BIGINT AS n_tok,
       |         ${Portable.hash60Sql("'pack_' || doc_id")} % $PackShards AS shard
       |  FROM documents
       |), off AS (
       |  -- DuckDB windowed sum(BIGINT) is HUGEINT; chunk_id must stay BIGINT
       |  SELECT shard, n_tok,
       |         CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       |  FROM toks
       |)
       |SELECT shard, start_off // $PackBudget AS chunk_id,
       |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM off GROUP BY 1, 2""".stripMargin

  /** Deterministic language-mixture resampling: upsample every language
    * to token parity with the largest one, capped at 4× (the
    * temperature-style rebalancing run before multilingual training).
    * The replication ratio is integer permille `min(4000,
    * tmax*1000 div t_lang)`; each document is emitted `r div 1000`
    * times plus one more when its hash-fraction falls below the
    * fractional part — a pure function of doc_id, so the resample is
    * reproducible and shard-independent. Dataflow: one tiny per-lang
    * aggregate (5 rows) broadcast back onto the corpus, then one final
    * per-lang aggregate — the corpus is touched by maps only.
    * `greatest(t,1)` guards the all-empty-language degenerate case
    * (divide-by-zero under ANSI) without changing any real ratio.
    */
  def mixResample(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
    val tot = toks.groupBy("lang").agg(sum("n_tok").as("t"))
    val mx = tot.agg(max("t").as("tmax"))
    val rl = tot.crossJoin(broadcast(mx))
      .select(col("lang"),
        least(lit(4000L), expr("(tmax * 1000) div greatest(t, 1)")).as("r"))
    toks.join(broadcast(rl), "lang")
      .withColumn("k", expr("r div 1000") +
        when(pmod(Portable.hash60(concat(lit("mix_"), col("doc_id").cast("string"))),
          lit(1000L)) < pmod(col("r"), lit(1000L)), lit(1L)).otherwise(lit(0L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_in"), sum("n_tok").as("tokens_in"),
        min("r").as("repl_permille"),
        sum("k").as("docs_out"), sum(col("k") * col("n_tok")).as("tokens_out"))
  }

  val mixResampleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, len(${TextAnalysis.tokSql})::BIGINT AS n_tok
       |  FROM documents
       |), tot AS (
       |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS t FROM toks GROUP BY 1
       |), mx AS (
       |  SELECT CAST(max(t) AS BIGINT) AS tmax FROM tot
       |), rl AS (
       |  SELECT lang, least(4000, (tmax * 1000) // greatest(t, 1)) AS r
       |  FROM tot, mx
       |), j AS (
       |  SELECT d.lang, d.n_tok, rl.r,
       |         rl.r // 1000 + CASE WHEN ${Portable.hash60Sql("'mix_' || d.doc_id")} % 1000
       |                                  < rl.r % 1000 THEN 1 ELSE 0 END AS k
       |  FROM toks d JOIN rl USING (lang)
       |)
       |SELECT lang, count(*) AS docs_in, CAST(sum(n_tok) AS BIGINT) AS tokens_in,
       |       CAST(min(r) AS BIGINT) AS repl_permille,
       |       CAST(sum(k) AS BIGINT) AS docs_out,
       |       CAST(sum(k * n_tok) AS BIGINT) AS tokens_out
       |FROM j GROUP BY 1""".stripMargin

  private val SourceCap = 15

  /** Per-source frequency capping — the anti-domination filter every
    * web-scale corpus runs (one crawl-heavy domain must not become 30%
    * of the training set). Keep at most [[SourceCap]] documents per
    * source, preferring longer documents (n_chars DESC, doc_id
    * tiebreak — deterministic, not rand()).
    *
    * Scale shape: the kept side is a rank-filter the optimizer rewrites
    * to WindowGroupLimit — each input partition retains only its local
    * top-cap BEFORE the per-source shuffle+sort, so a 10M-doc domain
    * moves cap rows per partition, not 10M. The input-stats side is a
    * plain partial+final aggregate (no sort at all), and the two
    * source-cardinality-sized results join broadcast. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val kept = docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SourceCap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
    val stats = docs.groupBy("source")
      .agg(count(lit(1)).as("n_in"), sum("n_chars").as("chars_in"))
    stats.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_in"), col("chars_in"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
      .orderBy("source")
  }

  val sourceCapSql: String =
    s"""WITH ranked AS (
       |  SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM documents
       |), kept AS (
       |  SELECT source, count(*) AS n_kept,
       |         CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |  FROM ranked WHERE rk <= $SourceCap GROUP BY 1
       |), stats AS (
       |  SELECT source, count(*) AS n_in,
       |         CAST(sum(n_chars) AS BIGINT) AS chars_in
       |  FROM documents GROUP BY 1
       |)
       |SELECT s.source, s.n_in, s.chars_in,
       |       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       |       coalesce(k.chars_kept, 0)::BIGINT AS chars_kept
       |FROM stats s LEFT JOIN kept k USING (source)
       |ORDER BY s.source""".stripMargin

  // 4096: measured at sf0.001 — 256 buckets blur the language
  // distributions inside each bucket (top-50 en-fraction 0.48, i.e. no
  // discrimination over the 44% corpus share); 4096 reaches 0.84 and
  // 16384 plateaus. A 4096-row model is still a trivially broadcast
  // table at any corpus size.
  private val DsirBuckets = 4096
  private val DsirTopK = 50

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much its hashed-bigram distribution looks like a TARGET
    * corpus (here: the lang='en' slice) versus the raw pool, and take
    * the top-k. Features are bigrams hashed into [[DsirBuckets]]
    * buckets; the per-bucket importance weight is the QUANTIZED
    * log-ratio floor(log2(1+c_target)) − floor(log2(1+c_raw)) via the
    * length(bin(x))−1 trick — exact integer arithmetic in both engines
    * (no libm log), same quantization as the perplexity/entropy ops.
    *
    * The per-doc score is the PER-GRAM average (millis), not the raw
    * sum: every bucket delta is ≤ 0 (target counts are a subset of raw
    * counts), so a raw sum would just select the shortest documents —
    * the classic length bias importance weights must normalize away.
    * The average is computed shifted by +40 per gram
    * (`(1000·Σ(40+δ)) div n_grams`) so the integer division never sees
    * a negative dividend — Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, and they only agree on non-negatives. The
    * shift is monotone (rank-preserving); 40 bounds |δ| while corpus
    * gram counts stay < 2⁴⁰ (same documented bound as the perplexity
    * op). Docs with <2 tokens have no features and are excluded — a
    * selector cannot rank what it cannot featurize.
    *
    * Scale shape: one explode→(bucket) partial+final count builds the
    * [[DsirBuckets]]-row bucket model; it broadcasts back onto the gram stream
    * (equi-join on bucket, no shuffle of the corpus side beyond the
    * per-doc score agg); the global top-k is TakeOrderedAndProject
    * (per-partition heads, never a full sort). */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("toks"))
    val bigrams = when(size(col("toks")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat(element_at(col("toks"), i), lit("_"),
          element_at(col("toks"), i + 1))))
    val grams = docs
      .select(col("doc_id"), col("lang"), explode(bigrams).as("gram"))
      .select(col("doc_id"), col("lang"),
        Portable.hashMod(concat(lit("dsir_"), col("gram")), DsirBuckets).as("b"))
    val model = grams.groupBy("b").agg(
        count(lit(1)).as("c_all"),
        sum(when(col("lang") === "en", lit(1L)).otherwise(lit(0L))).as("c_t"))
      .select(col("b"),
        (lit(40L) + (length(bin(col("c_t") + 1)) - 1) -
          (length(bin(col("c_all") + 1)) - 1)).cast("long").as("delta40"))
    grams.join(broadcast(model), "b")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_grams"),
        expr("(1000 * sum(delta40)) div count(1)").as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  val dsirSelectSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang, ${TextAnalysis.tokSql} AS toks FROM documents
       |), grams AS (
       |  SELECT doc_id, lang,
       |         ${Portable.hash60Sql("'dsir_' || toks[i] || '_' || toks[i + 1]")}
       |           % $DsirBuckets AS b
       |  FROM tk, unnest(range(1, len(toks))) AS u(i)
       |), model AS (
       |  SELECT b, count(*) AS c_all,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
       |  FROM grams GROUP BY 1
       |), delta AS (
       |  SELECT b, 40 + (length(bin(c_t + 1)) - 1) - (length(bin(c_all + 1)) - 1) AS delta40
       |  FROM model
       |)
       |SELECT g.doc_id, g.lang, count(*) AS n_grams,
       |       CAST((1000 * sum(d.delta40)) // count(*) AS BIGINT) AS dsir_score
       |FROM grams g JOIN delta d USING (b)
       |GROUP BY g.doc_id, g.lang
       |ORDER BY dsir_score DESC, doc_id LIMIT $DsirTopK""".stripMargin

  /** Leakage-safe corpus split: assign train/val/test by hashing the
    * SOURCE, not the document — near-duplicates concentrate within a
    * source (same site templating, same crawl), so a doc-level split
    * leaks eval content into training; a group-level split keeps every
    * source wholly inside one split (the `text_split_assign` twin at
    * the granularity real eval-decontamination demands). 80/10/10 on
    * hash60("gsplit_"+source) mod 100; a split absent from the output
    * simply drew no source. Pure map + one partial+final aggregate. */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = pmod(Portable.hash60(concat(lit("gsplit_"), col("source"))), lit(100L))
    t(spark, dir, "documents")
      .select(col("source"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("split")
      .agg(countDistinct(col("source")).as("n_sources"),
        count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("split")
  }

  val leakageSplitSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |         CASE WHEN ${Portable.hash60Sql("'gsplit_' || source")} % 100 < 80
       |                THEN 'train'
       |              WHEN ${Portable.hash60Sql("'gsplit_' || source")} % 100 < 90
       |                THEN 'val' ELSE 'test' END AS split,
       |         len(${TextAnalysis.tokSql})::BIGINT AS n_toks
       |  FROM documents
       |)
       |SELECT split, count(DISTINCT source) AS n_sources,
       |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Overlapping-window document chunking — the RAG/context-window
    * preprocessing step (distinct from [[packSequences]], which packs
    * WHOLE documents into budgeted training rows; chunking SPLITS one
    * document into overlapping token windows). Chunk k covers tokens
    * [k·stride, k·stride + size); the last chunk starts at the final
    * stride position that still adds tokens, so every token is covered
    * and consecutive chunks overlap by size − stride.
    *
    * Each chunk row carries a content hash of its token window (the
    * downstream chunk-level dedup/embedding key). Work is a bounded
    * ~size/stride× explode of the corpus — one map stage, no shuffle
    * at all until a consumer aggregates. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (c, s) = (ChunkSize, ChunkStride)
    t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("k", expr(s"CASE WHEN n <= $c THEN 1 ELSE (n - $c + $s - 1) div $s + 1 END"))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("k") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * s).as("tok_start"),
        least(lit(c.toLong), col("n") - col("chunk_id") * s).as("n_chunk_tokens"),
        Portable.hash60(concat(lit("chunk_"),
          array_join(slice(col("toks"), (col("chunk_id") * s + 1).cast("int"), lit(c)), "_")))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkOverlapSql: String = {
    val (c, s) = (ChunkSize, ChunkStride)
    val chunkText = s"array_to_string(list_slice(toks, (chunk_id * $s + 1)::INT, (chunk_id * $s + $c)::INT), '_')"
    s"""WITH tk AS (
       |  SELECT doc_id, ${TextAnalysis.tokSql} AS toks,
       |         len(${TextAnalysis.tokSql})::BIGINT AS n
       |  FROM documents
       |), ks AS (
       |  SELECT doc_id, toks, n,
       |         CASE WHEN n <= $c THEN 1 ELSE (n - $c + $s - 1) // $s + 1 END AS k
       |  FROM tk
       |), chunks AS (
       |  SELECT doc_id, toks, n, unnest(range(0, k)) AS chunk_id FROM ks
       |)
       |SELECT doc_id, chunk_id, chunk_id * $s AS tok_start,
       |       least($c, n - chunk_id * $s) AS n_chunk_tokens,
       |       ${Portable.hash60Sql(s"'chunk_' || $chunkText")} AS chunk_hash
       |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Length-bucketed batching report — the padding-waste audit run
    * before choosing a batching strategy for training: documents bucket
    * by power-of-two token length (bucket = ⌊log₂ len⌋, computed as
    * binary-digit count so both engines stay in exact integer land —
    * float log2 at exact powers is an engine-dependent coin flip), and
    * each bucket reports its doc/token mass plus the padding cost of
    * (a) padding to the bucket max vs (b) padding everything to the
    * global max — the measured gap is the win length-bucketing buys.
    * Cost: one map + one ~60-key agg + one broadcast scalar; the global
    * max is the only cross-bucket fact. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 1)
      .withColumn("bucket", (length(bin(col("n_tok"))) - 1).cast("long"))
    val glob = toks.agg(max("n_tok").as("gmax"))
    toks.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        max("n_tok").as("max_len"))
      .crossJoin(broadcast(glob))
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("max_len"),
        (col("n_docs") * col("max_len") - col("n_tokens")).as("pad_bucketed"),
        (col("n_docs") * col("gmax") - col("n_tokens")).as("pad_global"))
      .orderBy("bucket")
  }

  val lengthBucketsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, len(${TextAnalysis.tokSql})::BIGINT AS n_tok FROM documents
       |), b AS (
       |  SELECT doc_id, n_tok,
       |         CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket
       |  FROM toks WHERE n_tok >= 1
       |), g AS (SELECT max(n_tok) AS gmax FROM b),
       |agg AS (
       |  SELECT bucket, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |         max(n_tok) AS max_len
       |  FROM b GROUP BY 1)
       |SELECT bucket, n_docs, n_tokens, max_len,
       |       n_docs * max_len - n_tokens AS pad_bucketed,
       |       n_docs * gmax - n_tokens AS pad_global
       |FROM agg, g ORDER BY bucket""".stripMargin

  /** T5-style span corruption plan (Raffel et al. 2020 §3.1.4),
    * deterministic: token position i STARTS a mask span iff
    * hash(doc, i) % 100 < 10 (≈15% corruption at mean span 1.5 after
    * overlap merge), with span length 1 + hash % 3. A position is
    * masked iff SOME start j ∈ {i−2, i−1, i} covers it — and because
    * start/length are pure hash functions of (doc, j), each exploded
    * row recomputes its 3-position lookback directly: NO sequential
    * scan, no window, no cross-row state for the masking itself.
    * Overlapping spans then merge into sentinel islands (one
    * gaps-and-islands window over the masked subset, doc-partitioned),
    * which is what makes the reported span count the actual number of
    * `<extra_id_k>` sentinels a T5 batch would emit.
    *
    * Scale shape: posexplode → pure per-row maps → one doc-keyed
    * window + agg. Reproducible across runs/partitionings/backfills —
    * the property that makes corruption AUDITABLE (re-derive any
    * doc's mask from its id alone). */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    def h(pos: Column): Column =
      Portable.hash60(concat_ws("_", lit("span"), col("doc_id"), pos))
    def covers(i: Column, j: Column): Column =
      j >= 0L && pmod(h(j), lit(100L)) < 10L &&
        (j + 1L + pmod(h(j) * 7L + 13L, lit(3L))) > i
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text")))
        .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val masked = toks.withColumn("m",
      covers(col("pos"), col("pos")) ||
        covers(col("pos"), col("pos") - 1L) ||
        covers(col("pos"), col("pos") - 2L))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val islands = masked.filter(col("m"))
      .withColumn("isl", col("pos") - row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_masked"),
        countDistinct("isl").as("n_spans"))
    masked.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("mask_permille", expr("(1000 * n_masked) DIV n_tokens"))
      .orderBy("doc_id")
  }

  val spanCorruptionSql: String =
    s"""WITH tk AS (
      |  SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                                 x -> len(x) > 0)) AS n FROM documents
      |), pos AS (
      |  SELECT doc_id, CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS pos
      |  FROM tk WHERE n > 0
      |), m AS (
      |  SELECT doc_id, pos,
      |         (SELECT bool_or(
      |            j >= 0
      |            AND ${Portable.hash60Sql("'span_' || doc_id || '_' || j")} % 100 < 10
      |            AND (j + 1 + (${Portable.hash60Sql("'span_' || doc_id || '_' || j")} * 7 + 13) % 3) > pos)
      |          FROM (SELECT unnest([pos, pos - 1, pos - 2]) AS j)) AS masked
      |  FROM pos
      |), isl AS (
      |  SELECT doc_id,
      |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM m WHERE masked
      |), agg_m AS (
      |  SELECT doc_id, count(*) AS n_masked, count(DISTINCT island) AS n_spans
      |  FROM isl GROUP BY doc_id
      |)
      |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
      |       CAST(coalesce(a.n_masked, 0) AS BIGINT) AS n_masked,
      |       CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
      |       (1000 * CAST(coalesce(a.n_masked, 0) AS BIGINT)) // t.n AS mask_permille
      |FROM tk t LEFT JOIN agg_m a ON t.doc_id = a.doc_id
      |WHERE t.n > 0
      |ORDER BY t.doc_id""".stripMargin

  /** Fill-in-the-middle split plan (Bavarian et al. 2022): half the
    * corpus (by document hash) is FIM-reordered — two hash-derived cut
    * points split the text into prefix/middle/suffix and the training
    * form is suffix+prefix+middle (PSM's SPM variant). The report is
    * the per-doc plan: mode, exact cut offsets, and the md5 of the
    * REORDERED text, so the oracle re-derives the transformation
    * itself, not just the bookkeeping. Pure per-row maps; zero
    * shuffles besides the output sort.
    *
    * Scale shape: one scan, per-row string ops; nothing else. */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    val n = col("n_chars")
    val h1 = pmod(Portable.hash60(concat_ws("_", lit("fim1"), col("doc_id"))), n) + 1L
    val h2 = pmod(Portable.hash60(concat_ws("_", lit("fim2"), col("doc_id"))), n) + 1L
    val cutA = least(h1, h2)
    val cutB = greatest(h1, h2)
    t(spark, dir, "documents")
      .filter(n > 0L)
      .select(col("doc_id"), col("text"),
        (pmod(Portable.hash60(concat_ws("_", lit("fim"), col("doc_id"))),
          lit(2L)) === 0L).as("fim"),
        cutA.as("cut_a"), cutB.as("cut_b"))
      .select(col("doc_id"), col("fim"),
        when(col("fim"), col("cut_a")).otherwise(0L).as("cut_a"),
        when(col("fim"), col("cut_b")).otherwise(0L).as("cut_b"),
        md5(when(col("fim"),
          concat(
            expr("substring(text, cut_b + 1)"),         // suffix
            expr("substring(text, 1, cut_a)"),           // prefix
            expr("substring(text, cut_a + 1, cut_b - cut_a)"))) // middle
          .otherwise(col("text"))).as("train_md5"))
      .orderBy("doc_id")
  }

  val fimSplitSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, text, n_chars,
      |         ${Portable.hash60Sql("'fim_' || doc_id")} % 2 = 0 AS fim,
      |         ${Portable.hash60Sql("'fim1_' || doc_id")} % n_chars + 1 AS h1,
      |         ${Portable.hash60Sql("'fim2_' || doc_id")} % n_chars + 1 AS h2
      |  FROM documents WHERE n_chars > 0
      |)
      |SELECT doc_id, fim,
      |       CASE WHEN fim THEN least(h1, h2) ELSE 0 END AS cut_a,
      |       CASE WHEN fim THEN greatest(h1, h2) ELSE 0 END AS cut_b,
      |       md5(CASE WHEN fim THEN
      |             substr(text, greatest(h1, h2) + 1)
      |             || substr(text, 1, least(h1, h2))
      |             || substr(text, least(h1, h2) + 1, greatest(h1, h2) - least(h1, h2))
      |           ELSE text END) AS train_md5
      |FROM d ORDER BY doc_id""".stripMargin

  /** Dataset card (Gebru et al. datasheets / HF dataset cards): the
    * one-frame corpus summary a release ships — documents, characters,
    * tokens, language and source cardinalities, exact-duplicate count
    * (docs minus distinct content hashes), and the split sizes — as
    * (metric, value) rows. Every number is a single-pass aggregate
    * over frames this board already verifies piecewise; the card is
    * the composition, ordered for stable diffing between releases.
    *
    * Scale shape: two corpus passes (plain agg + tokenize agg), a
    * distinct-hash agg, and the split counts; all partial+final. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").localCheckpoint(false)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      countDistinct("lang").as("n_langs"),
      countDistinct("source").as("n_sources"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups"))
    val toks = docs.select(size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .agg(sum("nt").as("n_tokens"))
    val splits = docs.select(TextAnalysis.splitOf(col("doc_id")).as("split"))
      .groupBy("split").agg(count(lit(1)).as("n"))
    val cardBase = base.crossJoin(broadcast(toks))
    val scalarRows = Seq("n_docs", "n_chars", "n_tokens", "n_langs",
      "n_sources", "n_exact_dups").map(m =>
      cardBase.select(lit(m).as("metric"), col(m).as("value")))
    val splitRows = splits.select(concat(lit("split_"), col("split")).as("metric"),
      col("n").as("value"))
    (scalarRows.reduce(_ unionAll _) unionAll splitRows).orderBy("metric")
  }

  val datasetCardSql: String =
    s"""WITH base AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(sum(len(text)) AS BIGINT) AS n_chars,
       |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups
       |  FROM documents
       |), toks AS (
       |  SELECT CAST(sum(len(${TextAnalysis.tokSql})) AS BIGINT) AS n_tokens
       |  FROM documents
       |), splits AS (
       |  SELECT CASE WHEN ${TextAnalysis.splitHashSql("doc_id")} < 80 THEN 'train'
       |              WHEN ${TextAnalysis.splitHashSql("doc_id")} < 90 THEN 'val'
       |              ELSE 'test' END AS split, count(*) AS n
       |  FROM documents GROUP BY 1
       |)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM base
       |  UNION ALL SELECT 'n_chars', n_chars FROM base
       |  UNION ALL SELECT 'n_tokens', n_tokens FROM toks
       |  UNION ALL SELECT 'n_langs', n_langs FROM base
       |  UNION ALL SELECT 'n_sources', n_sources FROM base
       |  UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM base
       |  UNION ALL SELECT 'split_' || split, CAST(n AS BIGINT) FROM splits
       |) ORDER BY metric""".stripMargin

  private val nShards = 64L

  /** Reproducible-export shard manifest: every document assigned to one
    * of 64 shards by a pure hash of its id (stable across runs,
    * partitionings, and backfills — the `text_split_assign`
    * discipline), each shard reporting docs, bytes, and an
    * order-independent XOR checksum of per-doc content hashes. The
    * manifest a 100 TB export ships so the consumer can verify every
    * shard without re-reading the corpus; XOR (not a concatenated
    * digest) is what keeps the checksum a commutative partial+final
    * aggregate — no per-shard ordered fold, no collect.
    *
    * Scale shape: one scan + one 64-key agg with map-side combine. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "documents")
      .select(
        pmod(Portable.hash60(concat(lit("shard_"), col("doc_id").cast("string"))),
          lit(nShards)).as("shard"),
        col("n_chars"),
        Portable.hash60(col("text")).as("chash"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        expr("bit_xor(chash)").as("xor_checksum"))
      .orderBy("shard")
  }

  val shardManifestSql: String =
    s"""SELECT ${Portable.hash60Sql("'shard_' || CAST(doc_id AS VARCHAR)")}
       |         % $nShards AS shard,
       |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       bit_xor(${Portable.hash60Sql("text")}) AS xor_checksum
       |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin

  private val ShuffleSeed = 42
  private val ShuffleShards = 8
  // hash60 is uniform on [0, 2^60); fixed-width key ranges ARE the
  // shards, so no sampling pass is needed to find range bounds
  private val ShuffleShardWidth = (1L << 60) / ShuffleShards

  /** Deterministic global training-order shuffle — the step that turns a
    * curated corpus into a randomized training stream. Every doc gets a
    * seeded hash sort key (the permutation); fixed-bound ranges of the
    * key space are the output shards (uniform keys → balanced shards
    * WITHOUT `repartitionByRange`'s driver sampling job, which is both
    * an extra scan and a nondeterminism source); within a shard the
    * order is (key, doc_id). One shuffle, per-shard local sorts, no
    * global sort — each output shard writes independently, which is the
    * only layout that holds at 100 TB.
    *
    * The report pins the EXACT permutation, not just membership: the
    * per-shard checksum xors a hash of (position, doc_id), so any
    * reordering — even a swap of two adjacent docs — flips it. */
  def globalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"),
        Portable.hash60(concat(lit(s"shuf${ShuffleSeed}_"),
          col("doc_id").cast("string"))).as("key"))
      .withColumn("shard", expr(s"key div ${ShuffleShardWidth}L"))
    val w = Window.partitionBy("shard").orderBy("key", "doc_id")
    docs
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("ock", Portable.hash60(concat(
        col("pos").cast("string"), lit("_"), col("doc_id").cast("string"))))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        expr("bit_xor(ock)").as("order_checksum"))
      .orderBy("shard")
  }

  val globalShuffleSql: String =
    s"""WITH k AS (
       |  SELECT doc_id, len(${TextAnalysis.tokSql})::BIGINT AS n_tok,
       |         ${Portable.hash60Sql(s"'shuf${ShuffleSeed}_' || doc_id")} AS key
       |  FROM documents
       |), s AS (
       |  SELECT doc_id, n_tok, key, key // $ShuffleShardWidth AS shard FROM k
       |), p AS (
       |  SELECT shard, doc_id, n_tok,
       |         row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS pos
       |  FROM s
       |)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       bit_xor(${Portable.hash60Sql("pos || '_' || doc_id")}) AS order_checksum
       |FROM p GROUP BY 1 ORDER BY shard""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_shard_manifest" -> shardManifest,
    "pipeline_dataset_card" -> datasetCard,
    "pipeline_span_corruption" -> spanCorruption,
    "pipeline_fim_split" -> fimSplit,
    "pipeline_length_buckets" -> lengthBuckets,
    "pipeline_chunk_overlap" -> chunkOverlap,
    "pipeline_curation" -> curationFunnel,
    "pipeline_pack_sequences" -> packSequences,
    "pipeline_mix_resample" -> mixResample,
    "pipeline_source_cap" -> sourceCap,
    "pipeline_dsir_select" -> dsirSelect,
    "pipeline_leakage_split" -> leakageSplit,
    "pipeline_global_shuffle" -> globalShuffle)

  val oracles: Map[String, String] = Map(
    "pipeline_shard_manifest" -> shardManifestSql,
    "pipeline_dataset_card" -> datasetCardSql,
    "pipeline_span_corruption" -> spanCorruptionSql,
    "pipeline_fim_split" -> fimSplitSql,
    "pipeline_length_buckets" -> lengthBucketsSql,
    "pipeline_chunk_overlap" -> chunkOverlapSql,
    "pipeline_curation" -> curationFunnelSql,
    "pipeline_pack_sequences" -> packSequencesSql,
    "pipeline_mix_resample" -> mixResampleSql,
    "pipeline_source_cap" -> sourceCapSql,
    "pipeline_dsir_select" -> dsirSelectSql,
    "pipeline_leakage_split" -> leakageSplitSql,
    "pipeline_global_shuffle" -> globalShuffleSql)
}
