package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable
import graft.operators.Tables.t

/** URL / registered-domain curation operators — the FIRST stage of every
  * CommonCrawl-shaped training-data pipeline: parse each document's URL,
  * reduce the host to its registered domain (public-suffix aware), then
  * aggregate / cap / dedup / blocklist at domain granularity.
  *
  * The reference engine has no URL surface (it is a KV/transaction core;
  * SURVEY.md §2.4 places corpus curation in the required-but-absent
  * categories), so this family is north-star scope: the operators a
  * large-scale data pipeline needs before any content-level stage runs.
  *
  * The documents fixture carries no `url` column, so one is DERIVED
  * deterministically from `doc_id` with the md5-portable PRNG
  * ([[Portable.hash60]]): a Zipf-ish registered domain (40 sites via
  * `39 - floor(sqrt(U[0,1600)))`, so d0 is the head domain), a TLD per
  * site (incl. the two-label suffix `co.uk` to exercise public-suffix
  * handling), a subdomain, a scheme, and a content path. ~1 in 5 docs
  * reuses its predecessor's derivation key, giving scale-invariant
  * exact-URL duplicates. Both engines compute the SAME url string, and
  * every query below re-PARSES it with string ops only — the derivation
  * is fixture, the parsing is the operator.
  *
  * 100 TB shapes: parsing is a map stage over the scan (only the needed
  * columns read); every aggregate is a hash agg keyed on
  * registered_domain (~millions of groups at web scale — partial
  * map-side combine, one shuffle); the domain cap filters through a
  * rank-limit window (WindowGroupLimit pushes the top-k partial
  * map-side, so only ~K rows per domain per task reach the shuffle);
  * URL-exact dedup is a two-level agg (url → domain) where the url
  * level combines map-side. No joins on data-sized frames anywhere
  * except the cap query's 40-row domain-totals join.
  */
object UrlCuration {

  // ---- deterministic url fixture (engine-mirrored) --------------------

  private def h(prefix: String, c: Column): Column =
    Portable.hash60(concat(lit(prefix), c))

  /** documents plus the derived `url` column. */
  def withUrls(spark: SparkSession, dir: String): DataFrame = {
    val ukey = when(
      pmod(h("udup_", col("doc_id")), lit(5L)) === 0L && col("doc_id") > 0L,
      col("doc_id") - 1L).otherwise(col("doc_id"))
    val b = (lit(39L) -
      floor(sqrt(pmod(h("udom_", col("ukey")), lit(1600L)).cast("double"))).cast("long"))
    val tldH = pmod(h("utld_", col("b")), lit(5L))
    val tld = when(tldH === 0L, "com").when(tldH === 1L, "org")
      .when(tldH === 2L, "net").when(tldH === 3L, "io").otherwise("co.uk")
    val subH = pmod(h("usub_", col("ukey")), lit(4L))
    val sub = when(subH === 0L, "www.").when(subH === 1L, "")
      .when(subH === 2L, "cdn.").otherwise("api.")
    val scheme = when(pmod(h("usch_", col("ukey")), lit(10L)) < 8L, "https")
      .otherwise("http")
    t(spark, dir, "documents")
      .withColumn("ukey", ukey)
      .withColumn("b", b)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
        concat(scheme, lit("://"), sub, lit("d"), col("b").cast("string"), lit("."),
          tld, lit("/p/"),
          substring(md5(concat(lit("upath_"), col("ukey"))), 1, 8)).as("url"))
  }

  /** The url CTE chain shared by every oracle: derive urls, then parse
    * scheme/host and reduce to the registered domain. */
  private val urlSqlCte: String =
    s"""uk AS (
       |  SELECT *, CASE WHEN (${Portable.hash60Sql("'udup_' || CAST(doc_id AS VARCHAR)")} % 5) = 0 AND doc_id > 0
       |                 THEN doc_id - 1 ELSE doc_id END AS ukey
       |  FROM documents ),
       |ub AS (
       |  SELECT *, 39 - CAST(floor(sqrt(CAST(${Portable.hash60Sql("'udom_' || CAST(ukey AS VARCHAR)")} % 1600 AS DOUBLE))) AS BIGINT) AS b
       |  FROM uk ),
       |ut AS (
       |  SELECT *,
       |    CASE ${Portable.hash60Sql("'utld_' || CAST(b AS VARCHAR)")} % 5
       |      WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net' WHEN 3 THEN 'io' ELSE 'co.uk' END AS tld,
       |    CASE ${Portable.hash60Sql("'usub_' || CAST(ukey AS VARCHAR)")} % 4
       |      WHEN 0 THEN 'www.' WHEN 1 THEN '' WHEN 2 THEN 'cdn.' ELSE 'api.' END AS sub,
       |    CASE WHEN ${Portable.hash60Sql("'usch_' || CAST(ukey AS VARCHAR)")} % 10 < 8 THEN 'https' ELSE 'http' END AS scheme
       |  FROM ub ),
       |urls AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    scheme || '://' || sub || 'd' || CAST(b AS VARCHAR) || '.' || tld || '/p/' ||
       |    substr(md5('upath_' || CAST(ukey AS VARCHAR)), 1, 8) AS url
       |  FROM ut ),
       |parsed AS (
       |  SELECT doc_id, text, lang, source, n_chars, url,
       |    regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
       |    regexp_extract(url, '://([^/]+)/', 1) AS host
       |  FROM urls ),
       |pd AS (
       |  SELECT *, CASE WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\\.co\\.uk)$$', 1)
       |                 ELSE regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) END AS registered_domain
       |  FROM parsed )""".stripMargin

  // ---- the parsing operator (url string → structured columns) ---------

  /** Parse the url into scheme / host / registered domain. Public-suffix
    * handling: a host under a two-label suffix (`co.uk` here; a full
    * deployment ships the Mozilla public-suffix list as a broadcast map)
    * keeps three labels, every other host keeps two. String built-ins
    * only — a single codegen'd map stage at any scale. */
  def parseUrls(spark: SparkSession, dir: String): DataFrame = {
    val host = regexp_extract(col("url"), "://([^/]+)/", 1)
    withUrls(spark, dir)
      .withColumn("scheme", regexp_extract(col("url"), "^([a-z]+)://", 1))
      .withColumn("host", host)
      .withColumn("registered_domain",
        when(col("host").endsWith(".co.uk"),
          regexp_extract(col("host"), "([^.]+\\.co\\.uk)$", 1))
          .otherwise(regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1)))
  }

  /** Registered-domain extraction report: docs, distinct hosts, https
    * share, distinct urls per registered domain. One hash agg on the
    * domain key (count-distincts expand to two-phase aggs on the same
    * key — still a single shuffle family). */
  def parseDomains(spark: SparkSession, dir: String): DataFrame =
    parseUrls(spark, dir)
      .groupBy("registered_domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(when(col("scheme") === "https", 1L).otherwise(0L)).as("n_https"),
        countDistinct(col("url")).as("n_urls"))
      .orderBy("registered_domain")

  val parseDomainsSql: String =
    s"""WITH $urlSqlCte
       |SELECT registered_domain, count(*) AS n_docs, count(DISTINCT host) AS n_hosts,
       |       CAST(sum(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END) AS BIGINT) AS n_https,
       |       count(DISTINCT url) AS n_urls
       |FROM pd GROUP BY 1 ORDER BY registered_domain""".stripMargin

  /** Per-domain corpus statistics: docs, chars, whitespace tokens,
    * language/source diversity — the table a crawl-curation team reads
    * before setting caps. Map-stage token count + one domain agg. */
  def domainStats(spark: SparkSession, dir: String): DataFrame =
    parseUrls(spark, dir)
      .groupBy("registered_domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("registered_domain")

  val domainStatsSql: String =
    s"""WITH $urlSqlCte
       |SELECT registered_domain, count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |       count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources
       |FROM pd GROUP BY 1 ORDER BY registered_domain""".stripMargin

  /** Domain-cap enforcement: keep at most [[DomainCap]] docs per
    * registered domain, best-first by a deterministic priority (stand-in
    * for a quality score), and report kept/dropped per domain. The rank
    * filter compiles to WindowGroupLimit — each map task forwards only
    * its local top-K per domain, so the window shuffle carries ~K rows
    * per (domain, task), not the full corpus. */
  val DomainCap = 20

  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val pri = parseUrls(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("registered_domain"),
        h("ucap_", col("doc_id")).as("pri"))
      .localCheckpoint(false) // consumed by both the kept ranking and the totals
    val w = Window.partitionBy("registered_domain").orderBy(col("pri"), col("doc_id"))
    val kept = pri.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= DomainCap)
      .groupBy("registered_domain")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("kc"))
    val tot = pri.groupBy("registered_domain").agg(count(lit(1)).as("n_docs"))
    tot.join(kept, "registered_domain")
      .select(col("registered_domain"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"), col("kc").as("kept_chars"))
      .orderBy("registered_domain")
  }

  val domainCapSql: String =
    s"""WITH $urlSqlCte,
       |pri AS (SELECT doc_id, n_chars, registered_domain,
       |               ${Portable.hash60Sql("'ucap_' || CAST(doc_id AS VARCHAR)")} AS pri FROM pd),
       |rn AS (SELECT *, row_number() OVER (PARTITION BY registered_domain ORDER BY pri, doc_id) AS rn FROM pri),
       |kept AS (SELECT registered_domain, count(*) AS n_kept, sum(n_chars) AS kc FROM rn WHERE rn <= $DomainCap GROUP BY 1),
       |tot AS (SELECT registered_domain, count(*) AS n_docs FROM pri GROUP BY 1)
       |SELECT registered_domain, n_docs, n_kept, n_docs - n_kept AS n_dropped, CAST(kc AS BIGINT) AS kept_chars
       |FROM tot JOIN kept USING (registered_domain) ORDER BY registered_domain""".stripMargin

  /** URL-exact dedup: one survivor (min doc_id) per exact url, reported
    * per domain. Two-level hash agg — url-level combines map-side
    * (`min_by` keeps the survivor's chars without a self-join), then a
    * domain-level rollup. The cheapest dedup a crawl runs, always first. */
  def urlExactDedup(spark: SparkSession, dir: String): DataFrame =
    parseUrls(spark, dir)
      .groupBy("registered_domain", "url")
      .agg(count(lit(1)).as("n_in_url"),
        min_by(col("n_chars"), col("doc_id")).as("surv_chars"))
      .groupBy("registered_domain")
      .agg(sum("n_in_url").as("n_docs"),
        count(lit(1)).as("n_urls"),
        (sum("n_in_url") - count(lit(1))).as("n_dup_docs"),
        sum("surv_chars").as("surviving_chars"))
      .orderBy("registered_domain")

  val urlExactDedupSql: String =
    s"""WITH $urlSqlCte,
       |per_url AS (SELECT registered_domain, url, count(*) AS n_in_url,
       |                   arg_min(n_chars, doc_id) AS surv_chars
       |            FROM pd GROUP BY 1, 2)
       |SELECT registered_domain, CAST(sum(n_in_url) AS BIGINT) AS n_docs, count(*) AS n_urls,
       |       CAST(sum(n_in_url) - count(*) AS BIGINT) AS n_dup_docs,
       |       CAST(sum(surv_chars) AS BIGINT) AS surviving_chars
       |FROM per_url GROUP BY 1 ORDER BY registered_domain""".stripMargin

  /** Domain/TLD blocklist filter: a literal blocklist of registered
    * domains (at scale: a broadcast set from the blocklist file) plus a
    * whole-TLD block, applied with domain-blocklist precedence; the
    * verdict funnel reports docs/chars/domains per outcome. Map-only
    * classify + a 3-group agg. */
  private val blockedDomains = Seq("d6.com", "d11.org")

  def domainBlocklist(spark: SparkSession, dir: String): DataFrame =
    parseUrls(spark, dir)
      .withColumn("verdict",
        when(col("registered_domain").isin(blockedDomains: _*), "blocked_domain")
          .when(col("registered_domain").endsWith(".io"), "blocked_tld")
          .otherwise("kept"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        countDistinct(col("registered_domain")).as("n_domains"))
      .orderBy("verdict")

  val domainBlocklistSql: String = {
    val listSql = blockedDomains.map(d => s"'$d'").mkString(", ")
    s"""WITH $urlSqlCte
       |SELECT CASE WHEN registered_domain IN ($listSql) THEN 'blocked_domain'
       |            WHEN registered_domain LIKE '%.io' THEN 'blocked_tld'
       |            ELSE 'kept' END AS verdict,
       |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |       count(DISTINCT registered_domain) AS n_domains
       |FROM pd GROUP BY 1 ORDER BY verdict""".stripMargin
  }

  // ---- canonicalization dedup (noisy variants of the same page) -------

  /** The clean url decorated with deterministic crawl noise — the forms
    * a real frontier emits for the SAME page: tracking query params,
    * fragments, uppercase hosts, explicit default ports, trailing
    * slashes. One variant per doc, keyed on doc_id, so the canonical
    * form of every noisy url is EXACTLY the clean url the fixture
    * derived — [[canonicalDedup]]'s collapse is therefore checkable.
    * Engine-mirrored like [[withUrls]]: the noise is fixture, the
    * canonicalizer is the operator. */
  private[graft] def withNoisyUrls(spark: SparkSession, dir: String): DataFrame = {
    val p = parseUrls(spark, dir)
    val v = pmod(h("unoise_", col("doc_id")), lit(6L))
    val port = when(col("scheme") === "https", ":443").otherwise(":80")
    val path = expr("substring(url, length(scheme) + length(host) + 4)")
    val noisy = when(v === 0L, col("url"))
      .when(v === 1L, concat(col("url"), lit("?utm_source=feed&utm_medium=rss")))
      .when(v === 2L, concat(col("url"), lit("#sec-"),
        substring(md5(concat(lit("ufrag_"), col("doc_id"))), 1, 4)))
      .when(v === 3L, concat(col("scheme"), lit("://"), upper(col("host")), port, path))
      .when(v === 4L, concat(col("url"), lit("/")))
      .otherwise(concat(col("url"), lit("/?utm_campaign=c")))
    p.select(col("doc_id"), col("n_chars"), noisy.as("raw_url"))
  }

  private val noisySqlCte: String =
    s"""noisy AS (
       |  SELECT doc_id, n_chars,
       |    CASE ${Portable.hash60Sql("'unoise_' || CAST(doc_id AS VARCHAR)")} % 6
       |      WHEN 0 THEN url
       |      WHEN 1 THEN url || '?utm_source=feed&utm_medium=rss'
       |      WHEN 2 THEN url || '#sec-' || substr(md5('ufrag_' || CAST(doc_id AS VARCHAR)), 1, 4)
       |      WHEN 3 THEN scheme || '://' || upper(host) ||
       |                  (CASE WHEN scheme = 'https' THEN ':443' ELSE ':80' END) ||
       |                  substr(url, length(scheme) + length(host) + 4)
       |      WHEN 4 THEN url || '/'
       |      ELSE url || '/?utm_campaign=c' END AS raw_url
       |  FROM pd )""".stripMargin

  /** URL canonicalization + dedup at canonical granularity: strip the
    * fragment, strip `utm_*` tracking params (plus any dangling `?`/`&`),
    * lowercase the host, drop the scheme's default port, drop trailing
    * slashes, then re-derive the registered domain from the CANONICAL
    * host and report raw-vs-canonical distinct counts per domain. The
    * whole canonicalizer is codegen'd string ops in the scan's map
    * stage; the dedup is the same two-level hash agg as
    * [[urlExactDedup]] — at 100 TB this replaces the exact-url pass,
    * catching the ~5/6 of crawl urls that differ only in noise. */
  def canonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    val canon = withNoisyUrls(spark, dir)
      .withColumn("u1", regexp_replace(col("raw_url"), "#.*$", ""))
      .withColumn("u2", regexp_replace(regexp_replace(
        col("u1"), "utm_[a-z]+=[^&#]*&?", ""), "[?&]+$", ""))
      .withColumn("scheme", regexp_extract(col("u2"), "^([a-z]+)://", 1))
      .withColumn("hostport", regexp_extract(col("u2"), "://([^/?#]+)", 1))
      .withColumn("chost",
        when(col("scheme") === "https", regexp_replace(lower(col("hostport")), ":443$", ""))
          .otherwise(regexp_replace(lower(col("hostport")), ":80$", "")))
      .withColumn("canon_url", regexp_replace(
        concat(col("scheme"), lit("://"), col("chost"),
          expr("substring(u2, length(scheme) + length(hostport) + 4)")),
        "/+$", ""))
      .withColumn("registered_domain",
        when(col("chost").endsWith(".co.uk"),
          regexp_extract(col("chost"), "([^.]+\\.co\\.uk)$", 1))
          .otherwise(regexp_extract(col("chost"), "([^.]+\\.[^.]+)$", 1)))
    canon.groupBy("registered_domain", "canon_url")
      .agg(count(lit(1)).as("n_in_url"), countDistinct(col("raw_url")).as("n_raw"))
      .groupBy("registered_domain")
      .agg(sum("n_in_url").as("n_docs"),
        sum("n_raw").as("n_raw_urls"),
        count(lit(1)).as("n_canon_urls"),
        (sum("n_raw") - count(lit(1))).as("n_noise_collapsed"))
      .orderBy("registered_domain")
  }

  val canonicalDedupSql: String =
    s"""WITH $urlSqlCte,
       |$noisySqlCte,
       |c1 AS (SELECT doc_id, raw_url,
       |         regexp_replace(regexp_replace(regexp_replace(raw_url, '#.*$$', ''),
       |           'utm_[a-z]+=[^&#]*&?', '', 'g'), '[?&]+$$', '') AS u2
       |       FROM noisy),
       |c2 AS (SELECT doc_id, raw_url, u2,
       |         regexp_extract(u2, '^([a-z]+)://', 1) AS scheme,
       |         regexp_extract(u2, '://([^/?#]+)', 1) AS hostport
       |       FROM c1),
       |c3 AS (SELECT *, CASE WHEN scheme = 'https' THEN regexp_replace(lower(hostport), ':443$$', '')
       |                      ELSE regexp_replace(lower(hostport), ':80$$', '') END AS chost
       |       FROM c2),
       |c4 AS (SELECT doc_id, raw_url,
       |         regexp_replace(scheme || '://' || chost ||
       |           substr(u2, length(scheme) + length(hostport) + 4), '/+$$', '') AS canon_url,
       |         CASE WHEN chost LIKE '%.co.uk' THEN regexp_extract(chost, '([^.]+\\.co\\.uk)$$', 1)
       |              ELSE regexp_extract(chost, '([^.]+\\.[^.]+)$$', 1) END AS registered_domain
       |       FROM c3),
       |per_url AS (SELECT registered_domain, canon_url, count(*) AS n_in_url,
       |                   count(DISTINCT raw_url) AS n_raw
       |            FROM c4 GROUP BY 1, 2)
       |SELECT registered_domain, CAST(sum(n_in_url) AS BIGINT) AS n_docs,
       |       CAST(sum(n_raw) AS BIGINT) AS n_raw_urls, count(*) AS n_canon_urls,
       |       CAST(sum(n_raw) - count(*) AS BIGINT) AS n_noise_collapsed
       |FROM per_url GROUP BY 1 ORDER BY registered_domain""".stripMargin

  // ---- per-domain language mix (boilerplate/spam-farm signal) ---------

  /** Per-domain language mix: count per (domain, lang), then language
    * entropy per domain — a domain serving many languages at similar
    * mass is usually machine-generated boilerplate; a curation team
    * reads this next to [[domainStats]] before setting caps. Surprisal
    * quantized to whole bits via the repo's integer-log2 trick
    * (`length(bin((n·2²⁰) DIV k)) − 1`, cf. text_char_entropy), so the
    * output is exact BIGINT in both engines; h_mbits ≈ 1000·(H + 20).
    * Shape: one (domain, lang) hash agg (~domains × ~200 langs), a
    * domain-window over that tiny frame, one domain agg. */
  def langMix(spark: SparkSession, dir: String): DataFrame = {
    val byLang = parseUrls(spark, dir)
      .groupBy("registered_domain", "lang").agg(count(lit(1)).as("k"))
    val w = Window.partitionBy("registered_domain")
    byLang.withColumn("n", sum("k").over(w))
      .groupBy("registered_domain")
      .agg(max("n").as("n_docs"),
        count(lit(1)).as("n_langs"),
        expr("(1000 * sum(k * (length(bin((n * 1048576) DIV k)) - 1))) DIV max(n)")
          .as("h_mbits"),
        expr("(1000 * max(k)) DIV max(n)").as("top_share_pm"))
      .orderBy("registered_domain")
  }

  val langMixSql: String =
    s"""WITH $urlSqlCte,
       |by_lang AS (SELECT registered_domain, lang, count(*) AS k FROM pd GROUP BY 1, 2),
       |with_n AS (SELECT *, sum(k) OVER (PARTITION BY registered_domain) AS n FROM by_lang)
       |SELECT registered_domain, CAST(max(n) AS BIGINT) AS n_docs, count(*) AS n_langs,
       |       CAST((1000 * sum(k * (length(bin((n * 1048576) // k)) - 1))) // max(n) AS BIGINT) AS h_mbits,
       |       CAST((1000 * max(k)) // max(n) AS BIGINT) AS top_share_pm
       |FROM with_n GROUP BY 1 ORDER BY registered_domain""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "url_parse_domains" -> parseDomains,
    "url_domain_stats" -> domainStats,
    "url_domain_cap" -> domainCap,
    "url_exact_dedup" -> urlExactDedup,
    "url_domain_blocklist" -> domainBlocklist,
    "url_canonical_dedup" -> canonicalDedup,
    "url_lang_mix" -> langMix)

  val oracles: Map[String, String] = Map(
    "url_parse_domains" -> parseDomainsSql,
    "url_domain_stats" -> domainStatsSql,
    "url_domain_cap" -> domainCapSql,
    "url_exact_dedup" -> urlExactDedupSql,
    "url_domain_blocklist" -> domainBlocklistSql,
    "url_canonical_dedup" -> canonicalDedupSql,
    "url_lang_mix" -> langMixSql)
}
