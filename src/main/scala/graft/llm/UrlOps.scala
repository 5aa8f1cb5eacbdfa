package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL / host-grain curation operators — the CommonCrawl-recipe
  * stage UPSTREAM of the per-source rebalancers: real crawl corpora
  * carry a `url` column, not a clean `source` label, so domain-level
  * dedup/caps/stats first need host extraction and
  * registered-domain folding (`a.b.example.co.uk` →
  * `example.co.uk`), with ports, userinfo, IP hosts, and case all
  * normalized away.
  *
  * Everything is composed from codegen'd string expressions (no
  * UDFs) with a DuckDB-mirrorable contract: regex extraction per
  * RFC 3986's authority grammar, leftmost-match semantics identical
  * across engines (spec-pinned), and the registered-domain rule is
  * a documented PUBLIC-SUFFIX SUBSET — the common two-label
  * suffixes (`co.uk`-class) every crawl pipeline special-cases,
  * embedded as a plan literal rather than the full (and
  * fast-moving) PSL file. Scale shape: all parsing is row-local
  * projection; the only shuffles are whatever the downstream
  * cap/stat aggregates on (registered_domain — a low-cardinality,
  * naturally-skewed key; the cap uses a rank window per domain,
  * WindowGroupLimit-prunable).
  */
object UrlOps {

  /** Two-label public suffixes folded as a unit (PSL subset — the
    * high-traffic country-code suffixes; extend as needed). Under
    * these, the registered domain keeps THREE labels.
    */
  val multiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk",
    "co.jp", "or.jp", "ne.jp", "ac.jp",
    "com.au", "net.au", "org.au",
    "com.br", "com.mx", "com.ar", "com.cn", "com.sg", "com.tr",
    "co.in", "co.nz", "co.kr", "co.za")

  private def suffixSqlList: String =
    multiPartSuffixes.map(s => s"'$s'").mkString(", ")

  /** Append parsed URL columns: `scheme` (lowercased, '' when
    * absent), `host` (lowercased, userinfo/port stripped, IPv6
    * brackets removed), `port` (-1 when absent), `path` ('' when
    * absent), `is_ip` (IPv4 dotted-quad or bracketed-IPv6 literal),
    * `registered_domain` (host folded to its registrable suffix;
    * the host itself for IPs and single-label hosts).
    * Row-local, codegen'd, streaming-safe.
    */
  def withUrlParts(df: DataFrame, url: String): DataFrame = {
    val clash = Seq("scheme", "host", "port", "path", "is_ip",
      "registered_domain", "__auth", "__hp", "__labels")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"withUrlParts: input already contains column(s) " +
        s"${clash.mkString(", ")}")
    df
      .withColumn("scheme", expr(
        s"lower(regexp_extract($url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"))
      // authority = between :// and the first /, ? or #
      .withColumn("__auth", expr(
        s"regexp_extract($url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)"))
      // strip userinfo: everything after the LAST @ (leftmost match
      // of ([^@]*)$ — engine-identical, spec-pinned)
      .withColumn("__hp", expr("regexp_extract(__auth, '([^@]*)$', 1)"))
      .withColumn("host", expr(
        """lower(CASE WHEN __hp LIKE '[%'
          |  THEN regexp_extract(__hp, '^\\[([^\\]]+)\\]', 1)
          |  ELSE regexp_extract(__hp, '^([^:]*)', 1) END)"""
          .stripMargin))
      .withColumn("port", expr(
        """CASE WHEN __hp LIKE '[%'
          |  THEN CASE WHEN regexp_extract(__hp, '\\]:([0-9]+)$', 1) = ''
          |    THEN -1L
          |    ELSE CAST(regexp_extract(__hp, '\\]:([0-9]+)$', 1) AS BIGINT) END
          |  WHEN regexp_extract(__hp, ':([0-9]+)$', 1) = '' THEN -1L
          |  ELSE CAST(regexp_extract(__hp, ':([0-9]+)$', 1) AS BIGINT)
          |END""".stripMargin))
      .withColumn("path", expr(
        s"regexp_extract($url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)"))
      .withColumn("is_ip", expr(
        """host RLIKE '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$'
          |  OR __hp LIKE '[%'""".stripMargin))
      // NOTE: plain (non-interpolated) triple-quote on purpose — the
      // s-interpolator processes escape sequences, which would
      // collapse the '\\.' split regex into a match-anything '.'
      .withColumn("registered_domain", expr(
        """CASE
          |  WHEN is_ip OR size(split(host, '\\.')) <= 2 THEN host
          |  WHEN concat(element_at(split(host, '\\.'), -2), '.',
          |              element_at(split(host, '\\.'), -1))
          |       IN (SUFFIXES)
          |    THEN concat(element_at(split(host, '\\.'), -3), '.',
          |                element_at(split(host, '\\.'), -2), '.',
          |                element_at(split(host, '\\.'), -1))
          |  ELSE concat(element_at(split(host, '\\.'), -2), '.',
          |              element_at(split(host, '\\.'), -1))
          |END""".stripMargin.replace("SUFFIXES", suffixSqlList)))
      .drop("__auth", "__hp")
  }

  /** Host-grain corpus stats: per registered domain, document count,
    * distinct full hosts under it, and corpus share in ppm — the
    * crawl-frequency table a mix planner reads before capping. One
    * aggregate over the parsed projection (map-side combine on a
    * low-cardinality key); the total rides in as one broadcast row.
    */
  def hostStats(df: DataFrame, url: String, id: String): DataFrame = {
    val parsed = withUrlParts(df, url)
      .select(col(id), col("host"), col("registered_domain"))
    // share denominator as a broadcast 1-row cross over the PINNED
    // aggregate (round 16: was an unpartitioned `sum OVER ()` window
    // over the domain-grain frame — bounded by #registered domains,
    // but that is ~1e8 at web scale, a real single-task sort; the
    // checkpoint inside selfScalarCross keeps the total from
    // re-deriving the aggregate subtree and scanning the corpus
    // twice, the concern that originally justified the window)
    val agg = parsed.groupBy("registered_domain")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("host")).as("n_hosts"))
    graft.engine.Dist.selfScalarCross(agg,
        sum(col("n_docs")).as("__tot"))
      .withColumn("share_ppm", expr(
        "CAST((n_docs * 1000000L) DIV __tot AS BIGINT)"))
      .select("registered_domain", "n_docs", "n_hosts", "share_ppm")
  }

  /** Per-registered-domain document cap — [[TextAnalysis.capPerDomain]]
    * keyed on the FOLDED domain instead of a clean source label:
    * keep the `n` highest-`priority` docs per registrable domain
    * (id tiebreak), so one crawl host family cannot dominate the
    * mix even when it spans subdomains and ports.
    */
  def capPerRegisteredDomain(df: DataFrame, url: String,
      priority: Column, id: String, n: Int): DataFrame =
    TextAnalysis.capPerDomain(withUrlParts(df, url),
      "registered_domain", priority, id, n)

  /** Domain-grain LINK GRAPH from embedded hrefs — the crawl-native
    * authority signal: extract every `href="…"` from the document
    * body, fold source and target hosts to registered domains, drop
    * self-links, and aggregate per TARGET domain: in-link count,
    * distinct referring domains, and an out-degree-normalized
    * authority score (Σ over in-edges of 1e6 DIV outdeg(src) — one
    * PageRank push from a uniform prior, in exact integer ppm).
    *
    * Scale shape: href extraction and both URL parses are row-local
    * regex projections; `explode` fans to one row per LINK (bounded
    * by payload size, the same class as the token explode). The
    * aggregates and the outdeg join all key on registered_domain —
    * low-cardinality, naturally Zipfian; map-side combine collapses
    * each partition to its domain set before any shuffle, and the
    * outdeg frame (one row per SOURCE domain) broadcasts. No
    * corpus×corpus join anywhere; a hot domain costs its edge count
    * once.
    */
  def linkGraph(df: DataFrame, text: String, url: String): DataFrame = {
    val src = withUrlParts(df, url)
      .select(col("registered_domain").as("src_dom"), col(text))
    val edges = src
      .select(col("src_dom"), explode(expr(
        s"""regexp_extract_all($text, 'href="([^"]+)"', 1)"""))
        .as("__href"))
    // materialize the edge list ONCE (the pagerank_sim discipline):
    // it feeds both the outdeg aggregate and the target-grain
    // aggregate, so without the pin the whole extract+parse chain
    // runs twice — and the chain inlined into the aggregates' KEY
    // expressions blows the generated hashAgg method past Janino's
    // limit (observed: codegen fallback to interpreted on the
    // synthetic-fixture form)
    val parsed = withUrlParts(edges, "__href")
      .select(col("src_dom"), col("registered_domain").as("dst_dom"))
      .filter(col("dst_dom") =!= col("src_dom"))
      .localCheckpoint()
    val outdeg = parsed.groupBy(col("src_dom"))
      .agg(count(lit(1)).as("__outdeg"))
    parsed.join(broadcast(outdeg), Seq("src_dom"))
      .groupBy(col("dst_dom"))
      .agg(count(lit(1)).as("in_links"),
        count_distinct(col("src_dom")).as("n_src_domains"),
        sum(expr("1000000L DIV __outdeg")).as("authority_ppm"))
  }

  /** Anchor-text table — the OTHER signal the link graph carries:
    * what referring pages CALL the target ("the description written
    * by someone other than the author", the classic web-retrieval /
    * pretraining-augmentation signal). Extracts whole `<a …>` tags,
    * splits each into (href, anchor), folds the target to its
    * registered domain, and keeps each domain's top-`k` anchors by
    * link count (rank window is WindowGroupLimit-prunable).
    * Extraction and parsing are row-local; the aggregate keys on
    * (domain, anchor) with map-side combine.
    */
  /** The row-local half of [[anchorTexts]]: one row per `<a>` tag —
    * (dst_dom, anchor). Pure regex/parse projection after the tag
    * explode; zero state, streaming-safe.
    */
  def anchorPairs(df: DataFrame, text: String): DataFrame = {
    val pairs = df
      .select(explode(expr(
        s"""regexp_extract_all($text,
            '<a href="[^"]*">[^<]*</a>', 0)""")).as("__tag"))
      .select(
        expr("""regexp_extract(__tag, '<a href="([^"]*)">', 1)""")
          .as("__href"),
        expr("lower(regexp_extract(__tag, '>([^<]*)</a>', 1))")
          .as("anchor"))
    withUrlParts(pairs, "__href")
      .select(col("registered_domain").as("dst_dom"), col("anchor"))
  }

  def anchorTexts(df: DataFrame, text: String, k: Int = 5)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dst_dom"))
      .orderBy(col("n_links").desc, col("anchor").asc)
    anchorPairs(df, text)
      .groupBy(col("dst_dom"), col("anchor"))
      .agg(count(lit(1)).as("n_links"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Politeness-aware crawl schedule: fetch slot per URL such that
    * each host is hit at most `perSlot` times per slot — the
    * frontier-scheduling step of a crawler. The slot is the
    * 0-based position of the URL in its host's deterministic
    * (id-ordered) queue, divided by `perSlot`. Hosts are
    * independent, so the per-host rank window parallelizes across
    * hosts; a mega-host pays one sort of ITS urls, which is the
    * semantic (politeness serializes a host) — not an artifact.
    * Also emits each host's makespan (its last slot) for frontier
    * capacity planning.
    */
  def crawlSchedule(df: DataFrame, url: String, id: String,
      perSlot: Int = 1): DataFrame = {
    require(perSlot >= 1, "perSlot >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host")).orderBy(col(id))
    withUrlParts(df, url)
      .withColumn("__rk", row_number().over(w))
      .withColumn("slot",
        expr(s"CAST((__rk - 1) DIV $perSlot AS BIGINT)"))
      .withColumn("host_makespan",
        max(col("slot")).over(Window.partitionBy(col("host"))))
      .select(col(id), col("host"), col("slot"), col("host_makespan"))
  }

  /** Query-string parameter keys stripped during canonicalization:
    * the cross-site tracking decorations every crawl dedup
    * normalizes away (they vary per click, not per resource).
    */
  val trackingParamRegex: String =
    "^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref|ref_src)$"

  /** URL canonicalization — the crawl-dedup step UPSTREAM of
    * url-grain exact dedup: two fetches of the same resource
    * usually differ only in tracking params, default ports, case,
    * fragments, or a trailing slash, so url-keyed dedup without
    * canonicalization silently under-merges. Rules (each one a
    * documented, engine-mirrorable string rewrite):
    *   - scheme and host lowercased; userinfo stripped
    *     (via [[withUrlParts]]);
    *   - default ports dropped (http:80, https:443); others kept;
    *   - ONE trailing `/` stripped from the path (so `/a/` = `/a`,
    *     and the bare root `/` folds to the empty path);
    *   - fragment dropped;
    *   - query params: tracking keys ([[trackingParamRegex]])
    *     removed, survivors SORTED bytewise and re-joined — param
    *     order is not semantic, so `?b=2&a=1` = `?a=1&b=2`.
    * Appends `canon_url` plus `n_params_dropped`. Row-local
    * codegen'd projection — no shuffle, streaming-safe; whatever
    * the caller groups the canon key by is the only exchange.
    */
  def canonicalizeUrl(df: DataFrame, url: String): DataFrame = {
    val clash = Seq("canon_url", "n_params_dropped",
      "__qs", "__pairs", "__portc", "__pathc", "__qc")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"canonicalizeUrl: input already contains column(s) " +
        s"${clash.mkString(", ")}")
    val parsed = withUrlParts(df, url)
    parsed
      // query string = after the first '?' that precedes any '#':
      // anchoring past '^[^#?]*' keeps a '?' INSIDE the fragment
      // (SPA routes like '#/route?utm_source=x') from resurrecting
      // fragment content as query params — the fragment is dropped
      // wholesale per the rules above
      .withColumn("__qs", expr(
        s"regexp_extract($url, '^[^#?]*\\\\?([^#]*)', 1)"))
      .withColumn("__pairs", expr(
        """filter(split(__qs, '&'), p -> p != '' AND NOT
          |  regexp_extract(p, '^([^=]*)', 1)
          |    RLIKE 'TRACKRE')""".stripMargin
          .replace("TRACKRE", trackingParamRegex)))
      .withColumn("n_params_dropped", expr(
        """CAST(size(filter(split(__qs, '&'), p -> p != ''))
          |  - size(__pairs) AS BIGINT)""".stripMargin))
      .withColumn("__portc", expr(
        """CASE WHEN port = -1
          |    OR (scheme = 'http' AND port = 80)
          |    OR (scheme = 'https' AND port = 443) THEN ''
          |  ELSE concat(':', CAST(port AS STRING)) END"""
          .stripMargin))
      .withColumn("__pathc",
        expr("regexp_replace(path, '/$', '')"))
      .withColumn("__qc", expr(
        """CASE WHEN size(__pairs) = 0 THEN ''
          |  ELSE concat('?', array_join(array_sort(__pairs), '&'))
          |END""".stripMargin))
      .withColumn("canon_url", expr(
        "concat(scheme, '://', host, __portc, __pathc, __qc)"))
      .drop("__qs", "__pairs", "__portc", "__pathc", "__qc")
  }

  /** robots.txt fetch gate (RFC 9309 §2.2.2 precedence): per URL,
    * the matching Allow/Disallow rule with the LONGEST path prefix
    * wins; equal lengths resolve to Allow; no matching rule means
    * allowed. `rules` is the parsed per-host policy table
    * (host, allow: boolean, prefix) a crawler refreshes out of band
    * — host-keyed, as robots.txt scopes are. Scale shape: one join
    * of the parsed URLs against the rules table (hosts are the key;
    * a policy table is tiny next to a frontier, so the optimizer
    * broadcasts it), then a per-URL rank over that URL's matched
    * rules only — bounded by rules-per-host, never the frontier.
    * Appends `allowed`, `matched_rule` ('' when none),
    * `matched_len`. On a streaming frontier the rules join is a
    * stream-static join with zero state, so the gate applies
    * unchanged in append mode.
    */
  def robotsGate(df: DataFrame, url: String,
      rules: DataFrame): DataFrame = {
    val clash = Seq("allowed", "matched_rule", "matched_len")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"robotsGate: input already contains column(s) " +
        s"${clash.mkString(", ")}")
    val parsed = withUrlParts(df, url)
    // ONE host-keyed join against the per-host rule LISTS, then a
    // row-local fold picks the RFC-precedence winner — the fold
    // computes a true maximum under the total order (prefix length,
    // allow, prefix), so it is order-independent (no sort, no
    // per-URL window/shuffle) and the whole gate is streaming-safe
    // (stream-static join + projections).
    val byHost = rules.groupBy(col("host"))
      .agg(collect_list(struct(col("allow"), col("prefix")))
        .as("__rules"))
    parsed.join(byHost, Seq("host"), "left")
      .withColumn("__best", expr(
        """aggregate(
          |  filter(coalesce(__rules,
          |      CAST(array() AS ARRAY<STRUCT<allow: BOOLEAN,
          |                                   prefix: STRING>>)),
          |    r -> substring(path, 1, length(r.prefix)) = r.prefix),
          |  CAST(NULL AS STRUCT<allow: BOOLEAN, prefix: STRING>),
          |  (acc, r) -> CASE
          |    WHEN acc IS NULL THEN r
          |    WHEN length(r.prefix) > length(acc.prefix) THEN r
          |    WHEN length(r.prefix) = length(acc.prefix)
          |      AND r.allow AND NOT acc.allow THEN r
          |    WHEN length(r.prefix) = length(acc.prefix)
          |      AND r.allow = acc.allow
          |      AND r.prefix > acc.prefix THEN r
          |    ELSE acc END)""".stripMargin))
      .withColumn("allowed",
        coalesce(col("__best.allow"), lit(true)))
      .withColumn("matched_rule",
        coalesce(col("__best.prefix"), lit("")))
      .withColumn("matched_len",
        length(coalesce(col("__best.prefix"), lit(""))).cast("long"))
      .drop("__rules", "__best")
  }
}
