package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link/metadata extraction and web-graph authority over the HTML corpus
  * (r15, VERDICT item 2): [[TextOps.extractHtmlText]] recovers the TEXT
  * a crawl pipeline keeps; this object recovers the STRUCTURE it also
  * needs — title, canonical host, every anchor (href + text) — and
  * composes them into the host-level link graph and a fixed-iteration
  * PageRank-style authority score, the standard link-quality curation
  * signal (quality-weighting by authority, seed selection, spam-host
  * down-ranking).
  *
  * Verification discipline is the html_extract round trip: the page
  * generator ([[TextOps.makeHtml]]) plants deterministic links, the
  * extractor works on raw markup only, and the DuckDB oracle recomputes
  * the expected structure STRAIGHT FROM the generator arithmetic — hash
  * equality proves the extractor inverts the markup exactly.
  *
  * Authority arithmetic is QUANTIZED INTEGER (the MockFlow rule): ranks
  * live as BIGINT numerators at scale 10^12, every per-edge contribution
  * is one integer floor-division, and the damping is ×85 div 100 — all
  * order-free, so five unrolled iterations hash-gate bit-for-bit against
  * the SQL twin with no float drift anywhere. Scale shape: extraction is
  * a columnar regexp chain (whole-stage codegen, no UDF); the graph is
  * one groupBy over the exploded links; each PageRank iteration is one
  * hosts-sized join + aggregate — the textbook distributed PageRank
  * step, host-bounded state, nothing all-pairs.
  */
object WebGraph {
  import TextOps.{HtmlHosts, HtmlLinksPerDoc, HtmlLinkMod}

  /** Rank numerator scale: 10^12 keeps five iterations of floor
    * divisions well above integer dust while 85·Σcontrib stays far from
    * BIGINT overflow (total mass ≤ 10^12).
    */
  val AuthorityScale = 1000000000000L

  /** Per-page structure: title, canonical host, and one row per anchor
    * in document order (nav boilerplate first, then the related links) —
    * href, anchor text, and 1-based rank. Pure regexp column chain over
    * the raw markup.
    */
  def htmlLinks(htmlDocs: DataFrame): DataFrame = {
    val hrefs = regexp_extract_all(
      col("html"), lit("<a href=\"([^\"]*)\""), lit(1))
    val anchors = regexp_extract_all(
      col("html"), lit("<a href=\"[^\"]*\">([^<]*)</a>"), lit(1))
    htmlDocs
      .withColumn("title",
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1))
      .withColumn("src_host",
        regexp_extract(col("html"),
          "<link rel=\"canonical\" href=\"https://([^/\"]*)/", 1))
      .select(col("doc_id"), col("title"), col("src_host"),
        posexplode(arrays_zip(hrefs.as("href"), anchors.as("anchor"))))
      .select(col("doc_id"), col("title"), col("src_host"),
        (col("pos") + 1).cast("int").as("link_rank"),
        col("col.href").as("href"), col("col.anchor").as("anchor"))
      .orderBy("doc_id", "link_rank")
  }

  /** SQL for the RAW href the generator writes for related link j —
    * [[TextOps.htmlLinkHref]]'s four spellings replayed (built on one
    * line: these splice into stripMargin builders).
    */
  private def relHrefSql(j: Int): String = {
    val t = s"((doc_id * 31 + ${7 * j + 3}) % $HtmlLinkMod)"
    val host = s"'h' || CAST($t % $HtmlHosts AS VARCHAR) || '.example'"
    val hostUp = s"'H' || CAST($t % $HtmlHosts AS VARCHAR) || '.EXAMPLE'"
    val ts = s"CAST($t AS VARCHAR)"
    Seq(
      s"CASE CAST((doc_id + $j) % 4 AS INTEGER)",
      s"WHEN 0 THEN 'https://' || $host || '/doc/' || $ts",
      s"WHEN 1 THEN 'HTTPS://' || $hostUp || ':443/doc/' || $ts",
      s"WHEN 2 THEN 'https://' || $host || '/a/../doc/' || $ts || '#sec'",
      s"ELSE 'https://' || $host || '/doc/' || $ts || '?b=2&a=1&utm_source=feed'",
      "END").mkString(" ")
  }

  /** SQL for related link j's CANONICAL form — straight arithmetic, the
    * target the normalizer must recover from every raw spelling.
    */
  private def relCanonSql(j: Int): String = {
    val t = s"((doc_id * 31 + ${7 * j + 3}) % $HtmlLinkMod)"
    val base = s"'https://h' || CAST($t % $HtmlHosts AS VARCHAR) || '.example/doc/' || CAST($t AS VARCHAR)"
    s"CASE WHEN (doc_id + $j) % 4 = 3 THEN $base || '?a=1&b=2' ELSE $base END"
  }

  /** DuckDB twin of htmlCorpus→[[htmlLinks]]: the expected structure
    * recomputed from the generator arithmetic — title 'Doc {id}',
    * canonical host h{id mod 16}, the two nav anchors, then the
    * [[TextOps.HtmlLinksPerDoc]] related links at
    * (id·31 + 7j + 3) mod [[TextOps.HtmlLinkMod]].
    */
  val htmlLinksSql: String = {
    val navRows = Seq(("/", "home", 1), ("/about", "about", 2)).map {
      case (h, a, r) => s"SELECT doc_id, $r AS link_rank, '$h' AS href, '$a' AS anchor FROM d"
    }
    val relRows = (0 until HtmlLinksPerDoc).map { j =>
      val t = s"((doc_id * 31 + ${7 * j + 3}) % $HtmlLinkMod)"
      s"""SELECT doc_id, ${3 + j} AS link_rank,
         |  ${relHrefSql(j)} AS href,
         |  'doc ' || CAST($t AS VARCHAR) AS anchor FROM d""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL),
       |lk AS (${(navRows ++ relRows).mkString("\nUNION ALL\n")})
       |SELECT lk.doc_id,
       |  'Doc ' || CAST(lk.doc_id AS VARCHAR) AS title,
       |  'h' || CAST(lk.doc_id % $HtmlHosts AS VARCHAR) || '.example' AS src_host,
       |  CAST(link_rank AS INTEGER) AS link_rank, href, anchor
       |FROM lk ORDER BY doc_id, link_rank""".stripMargin
  }

  /** URL canonicalization over the extracted links: raw href → canonical
    * URL, with the canonical host and a messiness flag. Nav links pass
    * through the normalizer unchanged (totality on relative URLs).
    */
  def urlNormalize(links: DataFrame): DataFrame = {
    val u = normalizeUrl(col("href"))
    links.select(col("doc_id"), col("link_rank"), col("href"),
      u.as("url_canonical"),
      when(u.startsWith("https://"),
        regexp_extract(u, "https://([^/\"]*)/", 1)).otherwise(lit(null))
        .as("dst_host"),
      (col("href") =!= u).as("was_messy"))
      .orderBy("doc_id", "link_rank")
  }

  /** DuckDB twin of htmlCorpus→htmlLinks→[[urlNormalize]]: RAW hrefs
    * from the generator's variant arithmetic, canonical forms from the
    * same arithmetic — hash equality proves the normalizer collapses
    * every spelling (case, default port, dot segments + fragment,
    * unsorted + tracking query) to exactly the canonical URL, and
    * leaves the relative nav links untouched.
    */
  val urlNormalizeSql: String = {
    val navRows = Seq(("/", 1), ("/about", 2)).map { case (h, r) =>
      s"SELECT doc_id, $r AS link_rank, '$h' AS href, '$h' AS url_canonical, CAST(NULL AS VARCHAR) AS dst_host, FALSE AS was_messy FROM d"
    }
    val relRows = (0 until HtmlLinksPerDoc).map { j =>
      val t = s"((doc_id * 31 + ${7 * j + 3}) % $HtmlLinkMod)"
      val host = s"'h' || CAST($t % $HtmlHosts AS VARCHAR) || '.example'"
      s"""SELECT doc_id, ${3 + j} AS link_rank,
         |  ${relHrefSql(j)} AS href,
         |  ${relCanonSql(j)} AS url_canonical,
         |  $host AS dst_host,
         |  (doc_id + $j) % 4 <> 0 AS was_messy FROM d""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL),
       |lk AS (${(navRows ++ relRows).mkString("\nUNION ALL\n")})
       |SELECT doc_id, CAST(link_rank AS INTEGER) AS link_rank,
       |  href, url_canonical, dst_host, was_messy
       |FROM lk ORDER BY doc_id, link_rank""".stripMargin
  }

  /** URL canonicalization (r15) — the FIRST dedup of any crawl is at the
    * URL, before a byte of content is compared, and raw crawl markup
    * spells the same resource many ways. One columnar chain, no UDF:
    * drop the fragment, lowercase the scheme://authority prefix, strip
    * the scheme's default port (:443/:80), resolve `/x/../` dot
    * segments (two passes — handles the nesting real markup has; a full
    * RFC 3986 resolver loops to fixpoint), and canonicalize the query —
    * params split, `utm_*` tracking params dropped, the rest SORTED and
    * rejoined (no params left → no `?`). Total on relative URLs (they
    * pass through with the same path/query treatment).
    */
  def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val prefix = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val rest = noFrag.substr(length(prefix) + 1, lit(1 << 20))
    val lp = lower(prefix)
    val noPort =
      when(lp.startsWith("https://") && lp.endsWith(":443"),
        lp.substr(lit(1), length(lp) - 4))
        .when(lp.startsWith("http://") && lp.endsWith(":80"),
          lp.substr(lit(1), length(lp) - 3))
        .otherwise(lp)
    val dots1 = regexp_replace(rest, "/[^/]+/\\.\\./", "/")
    val dots = regexp_replace(dots1, "/[^/]+/\\.\\./", "/")
    val path = substring_index(dots, "?", 1)
    val query = when(instr(dots, "?") > 0,
      dots.substr(length(path) + 2, lit(1 << 20))).otherwise(lit(""))
    val params = array_join(
      array_sort(filter(split(query, "&"),
        x => !x.startsWith("utm_") && x =!= "")), "&")
    concat(noPort, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))
  }

  /** Host-level link graph off the extracted anchors, through the URL
    * normalizer first (raw crawl hrefs spell hosts in mixed case with
    * default ports — the graph must key on the canonical host):
    * absolute links only (site-relative nav stays out of the cross-host
    * graph), edge weight = link count.
    */
  def linkHostGraph(links: DataFrame): DataFrame =
    hostLinks(links)
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n_links"))

  /** One row per ABSOLUTE link of a link frame: (keys…, src_host,
    * dst_host) — the href through [[normalizeUrl]], site-relative links
    * dropped, the canonical host cut out. The `keys` columns ride along
    * (the incremental query keeps doc_id for its carve flag).
    */
  private def hostLinks(links: DataFrame, keys: String*): DataFrame = {
    val k = keys.map(col)
    links.select(k :+ col("src_host") :+ normalizeUrl(col("href")).as("u"): _*)
      .filter(col("u").startsWith("https://"))
      .select(k :+ col("src_host") :+
        regexp_extract(col("u"), "https://([^/\"]*)/", 1).as("dst_host"): _*)
  }

  /** Fixed-iteration weighted PageRank over the host graph, entirely in
    * scaled BIGINT: r₀ = S div N; each iteration,
    * r'(v) = (S·15) div (100·N)  +  (85 · Σᵤ (r(u)·w(u,v)) div out(u)) div 100.
    * Hosts with no in-links keep the base term (left join); a dangling
    * host (never generated here) would simply leak its mass, the
    * standard simplified-PageRank behavior. Output carries the exact
    * numerator and its single-division double rendering.
    */
  def linkAuthority(htmlDocs: DataFrame, iters: Int = 5): DataFrame =
    linkAuthorityFromLinks(htmlLinks(htmlDocs), iters)

  /** Out-weights per source host. */
  private[text] def outsOf(edges: DataFrame): DataFrame =
    edges.groupBy("src_host").agg(sum("n_links").as("out_w"))

  /** The host universe of an edge frame (every src and dst host), each
    * row carrying the universe size n_hosts.
    */
  private[text] def hostsWithN(edges: DataFrame): DataFrame = {
    val hosts = edges.select(col("src_host").as("host"))
      .unionByName(edges.select(col("dst_host").as("host")))
      .distinct()
    hosts.crossJoin(broadcast(hosts.agg(count(lit(1)).as("n_hosts"))))
  }

  /** The uniform start rank S div N, over a frame carrying n_hosts. */
  private[text] def initRank: Column = expr(s"${AuthorityScale}L div n_hosts")

  /** The damping base (S·15) div (100·N), over a frame carrying n_hosts. */
  private[text] def baseRank: Column =
    expr(s"(${AuthorityScale}L * 15) div (100 * n_hosts)")

  /** r₀ = S div N per host, with the damping base carried as a column. */
  private[text] def initRanks(edges: DataFrame): DataFrame =
    hostsWithN(edges)
      .select(col("host"), initRank.as("r"), baseRank.as("base"))
      .localCheckpoint()

  /** Edges pre-joined with their source out-weights — (src_host,
    * dst_host, n_links, out_w), hosts²-bounded. r18 (guide §2.4/§1.2):
    * the out-weight join is STATIC across a power chain, so joining
    * `outs` inside every step re-ran a broadcast build per iteration for
    * a frame the chain never changes; pre-joining it once removes one
    * join (and its per-iteration broadcast-build job) from every step of
    * every chain. Callers materialize it (localCheckpoint) before a
    * chain.
    */
  private[text] def edgesWithOuts(edges: DataFrame): DataFrame =
    edges.join(outsOf(edges), "src_host")
      .select("src_host", "dst_host", "n_links", "out_w")

  /** One power-iteration step of the scaled-BIGINT update rule, over the
    * pre-joined edge frame and the STATIC (host, base) universe. r18:
    * the left side of the damping join used to be the PREVIOUS step's
    * ranks — but the host set and base term are chain-invariant, so
    * reading them off the chain's r0 instead means each step references
    * its predecessor exactly ONCE (in the contribution subtree). That
    * removes the duplicated-subtree growth that forced a checkpoint
    * every second step. Every rank bit is unchanged: same host universe,
    * same base values, same integer update.
    */
  private[text] def iterStep(ranks: DataFrame, edgesW: DataFrame,
      hostsBase: DataFrame): DataFrame = {
    val contrib = edgesW
      .join(ranks.select(col("host").as("src_host"), col("r")), "src_host")
      .select(col("dst_host").as("host"),
        expr("(r * n_links) div out_w").as("c"))
      .groupBy("host").agg(sum("c").as("c"))
    hostsBase
      .join(contrib, Seq("host"), "left")
      .select(col("host"),
        (col("base") +
          expr("(85 * coalesce(c, CAST(0 AS BIGINT))) div 100")).as("r"),
        col("base"))
  }

  /** `steps` power iterations over a pre-joined edge frame. r18: with
    * single-reference steps (see [[iterStep]]) the chain needs no
    * intermediate checkpoints for subtree dedup — only a depth bound on
    * very long chains (every 6th step) and the end checkpoint (the end
    * frame is always multiply-referenced by consumers).
    */
  private[text] def powerChain(r0: DataFrame, edgesW: DataFrame,
      steps: Int): DataFrame = {
    val hostsBase = r0.select("host", "base")
    var r = r0
    for (t <- 1 to steps) {
      r = iterStep(r, edgesW, hostsBase)
      if (t % 6 == 0 || t == steps) r = r.localCheckpoint()
    }
    r
  }

  /** [[linkAuthority]] off an already-extracted link frame (reused by
    * the authority-weighted-quality composition).
    */
  def linkAuthorityFromLinks(links: DataFrame, iters: Int = 5): DataFrame = {
    val edges = linkHostGraph(links).persist()
    val edgesW = edgesWithOuts(edges).localCheckpoint()
    val ranks = powerChain(initRanks(edges), edgesW, iters)
    val outs = outsOf(edges)
    val inl = edges.groupBy("dst_host").agg(sum("n_links").as("in_w"))
    val out = ranks
      .join(outs.withColumnRenamed("src_host", "host"), Seq("host"), "left")
      .join(inl.withColumnRenamed("dst_host", "host"), Seq("host"), "left")
      .select(col("host"),
        coalesce(col("out_w"), lit(0L)).as("out_links"),
        coalesce(col("in_w"), lit(0L)).as("in_links"),
        col("r").as("rank_scaled"),
        (col("r").cast("double") / lit(AuthorityScale.toDouble)).as("rank"))
      .orderBy("host")
    edges.unpersist(blocking = false)
    out
  }

  /** Incremental authority maintenance — the web-graph member of the
    * maintained-state family (exact/LSH text indexes, IVF cells): a new
    * crawl batch (the standard %3 carve) lands, its links fold into the
    * edge weights, and the authority refreshes by WARM-STARTING the
    * power iteration from the PREVIOUS ranks for `warmIters` steps
    * instead of recomputing from scratch — the standard incremental
    * PageRank serving move (each step contracts the distance to the
    * fixed point by ~the damping factor, so a small delta needs 1-2
    * steps, not a full rerun). Output per host: the prior ranks, the
    * warm-refreshed ranks, the full 5-iteration recompute (the retrain
    * twin), and the exact integer gaps |warm−full| / |prior−full| — the
    * convergence evidence, all inside the hash.
    *
    * Scale shape: the delta fold is one batch-sized groupBy merged into
    * the hosts²-bounded edge state; each warm step is the hosts-sized
    * join + aggregate; the full chain here is the EXPERIMENT's control
    * leg, not the serving path.
    */
  def linkAuthorityIncremental(documents: DataFrame,
      warmIters: Int = 2, iters: Int = 5): DataFrame = {
    val full = documents.filter(col("doc_id").isNotNull)
    // r17 (guide §2.3/§1.2): ONE link-extraction pass over the corpus —
    // the regex chain is the only data-sized work here, and the r16 form
    // ran it twice (base carve, then full). Per-(src,dst) counts come
    // out of one conditional aggregation with the carve flag; the
    // persisted frame is the hosts²-bounded aggregate, never link-level.
    // bEdges ≡ linkHostGraph(links of base docs) exactly: the extraction
    // chain is per-doc row arithmetic, so filtering the aggregate's
    // conditional count equals aggregating the filtered docs.
    val edgeAgg = hostLinks(htmlLinks(TextOps.htmlCorpus(full)), "doc_id")
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_full"),
        sum(when(col("doc_id") % 3 =!= 0, 1L).otherwise(0L)).as("n_base"))
      .persist()
    val bEdges = edgeAgg.filter(col("n_base") > 0L)
      .select(col("src_host"), col("dst_host"), col("n_base").as("n_links"))
    val bEdgesW = edgesWithOuts(bEdges).localCheckpoint()
    // prior state: the base graph's converged ranks
    val prior = powerChain(initRanks(bEdges), bEdgesW, iters)
    // the delta folds in: full-corpus edges (state ∪ batch)
    val fEdges = edgeAgg
      .select(col("src_host"), col("dst_host"), col("n_full").as("n_links"))
    val fEdgesW = edgesWithOuts(fEdges).localCheckpoint()
    val warm = powerChain(prior, fEdgesW, warmIters)
    val fullPr = powerChain(initRanks(fEdges), fEdgesW, iters)
    val out = prior.select(col("host"), col("r").as("rank_prior_scaled"))
      .join(warm.select(col("host"), col("r").as("rank_warm_scaled")), "host")
      .join(fullPr.select(col("host"), col("r").as("rank_full_scaled")), "host")
      .select(col("host"),
        col("rank_prior_scaled"), col("rank_warm_scaled"),
        col("rank_full_scaled"),
        abs(col("rank_prior_scaled") - col("rank_full_scaled")).as("gap_prior"),
        abs(col("rank_warm_scaled") - col("rank_full_scaled")).as("gap_warm"))
      .orderBy("host")
    edgeAgg.unpersist(blocking = false)
    out
  }

  /** DuckDB twin of [[linkAuthorityIncremental]]: the base chain
    * (prefix `b`, %3 carve), the full-graph chain (prefix `f`), and the
    * warm steps written against the full edges starting from `bpr5`.
    */
  def linkAuthorityIncrementalSql(warmIters: Int = 2, iters: Int = 5): String =
    s"""WITH ${linkAuthorityCtes(iters,
          where = "doc_id IS NOT NULL AND doc_id % 3 <> 0", prefix = "b")},
       |${linkAuthorityCtes(iters, prefix = "f")},
       |${powerChainSql(t => if (t == 0) s"bpr$iters" else s"w$t", warmIters,
          "fedges", "fouts")}
       |SELECT b.host,
       |  b.r AS rank_prior_scaled,
       |  w.r AS rank_warm_scaled,
       |  f.r AS rank_full_scaled,
       |  CAST(abs(b.r - f.r) AS BIGINT) AS gap_prior,
       |  CAST(abs(w.r - f.r) AS BIGINT) AS gap_warm
       |FROM bpr$iters b
       |  JOIN w$warmIters w ON w.host = b.host
       |  JOIN fpr$iters f ON f.host = b.host
       |ORDER BY b.host""".stripMargin

  // ─────── the authority stages in SQL, shared by every twin ───────────

  /** Generator-arithmetic edge CTEs for a documents slice: `${p}d` →
    * `${p}lk` (one row per related link) → `${p}edges` (src_host,
    * dst_host, n_links). The dst_host expression stays on ONE line: this
    * fragment is spliced into outer stripMargin builders, which would
    * strip a leading `||` continuation down to `|` (the r13 gotcha).
    */
  private[text] def docEdgesSql(p: String, where: String): String = {
    val rel = (0 until HtmlLinksPerDoc).map(j => s"(${7 * j + 3})").mkString(", ")
    s"""${p}d AS (SELECT doc_id FROM documents WHERE $where),
       |${p}lk AS (
       |  SELECT 'h' || CAST(doc_id % $HtmlHosts AS VARCHAR) || '.example' AS src_host,
       |    'h' || CAST(((doc_id * 31 + o.v) % $HtmlLinkMod) % $HtmlHosts AS VARCHAR) || '.example' AS dst_host
       |  FROM ${p}d CROSS JOIN (VALUES $rel) o(v)),
       |${p}edges AS MATERIALIZED (
       |  SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
       |  FROM ${p}lk GROUP BY 1, 2)""".stripMargin
  }

  /** The chain-invariant state of an edge relation `$edges`: `$outs`
    * (src_host, out_w), the host universe `$hosts` and its size `$nb`
    * (n_hosts) — the [[edgesWithOuts]]/[[hostsWithN]] frames.
    */
  private[text] def edgeStateSql(edges: String, outs: String, hosts: String,
      nb: String): String =
    s"""$outs AS MATERIALIZED (
       |  SELECT src_host, CAST(SUM(n_links) AS BIGINT) AS out_w
       |  FROM $edges GROUP BY 1),
       |$hosts AS MATERIALIZED (SELECT DISTINCT host FROM (
       |  SELECT src_host AS host FROM $edges
       |  UNION ALL SELECT dst_host FROM $edges)),
       |$nb AS (SELECT COUNT(*) AS n_hosts FROM $hosts)""".stripMargin

  /** [[initRank]] in SQL: S div N over a relation carrying n_hosts. */
  private[text] val initRankSql = s"CAST($AuthorityScale // n_hosts AS BIGINT)"

  /** [[baseRank]] in SQL: the damping base (S·15) div (100·N). */
  private[text] val baseRankSql =
    s"CAST(($AuthorityScale * 15) // (100 * n_hosts) AS BIGINT)"

  /** [[initRanks]] in SQL: `$cur` = (host, r₀, base) over `$hosts`. */
  private[text] def initRanksSql(cur: String, hosts: String, nb: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT host, $initRankSql AS r, $baseRankSql AS base
       |  FROM $hosts CROSS JOIN $nb)""".stripMargin

  /** [[iterStep]] in SQL: `$cur` from `$prev` over `$edges`/`$outs` —
    * the exact integer update rule, MATERIALIZED (an iterative chain
    * referencing its predecessor twice explodes exponentially when
    * inlined; the residual-PQ lesson).
    */
  private[text] def powerStepSql(cur: String, prev: String, edges: String,
      outs: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT h.host,
       |    CAST(h.base + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS r,
       |    h.base
       |  FROM $prev h LEFT JOIN (
       |    SELECT e.dst_host AS host,
       |      SUM((p.r * e.n_links) // o.out_w) AS c
       |    FROM $edges e
       |      JOIN $prev p ON p.host = e.src_host
       |      JOIN $outs o ON o.src_host = e.src_host
       |    GROUP BY 1) s ON s.host = h.host)""".stripMargin

  /** [[powerChain]] in SQL: steps `name(1)`..`name(steps)`, each from its
    * predecessor, `name(0)` the start ranks. No trailing comma.
    */
  private[text] def powerChainSql(name: Int => String, steps: Int,
      edges: String, outs: String): String =
    (1 to steps).map(t => powerStepSql(name(t), name(t - 1), edges, outs))
      .mkString(",\n")

  /** The shared CTE prefix of the authority twins: generator-arithmetic
    * edges, their state, and the unrolled pr0..pr{iters} chain. No
    * trailing comma.
    */
  def linkAuthorityCtes(iters: Int = 5,
      where: String = "doc_id IS NOT NULL", prefix: String = ""): String = {
    val P = prefix
    s"""${docEdgesSql(P, where)},
       |${edgeStateSql(s"${P}edges", s"${P}outs", s"${P}hosts", s"${P}nb")},
       |${initRanksSql(s"${P}pr0", s"${P}hosts", s"${P}nb")},
       |${powerChainSql(t => s"${P}pr$t", iters, s"${P}edges", s"${P}outs")}""".stripMargin
  }

  /** DuckDB twin of [[linkAuthority]]: edges from the generator
    * arithmetic, then the iteration unrolled ([[linkAuthorityCtes]]).
    */
  def linkAuthoritySql(iters: Int = 5): String =
    s"""WITH ${linkAuthorityCtes(iters)},
       |inl AS (SELECT dst_host, CAST(SUM(n_links) AS BIGINT) AS in_w
       |        FROM edges GROUP BY 1)
       |SELECT h.host,
       |  COALESCE(o.out_w, 0) AS out_links,
       |  COALESCE(i.in_w, 0) AS in_links,
       |  r.r AS rank_scaled,
       |  CAST(r.r AS DOUBLE) / $AuthorityScale.0 AS "rank"
       |FROM hosts h
       |  JOIN pr$iters r ON r.host = h.host
       |  LEFT JOIN outs o ON o.src_host = h.host
       |  LEFT JOIN inl i ON i.dst_host = h.host
       |ORDER BY h.host""".stripMargin

  /** The curation signal item-2 exists for: each document's rule-based
    * quality score weighted by its HOST's link authority — the standard
    * crawl-corpus move (authority up-weights content from well-linked
    * hosts; spam farms with no in-links sink even when their text looks
    * clean). Both factors are deterministic doubles from single
    * divisions of exact integers, and the weighting is one IEEE
    * multiply of identical inputs — hash-exact. Scale shape: the
    * authority side is hosts-sized and BROADCASTS onto the documents
    * scan; the per-doc side is one narrow projection.
    */
  def authorityWeightedQuality(documents: DataFrame): DataFrame = {
    val corpus = TextOps.htmlCorpus(documents)
    val auth = linkAuthority(corpus)
      .select(col("host"), col("rank").as("host_authority"))
    documents.filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        concat(lit("h"), pmod(col("doc_id"), lit(HtmlHosts)).cast("string"),
          lit(".example")).as("host"),
        TextOps.qualityScore(col("text")).as("quality_score"))
      .join(broadcast(auth), Seq("host"))
      .select(col("doc_id"), col("host"), col("quality_score"),
        col("host_authority"),
        (col("quality_score") * col("host_authority")).as("weighted_quality"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[authorityWeightedQuality]]: the authority CTE
    * chain + the same per-doc quality expression and host arithmetic.
    */
  def authorityWeightedQualitySql(iters: Int = 5): String =
    s"""WITH ${linkAuthorityCtes(iters)},
       |q AS (
       |  SELECT doc_id,
       |    'h' || CAST(doc_id % $HtmlHosts AS VARCHAR) || '.example' AS host,
       |    ${TextOps.qualityScoreSqlExpr} AS quality_score
       |  FROM documents WHERE doc_id IS NOT NULL)
       |SELECT q.doc_id, q.host, q.quality_score,
       |  CAST(r.r AS DOUBLE) / $AuthorityScale.0 AS host_authority,
       |  q.quality_score * (CAST(r.r AS DOUBLE) / $AuthorityScale.0) AS weighted_quality
       |FROM q JOIN pr$iters r ON r.host = q.host
       |ORDER BY q.doc_id""".stripMargin
}
