"""Web link graph — pages (url, html) -> (src, dst, weight) edges.

The web-graph slice of the Common-Crawl-style pipeline: hyperlinks are
extracted from the raw HTML (functions/text.py regex tier, pure
codegen), resolved against the page URL, canonicalized
(url_canonical_col) and aggregated to weighted edges at either URL or
registered-domain grain.  The edges feed PageRank (operators/graph.py),
domain-authority gates in the curation pipeline, and crawl-frontier
scoring.

Scale shape (the 10^12-page story): href extraction and resolution are
map-side expressions inside whole-stage codegen over the page scan; the
explode multiplies rows ~50x but never shuffles; the ONLY shuffle is the
final (src, dst) groupBy, and Spark's partial aggregation collapses
duplicate edges map-side first — a domain-grain graph of a 10^12-page
crawl aggregates down to ~10^8 domain pairs.  Hub skew (every page
links to a handful of mega-domains) is absorbed by the partial agg: the
hot (src, dst) pair is pre-counted per task before the exchange.

Reference analogue: none — geolake has no text/web operators; this is
part of the repo's LLM-training-data surface (SURVEY.md LLM table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geolake_spark.functions import text as tx


def page_links(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """One row per resolved outlink: ``(url, href, link_url)`` where
    ``link_url`` is the canonicalized absolute target ('' rows are
    already dropped).  The un-aggregated tier — inputs to anchor-text
    and frontier operators that need per-link rows."""
    href = F.explode(tx.extract_hrefs_col(F.col(html_col))).alias("href")
    out = pages.select(F.col(url_col).alias("url"), href)
    link = tx.url_canonical_col(
        tx.resolve_link_col(F.col("href"), F.col("url")))
    return (out.withColumn("link_url", link)
            .filter(F.col("link_url") != ""))


def link_graph(pages: DataFrame, url_col: str = "url",
               html_col: str = "html", grain: str = "domain",
               external_only: bool = False) -> DataFrame:
    """Weighted edge list ``(src, dst, weight)``.

    ``grain="domain"`` keys edges by registered domain (the web-graph
    norm — PageRank over hosts); ``grain="url"`` keeps canonical URLs.
    Self-edges (src == dst) are always dropped — at domain grain that
    also removes intra-site navigation, which is what
    ``external_only`` means there (kept as an explicit flag for the
    url grain, where it prunes same-domain pairs before the groupBy)."""
    assert grain in ("domain", "url")
    if grain == "domain":
        # Domain grain never needs the canonical URL:
        # registered_domain(url_canonical(x)) == registered_domain(x) —
        # canonicalization only lowercases/strips components the host
        # regex never captures (ports, userinfo, path/query/fragment) —
        # and page_links' ``link_url <> ''`` filter is subsumed by the
        # ``dst <> ''`` filter below (canonical is '' iff the resolved
        # URL has no scheme, in which case the host extract fails too).
        # Skipping the whole canonical chain per link row was worth ~35%
        # of link_graph wall time (r6; output oracle-verified identical).
        href = F.explode(tx.extract_hrefs_col(F.col(html_col))).alias("href")
        out = pages.select(F.col(url_col).alias("url"), href)
        # the resolved URL is projected as a COLUMN before the domain
        # extraction: registered_domain_col references its input ~8
        # times, and inlining the resolve expression into each reference
        # (CollapseProject keeps a multiply-referenced non-cheap
        # projection, but building the tree inline bypasses that guard)
        # measured 60% slower than this two-step shape
        out = out.select(
            "url", tx.resolve_link_col(F.col("href"), F.col("url"))
            .alias("_rs"))
        e = out.select(
            tx.registered_domain_col(F.col("url")).alias("src"),
            tx.registered_domain_col(F.col("_rs")).alias("dst"))
    else:
        links = page_links(pages, url_col, html_col)
        e = links.select(tx.url_canonical_col(F.col("url")).alias("src"),
                         F.col("link_url").alias("dst"))
        if external_only:
            e = e.filter(tx.registered_domain_col(F.col("src"))
                         != tx.registered_domain_col(F.col("dst")))
    # the row filter runs AFTER the (src, dst) aggregation: filtering
    # before it gets pushed below the src/dst projection, inlining the
    # full domain-extraction trees into the filter condition — every
    # link row then pays the regex chains twice (filter + project; r6
    # plan audit).  Dropping groups after the count is row-identical
    # (src/dst ARE the group keys).  The predicate is wrapped in a CASE
    # on ``weight`` (count(*) >= 1 always holds) because the optimizer
    # pushes group-key-only conjuncts straight back through the
    # aggregate — measured: the plain post-agg filter re-created the
    # 5x-slower pre-agg plan verbatim.
    return (e.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("weight"))
            .filter(F.when(F.col("weight") >= 1,
                           (F.col("src") != "") & (F.col("dst") != "")
                           & (F.col("src") != F.col("dst")))
                    .otherwise(F.lit(False))))


def page_links_sql(pages_sql: str, url_expr: str = "url",
                   html_expr: str = "html") -> str:
    """DuckDB mirror of :func:`page_links` (lateral unnest of the same
    extraction regex, same resolve + canonicalize expressions)."""
    link = tx.url_canonical_sql(tx.resolve_link_sql("u.href", url_expr))
    return (f"SELECT {url_expr} AS url, u.href AS href, {link} AS link_url "
            f"FROM ({pages_sql}) p, "
            f"unnest({tx.extract_hrefs_sql(html_expr)}) AS u(href) "
            f"WHERE {link} <> ''")


def link_graph_sql(pages_sql: str, url_expr: str = "url",
                   html_expr: str = "html", grain: str = "domain") -> str:
    """DuckDB mirror of :func:`link_graph`."""
    assert grain in ("domain", "url")
    inner = page_links_sql(pages_sql, url_expr, html_expr)
    if grain == "domain":
        src = tx.registered_domain_sql("url")
        dst = tx.registered_domain_sql("link_url")
    else:
        src = tx.url_canonical_sql("url")
        dst = "link_url"
    return (f"SELECT src, dst, count(*) AS weight FROM ("
            f"SELECT {src} AS src, {dst} AS dst FROM ({inner})) "
            f"WHERE src <> '' AND dst <> '' AND src <> dst "
            f"GROUP BY src, dst")


# ---------------------------------------------------------------------------
# Crawl policies: per-page robots directives + canonical target, and the
# canonical-collapse dedup they drive.  Scale shape: crawl_policies is a
# pure map stage (regex extraction + URL algebra in whole-stage codegen,
# zero shuffle, zero Python) over the page scan; canonical_collapse adds
# exactly ONE shuffle — the groupBy on the effective canonical target —
# and its aggregation state is constant per key (count + min), so a
# site-wide canonical pointing 10^7 pages at one homepage is a hot key
# with a partial-agg-absorbed counter, not a memory risk.
# ---------------------------------------------------------------------------


def crawl_policies(pages: DataFrame, url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """Per-page crawl policy row: ``(url, robots, noindex, nofollow,
    canonical_url)``.

    ``robots`` is the normalized (lowercased, trimmed, comma-joined)
    directive list from ``<meta name="robots">`` ('' when absent);
    ``noindex`` / ``nofollow`` honor the ``none`` shorthand (== both);
    ``canonical_url`` is the ``<link rel="canonical">`` target resolved
    against the page URL and canonicalized ('' when the tag is absent
    or its href is unresolvable, e.g. directory-relative)."""
    d = tx.robots_directives_col(F.col(html_col))
    canon = tx.url_canonical_col(tx.resolve_link_col(
        tx.canonical_href_col(F.col(html_col)), F.col(url_col)))
    return pages.select(
        F.col(url_col).alias("url"),
        F.array_join(d, ",").alias("robots"),
        (F.array_contains(d, "noindex")
         | F.array_contains(d, "none")).alias("noindex"),
        (F.array_contains(d, "nofollow")
         | F.array_contains(d, "none")).alias("nofollow"),
        canon.alias("canonical_url"))


def canonical_collapse(pages: DataFrame, url_col: str = "url",
                       html_col: str = "html") -> DataFrame:
    """Duplicate-cluster collapse by declared canonical: indexable pages
    (noindex excluded) grouped by their EFFECTIVE canonical target — the
    declared canonical_url when present, else the page's own
    canonicalized URL.  Emits ``(canonical_url, n_pages, keeper_url)``
    with the lexicographically smallest member URL as the deterministic
    keeper."""
    pol = crawl_policies(pages, url_col, html_col)
    eff = (F.when(F.col("canonical_url") != "", F.col("canonical_url"))
           .otherwise(tx.url_canonical_col(F.col("url"))))
    return (pol.filter(~F.col("noindex"))
            .select(eff.alias("canonical_url"), "url")
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.min("url").alias("keeper_url")))


def crawl_policies_sql(pages_sql: str, url_expr: str = "url",
                       html_expr: str = "html") -> str:
    """DuckDB mirror of :func:`crawl_policies`."""
    d = tx.robots_directives_sql(html_expr)
    canon = tx.url_canonical_sql(tx.resolve_link_sql(
        tx.canonical_href_sql(html_expr), url_expr))
    # PITFALL (established): DuckDB array_to_string([]) is NULL where
    # Spark array_join is '' — coalesce
    return (f"SELECT {url_expr} AS url, "
            f"coalesce(array_to_string({d}, ','), '') AS robots, "
            f"(list_contains({d}, 'noindex') OR list_contains({d}, 'none'))"
            f" AS noindex, "
            f"(list_contains({d}, 'nofollow') OR list_contains({d}, 'none'))"
            f" AS nofollow, "
            f"{canon} AS canonical_url "
            f"FROM ({pages_sql})")


def canonical_collapse_sql(pages_sql: str, url_expr: str = "url",
                           html_expr: str = "html") -> str:
    """DuckDB mirror of :func:`canonical_collapse`."""
    inner = crawl_policies_sql(pages_sql, url_expr, html_expr)
    own = tx.url_canonical_sql("url")
    return (f"SELECT (CASE WHEN canonical_url <> '' THEN canonical_url "
            f"ELSE {own} END) AS canonical_url, "
            f"count(*) AS n_pages, min(url) AS keeper_url "
            f"FROM ({inner}) WHERE NOT noindex "
            f"GROUP BY 1")


# ---------------------------------------------------------------------------
# Sitemap parsing + crawl-frontier discovery.  Sitemaps are the push
# side of URL discovery (robots.txt's `Sitemap:` lines point at them);
# the extractor mirrors the href tier: one regexp_extract_all over the
# XML body (entry blocks), per-entry <loc>/<lastmod> extraction, all
# codegen — zero Python, zero shuffle.  Whitespace inside <loc> uses
# the explicit [ \t\n\r\f] class (Java \s and RE2 \s differ on \x0B —
# the established _WS_CLASS contract).
# ---------------------------------------------------------------------------

_SM_ENTRY_RE = r"(?is)<url\b[^>]*>(.*?)</url>"
_SM_CHILD_RE = r"(?is)<sitemap\b[^>]*>(.*?)</sitemap>"
_WS_STAR = r"[ \t\n\r\f]*"
_SM_LOC_RE = rf"(?is)<loc>{_WS_STAR}(.*?){_WS_STAR}</loc>"
_SM_LASTMOD_RE = rf"(?is)<lastmod>{_WS_STAR}(.*?){_WS_STAR}</lastmod>"


def _sm_explode(sitemaps: DataFrame, entry_re: str, xml_col: str,
                key_cols: tuple) -> DataFrame:
    e = F.explode(F.regexp_extract_all(F.col(xml_col), F.lit(entry_re),
                                       F.lit(1))).alias("_e")
    out = sitemaps.select(*[F.col(c) for c in key_cols], e)
    return (out.select(
        *key_cols,
        F.regexp_extract("_e", _SM_LOC_RE, 1).alias("url"),
        F.regexp_extract("_e", _SM_LASTMOD_RE, 1).alias("lastmod"))
        .filter(F.col("url") != ""))


def sitemap_entries(sitemaps: DataFrame, xml_col: str = "xml",
                    key_cols: tuple = ("host",)) -> DataFrame:
    """One row per ``<url>`` entry of a urlset sitemap:
    ``(*key_cols, url, lastmod)`` — lastmod '' when absent.  URLs are
    raw ``<loc>`` values (canonicalize downstream)."""
    return _sm_explode(sitemaps, _SM_ENTRY_RE, xml_col, key_cols)


def sitemap_children(sitemaps: DataFrame, xml_col: str = "xml",
                     key_cols: tuple = ("host",)) -> DataFrame:
    """One row per ``<sitemap>`` entry of a sitemap INDEX file — the
    child sitemap URLs a crawler fetches next (same schema as
    :func:`sitemap_entries`)."""
    return _sm_explode(sitemaps, _SM_CHILD_RE, xml_col, key_cols)


def _sm_explode_sql(sitemaps_sql: str, entry_re: str, xml_expr: str,
                    key_exprs: str) -> str:
    pat = entry_re.replace("'", "''")
    loc = _SM_LOC_RE.replace("'", "''")
    lm = _SM_LASTMOD_RE.replace("'", "''")
    return (f"SELECT {key_exprs}, "
            f"coalesce(regexp_extract(u.e, '{loc}', 1), '') AS url, "
            f"coalesce(regexp_extract(u.e, '{lm}', 1), '') AS lastmod "
            f"FROM ({sitemaps_sql}) s, "
            f"unnest(regexp_extract_all({xml_expr}, '{pat}', 1)) AS u(e) "
            f"WHERE coalesce(regexp_extract(u.e, '{loc}', 1), '') <> ''")


def sitemap_entries_sql(sitemaps_sql: str, xml_expr: str = "xml",
                        key_exprs: str = "host") -> str:
    """DuckDB mirror of :func:`sitemap_entries`."""
    return _sm_explode_sql(sitemaps_sql, _SM_ENTRY_RE, xml_expr, key_exprs)


# ---------------------------------------------------------------------------
# Anchor-text index — terms from link anchor texts aggregated per link
# TARGET (the classic external-description ranking signal: what other
# pages call a page beats what the page says about itself).  One
# extraction scan (codegen), one explode per (link, term), ONE
# (target, term) groupBy with map-side partial aggregation — hub
# targets (every page links "home" to the homepage) are hot keys whose
# counts collapse per task before the exchange, the link_graph shape.
# ---------------------------------------------------------------------------


def anchor_index(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """``(target_url, term, weight)``: whitespace-tokenized (trim+lower)
    anchor-text terms of every resolved link, counted per canonical
    target.  Empty anchors (image links) contribute nothing; self-links
    (target == the linking page's canonical URL) are dropped — a page's
    own navigation must not vote for itself."""
    pairs = F.explode(tx.anchor_text_pairs_col(F.col(html_col))).alias("p")
    out = pages.select(F.col(url_col).alias("url"), pairs)
    target = tx.url_canonical_col(
        tx.resolve_link_col(F.col("p.href"), F.col("url")))
    rows = (out.select("url", target.alias("target_url"),
                       F.col("p.anchor").alias("anchor"))
            .filter((F.col("target_url") != "")
                    & (F.col("target_url")
                       != tx.url_canonical_col(F.col("url")))
                    & (F.col("anchor") != "")))
    terms = rows.select(
        "target_url",
        F.explode(F.split(F.lower(F.col("anchor")), r"\s+")).alias("term"))
    return (terms.filter(F.col("term") != "")
            .groupBy("target_url", "term")
            .agg(F.count(F.lit(1)).alias("weight")))


def anchor_index_sql(pages_sql: str, url_expr: str = "url",
                     html_expr: str = "html") -> str:
    """DuckDB mirror of :func:`anchor_index`."""
    target = tx.url_canonical_sql(tx.resolve_link_sql("p.href", url_expr))
    own = tx.url_canonical_sql(url_expr)
    pairs = tx.anchor_text_pairs_sql(html_expr)
    return f"""
WITH _ai_r AS (
  SELECT {target} AS target_url, p.anchor AS anchor
  FROM ({pages_sql}) g, unnest({pairs}) AS _u(p)
  WHERE {target} <> '' AND {target} <> {own} AND p.anchor <> ''
), _ai_t AS (
  SELECT target_url, u.term AS term
  FROM _ai_r, unnest(string_split_regex(lower(anchor), '\\s+')) AS u(term)
  WHERE u.term <> ''
)
SELECT target_url, term, count(*) AS weight
FROM _ai_t GROUP BY 1, 2"""


def host_report(pages: DataFrame, url_col: str = "url",
                html_col: str = "html") -> DataFrame:
    """Per-host crawl-compliance rollup: ``(host, n_pages, n_noindex,
    n_nofollow, n_canonical, n_indexable)`` — the crawl-ops dashboard
    row.  One groupBy on host with integer sums (constant agg state;
    mega-hosts are partial-agg'd counters, the canonical_collapse
    shape)."""
    pol = crawl_policies(pages, url_col, html_col)
    host = F.lower(F.regexp_extract(F.col("url"), tx._URL_AUTH_RE, 1))
    return (pol.select(
        host.alias("host"),
        F.col("noindex").cast("long").alias("ni"),
        F.col("nofollow").cast("long").alias("nf"),
        (F.col("canonical_url") != "").cast("long").alias("ca"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_pages"),
             F.sum("ni").alias("n_noindex"),
             F.sum("nf").alias("n_nofollow"),
             F.sum("ca").alias("n_canonical"),
             (F.count(F.lit(1)) - F.sum("ni")).alias("n_indexable")))


def host_report_sql(pages_sql: str, url_expr: str = "url",
                    html_expr: str = "html") -> str:
    """DuckDB mirror of :func:`host_report`."""
    inner = crawl_policies_sql(pages_sql, url_expr, html_expr)
    host = (f"lower(coalesce(regexp_extract(url, "
            f"'{tx._URL_AUTH_RE}', 1), ''))")
    return (f"SELECT {host} AS host, count(*) AS n_pages, "
            f"sum(CASE WHEN noindex THEN 1 ELSE 0 END) AS n_noindex, "
            f"sum(CASE WHEN nofollow THEN 1 ELSE 0 END) AS n_nofollow, "
            f"sum(CASE WHEN canonical_url <> '' THEN 1 ELSE 0 END) "
            f"AS n_canonical, "
            f"count(*) - sum(CASE WHEN noindex THEN 1 ELSE 0 END) "
            f"AS n_indexable "
            f"FROM ({inner}) GROUP BY 1")


def crawl_diff(old: DataFrame, new: DataFrame, url_col: str = "url",
               text_col: str = "text") -> DataFrame:
    """Snapshot-to-snapshot crawl diff: ``(url, status)`` with status in
    ``added`` (only in new), ``gone`` (only in old), ``changed``
    (md5(text) differs), ``unchanged`` — the recrawl-scheduler input
    (change-rate feeds fetch priority).  URLs are canonicalized before
    the compare; duplicate canonical URLs collapse to one fingerprint
    per side via min(md5) (deterministic).  One full-outer equi-join on
    the canonical URL — at crawl scale both sides are bucketed tables,
    so the join co-locates without a shuffle when written bucketed."""
    def prep(df):
        return (df.select(
            tx.url_canonical_col(F.col(url_col)).alias("url"),
            F.md5(F.col(text_col)).alias("fp"))
            .filter(F.col("url") != "")
            .groupBy("url").agg(F.min("fp").alias("fp")))

    o = prep(old).select("url", F.col("fp").alias("fp_old"))
    n = prep(new).select("url", F.col("fp").alias("fp_new"))
    j = o.join(n, "url", "full_outer")
    status = (F.when(F.col("fp_old").isNull(), F.lit("added"))
              .when(F.col("fp_new").isNull(), F.lit("gone"))
              .when(F.col("fp_old") == F.col("fp_new"),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select("url", status.alias("status"))


def crawl_diff_sql(old_sql: str, new_sql: str, url_expr: str = "url",
                   text_expr: str = "text") -> str:
    """DuckDB mirror of :func:`crawl_diff`."""
    canon = tx.url_canonical_sql(url_expr)

    def prep(src: str) -> str:
        return (f"SELECT {canon} AS url, min(md5({text_expr})) AS fp "
                f"FROM ({src}) WHERE {canon} <> '' GROUP BY 1")

    return f"""
WITH _cd_o AS ({prep(old_sql)}), _cd_n AS ({prep(new_sql)})
SELECT coalesce(o.url, n.url) AS url,
       (CASE WHEN o.url IS NULL THEN 'added'
             WHEN n.url IS NULL THEN 'gone'
             WHEN o.fp = n.fp THEN 'unchanged'
             ELSE 'changed' END) AS status
FROM _cd_o o FULL OUTER JOIN _cd_n n ON o.url = n.url"""


def crawl_budget(pages: DataFrame, total_slots: int,
                 url_col: str = "url") -> DataFrame:
    """Proportional crawl-slot allocation across hosts by the largest-
    remainder (Hamilton) method: host i with ``w_i`` pages gets
    ``floor(total * w_i / W)`` slots plus one of the leftover slots in
    descending ``(total * w_i) mod W`` order (host asc breaks ties).
    All integer arithmetic — exact, and the allocation sums to exactly
    ``total_slots`` (the property naive rounding lacks).  Returns
    ``(host, n_pages, slots)``.

    Plan: one page->host rollup (the only pages-sized shuffle); the
    remainder ranking is a global window over the HOSTS-sized rollup
    (single-task by design — a rollup output, not the page table)."""
    from pyspark.sql import Window
    from ..functions.text import url_host_col
    t = int(total_slots)
    hosts = (pages.select(url_host_col(F.col(url_col)).alias("host"))
             .filter(F.col("host") != "")
             .groupBy("host").agg(F.count(F.lit(1)).alias("n_pages")))
    w_tot = hosts.agg(F.sum("n_pages").alias("W"))
    j = hosts.crossJoin(F.broadcast(w_tot))
    # integer floor division (`div`), NOT `/`: double division loses
    # exactness once total*n_pages passes 2^53 (pack_sequences
    # precedent: Spark `div` == DuckDB `//`)
    base_i = F.expr(f"({t} * n_pages) div W")
    rem = F.expr(f"({t} * n_pages) % W")
    wr = Window.orderBy(F.col("rem").desc(), F.col("host").asc())
    ranked = (j.select("host", "n_pages", base_i.alias("base"),
                       rem.alias("rem"))
              .withColumn("rk", F.row_number().over(wr)))
    extra = (ranked.agg(
        (F.lit(int(total_slots)) - F.sum("base")).alias("e")))
    out = ranked.crossJoin(F.broadcast(extra))
    return out.select(
        "host", "n_pages",
        (F.col("base") + F.when(F.col("rk") <= F.col("e"), 1)
         .otherwise(0)).alias("slots"))


def crawl_budget_sql(pages_sql: str, total_slots: int,
                     url_expr: str = "url") -> str:
    """DuckDB mirror of :func:`crawl_budget`."""
    from ..functions.text import url_host_sql
    t = int(total_slots)
    return f"""
WITH _cb_h AS (
  SELECT host, count(*) AS n_pages FROM (
    SELECT {url_host_sql(url_expr)} AS host FROM ({pages_sql})
  ) WHERE host <> '' GROUP BY 1
), _cb_w AS (
  SELECT sum(n_pages) AS W FROM _cb_h
), _cb_r AS (
  SELECT host, n_pages,
         ({t} * n_pages) // W AS base,
         ({t} * n_pages) % W AS rem,
         row_number() OVER (ORDER BY ({t} * n_pages) % W DESC,
                            host ASC) AS rk
  FROM _cb_h, _cb_w
), _cb_e AS (
  SELECT {t} - sum(base) AS e FROM _cb_r
)
SELECT host, n_pages,
       base + (CASE WHEN rk <= e THEN 1 ELSE 0 END) AS slots
FROM _cb_r, _cb_e"""


def orphan_pages(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """Pages no crawled page links to — the unreachable tail a
    link-following recrawl would drop (and a freshness-audit staple).
    ``(url,)`` canonical URLs that never appear as a url-grain link
    target.  One anti-join of the canonical page set against the
    distinct in-link target set (bloom-prunable at crawl scale)."""
    from ..functions import text as tx2
    own = (pages.select(
        tx2.url_canonical_col(F.col(url_col)).alias("url")).distinct())
    tgt = (link_graph(pages, url_col, html_col, grain="url")
           .select(F.col("dst").alias("url")).distinct())
    return own.join(tgt, "url", "left_anti")


def orphan_pages_sql(pages_sql: str) -> str:
    """DuckDB mirror of :func:`orphan_pages`."""
    from ..functions import text as tx2
    canon = tx2.url_canonical_sql("url")
    return f"""
WITH _op_own AS (
  SELECT DISTINCT {canon} AS url FROM ({pages_sql})
), _op_tgt AS (
  SELECT DISTINCT dst AS url FROM ({link_graph_sql(pages_sql, grain="url")})
)
SELECT url FROM _op_own ANTI JOIN _op_tgt USING (url)"""


def resolve_redirects(edges: DataFrame, src: str = "src",
                      dst: str = "dst", rounds: int = 6) -> DataFrame:
    """Resolve redirect/canonical chains to their terminal target — the
    post-crawl normalization that maps every 301/rel=canonical source
    to the page that finally serves content.  A source with several
    declared targets keeps the MIN (deterministic contract).  Returns
    one row per source: ``(src, target, hops, unresolved)`` — target
    and hops NULL when ``unresolved`` (the chain is a cycle, feeds into
    one, or exceeds ``2**rounds`` hops; stated together since a bounded
    resolver cannot tell them apart).

    Scale shape: path DOUBLING — ``rounds`` self-joins of the
    mapping-sized table (never the crawl), each jump composing
    next(next(x)) with terminal absorption and exact hop accumulation
    (hops add under composition), so a 64-hop chain needs 6 rounds, not
    64.  Lineage is truncated per round (localCheckpoint — the
    iterative-DataFrame contract from graph.pagerank).  The final
    unresolved test is one semi-join against the source set."""
    m = (edges.filter(F.col(src) != F.col(dst))
         .groupBy(F.col(src).alias("_s"))
         .agg(F.min(F.col(dst)).alias("_n")))
    cur = m.select("_s", "_n", F.lit(1).cast("bigint").alias("_h"))
    for _ in range(rounds):
        nxt = cur.select(F.col("_s").alias("_s2"), F.col("_n").alias("_n2"),
                         F.col("_h").alias("_h2"))
        cur = (cur.join(nxt, cur["_n"] == nxt["_s2"], "left")
               .select("_s",
                       F.coalesce("_n2", "_n").alias("_n"),
                       (F.col("_h") + F.coalesce("_h2", F.lit(0)))
                       .alias("_h"))
               .localCheckpoint(eager=True))
    srcs = m.select(F.col("_s").alias("_n"))
    out = (cur.join(srcs.withColumn("_has_out", F.lit(True)).distinct(),
                    "_n", "left")
           .withColumn("_u", F.coalesce("_has_out", F.lit(False))))
    return out.select(
        F.col("_s").alias("src"),
        F.when(~F.col("_u"), F.col("_n")).alias("target"),
        F.when(~F.col("_u"), F.col("_h")).alias("hops"),
        F.col("_u").alias("unresolved"))


def resolve_redirects_sql(edges_sql: str, rounds: int = 6) -> str:
    """DuckDB mirror of :func:`resolve_redirects`: a step-at-a-time
    recursive walk bounded at ``2**rounds`` hops (same absorption and
    unresolved semantics; the plan differs, the answer doesn't)."""
    limit = 2 ** rounds
    return f"""
WITH RECURSIVE _rr_m AS (
  SELECT src AS s, min(dst) AS n FROM ({edges_sql})
  WHERE src <> dst GROUP BY 1
), _rr_w AS (
  SELECT s, n AS cur, cast(1 AS BIGINT) AS hops FROM _rr_m
  UNION ALL
  SELECT w.s, m.n, w.hops + 1
  FROM _rr_w w JOIN _rr_m m ON m.s = w.cur
  WHERE w.hops < {limit}
), _rr_f AS (
  SELECT s, (max(struct_pack(hops := hops, cur := cur))).cur AS cur,
         max(hops) AS hops
  FROM _rr_w GROUP BY 1
)
SELECT f.s AS src,
       CASE WHEN m2.s IS NULL THEN f.cur END AS target,
       CASE WHEN m2.s IS NULL THEN f.hops END AS hops,
       m2.s IS NOT NULL AS unresolved
FROM _rr_f f LEFT JOIN _rr_m m2 ON m2.s = f.cur"""
