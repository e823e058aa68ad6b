"""Anchor (<a href>) extraction — the web-graph connector.

``operators/html.py`` turns pages into text; this module turns them into
EDGES, which is what feeds ``graph.pagerank_int`` /
``connected_components`` with a real link graph instead of the synthetic
one (``graph.synthetic_link_edges``).  The whole chain is pure Catalyst
regex — zero Python on a 10^12-page scan:

* ``extract_anchor_tags``: ``regexp_extract_all`` of ``<a ...>`` open
  tags (case-insensitive; the patterns avoid lookarounds so Java regex
  and RE2/DuckDB agree byte-for-byte — same discipline as
  ``html.html_extract_text``).
* per-tag parse: ``href`` value (single- or double-quoted) and a
  ``rel~=nofollow`` flag — the flag a PageRank ingest must respect.
* ``resolve_href``: the deterministic subset of RFC 3986 resolution a
  crawl pipeline applies before canonicalization — absolute http(s)
  kept as-is, protocol-relative ``//host/x`` inherits the source
  scheme, root-relative ``/x`` joins the source origin; fragments,
  ``mailto:``/``javascript:``/``data:`` and dotted relative paths are
  DROPPED (documented: relative-path resolution needs the full
  dot-segment algorithm — out of scope for the graph connector, and
  <1% of crawl anchors).

Scale: one map-side explode per page (anchors per page is small and
bounded); the (src, dst) output feeds ``urls.url_host`` /
``registered_domain`` and then one partial-agg groupBy for degree
stats — no shuffle until the caller aggregates.

Reference parity: the reference walks CityGML xlink references between
features (nusamai-citygml geometry/appearance xlink resolution); the
href graph is the web-pages analog of that cross-reference pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize

# open tags only; [^>]* never crosses a tag close; (?i) works in both
# Java regex and RE2
ANCHOR_TAG_RE = r"(?i)<a\s[^>]*>"
HREF_RE = r"""(?i)href\s*=\s*["']([^"'#]+)["']"""
NOFOLLOW_RE = r"""(?i)rel\s*=\s*["'][^"']*nofollow[^"']*["']"""


def extract_anchor_tags(html: Column) -> Column:
    """Array of raw ``<a ...>`` open tags."""
    return F.regexp_extract_all(html, F.lit(ANCHOR_TAG_RE), 0)


def resolve_href(href: Column, src_scheme: Column,
                 src_origin: Column) -> Column:
    """Resolve the documented subset; NULL for dropped anchors.

    ``src_scheme``: e.g. 'https'; ``src_origin``: 'https://host[:port]'
    (no trailing slash)."""
    return (
        F.when(href.rlike(r"(?i)^https?://"), href)
        .when(href.startswith("//"),
              F.concat(src_scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(src_origin, href))
        .otherwise(F.lit(None)))


def extract_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """(url, dst_url, nofollow) — one row per kept anchor, in document
    order.  ``dst_url`` is resolved against the page url's scheme +
    origin."""
    scheme = F.regexp_extract(F.col(url_col), r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(F.col(url_col),
                              r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)", 1)
    tags = pages.select(
        F.col(url_col).alias("url"),
        scheme.alias("_scheme"), origin.alias("_origin"),
        F.explode(extract_anchor_tags(F.col(html_col))).alias("_tag"))
    href = F.regexp_extract(F.col("_tag"), HREF_RE, 1)
    dst = resolve_href(href, F.col("_scheme"), F.col("_origin"))
    return (tags
            .withColumn("dst_url", dst)
            .where(F.col("dst_url").isNotNull())
            .select("url", "dst_url",
                    F.col("_tag").rlike(NOFOLLOW_RE).alias("nofollow")))


def link_edges(pages: DataFrame, ids: DataFrame,
               html_col: str = "html", url_col: str = "url",
               follow_only: bool = True) -> DataFrame:
    """Intra-corpus integer edges (src_id, dst_id) for
    ``graph.pagerank_int``: anchors resolved, optionally nofollow-
    filtered, then joined to the (url, id) relation on dst — one
    equi-join against the corpus url map (shuffle on url, the join a
    crawl graph build always pays once)."""
    links = extract_links(pages, html_col, url_col)
    if follow_only:
        links = links.where(~F.col("nofollow"))
    src = ids.select(F.col("url").alias("url"),
                     F.col("id").alias("src_id"))
    dst = ids.select(F.col("url").alias("dst_url"),
                     F.col("id").alias("dst_id"))
    return (links.join(src, "url").join(dst, "dst_url")
            .where(F.col("src_id") != F.col("dst_id"))
            .select("src_id", "dst_id"))


def resolve_redirects(redirects: DataFrame, src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Resolve HTTP redirect chains to their final destination with
    exact cycle detection — the canonicalization step a crawler runs
    before dedup/PageRank so every alias of a page collapses to one
    node (3xx chains are ubiquitous: http→https, apex→www, tracking
    hops).

    The redirect map is a FUNCTIONAL graph (≤1 out-edge per src; the
    engine enforces determinism by keeping min(dst) per src if the
    input violates it).  Resolution uses POINTER DOUBLING: a mapping
    m_k(x) = the 2^k-th successor of x (or its terminal), advanced by
    joining m with itself (m_{k+1}(x) = m_k(m_k(x))), with an exact hop
    accumulator.  ceil(log2(n)) + 1 rounds suffice for any chain (a
    chain is ≤ n long), so a 10^9-node redirect web resolves in ~31
    self-joins instead of 10^9 sequential lookups; each round shuffles
    only the mapping relation on the current pointer.

    A src whose pointer is STILL a redirecting node after the final
    round cannot be on a terminating chain (it would have terminated
    within n hops) — it is on or leads into a CYCLE: emitted with
    final=NULL/hops=NULL and status='cycle', a deterministic labeling a
    recursive-CTE oracle reproduces (the post-doubling pointer value
    itself is round-count-dependent, so it is never exposed).

    Output: (src, final, hops, status in ('ok', 'cycle')).
    Driver footprint: one row count, observed by the job that pins the
    deduplicated map, which sets the round count.
    """
    import math

    f, st = materialize(redirects.groupBy(F.col(src_col).alias("s"))
                        .agg(F.min(dst_col).alias("t")),
                        n=F.count(F.lit(1)))
    n = st["n"]
    if n == 0:
        return f.select(F.col("s").alias("src"),
                        F.col("t").alias("final"),
                        F.lit(1).cast("bigint").alias("hops"),
                        F.lit("ok").alias("status"))
    srcs = f.select(F.col("s").alias("rs"))
    # m: src -> (cur, hops); hops = exact steps taken so far
    m = f.select("s", F.col("t").alias("cur"),
                 F.lit(1).cast("bigint").alias("hops"))
    rounds = max(1, math.ceil(math.log2(n)) + 1)
    for _ in range(rounds):
        j = m.select(F.col("s").alias("s2"), F.col("cur").alias("cur2"),
                     F.col("hops").alias("hops2"))
        m = (m.join(j, m["cur"] == j["s2"], "left")
             .select("s",
                     F.coalesce(F.col("cur2"), F.col("cur")).alias("cur"),
                     (F.col("hops") + F.coalesce(F.col("hops2"), F.lit(0)))
                     .alias("hops"))
             .localCheckpoint(eager=False))
    # a pointer that still redirects after 2^rounds >= n hops is cyclic
    term = m.join(srcs, m["cur"] == srcs["rs"], "left")
    return term.select(
        F.col("s").alias("src"),
        F.when(F.col("rs").isNull(), F.col("cur")).alias("final"),
        F.when(F.col("rs").isNull(), F.col("hops")).cast("bigint")
        .alias("hops"),
        F.when(F.col("rs").isNull(), F.lit("ok")).otherwise(F.lit("cycle"))
        .alias("status"))


# anchor INNER text: href + the text node up to the closing tag.  Kept
# lookaround-free so Java regex (Spark) and RE2 (DuckDB oracle) agree;
# nested markup inside <a> is out of scope for the fixture corpus (a
# production extractor runs after boilerplate.strip_tags).
ANCHOR_TEXT_RE = (r"""(?is)<a\s[^>]*href\s*=\s*["']([^"'#]+)["']"""
                  r"""[^>]*>([^<]*)</a\s*>""")


def anchor_term_counts(pages: DataFrame, html_col: str = "html",
                       url_col: str = "url", top_k: int = 3) -> DataFrame:
    """Per-target anchor-text term profile — the classic web-IR signal
    (anchor text describes the TARGET better than the target's own
    words; Brin & Page 1998 §2.2, and the strongest single feature in
    early TREC web tracks): tokenize every anchor's inner text, resolve
    its href against the source page, count terms per destination url,
    keep each destination's ``top_k`` terms (count desc, term asc — a
    deterministic total order).

    Shape: map-side regex extract + explode (no Python), ONE partial-agg
    count keyed by (dst, term), then a window over the AGGREGATED
    relation — bounded by distinct terms per destination, never by
    anchor volume (the tfidf_terms discipline; a hot destination with
    10^6 in-links still contributes one row per distinct term to the
    window).

    Output: (dst_url, term, n, rank) with rank in 1..top_k.
    """
    from pyspark.sql import Window

    scheme = F.regexp_extract(F.col(url_col),
                              r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(F.col(url_col),
                              r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)", 1)
    hrefs = F.regexp_extract_all(F.col(html_col),
                                 F.lit(ANCHOR_TEXT_RE), 1)
    texts = F.regexp_extract_all(F.col(html_col),
                                 F.lit(ANCHOR_TEXT_RE), 2)
    pairs = pages.select(
        scheme.alias("_scheme"), origin.alias("_origin"),
        F.explode(F.arrays_zip(hrefs.alias("href"),
                               texts.alias("txt"))).alias("a"))
    dst = resolve_href(F.col("a.href"), F.col("_scheme"),
                       F.col("_origin"))
    terms = (pairs.withColumn("dst_url", dst)
             .where(F.col("dst_url").isNotNull())
             .select("dst_url",
                     F.explode(F.filter(
                         F.split(F.lower(F.col("a.txt")), "[^a-z0-9]+"),
                         lambda t: t != "")).alias("term")))
    counts = (terms.groupBy("dst_url", "term")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    w = Window.partitionBy("dst_url").orderBy(
        F.col("n").desc(), F.col("term"))
    return (counts.withColumn("rank", F.row_number().over(w)
                              .cast("bigint"))
            .where(F.col("rank") <= int(top_k)))
