"""Web-crawl gates: URL canonicalization and domains, crawl frontier and
robots rules, HTML extraction and boilerplate, link graphs, IP routing
and sitemaps."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...sources.local import local_relation
from ._common import _hex60_sql, _t, gate


SQL_URL_HOST_STATS = """
WITH pages AS (
  SELECT concat('HTTPS://WWW.', source, '/Doc/',
                CAST(doc_id % 50 AS VARCHAR),
                CASE doc_id % 4
                  WHEN 0 THEN '?utm_source=feed&page=' || CAST(doc_id % 7 AS VARCHAR)
                  WHEN 1 THEN '#sec'
                  WHEN 2 THEN '/'
                  ELSE '?gclid=x&q=' || CAST(doc_id % 5 AS VARCHAR)
                END) AS url,
         text
  FROM documents
),
parts AS (
  SELECT url, text,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', '') AS host,
    regexp_replace(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
    array_to_string(list_filter(
        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=')), '&') AS q
  FROM pages
),
canon AS (
  SELECT host, text,
         scheme || '://' || host || path ||
         CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url
  FROM parts
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM canon GROUP BY host
"""


@gate(SQL_URL_HOST_STATS)
def q_url_host_stats(spark, sf_dir):
    """URL canonicalization + per-host stats (operators/urls.py): derive
    deliberately messy raw URLs (uppercase scheme/host, www, fragments,
    tracking params, trailing slashes, path collisions via doc_id mod 50),
    canonicalize, aggregate per host. The oracle reimplements the
    normalization independently with DuckDB string/list functions."""
    from ...operators import urls

    docs = _t(spark, sf_dir, "documents")
    m4 = F.col("doc_id") % 4
    suffix = (F.when(m4 == 0, F.concat(F.lit("?utm_source=feed&page="),
                                       (F.col("doc_id") % 7).cast("string")))
              .when(m4 == 1, F.lit("#sec"))
              .when(m4 == 2, F.lit("/"))
              .otherwise(F.concat(F.lit("?gclid=x&q="),
                                  (F.col("doc_id") % 5).cast("string"))))
    pages = docs.select(
        F.concat(F.lit("HTTPS://WWW."), F.col("source"), F.lit("/Doc/"),
                 (F.col("doc_id") % 50).cast("string"), suffix).alias("url"),
        "text")
    return urls.host_stats(pages)


SQL_CRAWL_SCHEDULE = """
WITH fr AS (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         source AS host, n_chars AS pr
  FROM documents
),
s AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY pr DESC, url ASC)
              - 1 AS BIGINT) AS seq
  FROM fr
)
SELECT url, host,
  CAST(concat('0x', substr(md5(host), 1, 15)) AS BIGINT) % 8 AS fetcher,
  seq, CAST(seq * 5 AS BIGINT) AS not_before_s
FROM s WHERE seq < 40
"""


@gate(SQL_CRAWL_SCHEDULE)
def q_crawl_schedule(spark, sf_dir):
    """Crawl-frontier politeness planner (operators/frontier.py): derive a
    frontier from documents (host = source, priority = n_chars), plan one
    cycle with 8 fetchers / 5 s per-host delay / per-host budget 40. The
    oracle re-derives the window + md5 routing + budget independently."""
    from ...operators import frontier

    docs = _t(spark, sf_dir, "documents")
    fr = docs.select(
        F.concat(F.lit("https://"), "source", F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("host"),
        F.col("n_chars").alias("pr"))
    return frontier.politeness_schedule(
        fr, n_fetchers=8, delay_s=5, max_per_host=40, priority_col="pr")


SQL_ROBOTS_DECISIONS = """
WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
rules AS (
  SELECT host, false AS allow, '/private' AS prefix FROM hosts
  UNION ALL SELECT host, true, '/private/pub' FROM hosts
  UNION ALL SELECT host, false, '/tmp' FROM hosts
  UNION ALL SELECT host, true, '/doc/7' FROM hosts
  UNION ALL SELECT host, false, '/doc/7' FROM hosts),
pages AS (
  SELECT DISTINCT source AS host,
    CASE doc_id % 5
      WHEN 0 THEN '/doc/' || CAST(doc_id % 50 AS VARCHAR)
      WHEN 1 THEN '/private/' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 2 THEN '/private/pub/' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 3 THEN '/tmp'
      ELSE '/' END AS path
  FROM documents),
m AS (
  SELECT p.host, p.path, r.allow, CAST(length(r.prefix) AS BIGINT) AS l
  FROM pages p JOIN rules r
    ON p.host = r.host AND starts_with(p.path, r.prefix)),
w AS (
  SELECT host, path, allow, l,
         row_number() OVER (PARTITION BY host, path
                            ORDER BY l DESC, allow DESC) AS rn
  FROM m)
SELECT p.host, p.path,
       coalesce(w.allow, true) AS allowed,
       CAST(coalesce(w.l, -1) AS BIGINT) AS rule_len
FROM pages p LEFT JOIN (SELECT * FROM w WHERE rn = 1) w
  ON p.host = w.host AND p.path = w.path
"""


@gate(SQL_ROBOTS_DECISIONS)
def q_robots_decisions(spark, sf_dir):
    """robots.txt evaluation (operators/robots.py, RFC 9309 subset):
    longest-prefix winner, allow beats disallow on equal length (the
    '/doc/7' rule pair tests the tie), unmatched paths allowed. The
    winner is one partial-agg max over an all-integer (length, allow)
    struct — no window; oracle uses an independent window-rank
    formulation."""
    from ...operators import robots as rb

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    path = (F.when(did % 5 == 0,
                   F.concat(F.lit("/doc/"), (did % 50).cast("string")))
            .when(did % 5 == 1,
                  F.concat(F.lit("/private/"), (did % 7).cast("string")))
            .when(did % 5 == 2,
                  F.concat(F.lit("/private/pub/"), (did % 7).cast("string")))
            .when(did % 5 == 3, F.lit("/tmp"))
            .otherwise(F.lit("/")))
    pages = docs.select(F.col("source").alias("host"), path.alias("path")) \
        .distinct()
    hosts = docs.select(F.col("source").alias("host")).distinct()
    rule_set = F.array(
        F.struct(F.lit(False).alias("allow"), F.lit("/private").alias("prefix")),
        F.struct(F.lit(True).alias("allow"), F.lit("/private/pub").alias("prefix")),
        F.struct(F.lit(False).alias("allow"), F.lit("/tmp").alias("prefix")),
        F.struct(F.lit(True).alias("allow"), F.lit("/doc/7").alias("prefix")),
        F.struct(F.lit(False).alias("allow"), F.lit("/doc/7").alias("prefix")))
    rules = (hosts.select("host", F.explode(rule_set).alias("r"))
             .select("host", F.col("r.allow").alias("allow"),
                     F.col("r.prefix").alias("prefix")))
    return rb.robots_decisions(pages, rules)


SQL_BOILERPLATE_STRIP = """
WITH pages AS (
  SELECT doc_id, source,
    concat_ws(chr(10),
      'nav ' || source || ' home about contact',
      text,
      CASE WHEN doc_id % 3 = 0 THEN 'promo ' || source END,
      CASE WHEN doc_id % 4 <> 0 THEN 'subscribe ' || source END,
      'copyright ' || source || ' all rights reserved') AS text
  FROM documents),
lines AS (
  SELECT doc_id, source,
         unnest(string_split(text, chr(10))) AS para,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
  FROM pages),
keyed AS (
  SELECT doc_id, source, pos, para, md5(lower(trim(para))) AS pkey
  FROM lines),
nd AS (SELECT source, count(*) AS n_docs FROM pages GROUP BY source),
pdf AS (
  SELECT source, pkey, count(DISTINCT doc_id) AS df
  FROM keyed GROUP BY source, pkey),
boiler AS (
  SELECT pdf.source, pdf.pkey
  FROM pdf JOIN nd ON pdf.source = nd.source
  WHERE pdf.df >= 2 AND pdf.df * 1000000 >= 500000 * nd.n_docs),
kept AS (
  SELECT k.* FROM keyed k
  LEFT JOIN boiler b ON k.source = b.source AND k.pkey = b.pkey
  WHERE b.pkey IS NULL),
re AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT p.doc_id, p.source,
       md5(coalesce(re.clean_text, '')) AS clean_md5,
       CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(string_split(p.text, chr(10)))
            - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed
FROM pages p LEFT JOIN re ON p.doc_id = re.doc_id
"""


@gate(SQL_BOILERPLATE_STRIP)
def q_boilerplate_strip(spark, sf_dir):
    """CCNet-style per-host boilerplate paragraph removal
    (operators/boilerplate.py): pages are built with four injected
    paragraph tiers per host — nav + copyright in 100% of the host's
    docs, 'subscribe' in 75%, 'promo' in ~33% — around the unique doc
    body. At ratio 50% / min_df 2 the 100%/75% tiers strip, the 33%
    tier and the body survive, in original order. Compared by md5 of
    the rebuilt text; the oracle re-derives df-counting, the integer
    threshold, and ordered reassembly independently in DuckDB."""
    from ...operators import boilerplate as bp

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = F.col("source")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("nav "), src, F.lit(" home about contact")),
        F.col("text"),
        F.when(did % 3 == 0, F.concat(F.lit("promo "), src)),
        F.when(did % 4 != 0, F.concat(F.lit("subscribe "), src)),
        F.concat(F.lit("copyright "), src,
                 F.lit(" all rights reserved")))
    pages = docs.select("doc_id", "source", page.alias("text"))
    out = bp.host_boilerplate_strip(pages, ratio_ppm=500_000, min_df=2)
    return out.select(
        "doc_id", "source", F.md5("clean_text").alias("clean_md5"),
        "n_kept", "n_removed")


SQL_EXTRACT_TEXT = """
WITH pages AS (
  SELECT doc_id, text,
    '<html><head><title>T&amp;C</title><script>if(a<b){s="</p>"}</script>'
    || '<style>p{color:red}</style></head><body><!-- no --><h1>&quot;Doc&quot; '
    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
    || ' &nbsp;&lt;end&gt;</p></body></html>' AS html
  FROM documents
),
ex AS (
  SELECT doc_id, text,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        '&nbsp;', ' '), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text_extracted
  FROM pages
)
SELECT doc_id, text_extracted,
  text_extracted = 'T&C "Doc" ' || CAST(doc_id AS VARCHAR) || ' '
    || trim(regexp_replace(text, '\\s+', ' ', 'g')) || ' <end>' AS matches
FROM ex
"""


@gate(SQL_EXTRACT_TEXT)
def q_extract_text(spark, sf_dir):
    """HTML -> text extraction round-trip (operators/html.py): wrap each
    document's text in a full html page — script with embedded tags and
    ``<`` in code, style, comments, entity-encoded title/heading and an
    ``&nbsp;``/``&lt;``-carrying tail — extract with the pure-Catalyst
    rule chain, and assert byte-identity against the independently
    reconstructed expected text (the BASELINE.json per-row invariant:
    extracted text byte-identical per url/doc). The oracle re-derives
    the entire chain in DuckDB (RE2 (?s)/non-greedy semantics match
    Java's for these patterns)."""
    from ...operators import html as ht

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.lit('<html><head><title>T&amp;C</title>'
              '<script>if(a<b){s="</p>"}</script>'
              '<style>p{color:red}</style></head>'
              '<body><!-- no --><h1>&quot;Doc&quot; '),
        did.cast("string"),
        F.lit('</h1><p>'), F.col("text"),
        F.lit(' &nbsp;&lt;end&gt;</p></body></html>'))
    ex = ht.html_extract_text(page)
    expected = F.concat(
        F.lit('T&C "Doc" '), did.cast("string"), F.lit(" "),
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
        F.lit(" <end>"))
    return docs.select(
        "doc_id", ex.alias("text_extracted"),
        (ex == expected).alias("matches"))


def _psl_rule_values() -> str:
    from ...functions.psl import rules_sql_values
    return rules_sql_values()


SQL_URL_REGISTERED_DOMAIN = f"""
WITH pages AS (
  SELECT CASE doc_id % 5
           WHEN 0 THEN 'https://www.' || h || '/a/' || CAST(doc_id % 3 AS VARCHAR)
           WHEN 1 THEN 'HTTP://' || h || '/b?utm_campaign=x&id=' || CAST(doc_id % 4 AS VARCHAR)
           WHEN 2 THEN h || '/c'
           WHEN 3 THEN 'https://user:pw@' || h || ':8443/d'
           WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 'localhost:8080/x'
                            ELSE 'https://' || h || '/' END
         END AS url
  FROM (SELECT doc_id,
               'site' || CAST(doc_id % 17 AS VARCHAR) ||
               CASE doc_id % 8
                 WHEN 0 THEN '.co.jp' WHEN 1 THEN '.co.uk'
                 WHEN 2 THEN '.com'   WHEN 3 THEN '.chiyoda.tokyo.jp'
                 WHEN 4 THEN '.act.edu.au' WHEN 5 THEN '.foo.ck'
                 WHEN 6 THEN '.www.ck'    ELSE '.github.io'
               END AS h
        FROM documents)
),
parts AS (
  SELECT url,
    regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS has_scheme,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(CASE
        WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
        THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
        ELSE regexp_extract(url, '^([^/?#]+)', 1) END),
        '^www\\.', '') AS auth,
    regexp_replace(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
    array_to_string(list_filter(
        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=')), '&') AS q
  FROM pages
),
hosted AS (
  SELECT *,
    regexp_replace(regexp_replace(regexp_replace(auth,
        '^[^@/]*@', ''), ':[0-9]+$', ''), '^www\\.', '') AS host
  FROM parts
),
rules(kind, suffix) AS (VALUES {_psl_rule_values()}),
rsplit AS (
  SELECT kind, string_split(suffix, '.') AS sl,
         len(string_split(suffix, '.')) AS slen
  FROM rules
),
hsplit AS (
  SELECT host, string_split(host, '.') AS hl, len(string_split(host, '.')) AS hlen
  FROM (SELECT DISTINCT host FROM hosted)
),
-- PSL matching from the rule list: a rule matches when the host ends
-- with its labels (wildcard * consumes exactly one extra label).
-- plen = resulting public-suffix label count; rank makes exceptions
-- prevail over everything, then longest matched suffix wins.
m AS (
  SELECT h.host,
    CASE r.kind WHEN 'exc'  THEN r.slen - 1
                WHEN 'wild' THEN r.slen + 1
                ELSE r.slen END AS plen,
    CASE r.kind WHEN 'exc'  THEN 1000 + r.slen
                WHEN 'wild' THEN r.slen + 1
                ELSE r.slen END AS rank
  FROM hsplit h JOIN rsplit r
    ON h.hlen >= (CASE WHEN r.kind = 'wild' THEN r.slen + 1 ELSE r.slen END)
   AND h.hl[-r.slen:] = r.sl
),
best AS (SELECT host, arg_max(plen, rank) AS plen FROM m GROUP BY host),
dom AS (
  SELECT h.host,
    CASE WHEN h.hlen > coalesce(b.plen, 1)
         THEN array_to_string(h.hl[-(coalesce(b.plen, 1) + 1):], '.')
         ELSE h.host END AS domain
  FROM hsplit h LEFT JOIN best b ON h.host = b.host
),
canon AS (
  SELECT p.host, d.domain,
    CASE WHEN p.has_scheme
         THEN p.scheme || '://' || p.auth || p.path ||
              CASE WHEN p.q <> '' THEN '?' || p.q ELSE '' END
         ELSE p.url END AS canonical_url
  FROM hosted p JOIN dom d ON p.host = d.host
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical
FROM canon GROUP BY domain
"""


@gate(SQL_URL_REGISTERED_DOMAIN)
def q_url_registered_domain(spark, sf_dir):
    """Registered domain with FULL PSL rule semantics (operators/urls.py,
    functions/psl.py — VERDICT r4 #2): fixture hosts exercise two-label
    exact rules (.co.jp, .co.uk), three-label exact rules
    (chiyoda.tokyo.jp — a Tokyo 23-ward geographic suffix; act.edu.au),
    a wildcard TLD (*.ck), the matching exception rule (!www.ck — all
    17 synthetic hosts collapse into ONE domain www.ck), the ICANN-view
    default for a private-section host (github.io), scheme-less URLs,
    userinfo+port authorities (user:pw@host:8443 — ADVICE r4 strip) and
    a dotless localhost:port. The oracle re-derives longest-match +
    exception precedence from the RULE LIST itself via a join-based SQL
    formulation (shared config = the rule list only; the matching logic
    is independent of the Catalyst when-chain)."""
    from ...operators import urls

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m8 = did % 8
    tld = (F.when(m8 == 0, ".co.jp").when(m8 == 1, ".co.uk")
           .when(m8 == 2, ".com").when(m8 == 3, ".chiyoda.tokyo.jp")
           .when(m8 == 4, ".act.edu.au").when(m8 == 5, ".foo.ck")
           .when(m8 == 6, ".www.ck").otherwise(".github.io"))
    host = F.concat(F.lit("site"), (did % 17).cast("string"), tld)
    m5 = did % 5
    url = (F.when(m5 == 0, F.concat(F.lit("https://www."), host,
                                    F.lit("/a/"), (did % 3).cast("string")))
           .when(m5 == 1, F.concat(F.lit("HTTP://"), host,
                                   F.lit("/b?utm_campaign=x&id="),
                                   (did % 4).cast("string")))
           .when(m5 == 2, F.concat(host, F.lit("/c")))      # scheme-less
           .when(m5 == 3, F.concat(F.lit("https://user:pw@"), host,
                                   F.lit(":8443/d")))       # userinfo+port
           .when(did % 2 == 0, F.lit("localhost:8080/x"))   # dotless host
           .otherwise(F.concat(F.lit("https://"), host, F.lit("/"))))
    parts = urls.with_url_parts(docs.select(url.alias("url")))
    return (parts.groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("host").alias("n_hosts"),
                 F.countDistinct("canonical_url").alias("n_canonical")))


SQL_EXTRACT_LINKS = """
WITH pages AS (
  SELECT doc_id,
    'https://site' || CAST(doc_id % 10 AS VARCHAR)
      || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
    '<html><body><a href="https://ex.org/d/'
      || CAST((doc_id * 7) % 997 AS VARCHAR)
      || '">a</a><A HREF=''/p/' || CAST((doc_id * 11) % 997 AS VARCHAR)
      || ''' rel="nofollow">b</A><a class="x" href="//cdn.ex.net/r/'
      || CAST((doc_id * 13) % 997 AS VARCHAR)
      || '">c</a><a href="#frag">d</a><a href="mailto:x@y.z">e</a>'
      || '<a href="rel/path">f</a></body></html>' AS html
  FROM documents),
tags AS (
  SELECT doc_id, url,
         unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*>', 0)) AS tag
  FROM pages),
parsed AS (
  SELECT doc_id, url, tag,
    regexp_extract(tag, '(?i)href\\s*=\\s*["'']([^"''#]+)["'']', 1)
        AS href,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1) AS scheme,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1)
        AS origin
  FROM tags),
resolved AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
         WHEN href LIKE '//%' THEN scheme || ':' || href
         WHEN href LIKE '/%' THEN origin || href
         ELSE NULL END AS dst_url,
    CAST(regexp_matches(tag,
         '(?i)rel\\s*=\\s*["''][^"'']*nofollow[^"'']*["'']')
         AS BIGINT) AS nofollow
  FROM parsed)
SELECT doc_id, dst_url, nofollow FROM resolved WHERE dst_url IS NOT NULL
"""


@gate(SQL_EXTRACT_LINKS)
def q_extract_links(spark, sf_dir):
    """Anchor extraction (operators/links.py): documents wrapped in pages
    carrying six anchor variants — absolute, root-relative
    (single-quoted, uppercase tag, rel=nofollow), protocol-relative,
    fragment-only, mailto:, and dotted-relative (the last three must be
    DROPPED) — extracted and resolved with the pure-Catalyst regex
    chain.  Oracle re-derives tags/href/rel/resolution with DuckDB RE2
    regexes (the patterns avoid lookarounds so the engines agree)."""
    from ...operators import links as lk

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://site"), (did % 10).cast("string"),
                   F.lit(".example.com/page/"), did.cast("string"))
    page = F.concat(
        F.lit('<html><body><a href="https://ex.org/d/'),
        ((did * 7) % 997).cast("string"),
        F.lit('">a</a><A HREF=\'/p/'),
        ((did * 11) % 997).cast("string"),
        F.lit('\' rel="nofollow">b</A><a class="x" href="//cdn.ex.net/r/'),
        ((did * 13) % 997).cast("string"),
        F.lit('">c</a><a href="#frag">d</a>'
              '<a href="mailto:x@y.z">e</a>'
              '<a href="rel/path">f</a></body></html>'))
    pages = docs.select(did.alias("doc_id"), url.alias("url"),
                        page.alias("html"))
    out = lk.extract_links(pages)
    return (pages.select("doc_id", "url").join(out, "url")
            .select("doc_id", "dst_url",
                    F.col("nofollow").cast("int").cast("bigint")
                    .alias("nofollow")))


SQL_INGEST_E2E = """
WITH pages AS (
  SELECT doc_id,
    '<html><head><title>T&amp;C</title><script>if(a<b){s="</p>"}</script>'
    || '<style>p{color:red}</style></head><body><!-- no --><h1>&quot;Doc&quot; '
    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
    || ' &nbsp;&lt;end&gt;</p></body></html>' AS page
  FROM documents),
ex AS (
  SELECT doc_id,
    CAST(octet_length(encode(page)) AS BIGINT) AS content_length,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(page,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        '&nbsp;', ' '), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text
  FROM pages),
f AS (
  SELECT doc_id, content_length,
    CAST(length(text) AS BIGINT) AS ln,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
         AS BIGINT) AS n_alpha,
    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         AS BIGINT) AS n_punct
  FROM ex),
r AS (
  SELECT *,
    CASE WHEN ln > 0 THEN CAST(n_punct AS DOUBLE) / CAST(ln AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE)
                                / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS mean_tok
  FROM f)
SELECT doc_id, content_length, n_tokens,
  CAST(floor(((CASE WHEN ln >= 200 AND ln <= 20000 THEN 0.4 ELSE 0.0 END)
   + (CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END)
   + (CASE WHEN mean_tok >= 3.0 AND mean_tok <= 12.0 THEN 0.3 ELSE 0.0 END))
   * 100 + 0.5) AS BIGINT) AS quality_e2
FROM r
"""


@gate(SQL_INGEST_E2E)
def q_ingest_e2e(spark, sf_dir):
    """End-to-end crawl ingest (sources/warc.py + operators/html.py +
    operators/text.py composed): documents wrapped in full html pages,
    packed into WARC archives (JVM binary fold), re-parsed by the
    Content-Length-driven record parser, payload html re-extracted to
    text, and quality features computed on the EXTRACTED text — the
    whole ingest front of the curation pipeline in one lineage, gate-
    checked against an oracle that composes the same derivations in
    DuckDB.  Proves the stages compose losslessly, not just pass alone."""
    from ...operators import html as ht
    from ...operators import text as tx
    from ...sources import warc as wc

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.lit('<html><head><title>T&amp;C</title>'
              '<script>if(a<b){s="</p>"}</script>'
              '<style>p{color:red}</style></head>'
              '<body><!-- no --><h1>&quot;Doc&quot; '),
        did.cast("string"),
        F.lit('</h1><p>'), F.col("text"),
        F.lit(' &nbsp;&lt;end&gt;</p></body></html>'))
    pages = docs.select("doc_id", page.alias("page"))
    files = wc.synth_warc_files(pages, docs_per_file=100, text_col="page")
    parsed = wc.parse_warc_records(files)
    ex = ht.html_extract_text(F.decode(F.col("payload"), "UTF-8"))
    feats = tx.quality_score(parsed.select(
        F.regexp_extract("url", r"doc/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        "content_length", ex.alias("text")))
    return feats.select(
        "doc_id", "content_length", "n_tokens",
        F.floor(F.col("quality") * 100 + F.lit(0.5)).cast("bigint")
        .alias("quality_e2"))


SQL_URL_TEMPLATES = """
WITH raw AS (
  SELECT source AS host,
         CASE doc_id % 5
           WHEN 0 THEN '/post/' || CAST(doc_id % 97 AS VARCHAR) || '/'
                       || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16)
                       || '/view'
           WHEN 1 THEN '/cal/2024/' || CAST(doc_id % 12 + 1 AS VARCHAR)
                       || '/' || CAST(doc_id % 28 + 1 AS VARCHAR)
           WHEN 2 THEN '/About/Team'
           WHEN 3 THEN '/p/' || CAST(doc_id % 1000 AS VARCHAR)
           ELSE '/tag/t' || CAST(doc_id % 7 AS VARCHAR)
         END AS path
  FROM documents),
t AS (
  SELECT host, path,
         list_transform(
           list_filter(string_split(path, '/'), x -> x <> ''),
           x -> CASE
                  WHEN regexp_full_match(x, '[0-9]+') THEN '{n}'
                  WHEN regexp_full_match(x, '[0-9a-fA-F]{8,}') THEN '{h}'
                  ELSE x END) AS segs
  FROM raw)
SELECT host, '/' || array_to_string(segs, '/') AS template,
       CAST(len(segs) AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT 'https://' || host || path) AS BIGINT)
           AS n_distinct_urls
FROM t
GROUP BY 1, 2, 3
"""


@gate(SQL_URL_TEMPLATES)
def q_url_templates(spark, sf_dir):
    """URL path-template mining (urls.url_template_stats): digit
    segments -> "{n}", long hex segments (ids/hashes) -> "{h}",
    aggregate per (host, template) — the crawler-trap / infinite-URL-
    space detector. Fixture URLs mix date paths, 16-hex content ids,
    mixed-case static segments (case must survive), and small tag
    vocabularies. The oracle re-derives the path from doc_id and
    templates it with DuckDB list functions — independent of the
    engine's regex path extraction."""
    from ...operators import urls

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m5 = did % 5
    path = (F.when(m5 == 0,
                   F.concat(F.lit("/post/"), (did % 97).cast("string"),
                            F.lit("/"),
                            F.substring(F.md5(did.cast("string")), 1, 16),
                            F.lit("/view")))
            .when(m5 == 1,
                  F.concat(F.lit("/cal/2024/"),
                           (did % 12 + 1).cast("string"), F.lit("/"),
                           (did % 28 + 1).cast("string")))
            .when(m5 == 2, F.lit("/About/Team"))
            .when(m5 == 3,
                  F.concat(F.lit("/p/"), (did % 1000).cast("string")))
            .otherwise(F.concat(F.lit("/tag/t"),
                                (did % 7).cast("string"))))
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), path).alias("url"))
    return urls.url_template_stats(pages)


SQL_RECRAWL_PRIORITY = """
WITH starts AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id,
         [CAST(doc_id % 50 AS BIGINT)]
         || (CASE WHEN doc_id % 3 = 0
                  THEN [CAST(100 + doc_id % 20 AS BIGINT)] ELSE [] END)
         || (CASE WHEN doc_id % 9 = 0
                  THEN [CAST(150 + doc_id % 10 AS BIGINT)] ELSE [] END)
           AS st
  FROM documents
),
vers AS (
  SELECT url, doc_id, st[CAST(i AS INT)] AS valid_from,
         CASE WHEN i < len(st) THEN st[CAST(i + 1 AS INT)]
              WHEN doc_id % 13 = 0 THEN CAST(190 AS BIGINT)
              ELSE NULL END AS valid_to
  FROM starts, UNNEST(range(1, len(st) + 1)) AS u(i)
),
per AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_versions,
         CAST(min(valid_from) AS BIGINT) AS first_seen,
         CAST(max(valid_from) AS BIGINT) AS last_change,
         count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_open
  FROM vers GROUP BY 1
)
SELECT url, n_versions, last_change,
       CASE WHEN 200 - first_seen > 0
            THEN CAST((n_versions - 1) * (200 - last_change) * 1000000
                      // (200 - first_seen) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS priority_micro
FROM per WHERE n_open > 0
"""


@gate(SQL_RECRAWL_PRIORITY)
def q_recrawl_priority(spark, sf_dir):
    """Change-frequency recrawl prioritization (frontier.recrawl_priority)
    over a synthesized SCD2 history: every doc has a v0 at doc_id % 50;
    % 3 == 0 docs changed at 100 + doc_id % 20; % 9 == 0 changed again at
    150 + doc_id % 10; % 13 == 0 pages died at 190 (closed, excluded).
    Decision time now = 200.  Integer-exact expected-unseen-changes
    priority; oracle re-derives history AND priority from the same
    rules."""
    from ...operators import frontier as fr

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit("/doc/"), F.col("doc_id").cast("string"))
    starts = F.expr(
        "concat(array(CAST(doc_id % 50 AS BIGINT)), "
        " CASE WHEN doc_id % 3 = 0 THEN array(CAST(100 + doc_id % 20 AS BIGINT)) "
        "      ELSE array() END, "
        " CASE WHEN doc_id % 9 = 0 THEN array(CAST(150 + doc_id % 10 AS BIGINT)) "
        "      ELSE array() END)")
    vers = (docs.select(url.alias("url"), F.col("doc_id"),
                        starts.alias("_st"))
            .select("url", "doc_id",
                    F.posexplode(F.expr(
                        "transform(_st, (s, i) -> struct("
                        " s AS vf, "
                        " CASE WHEN i < size(_st) - 1 THEN element_at(_st, i + 2) "
                        "      WHEN doc_id % 13 = 0 THEN CAST(190 AS BIGINT) "
                        "      ELSE CAST(NULL AS BIGINT) END AS vt))"))
                    .alias("_i", "_v"))
            .select("url",
                    F.md5(F.concat(F.col("url"), F.lit(" v"),
                                   F.col("_i").cast("string")))
                    .alias("fingerprint"),
                    F.col("_v.vf").alias("valid_from"),
                    F.col("_v.vt").alias("valid_to")))
    return fr.recrawl_priority(vers, now=200)


SQL_RESOLVE_REDIRECTS = """
WITH RECURSIVE e AS (
  SELECT doc_id AS src,
         CAST(CASE WHEN doc_id % 17 = 0 THEN doc_id + 1
                   WHEN doc_id % 17 = 1 THEN doc_id - 1
                   ELSE doc_id // 2 END AS BIGINT) AS dst
  FROM documents
  WHERE NOT (doc_id % 17 >= 2 AND doc_id % 5 = 0)),
nn AS (SELECT count(*) AS cnt FROM e),
walk AS (
  SELECT src AS src0, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
  UNION ALL
  SELECT w.src0, e.dst, w.hops + 1
  FROM walk w JOIN e ON w.cur = e.src
  WHERE w.hops <= (SELECT cnt FROM nn)),
fin AS (
  SELECT src0, cur, hops FROM walk
  WHERE cur NOT IN (SELECT src FROM e))
SELECT e.src, f.cur AS final, f.hops AS hops,
       CASE WHEN f.src0 IS NULL THEN 'cycle' ELSE 'ok' END AS status
FROM e LEFT JOIN fin f ON e.src = f.src0
"""


@gate(SQL_RESOLVE_REDIRECTS)
def q_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution (links.resolve_redirects): pointer
    doubling over a synthetic functional redirect graph — doc i%17==0/1
    form 2-cycles (i<->i+1), other docs redirect to i div 2 unless
    i%5==0 (terminal, no out-edge), so chains mix clean terminations,
    hops through intermediate redirects, and descents into the 0<->1
    cycle. Oracle = recursive-CTE walk with an n-hop guard (a chain
    longer than n nodes is impossible, so no terminal within n hops
    proves a cycle)."""
    from ...operators import links as lk

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    r = i % 17
    edges = (docs.where(~((r >= 2) & (i % 5 == 0)))
             .select(i.alias("src"),
                     F.when(r == 0, i + 1)
                     .when(r == 1, i - 1)
                     .otherwise(F.expr("doc_id div 2")).alias("dst")))
    return lk.resolve_redirects(edges)


def _sql_hrw_routing() -> str:
    w = _hex60_sql("concat(key, '|hrw|', CAST(node AS STRING))")
    return f"""
WITH k AS MATERIALIZED (
  SELECT concat('doc-', CAST(doc_id AS STRING)) AS key FROM documents),
w8 AS (SELECT key, node, {w} AS w
       FROM k CROSS JOIN (SELECT range AS node FROM range(8))),
a8 AS (SELECT key, node AS node8 FROM (
  SELECT key, node, row_number() OVER (
    PARTITION BY key ORDER BY w DESC, node) AS rn FROM w8) WHERE rn = 1),
w9 AS (SELECT key, node, {w} AS w
       FROM k CROSS JOIN (SELECT range AS node FROM range(9))),
a9 AS (SELECT key, node AS node9 FROM (
  SELECT key, node, row_number() OVER (
    PARTITION BY key ORDER BY w DESC, node) AS rn FROM w9) WHERE rn = 1)
SELECT a8.key, CAST(node8 AS BIGINT) AS node8,
       CAST(node9 AS BIGINT) AS node9, node8 <> node9 AS moved
FROM a8 JOIN a9 ON a8.key = a9.key
"""


@gate(_sql_hrw_routing())
def q_hrw_routing(spark, sf_dir):
    """Rendezvous (HRW) shard routing (frontier.hrw_route): every doc
    key routed under an 8-node and a 9-node cluster; ``moved`` marks
    keys whose owner changed. The consistency property (a moved key
    can ONLY land on the new node 8 — survivors never reshuffle among
    themselves) is pinned by pytest; the oracle recomputes both argmax
    assignments from the same md5 weights."""
    from ...operators import frontier as fr

    docs = _t(spark, sf_dir, "documents")
    keys = docs.select(F.concat(F.lit("doc-"),
                                F.col("doc_id").cast("string")).alias("key"))
    a8 = fr.hrw_route(keys, 8).withColumnRenamed("node", "node8")
    a9 = fr.hrw_route(keys, 9).withColumnRenamed("node", "node9")
    return (a8.join(a9, "key")
            .select("key", "node8", "node9",
                    (F.col("node8") != F.col("node9")).alias("moved")))


SQL_HTML_DEPTH = """
WITH pages AS (
  SELECT doc_id,
         '<html><body>' || repeat('<div>', CAST(doc_id % 5 AS INT))
         || text || repeat('</div>', CAST(doc_id % 5 AS INT))
         || '</body></html>' AS page
  FROM documents),
tg AS (SELECT doc_id,
              regexp_extract_all(page, '</?[a-z][a-z0-9]*[^>]*>', 0) AS tags
       FROM pages),
ex AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
              CASE WHEN tags[i+1] LIKE '</%' THEN -1 ELSE 1 END AS delta
       FROM tg, UNNEST(range(len(tags))) AS u(i)),
cum AS (SELECT doc_id,
               sum(delta) OVER (PARTITION BY doc_id ORDER BY i) AS depth
        FROM ex),
mx AS (SELECT doc_id, max(depth) AS md FROM cum GROUP BY 1)
SELECT t.doc_id, CAST(len(t.tags) AS BIGINT) AS n_tags,
       CAST(GREATEST(coalesce(m.md, 0), 0) AS BIGINT) AS max_depth
FROM tg t LEFT JOIN mx m USING (doc_id)
"""


@gate(SQL_HTML_DEPTH)
def q_html_depth(spark, sf_dir):
    """Max DOM nesting depth per page (html.html_tag_depth): the depth
    prefix-scan runs INSIDE the tag array via one higher-order aggregate
    fold — a sequential per-doc scan as a map-side Catalyst projection,
    zero shuffle. Fixture wraps each doc in doc_id%5 nested divs so
    depths vary 2..6. Oracle unnests the same tag stream and replays the
    scan as a window cumulative sum + max (independent formulation)."""
    from ...operators import html as ht

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><body>"),
        F.expr("repeat('<div>', CAST(doc_id % 5 AS INT))"),
        F.col("text"),
        F.expr("repeat('</div>', CAST(doc_id % 5 AS INT))"),
        F.lit("</body></html>"))
    pages = docs.select("doc_id", page.alias("html"))
    return (ht.html_tag_depth(pages)
            .select("doc_id", "n_tags", "max_depth"))


# Wave 29 — CIDR longest-prefix routing fixture: nested prefixes exercise
# every cascade branch (a /5 supernet over a /6 over a /8 over a /15; a
# /8 -> /9 -> /18 chain; a /8 -> /16 -> /24 chain; four first octets
# deliberately uncovered so the unrouted LEFT path provably fires).
# Shared config between engines (the PSL-gate pattern); the ORACLE
# re-derives matching from RANGE CONTAINMENT + max-plen — an independent
# formulation of the rule, so a shift/key bug on the Spark side fails.
_CIDR_PREFIXES: list[tuple[int, int, int, int, int, str]] = [
    (1, 0, 0, 0, 8, "net-a"),
    (1, 128, 0, 0, 9, "net-a-hi"),
    (1, 128, 64, 0, 18, "net-a-deep"),
    (2, 0, 0, 0, 7, "net-b"),
    (5, 0, 0, 0, 8, "net-c"),
    (5, 37, 0, 0, 16, "net-c-16"),
    (5, 37, 129, 0, 24, "net-c-24"),
    (8, 0, 0, 0, 5, "net-wide"),
    (12, 0, 0, 0, 6, "net-mid"),
    (14, 0, 0, 0, 8, "net-deep8"),
    (14, 214, 0, 0, 15, "net-deep15"),
]


# deterministic server IP per doc: 32-bit md5 slice, first octet folded
# into 1..16 so every prefix branch (and the unrouted gaps) gets traffic
_CIDR_H = ("CAST(conv(substring(md5(concat('ip', CAST(doc_id AS STRING))),"
           " 1, 8), 16, 10) AS BIGINT)")


_CIDR_H_SQL = ("CAST(concat('0x', substr(md5(concat('ip',"
               " CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)")


SQL_CIDR_LPM = f"""
WITH ips AS (
  SELECT doc_id,
         (1 + (({_CIDR_H_SQL}) // 16777216) % 16) * 16777216
           + ({_CIDR_H_SQL}) % 16777216 AS ip
  FROM documents),
pfx AS (SELECT * FROM (VALUES
  {", ".join(f"({o1 * 16777216 + o2 * 65536 + o3 * 256 + o4}, {plen},"
             f" '{label}')"
             for o1, o2, o3, o4, plen, label in _CIDR_PREFIXES)}
) AS t(net, plen, label)),
rng AS (SELECT net AS lo,
               net + (CAST(1 AS BIGINT) << (32 - plen)) - 1 AS hi,
               plen, label
        FROM pfx),
m AS (SELECT i.doc_id, r.plen, r.label,
             row_number() OVER (PARTITION BY i.doc_id
                                ORDER BY r.plen DESC) AS rn
      FROM ips i JOIN rng r ON i.ip BETWEEN r.lo AND r.hi)
SELECT i.doc_id, i.ip,
       CAST(coalesce(m.plen, -1) AS BIGINT) AS plen,
       coalesce(m.label, 'unrouted') AS label
FROM ips i LEFT JOIN m ON m.doc_id = i.doc_id AND m.rn = 1
"""


@gate(SQL_CIDR_LPM)
def q_cidr_lpm(spark, sf_dir):
    """CIDR longest-prefix-match enrichment (network.lpm_join): every
    doc's deterministic server IP routed to its most-specific covering
    prefix via one broadcast hash probe per prefix length, folded
    longest-first (the PSL per-label cascade in the bit domain — zero
    shuffle, zero fan-out). Oracle: range-containment join (ip BETWEEN
    lo AND hi) + max-plen window — independent matching semantics."""
    from ...operators import network as nw

    docs = _t(spark, sf_dir, "documents")
    ips = docs.selectExpr(
        "doc_id",
        f"(1 + (({_CIDR_H}) div 16777216) % 16) * 16777216"
        f" + ({_CIDR_H}) % 16777216 AS ip")
    pfx = local_relation(
        spark,
        [(o1 * 16777216 + o2 * 65536 + o3 * 256 + o4, plen, label)
         for o1, o2, o3, o4, plen, label in _CIDR_PREFIXES],
        "net bigint, plen int, label string")
    out = nw.lpm_join(ips, pfx, "ip", ["label"])
    return out.select(
        "doc_id", "ip",
        F.coalesce(F.col("matched_plen").cast("bigint"), F.lit(-1))
        .alias("plen"),
        F.coalesce(F.col("label"), F.lit("unrouted")).alias("label"))


SQL_ANCHOR_TERMS = """
WITH pages AS (
  SELECT
    'https://site' || CAST(doc_id % 10 AS VARCHAR)
      || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
    '<html><a href="https://hub.example.com/t/'
      || CAST(doc_id % 7 AS VARCHAR)
      || '">w' || CAST((doc_id * 3) % 17 AS VARCHAR)
      || ' w' || CAST((doc_id * 5) % 17 AS VARCHAR)
      || '</a><A HREF=''/local/' || CAST(doc_id % 5 AS VARCHAR)
      || '''>w' || CAST((doc_id * 7) % 17 AS VARCHAR)
      || '!</A><a href="#skip">w99</a>'
      || '<a href="mailto:x@y.z">w98</a></html>' AS html
  FROM documents),
anch AS (
  SELECT url,
    unnest(regexp_extract_all(html,
      '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"''#]+)["''][^>]*>([^<]*)</a\\s*>',
      1)) AS href,
    unnest(regexp_extract_all(html,
      '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"''#]+)["''][^>]*>([^<]*)</a\\s*>',
      2)) AS txt
  FROM pages),
res AS (
  SELECT CASE
           WHEN regexp_matches(href, '(?i)^https?://') THEN href
           WHEN href LIKE '//%' THEN
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)
             || ':' || href
           WHEN href LIKE '/%' THEN
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1)
             || href
         END AS dst_url, txt
  FROM anch),
terms AS (
  SELECT dst_url,
         unnest(regexp_split_to_array(lower(txt), '[^a-z0-9]+')) AS term
  FROM res WHERE dst_url IS NOT NULL),
counts AS (
  SELECT dst_url, term, CAST(count(*) AS BIGINT) AS n
  FROM terms WHERE term <> '' GROUP BY 1, 2)
SELECT dst_url, term, n,
       CAST(row_number() OVER (PARTITION BY dst_url
                               ORDER BY n DESC, term) AS BIGINT) AS rank
FROM counts
QUALIFY row_number() OVER (PARTITION BY dst_url
                           ORDER BY n DESC, term) <= 3
"""


@gate(SQL_ANCHOR_TERMS)
def q_anchor_terms(spark, sf_dir):
    """Anchor-text target profiles (links.anchor_term_counts): per-
    destination top-3 anchor terms over pages carrying absolute,
    root-relative (uppercase, single-quoted), fragment-only (never
    extracted) and mailto (resolved to NULL, dropped) anchors with
    punctuated inner text. Oracle re-derives extraction with DuckDB's
    zipped parallel unnest + an independent window rank."""
    from ...operators import links as lk

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://site"), (did % 10).cast("string"),
                   F.lit(".example.com/page/"), did.cast("string"))
    page = F.concat(
        F.lit('<html><a href="https://hub.example.com/t/'),
        (did % 7).cast("string"),
        F.lit('">w'), ((did * 3) % 17).cast("string"),
        F.lit(" w"), ((did * 5) % 17).cast("string"),
        F.lit("</a><A HREF='/local/"), (did % 5).cast("string"),
        F.lit("'>w"), ((did * 7) % 17).cast("string"),
        F.lit('!</A><a href="#skip">w99</a>'
              '<a href="mailto:x@y.z">w98</a></html>'))
    pages = docs.select(url.alias("url"), page.alias("html"))
    return lk.anchor_term_counts(pages, top_k=3)


SQL_SITEMAP_PARSE = """
WITH sm AS (
  SELECT
    'https://s' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/sitemap_'
      || CAST(doc_id AS VARCHAR) || '.xml' AS sitemap_url,
    '<?xml version="1.0"?><urlset><url><loc> https://s'
      || CAST(doc_id % 10 AS VARCHAR) || '.example.com/p/'
      || CAST(doc_id AS VARCHAR) || ' </loc><lastmod>2024-01-'
      || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
      || '</lastmod><priority>0.' || CAST(doc_id % 10 AS VARCHAR)
      || '</priority></url>' || chr(10) || '<url>' || chr(10)
      || '<loc>https://s' || CAST(doc_id % 10 AS VARCHAR)
      || '.example.com/alt/' || CAST(doc_id AS VARCHAR)
      || '</loc>' || chr(10)
      || '</url><url><priority>0.9</priority></url></urlset>' AS xml
  FROM documents),
blk AS (
  SELECT sitemap_url,
         unnest(regexp_extract_all(xml, '(?is)<url\\s*>.*?</url\\s*>', 0))
             AS b
  FROM sm),
fld AS (
  SELECT sitemap_url,
    regexp_extract(b, '(?is)<loc\\s*>\\s*([^<\\s][^<]*?)\\s*</loc\\s*>', 1)
        AS loc,
    regexp_extract(b,
        '(?is)<lastmod\\s*>\\s*([^<\\s][^<]*?)\\s*</lastmod\\s*>', 1)
        AS lastmod,
    regexp_extract(b, '(?is)<priority\\s*>\\s*([0-9.]+)\\s*</priority\\s*>',
        1) AS prio
  FROM blk)
SELECT sitemap_url, loc,
       nullif(lastmod, '') AS lastmod,
       CAST(CASE WHEN prio <> ''
                 THEN floor(CAST(prio AS DOUBLE) * 1000.0 + 0.5)
                 ELSE 500 END AS BIGINT) AS priority_pm
FROM fld WHERE loc <> ''
"""


@gate(SQL_SITEMAP_PARSE)
def q_sitemap_parse(spark, sf_dir):
    """Sitemap protocol parsing (frontier.sitemap_entries): per-document
    synthetic sitemaps carry one full <url> block (loc + lastmod +
    priority), one minimal block (defaults: NULL lastmod, priority 500)
    and one malformed block with no <loc> (dropped per protocol).
    Oracle re-derives blocks/fields with DuckDB RE2 regexes and the
    shared priority quantization."""
    from ...operators import frontier as fr

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sm_url = F.concat(F.lit("https://s"), (did % 10).cast("string"),
                      F.lit(".example.com/sitemap_"), did.cast("string"),
                      F.lit(".xml"))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://s'),
        (did % 10).cast("string"),
        F.lit(".example.com/p/"), did.cast("string"),
        F.lit(" </loc><lastmod>2024-01-"),
        F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url>\n<url>\n<loc>https://s"),
        (did % 10).cast("string"),
        F.lit(".example.com/alt/"), did.cast("string"),
        F.lit("</loc>\n</url><url><priority>0.9</priority></url>"
              "</urlset>"))
    sitemaps = docs.select(sm_url.alias("sitemap_url"), xml.alias("xml"))
    return fr.sitemap_entries(sitemaps)


SQL_TRACKING_PARAMS = """
WITH pages AS (
  SELECT 'https://s' || CAST(doc_id % 10 AS VARCHAR)
         || '.example.com/p?id=' || CAST(doc_id AS VARCHAR)
         || '&utm_source=src' || CAST(doc_id % 3 AS VARCHAR)
         || '&ref=' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         || CASE WHEN doc_id % 2 = 0
                 THEN '&page=' || CAST(doc_id % 5 AS VARCHAR)
                 ELSE '' END AS url
  FROM documents),
kv AS (
  SELECT regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
             AS h,
         split_part(u.p, '=', 1) AS k,
         substr(u.p, length(split_part(u.p, '=', 1)) + 2) AS v
  FROM pages,
       UNNEST(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'))
           AS u(p)
  WHERE u.p <> '')
SELECT k AS param, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT h) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT v) AS BIGINT) AS n_values,
       CAST(CASE WHEN count(DISTINCT h) >= 3
                  AND count(DISTINCT v) >= 20 THEN 1 ELSE 0 END AS INT)
           AS tracking
FROM kv GROUP BY 1
"""


@gate(SQL_TRACKING_PARAMS)
def q_tracking_params(spark, sf_dir):
    """Tracking-param detection (urls.query_param_stats): synthetic
    urls carry a high-cardinality cross-host 'ref' hash (flagged), a
    3-value 'utm_source', a 5-value 'page' and a per-doc 'id' confined
    by cardinality rules. Oracle re-parses with split_part and its own
    distincts."""
    from ...operators import urls as ur

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://s"), (did % 10).cast("string"),
        F.lit(".example.com/p?id="), did.cast("string"),
        F.lit("&utm_source=src"), (did % 3).cast("string"),
        F.lit("&ref="), F.substring(F.md5(did.cast("string")), 1, 12),
        F.when(did % 2 == 0,
               F.concat(F.lit("&page="), (did % 5).cast("string")))
        .otherwise(F.lit("")))
    pages = docs.select(url.alias("url"))
    return ur.query_param_stats(pages, min_hosts=3, min_ndv=20)
