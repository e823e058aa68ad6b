"""HTML -> text extraction for the Common-Crawl-style pages table.

BASELINE.json's per-row invariant is "byte-identical extracted text per
url vs the reference": the extraction must be a DETERMINISTIC pure
function of the html bytes, stable across engines, partitionings and
reruns — which rules out heuristic readability-style extractors and
means the rule set itself is the spec. The rules here are the common
normalization core every crawl text-extractor shares:

  1. drop ``<script>`` / ``<style>`` element CONTENT wholesale
     (their bodies are code, not text — and may contain ``<`` that
     would corrupt naive tag stripping);
  2. drop HTML comments ``<!-- ... -->``;
  3. strip all remaining tags;
  4. decode the basic entities (``&lt; &gt; &quot; &#39; &nbsp;`` and
     ``&amp;`` LAST, so ``&amp;lt;`` decodes to the literal ``&lt;`` —
     single-pass decode, the standard non-recursive rule);
  5. collapse whitespace runs to single spaces and trim.

Every step is a regex/replace expressible identically in Spark (Java
regex) and DuckDB (RE2) — ``(?s)`` dotall + non-greedy ``.*?`` behave
the same — so the driver's SQL oracle can re-derive the whole chain.

Two deployment shapes, mirroring operators/geocode.py:

* ``html_extract_text`` — pure Catalyst (JVM codegen, zero Python): the
  production path; at 10^12 rows this runs inside the scan's
  WholeStageCodegen with no serialization.
* ``html_extract_text_pandas`` — Arrow-batched pandas UDF applying the
  same rules with Python ``re``: the extension template for when a real
  extractor outgrows regex (DOM parse, boilerplate removal); pytest
  asserts it byte-matches the Catalyst path on the fixtures.

Reference parity: the reference engine parses CityGML XML into entities
(nusamai/src/source/citygml.rs:50-177); this module is the web-pages
analog of that "markup in, structured content out" stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (pattern, replacement) applied in order; identical in Java regex / RE2
_BLOCK_RULES: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
)
# plain-string entity decodes; &amp; LAST (single-pass, non-recursive)
_ENTITY_RULES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),
)


def html_extract_text(html: Column) -> Column:
    """Extracted text as a pure-Catalyst expression. ``html`` may be
    BINARY (UTF-8 decoded via cast) or STRING."""
    out = html.cast("string")
    for pat, rep in _BLOCK_RULES:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in _ENTITY_RULES:
        # literal replace, not regex (entity strings contain no
        # metacharacters, but keep intent explicit)
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_extract_text_pandas(df: DataFrame, html_col: str = "html",
                             out_col: str = "text_extracted") -> DataFrame:
    """Arrow-batched pandas-UDF variant of the same rule set — the
    template for extractors that outgrow regex. Byte-identical to
    ``html_extract_text`` (pytest-asserted)."""
    import re

    from pyspark.sql.functions import pandas_udf

    block = [(re.compile(p), r) for p, r in _BLOCK_RULES]

    # no type hints: `pd` is module-local here, so string annotations
    # don't resolve for eval-type inference — the decorator's returnType
    # + default SCALAR (series -> series) eval type is what we want
    @pandas_udf("string")
    def _extract(s):
        def one(v):
            if v is None:
                return None
            t = v.decode("utf-8") if isinstance(v, (bytes, bytearray)) \
                else str(v)
            for pat, rep in block:
                t = pat.sub(rep, t)
            for ent, ch in _ENTITY_RULES:
                t = t.replace(ent, ch)
            return re.sub(r"\s+", " ", t).strip()
        return s.map(one)

    return df.withColumn(out_col, _extract(F.col(html_col)))


def html_tag_depth(df: DataFrame, html_col: str = "html",
                   out_col: str = "max_depth") -> DataFrame:
    """Maximum tag-nesting depth per page — the classic DOM-complexity /
    template-vs-content structural signal (deep nesting ⇒ boilerplate
    scaffolding; quality filters cut on it alongside text ratios).

    Computed WITHOUT a shuffle or Python: extract the tag stream with
    one regexp_extract_all, then run the depth prefix-scan INSIDE the
    array with a single higher-order ``aggregate`` fold — accumulator
    (depth, max_depth), +1 on an open tag, −1 on a close tag.  A
    sequential per-document scan expressed as a map-side Catalyst
    expression: the whole operator is one projection, embarrassingly
    parallel over 10^12 pages.  The max starts at 0, so a pathological
    page whose prefix never goes positive reports 0 (the oracle mirrors
    with GREATEST(…, 0)).  Self-closing/void tags count as opens (the
    fixture chain never emits them; real HTML5 handling would extend
    the close-tag predicate — documented, not silently wrong).

    Output adds (n_tags, max_depth) as bigints.
    """
    step = ("CASE WHEN t LIKE '</%' THEN CAST(-1 AS BIGINT) "
            "ELSE CAST(1 AS BIGINT) END")
    fold = F.expr(
        "aggregate(__tags, "
        "named_struct('d', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT)), "
        f"(acc, t) -> named_struct('d', acc.d + ({step}), "
        f"'m', greatest(acc.m, acc.d + ({step}))), "
        "acc -> acc.m)")
    return (df.withColumn(
                "__tags",
                F.expr(f"regexp_extract_all({html_col}, "
                       "'</?[a-z][a-z0-9]*[^>]*>', 0)"))
            .withColumn("n_tags", F.size("__tags").cast("bigint"))
            .withColumn(out_col, fold)
            .drop("__tags"))
