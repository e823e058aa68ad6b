"""Public-suffix rules for registered-domain extraction — full PSL
semantics over a trimmed snapshot.

The Public Suffix List (publicsuffix.org, Mozilla, MIT-licensed public
data) is the standard answer to "which part of a host is the registrable
domain". Its rule grammar (https://publicsuffix.org/list/) has three rule
kinds, and all three appear in real crawl-relevant sections:

* exact rules (``co.jp``, ``act.edu.au``, ``chiyoda.tokyo.jp``) — the
  public suffix is the rule itself;
* wildcard rules (``*.ck``, ``*.sch.uk``, ``*.kawasaki.jp``) — ``*``
  matches exactly ONE label, so the public suffix is one label longer
  than the rule's base;
* exception rules (``!www.ck``, ``!city.kawasaki.jp``) — override any
  other matching rule; the public suffix is the rule minus its leftmost
  label.

Matching algorithm (spec): among all matching rules, an exception rule
prevails outright; otherwise the longest match prevails; with no match
the prevailing rule is ``*`` (every bare TLD is a public suffix). The
registered (registrable) domain is the public suffix plus one more
label; a host that IS a public suffix has none (this module falls back
to the host itself so the column stays total).

This module bundles a TRIMMED snapshot of the ICANN section: the
two-label ccTLD families that dominate web crawls, the 47 Japanese
prefecture suffixes plus the Tokyo 23-ward and designated-city
geographic rules (directly relevant to a tokyo23-ku corpus), the
Australian state edu/gov third-level rules, and the wildcard/exception
TLD families. The full list is ~9500 rules; swapping it in is a data
refresh (``parse_rules`` accepts the raw PSL line format), not a code
change. Deployment shapes:

* ``plateau_gis_converter_spark.operators.urls.registered_domain`` —
  the snapshot compiled into Catalyst ``IN`` sets (InSet: JVM-side hash
  probe, zero shuffle, zero Python), the right shape for a frozen
  bundled list. Expression built by ``registered_domain_col`` below.
* ``registered_domain_join`` — per-rule-shape broadcast joins against a
  runtime-supplied rule table (e.g. the full PSL loaded from parquet),
  the right shape when the list must be updatable without a code
  deploy. Handles exact/wildcard/exception rules of any label count.

Both produce identical results on any shared rule list. Reference
parity: the reference engine has no URL layer; this is engine-addition
surface (SURVEY.md §2 training-data pipeline block), VERDICT r4
next-round #2.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_relation

# ICANN-section two-label public suffixes, trimmed to high-crawl-volume
# ccTLDs (snapshot of publicsuffix.org; public data).
MULTIPART_SUFFIXES: tuple[str, ...] = (
    # .jp organizational
    "ac.jp", "ad.jp", "co.jp", "ed.jp", "go.jp", "gr.jp", "lg.jp",
    "ne.jp", "or.jp",
    # .uk (schools are *.sch.uk — a wildcard, not an exact rule; see
    # WILDCARD_RULES)
    "ac.uk", "co.uk", "gov.uk", "ltd.uk", "me.uk", "net.uk", "nhs.uk",
    "org.uk", "plc.uk",
    # .au
    "asn.au", "com.au", "edu.au", "gov.au", "id.au", "net.au", "org.au",
    # .nz
    "ac.nz", "co.nz", "geek.nz", "gen.nz", "govt.nz", "iwi.nz",
    "maori.nz", "net.nz", "org.nz", "school.nz",
    # .br
    "art.br", "com.br", "edu.br", "eng.br", "gov.br", "ind.br",
    "inf.br", "mil.br", "net.br", "org.br", "rec.br", "srv.br", "tur.br",
    # .kr
    "ac.kr", "co.kr", "go.kr", "hs.kr", "mil.kr", "ms.kr", "ne.kr",
    "or.kr", "pe.kr", "re.kr", "sc.kr",
    # .cn
    "ac.cn", "com.cn", "edu.cn", "gov.cn", "mil.cn", "net.cn", "org.cn",
    # .tw
    "club.tw", "com.tw", "edu.tw", "game.tw", "gov.tw", "idv.tw",
    "mil.tw", "net.tw", "org.tw",
    # .in
    "ac.in", "co.in", "edu.in", "firm.in", "gen.in", "gov.in", "ind.in",
    "mil.in", "net.in", "nic.in", "org.in", "res.in",
    # .za
    "ac.za", "co.za", "edu.za", "gov.za", "law.za", "mil.za", "net.za",
    "org.za", "school.za", "web.za",
    # .mx / .ar
    "com.mx", "edu.mx", "gob.mx", "net.mx", "org.mx",
    "com.ar", "edu.ar", "gob.ar", "gov.ar", "int.ar", "mil.ar",
    "net.ar", "org.ar",
    # .sg / .hk / .my / .id / .th / .vn / .ph
    "com.sg", "edu.sg", "gov.sg", "net.sg", "org.sg",
    "com.hk", "edu.hk", "gov.hk", "idv.hk", "net.hk", "org.hk",
    "com.my", "edu.my", "gov.my", "mil.my", "net.my", "org.my",
    "ac.id", "co.id", "go.id", "mil.id", "net.id", "or.id", "sch.id",
    "web.id",
    "ac.th", "co.th", "go.th", "in.th", "mi.th", "net.th", "or.th",
    "ac.vn", "com.vn", "edu.vn", "gov.vn", "int.vn", "net.vn", "org.vn",
    "com.ph", "edu.ph", "gov.ph", "mil.ph", "net.ph", "org.ph",
    # .tr / .il / .ua / .pl
    "av.tr", "bel.tr", "biz.tr", "com.tr", "edu.tr", "gen.tr", "gov.tr",
    "k12.tr", "mil.tr", "net.tr", "org.tr", "pol.tr", "web.tr",
    "ac.il", "co.il", "gov.il", "muni.il", "net.il", "org.il",
    "com.ua", "edu.ua", "gov.ua", "in.ua", "net.ua", "org.ua",
    "com.pl", "edu.pl", "gov.pl", "net.pl", "org.pl",
    # .eg / .sa / .pk / .ke / .ng
    "com.eg", "edu.eg", "gov.eg", "mil.eg", "net.eg", "org.eg", "sci.eg",
    "com.sa", "edu.sa", "gov.sa", "med.sa", "net.sa", "org.sa", "sch.sa",
    "com.pk", "edu.pk", "gov.pk", "net.pk", "org.pk",
    "ac.ke", "co.ke", "go.ke", "ne.ke", "or.ke", "sc.ke",
    "com.ng", "edu.ng", "gov.ng", "mil.ng", "net.ng", "org.ng", "sch.ng",
    # Latin America (com./edu./gov./net./org. families, trimmed)
    "com.pe", "edu.pe", "gob.pe", "net.pe", "org.pe",
    "com.co", "edu.co", "gov.co", "net.co", "org.co",
    "com.ve", "edu.ve", "gob.ve", "net.ve", "org.ve",
    "com.ec", "edu.ec", "gob.ec", "net.ec", "org.ec",
    "com.uy", "edu.uy", "gub.uy", "net.uy", "org.uy",
)

# .jp geographic-type suffixes (PSL ICANN section): every prefecture is a
# public suffix, and municipalities are third-level suffixes under their
# prefecture. Trim: all 47 prefectures + the Tokyo 23 special wards (the
# corpus this engine's fixtures model); the full list adds every Japanese
# municipality the same way.
JP_PREFECTURES: tuple[str, ...] = tuple(
    f"{p}.jp" for p in (
        "aichi", "akita", "aomori", "chiba", "ehime", "fukui", "fukuoka",
        "fukushima", "gifu", "gunma", "hiroshima", "hokkaido", "hyogo",
        "ibaraki", "ishikawa", "iwate", "kagawa", "kagoshima", "kanagawa",
        "kochi", "kumamoto", "kyoto", "mie", "miyagi", "miyazaki",
        "nagano", "nagasaki", "nara", "niigata", "oita", "okayama",
        "okinawa", "osaka", "saga", "saitama", "shiga", "shimane",
        "shizuoka", "tochigi", "tokushima", "tokyo", "tottori", "toyama",
        "wakayama", "yamagata", "yamaguchi", "yamanashi"))

JP_TOKYO_WARDS: tuple[str, ...] = tuple(
    f"{w}.tokyo.jp" for w in (
        "adachi", "arakawa", "bunkyo", "chiyoda", "chuo", "edogawa",
        "itabashi", "katsushika", "kita", "koto", "meguro", "minato",
        "nakano", "nerima", "ota", "setagaya", "shibuya", "shinagawa",
        "shinjuku", "suginami", "sumida", "taito", "toshima"))

# .jp designated cities: every third-level label under the city is a
# public suffix EXCEPT city.<name>.jp itself (the municipal government's
# own registrable domain) — the PSL's canonical wildcard+exception pair.
JP_CITY_RULES: tuple[str, ...] = tuple(
    r for c in ("kawasaki", "kitakyushu", "kobe", "nagoya", "sapporo",
                "sendai", "yokohama")
    for r in (f"*.{c}.jp", f"!city.{c}.jp"))

# .au state-level third-level suffixes (ICANN section)
AU_THIRD_LEVEL: tuple[str, ...] = tuple(
    f"{s}.{t}.au" for t in ("edu", "gov")
    for s in ("act", "nsw", "nt", "qld", "sa", "tas", "vic", "wa")
) + ("catholic.edu.au",)

# Wildcard TLD families + the .ck exception; *.sch.uk is the UK schools
# third-level wildcard.
WILDCARD_RULES: tuple[str, ...] = (
    "*.ck", "!www.ck", "*.bd", "*.er", "*.fk", "*.jm", "*.kh", "*.mm",
    "*.np", "*.pg", "*.sch.uk")

ICANN_RULES: tuple[str, ...] = (
    MULTIPART_SUFFIXES + JP_PREFECTURES + JP_TOKYO_WARDS + JP_CITY_RULES
    + AU_THIRD_LEVEL + WILDCARD_RULES)

# PRIVATE-section staples (site-per-subdomain hosting). Off by default:
# crawl-time per-domain caps usually want the ICANN view; content dedup
# per "site" wants these on.
PRIVATE_SUFFIXES: tuple[str, ...] = (
    "github.io", "gitlab.io", "blogspot.com", "wordpress.com",
    "herokuapp.com", "appspot.com", "netlify.app", "vercel.app",
    "web.app", "pages.dev",
)


def suffixes(include_private: bool = False) -> tuple[str, ...]:
    """The bundled rule list in raw PSL line format."""
    return (ICANN_RULES + PRIVATE_SUFFIXES if include_private
            else ICANN_RULES)


@dataclass(frozen=True)
class PslRules:
    """Parsed rule sets keyed by label count.

    ``exact[n]``      — exact rules with n labels (public suffix = rule)
    ``wildcard[n]``   — wildcard BASES with n labels (rule ``*.base``;
                        public suffix = base plus one host label)
    ``exception[n]``  — exception rules stored as their matched suffix
                        string with n labels (public suffix = rule minus
                        its leftmost label)
    """
    exact: dict[int, tuple[str, ...]]
    wildcard: dict[int, tuple[str, ...]]
    exception: dict[int, tuple[str, ...]]

    @property
    def max_match_len(self) -> int:
        """Longest matched-suffix label count any rule can produce."""
        cands = ([n for n in self.exact] + [n + 1 for n in self.wildcard]
                 + [n for n in self.exception])
        return max(cands, default=1)


def parse_rules(lines) -> PslRules:
    """Parse raw PSL lines (comments/blank lines tolerated) into rule
    sets. Wildcards are only supported in the leftmost position — the
    only form the real PSL uses."""
    exact: dict[int, list[str]] = {}
    wild: dict[int, list[str]] = {}
    exc: dict[int, list[str]] = {}
    for raw in lines:
        line = raw.strip().lower()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            s = line[1:]
            exc.setdefault(s.count(".") + 1, []).append(s)
        elif line.startswith("*."):
            s = line[2:]
            if "*" in s:
                raise ValueError(f"unsupported wildcard position: {raw}")
            wild.setdefault(s.count(".") + 1, []).append(s)
        else:
            exact.setdefault(line.count(".") + 1, []).append(line)
    return PslRules(
        exact={n: tuple(sorted(set(v))) for n, v in exact.items()},
        wildcard={n: tuple(sorted(set(v))) for n, v in wild.items()},
        exception={n: tuple(sorted(set(v))) for n, v in exc.items()})


DEFAULT_RULES = parse_rules(ICANN_RULES)


def psl_df(spark, include_private: bool = False) -> DataFrame:
    """The snapshot as a one-column DataFrame ``(rule)`` in raw PSL line
    format — the shape a runtime-supplied full PSL would arrive in."""
    return local_relation(
        spark, [(s,) for s in suffixes(include_private)], "rule: string")


def _last_labels(host: Column, n: int) -> Column:
    """Last ``n`` dot-labels of host ('' if host has fewer than n)."""
    pat = r"([^.]+" + r"\.[^.]+" * (n - 1) + r")$"
    return F.regexp_extract(host, pat, 1)


def _psl_len_cases(lastn: dict[int, Column], rules: PslRules,
                   member) -> list[tuple[Column, int]]:
    """(condition, public-suffix label count) cases in PSL precedence
    order: exception rules first (longest matched suffix first), then
    exact/wildcard by matched-suffix length descending. ``member(n,
    kind)`` returns the membership Column for the rule set of that shape
    (InSet probe or join-result flag) or None when the set is empty."""
    cases: list[tuple[Column, int]] = []
    for n in sorted(rules.exception, reverse=True):
        m = member(n, "exc")
        if m is not None:
            cases.append((m, n - 1))
    by_mlen: dict[int, list[Column]] = {}
    for n in rules.exact:
        m = member(n, "exact")
        if m is not None:
            by_mlen.setdefault(n, []).append(m)
    for n in rules.wildcard:
        m = member(n, "wild")
        if m is not None:
            # wildcard consumes one extra host label beyond the base
            by_mlen.setdefault(n + 1, []).append(m & (lastn[n + 1] != ""))
    for mlen in sorted(by_mlen, reverse=True):
        cases.append((reduce(Column.__or__, by_mlen[mlen]), mlen))
    return cases


def _domain_from_cases(host: Column, lastn: dict[int, Column],
                      cases: list[tuple[Column, int]]) -> Column:
    """Fold precedence cases into the registered-domain Column: public
    suffix length -> last (len+1) labels, falling back to the host when
    the host IS a public suffix (or is dotless)."""
    def dom_for(plen: int) -> Column:
        cand = lastn.get(plen + 1)
        if cand is None:
            return host
        return F.when(cand != "", cand).otherwise(host)

    expr = None
    for cond, plen in cases:
        expr = (F.when(cond, dom_for(plen)) if expr is None
                else expr.when(cond, dom_for(plen)))
    default = dom_for(1)  # the implicit '*' rule: bare TLDs are suffixes
    return default if expr is None else expr.otherwise(default)


def registered_domain_col(host: Column,
                          rules: PslRules | None = None) -> Column:
    """Registered domain as a pure-Catalyst expression: per rule shape a
    last-n-labels ``regexp_extract`` probed against an ``IN`` set (InSet:
    JVM hash lookup, zero shuffle / Python), folded longest-match-first
    with exception precedence. The right shape for a frozen bundled rule
    list; for a runtime-supplied list use ``registered_domain_join``."""
    rules = rules or DEFAULT_RULES
    maxn = rules.max_match_len
    lastn = {n: _last_labels(host, n) for n in range(1, maxn + 2)}

    def member(n: int, kind: str):
        vals = {"exact": rules.exact, "wild": rules.wildcard,
                "exc": rules.exception}[kind].get(n)
        if not vals:
            return None
        return lastn[n].isin(*vals)

    return _domain_from_cases(host, lastn, _psl_len_cases(
        lastn, rules, member))


def registered_domain_join(df: DataFrame, psl: DataFrame,
                           host_col: str = "host",
                           out_col: str = "domain") -> DataFrame:
    """Broadcast-join registered-domain extraction for a runtime-supplied
    rule table (one string column, raw PSL line format — exact, ``*.``
    wildcard, and ``!`` exception rules all supported).

    Plan shape: the rule table is grouped by (base label count) into a
    handful of tiny dimensions; the page side left-BROADCAST-joins each
    one on its last-n-labels key, then a codegen'd CASE folds the match
    flags longest-first with exception precedence. The page side never
    shuffles — one BroadcastHashJoin per distinct rule label count (the
    full PSL has 1..5, so at most five). The only driver-side action is
    an O(#label-counts) metadata collect over the ~9500-row rule table.
    """
    rule_col = psl.columns[0]
    r = psl.select(F.lower(F.trim(F.col(rule_col))).alias("rule"))
    r = r.where((F.col("rule") != "") & ~F.col("rule").startswith("//"))
    r = r.select(
        F.when(F.col("rule").startswith("!"), F.lit("exc"))
        .when(F.col("rule").startswith("*."), F.lit("wild"))
        .otherwise(F.lit("exact")).alias("kind"),
        F.regexp_replace("rule", r"^(!|\*\.)", "").alias("base"))
    r = r.withColumn("blen", F.size(F.split(F.col("base"), r"\.")))
    # bounded metadata: distinct (label count, kind) shapes (<= ~15 rows,
    # not data) — drives which joins and CASE branches exist at all
    shapes = {(row["blen"], row["kind"])
              for row in r.select("blen", "kind").distinct().collect()}
    blens = sorted({b for b, _ in shapes})
    if not blens:
        return df.withColumn(out_col, F.col(host_col))
    host = F.col(host_col)
    maxn = max(b + 1 for b in blens)
    lastn = {n: _last_labels(host, n) for n in range(1, maxn + 2)}

    out = df
    for b in blens:
        side = (r.where(F.col("blen") == b)
                .groupBy("base")
                .agg(F.collect_set("kind").alias(f"__psl_k{b}"))
                .withColumnRenamed("base", f"__psl_b{b}"))
        out = out.join(F.broadcast(side),
                       lastn[b] == F.col(f"__psl_b{b}"), "left")

    # rule-shape sets present per (label count, kind) so the precedence
    # fold only emits branches that can match
    rules = PslRules(
        exact={b: ("_",) for b, k in shapes if k == "exact"},
        wildcard={b: ("_",) for b, k in shapes if k == "wild"},
        exception={b: ("_",) for b, k in shapes if k == "exc"})

    def member(n: int, kind: str):
        # every kind's set is keyed by its BASE label count (for
        # exceptions the matched suffix IS the base)
        if (n, kind) not in shapes:
            return None
        flag = F.array_contains(F.col(f"__psl_k{n}"), kind)
        return F.coalesce(flag, F.lit(False))

    dom = _domain_from_cases(host, lastn, _psl_len_cases(
        lastn, rules, member))
    out = out.withColumn(out_col, dom)
    return out.drop(*[c for b in blens
                      for c in (f"__psl_b{b}", f"__psl_k{b}")])


def rules_sql_values(rules_lines: tuple[str, ...] | None = None) -> str:
    """The rule list as SQL ``VALUES`` rows ``(kind, suffix)`` so an
    independent SQL engine can re-derive the longest-match semantics from
    the RULE LIST (config parity only — the matching logic in the oracle
    is a join-based formulation, not a mirror of the Catalyst plan)."""
    rows = []
    for raw in (rules_lines or ICANN_RULES):
        line = raw.strip().lower()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            rows.append(("exc", line[1:]))
        elif line.startswith("*."):
            rows.append(("wild", line[2:]))
        else:
            rows.append(("exact", line))
    return ", ".join(f"('{k}', '{s}')" for k, s in sorted(set(rows)))
