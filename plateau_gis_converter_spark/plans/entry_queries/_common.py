"""The gate registry and the helpers shared by the gate modules.

Cross-engine determinism rules used throughout (the driver compares
row-count + schema + order-insensitive value hash):

* integers only in modular/index arithmetic — exact in both engines;
* raw parquet doubles may be output as-is (same bytes in both readers);
* COMPUTED doubles keep the exact same op order in both engines;
* AGGREGATED doubles are quantized first (floor(x*scale + 0.5) as BIGINT)
  so the sum is an integer — associative, partial-agg/merge-order free;
* string hashes only via md5 (no engine-specific hash functions);
* every computed column is aliased identically on both sides.

The synthetic geo layer derives deterministic points from documents.doc_id
(fixtures.point_udeg_np == fixtures.point_udeg_sql) — no external data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...functions import geo
from ...sources import fixtures as fx


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def gate(oracle: str):
    """Register ``q_<name>`` as gate ``<name>`` with its DuckDB oracle SQL."""
    def register(fn):
        name = fn.__name__.removeprefix("q_")
        if name == fn.__name__:
            raise ValueError(f"gate function {name!r} is not named q_*")
        if name in QUERIES:
            raise ValueError(f"gate {name!r} is declared twice")
        QUERIES[name], ORACLES[name] = fn, oracle
        return fn
    return register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, spreading single-split small files across the cores.

    The sf0.001..0.1 parquet fixtures are one file -> ONE input split, so
    every expensive map-side pipeline (tokenize/shingle/explode, embedding
    dots) would otherwise run single-threaded — a local-only artifact: the
    production table has thousands of splits and never needs this. Results
    are partitioning-independent (all gate aggregations are integer-exact
    and the compare is order-insensitive)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 2):
        # Round-robin, not a hash on the leading key column: in a
        # same-session ABBA A/B over the 249 bench.py leaves (sf0.01,
        # local[4], floor of 2 passes) round-robin's geomean leaf floor
        # was 0.93x and 0.99x of hash's, against 0.97-1.04x between runs
        # of one mode, and a hash key would also widen every scan's
        # ReadSchema by that column.
        df = df.repartition(par)
    return df


def _t_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table for plan-time sizing scalars.

    r6 OPTIMIZATION: reads the RAW parquet relation — count() resolves
    from footer metadata, no column payload, no shuffle — instead of the
    ``_t()``-repartitioned one, which paid the core-spreading exchange
    just to count rows (repartition is count-invariant, so the value is
    identical; measured 0.35 -> 0.20 s per site at sf0.1, ~21 query
    sites). Computed fresh per invocation from the parquet input —
    nothing is memoized across runs."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").count()


def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> deterministic geo points (the synthetic 'pages' layer)."""
    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    return docs.select("doc_id", lng, lat)


_POINTS_SQL_LNG, _POINTS_SQL_LAT = fx.point_udeg_sql("doc_id")


POINTS_CTE = (
    "pts AS (SELECT doc_id, "
    f"{_POINTS_SQL_LNG} AS lng_udeg, {_POINTS_SQL_LAT} AS lat_udeg "
    "FROM documents)"
)


# mercator + square-tile floor, shared SQL text (valid in Spark SQL & DuckDB)
MX_SQL = "((lng_udeg / 1000000.0 + 180.0) / 360.0)"


MY_SQL = ("((-degrees(ln(tan(radians(90.0 + lat_udeg / 1000000.0) / 2.0))) "
          "+ 180.0) / 360.0)")


def _tile_xy_sql(z_expr: str) -> tuple[str, str]:
    n = f"CAST(pow(2.0, {z_expr}) AS BIGINT)"
    x = f"CAST(floor({MX_SQL} * pow(2.0, {z_expr})) AS BIGINT)"
    y = f"CAST(floor({MY_SQL} * pow(2.0, {z_expr})) AS BIGINT)"
    xw = f"((({x}) % {n} + {n}) % {n})"
    yc = f"GREATEST(CAST(0 AS BIGINT), LEAST({y}, {n} - 1))"
    return xw, yc


def _cents(col: str, scale: int = 100) -> F.Column:
    """Quantize a double to integer units — associative exact aggregation."""
    return F.floor(F.col(col) * F.lit(float(scale)) + F.lit(0.5)).cast("bigint")


def _cents_sql(expr: str, scale: int = 100) -> str:
    return f"CAST(floor(({expr}) * {float(scale)} + 0.5) AS BIGINT)"


# 60-bit stable string hash (engine-portable)
def _hex60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# DuckDB shingle CTE (3-gram, lowercased word tokens) == operators.dedup.shingles
SHINGLES_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(greatest(len(t) - 2, 0))) AS u(i)
)"""


_PR_ITER = """
c{i} AS (
  SELECT e.dst, sum(s{p}.score // d.out_degree) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN s{p} ON e.src = s{p}.id
  GROUP BY 1),
s{i} AS (
  SELECT s{p}.id, 150000 + (85 * coalesce(c{i}.s, 0)) // 100 AS score
  FROM s{p} LEFT JOIN c{i} ON s{p}.id = c{i}.dst)"""


_EV_LNG_SQL, _EV_LAT_SQL = fx.point_udeg_sql("event_id")
