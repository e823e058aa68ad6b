"""Gate registry backing ``__spark_entry__.py``: one gate per implemented
operator (SURVEY.md §2), each a PySpark implementation paired with a
DuckDB oracle over the same parquet tables.

A gate is declared once, in the module of its operator family:
``@gate(ORACLE_SQL)`` above ``def q_<name>(spark, sf_dir)`` registers it
as ``<name>`` in ``QUERIES`` and ``ORACLES``. Importing this package
imports every family module, which fills both. The cross-engine
determinism rules the oracles follow are in ``_common``.
"""

from . import (  # noqa: F401  (importing a family module registers its gates)
    dedup,
    graph,
    raster,
    relational,
    sketches,
    spatial,
    stats_describe,
    stats_inference,
    streaming,
    tables,
    temporal,
    text,
    vectors,
    web,
)
from ._common import ORACLES, QUERIES, _points_df, gate  # noqa: F401
