"""Small relations built on the driver: lookup tables, broadcast indexes,
offsets, parameter lists.

``spark.createDataFrame(rows, schema)`` on a Python list goes through
``sc.parallelize``: the plan scans a PythonRDD, so every execution starts
Python worker tasks only to unpickle the rows again. Handed one
``pyarrow.Table``, PySpark sends the rows to the JVM once, when the
relation is built, and the JVM keeps them as a ``LocalRelation``, which
plans as ``LocalTableScan``: every execution reads the rows from JVM
memory and starts no Python worker. The job count does not change: a
broadcast still collects its side in one job, run in the JVM alone.

Arrow does not check nullability and truncates a float put in an integer
column, so the rows are first verified against the Spark schema on the
driver, with the same verifier ``createDataFrame`` applies to a list. A
``None`` in a non-nullable field, an out-of-range integer or a float in an
integer field raises here, before any plan runs.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, _make_type_verifier


def local_relation(spark: SparkSession, rows: Iterable[Sequence],
                   schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a JVM local
    relation. ``schema`` is a ``StructType`` or a DDL string."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type)
         for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
