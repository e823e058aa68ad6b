"""Pin a relation and read its statistics in the same job, the way a sink
tallies what streams through it. ``observe`` sits directly under the
eager ``localCheckpoint``, so its aggregates run in the checkpoint job's
result stage, where each partition's update is applied once even when an
earlier shuffle-map stage is re-run."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def materialize(df: DataFrame, **stats: Column) -> tuple[DataFrame, dict]:
    """Checkpoint ``df`` eagerly; return it with ``{name: value}`` for each
    aggregate in ``stats``. A statistic that must read 0 on an empty
    relation is a ``count``: ``sum`` over no rows is None."""
    obs = Observation()
    observed = df.observe(obs, *(c.alias(k) for k, c in stats.items()))
    return observed.localCheckpoint(eager=True), obs.get
