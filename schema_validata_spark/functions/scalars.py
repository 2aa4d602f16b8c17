"""Global scalar aggregates without a single-partition reduce.

``df.agg(...).collect()`` plans a partial aggregate per task, an
``Exchange SinglePartition`` and a one-task final aggregate: two Spark
jobs under AQE (the shuffle-map stage, then the result stage). The same
aggregates attached as an unnamed ``pyspark.sql.Observation`` to a
``noop`` write run in ONE job: each task folds its rows into a partial
buffer, and the SparkContext merges one buffer per task as the task
reports back — the same fixed-width counters and sketches the single
reducer would have fetched, without the shuffle.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def collect_scalars(df: DataFrame, *aggs: Column) -> dict[str, Any]:
    """``df.agg(*aggs).collect()[0].asDict()`` in one Spark job.

    ``aggs`` must be aliased aggregate expressions (no DISTINCT, no
    FILTER clause — the ``observe`` contract). Each call uses a fresh
    unnamed Observation, whose generated name is unique, so concurrent
    calls from several threads never read each other's metrics. Empty
    and zero-partition frames return the aggregates of no rows, as
    ``agg`` does (count 0, sum NULL)."""
    obs = Observation()
    # the empty projection lets column pruning reach the scan: only the
    # columns the aggregates reference are read, as with ``agg``
    (df.observe(obs, *aggs).select()
       .write.format("noop").mode("overwrite").save())
    return obs.get
