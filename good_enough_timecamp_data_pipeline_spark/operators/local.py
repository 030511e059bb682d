"""Small inputs finish on the driver.

Every round of a distributed fixpoint (connected components, label
propagation, k-core, PageRank, the hierarchy closure, Lloyd's k-means)
costs at least one Spark job, plus a ``localCheckpoint`` or a
Python-worker pass. On a dimension-sized input that per-round floor, and
the first-execution compilation each new round plan pays in a cold
session, cost far more than the work itself. So when an iterative
operator's input holds at most `MAX_ROWS` rows, the operator collects it
once as Arrow (`collect_small`), runs the SAME rounds with the same rule
in Python/numpy, and returns its result as an Arrow-backed local relation
(``spark.createDataFrame`` of an Arrow table). Above `MAX_ROWS` the
distributed loop runs unchanged.

A local relation is planned as a ``LocalTableScan`` up to
``spark.sql.execution.arrow.localRelationThreshold`` and as a JVM scan of
Arrow batches above it; neither starts a Python worker when a later job
reads it (ingest's API payloads land the same way, `rows_relation`).

`MAX_ROWS` is sized by measurement (ARCHITECTURE.md, execution
principle 5): it is where the operator that gains least, the lazy unroll
closure, breaks even with its Spark plan, and it bounds what one operator
holds in driver memory. Tests force the Spark loop by setting it to -1.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MAX_ROWS = 20_000


def collect_small(df: DataFrame, rows: int | None = None) -> pa.Table | None:
    """``df`` as one Arrow table when it holds at most `MAX_ROWS` rows,
    else None (the caller runs its Spark loop).

    ``rows`` is a count of ``df`` the caller already paid for; only a
    small ``df`` is then collected. Without it, one bounded probe
    (``limit(MAX_ROWS + 1)``) both decides and, when small, is the
    collect — the one job the check may add above `MAX_ROWS`.
    """
    if rows is not None:
        return df.toArrow() if rows <= MAX_ROWS else None
    table = df.limit(MAX_ROWS + 1).toArrow()
    return table if table.num_rows <= MAX_ROWS else None


def rows_relation(
    spark: SparkSession, rows: list[dict[str, Any]], schema: T.StructType
) -> DataFrame:
    """Dict rows already shaped to ``schema`` as a local relation."""
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)))
