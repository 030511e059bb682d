"""Type/NULL canonicalization applied right after read.

Reference parity: the DuckDB reports defensively CAST every id/measure and
normalize ``parent_id`` NULL/''/'0' → NULL because schema inference across
jsonl files is unstable (``/root/reference/SAMPLE-PROJECT-BUDGET-REPORT.md:34-41``).
Here that becomes a reusable Column transform (SURVEY.md §2.2 P8/P9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_canonical(col: Column | str) -> Column:
    """''/'0'/NULL → NULL (parent-id canonicalization, P8)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull() | c.isin("", "0"), F.lit(None).cast("string")).otherwise(
        c.cast("string")
    )


def null_canonical_value(v: str | None) -> str | None:
    """`null_canonical` for a Python value the driver holds (P8)."""
    return None if v in (None, "", "0") else v


def id_string(col: Column | str) -> Column:
    """Defensive id-to-string cast (P9; ``CAST(task_id AS VARCHAR)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string")


def measure_long(col: Column | str, default: int = 0) -> Column:
    """``COALESCE(CAST(x AS BIGINT), default)`` (P9). Floors first so the
    double→int conversion matches DuckDB (which rounds on bare CAST)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.floor(c).cast("long"), F.lit(default).cast("long"))


def canonicalize_hierarchy(
    df: DataFrame, id_col: str = "task_id", parent_col: str = "parent_id"
) -> DataFrame:
    """Standard post-read normalization for adjacency-list tables."""
    return df.withColumn(id_col, id_string(id_col)).withColumn(
        parent_col, null_canonical(parent_col)
    )
