"""Id normalization helpers (SURVEY.md §2.8 F6).

Reference parity: ``'u123' → '123'`` user-id strip and ``gid → 'g'+gid``
group-id prefix (``/root/reference/dlt_fetch_timecamp.py:323-326,338-339,349``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def strip_prefix(col: Column | str, prefix: str) -> Column:
    c = _c(col).cast("string")
    return F.when(c.startswith(prefix), c.substr(F.lit(len(prefix) + 1), F.length(c))).otherwise(c)


def strip_prefix_value(v: str | None, prefix: str) -> str | None:
    """`strip_prefix` for a Python value the driver holds: ``'g12'`` → ``'12'``."""
    return v[len(prefix):] if v is not None and v.startswith(prefix) else v


def add_prefix(col: Column | str, prefix: str) -> Column:
    c = _c(col).cast("string")
    return F.when(c.startswith(prefix), c).otherwise(F.concat(F.lit(prefix), c))
