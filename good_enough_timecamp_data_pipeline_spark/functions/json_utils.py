"""Array helpers (SURVEY.md §2.8 F13).

Reference parity:
- path[i] with '' default (``/root/reference/dlt_fetch_timecamp.py:400-404,563-567``)

The tags → JSON text (F7) and category lookup (F12) rules are Python row
rules in ``sources.ingest``, applied where the payload is held.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def array_level(arr: Column | str, i: int, default: str = "") -> Column:
    """1-based array index with default ('' like the reference's levels).

    ``try_element_at``: ANSI ``element_at`` raises on out-of-bounds index."""
    return F.coalesce(F.try_element_at(_c(arr), F.lit(i)), F.lit(default))
