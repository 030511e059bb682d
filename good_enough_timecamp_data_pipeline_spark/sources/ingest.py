"""Extract→enrich builders: raw API payloads → canonical DataFrames.

Each reference dlt resource (``/root/reference/dlt_fetch_timecamp.py:409-653``)
becomes a ``build_<table>(spark, ...) -> DataFrame``. The per-row Python
enrichment of the reference is re-expressed relationally:

- dict lookup joins (J1–J4)   → broadcast left joins
- breadcrumb parent-walks (H2/H3) → operators.hierarchy.breadcrumb_rows
  over the payload the driver holds: the crumbs land with the row
- "first group per user" (W1) → row_number over a *documented* deterministic
  order (min numeric group id) — the reference's choice is dict insertion
  order, i.e. unspecified; we pin it
- per-row formatting (F4–F7)  → native Column expressions

The fetch itself stays driver-side (payloads here are metadata-sized), and
each coerced payload becomes an Arrow-backed frame (``_rows_df``): a local
relation (``LocalTableScan``) up to
``spark.sql.execution.arrow.localRelationThreshold``, a JVM scan of Arrow
batches above it. Neither starts a Python worker on a re-read. A row-list ``createDataFrame`` would
build a ``parallelize`` RDD that PySpark wraps in a Python ``map``, so every
job re-reading it starts a Python-worker pass. The ids the tree walks and
the users lookups key on are canonicalized in that projection, once.
`parallel_fetch` gives the ``mapInPandas`` pattern for fan-out fetches that
must scale with a date × user grid (S4 at 100 TB: the grid is a DataFrame,
each partition holds its own HTTP session, failures yield zero rows exactly
like the reference's per-batch tolerance).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.formatting import string_fallback
from ..functions.json_utils import map_lookup, tags_to_json
from ..functions.ids import strip_prefix_value
from ..operators.canonicalize import id_string, measure_long, null_canonical_value
from ..operators.hierarchy import breadcrumb_rows
from . import schemas
from .client import TimeCampClient

# category_id → name lookup for application enrichment; static map in the
# reference (/root/reference/dlt_fetch_timecamp.py:109-133), applied with a
# "No category" default (:632-633).
CATEGORY_NAMES: dict[str, str] = {
    "0": "No category",
    "1": "Office",
    "2": "Developer Tools",
    "3": "Chat, VoIP & Email",
    "4": "Graphic & Design",
    "5": "Home",
    "6": "Productivity",
    "7": "Utilities & Tools",
    "8": "Audio & Video",
    "9": "Games",
    "10": "Education",
    "11": "Fun",
    "12": "News & Blogs",
    "13": "Reference & Search",
    "14": "Shopping",
    "15": "Social Networking",
    "16": "Travel & Outdoors",
    "17": "Business",
    "18": "Hobby",
}


def _project(rows: list[dict[str, Any]], schema: T.StructType) -> list[dict[str, Any]]:
    """Raw dict rows → the schema's fields, tolerating missing/stringly values."""
    return [{f.name: _coerce(r.get(f.name), f.dataType) for f in schema.fields} for r in rows]


def _rows_df(spark: SparkSession, rows: list[dict[str, Any]], schema: T.StructType) -> DataFrame:
    """Projected rows → typed DataFrame over an Arrow-backed relation (see
    the module docstring)."""
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)))


def _coerce(v: Any, dt: T.DataType) -> Any:
    if v is None:
        return None
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, T.LongType):
        try:
            return int(float(v))
        except (TypeError, ValueError):
            return None
    if isinstance(dt, T.DoubleType):
        try:
            return float(v)
        except (TypeError, ValueError):
            return None
    if isinstance(dt, T.DateType):
        import datetime

        if isinstance(v, datetime.date):
            return v
        try:
            return datetime.date.fromisoformat(str(v)[:10])
        except ValueError:
            return None
    if isinstance(dt, T.BooleanType):
        return bool(v)
    return v


# ---------------------------------------------------------------------------
# tasks (dlt resource at dlt_fetch_timecamp.py:509-570)
# ---------------------------------------------------------------------------

def build_tasks(spark: SparkSession, client: TimeCampClient) -> DataFrame:
    raw = client.get_tasks()
    base_schema = T.StructType(
        [
            T.StructField("task_id", T.StringType()),
            T.StructField("parent_id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("budgeted", T.LongType()),
            T.StructField("public_hash", T.StringType()),
            T.StructField("task_key", T.StringType()),
        ]
    )
    # P1: `users`/`perms` never reach the DataFrame (dropped at :551-552)
    rows = _project(raw, base_schema)
    for r in rows:
        r["parent_id"] = null_canonical_value(r["parent_id"])
    # H2/H3: breadcrumb + 8 fixed level columns
    rows = breadcrumb_rows(rows, n_levels=8, prefix="task")
    return _rows_df(spark, rows, schemas.TASKS).withColumn("budgeted", measure_long("budgeted"))


# ---------------------------------------------------------------------------
# users + group enrichment (dlt_fetch_timecamp.py:305-406, :573-603)
# ---------------------------------------------------------------------------

def group_rows(groups: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """people_picker groups → canonical adjacency rows with their
    breadcrumb and 5 level columns; ids may arrive 'g'-prefixed (F6). A
    NULL name or id stays NULL: the walk skips a NULL name, and a NULL id
    gets NULL crumbs."""

    def text(v: Any) -> str | None:
        return None if v is None else str(v)

    rows = [
        {
            "group_id": strip_prefix_value(text(g.get("group_id", "")), "g"),
            "name": text(g.get("name", "")),
            "parent_id": null_canonical_value(
                strip_prefix_value(str(g.get("parent_id") or ""), "g")
            ),
        }
        for g in groups
    ]
    return breadcrumb_rows(rows, n_levels=5, prefix="group")


def build_users(
    spark: SparkSession, client: TimeCampClient, include_disabled: bool = False
) -> DataFrame:
    raw_users = client.get_users()
    picker = client.get_user_details()
    groups = picker.get("groups", []) if isinstance(picker, dict) else []

    users_schema = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("email", T.StringType()),
            T.StructField("display_name", T.StringType()),
            T.StructField("is_enabled", T.BooleanType()),
        ]
    )
    udf_ = _rows_df(spark, _project(raw_users, users_schema), users_schema)

    # group_id, name + USERS' group_breadcrumb, group_level_1..5
    crumbs = [
        f for f in schemas.USERS.fields if f.name.startswith(("group_breadcrumb", "group_level_"))
    ]
    gdf_schema = T.StructType([schemas.GROUPS["group_id"], schemas.GROUPS["name"], *crumbs])
    gdf = _rows_df(spark, group_rows(groups), gdf_schema)

    # membership pairs from the nested users maps ('u'-prefixed ids)
    mem_rows = [
        {
            "user_id": strip_prefix_value(str(uid), "u"),
            "group_id": strip_prefix_value(str(g.get("group_id", "")), "g"),
        }
        for g in groups
        for uid in (g.get("users") or {})
    ]
    mem_schema = T.StructType(
        [T.StructField("user_id", T.StringType()), T.StructField("group_id", T.StringType())]
    )
    mem = _rows_df(spark, mem_rows, mem_schema)

    # W1: deterministic "primary group" = smallest numeric group id
    w = Window.partitionBy("user_id").orderBy(F.col("group_id").cast("long").asc())
    primary = (
        mem.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    enriched = (
        udf_.join(F.broadcast(primary), "user_id", "left")
        .join(F.broadcast(gdf), "group_id", "left")
        .withColumn("group_name", F.coalesce(F.col("name"), F.lit("")))
        .withColumn("group_breadcrumb", F.coalesce(F.col("group_breadcrumb"), F.lit("")))
        .drop("name")
    )
    for i in range(1, 6):
        enriched = enriched.withColumn(
            f"group_level_{i}", F.coalesce(F.col(f"group_level_{i}"), F.lit(""))
        )
    if not include_disabled:
        # P3: active-only default (dlt_fetch_timecamp.py:442-444)
        enriched = enriched.filter(F.coalesce(F.col("is_enabled"), F.lit(True)))
    return enriched.select([f.name for f in schemas.USERS.fields])


# ---------------------------------------------------------------------------
# entries (dlt_fetch_timecamp.py:456-506)
# ---------------------------------------------------------------------------

def build_entries(
    spark: SparkSession,
    client: TimeCampClient,
    from_date: str,
    to_date: str,
    user_ids: list[int] | None = None,
) -> DataFrame:
    raw = client.get_time_entries(
        from_date, to_date, user_ids=user_ids, opt_fields="tags,breadcrumps"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("task_id", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("date", T.DateType()),
            T.StructField("duration", T.LongType()),
            T.StructField("description", T.StringType()),
            T.StructField("tags", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
            T.StructField("project_name", T.StringType()),
            T.StructField("rate", T.DoubleType()),
        ]
    )
    # tags: each map stringified; a non-list is NULL (_coerce passes arrays)
    rows = [
        {
            **r,
            "tags": [{str(k): str(v) for k, v in t.items()} for t in r["tags"]]
            if isinstance(r.get("tags"), list)
            else None,
        }
        for r in raw
    ]
    df = _rows_df(spark, _project(rows, schema), schema)
    # F7: list → JSON text (or NULL) exactly like json.dumps at :494-499
    return df.withColumn("tags", tags_to_json("tags")).select(
        [f.name for f in schemas.ENTRIES.fields]
    )


# ---------------------------------------------------------------------------
# computer activities + application names (dlt_fetch_timecamp.py:240-302, :606-653)
# ---------------------------------------------------------------------------

def build_computer_activities(
    spark: SparkSession,
    client: TimeCampClient,
    dates: list[str],
    user_ids: list[int] | None = None,
) -> DataFrame:
    raw = client.get_computer_activities(
        dates, include="application,window_title", user_ids=user_ids
    )
    df = _rows_df(spark, _project(raw, schemas.COMPUTER_ACTIVITIES), schemas.COMPUTER_ACTIVITIES)
    return df.withColumn("user_id", id_string("user_id")).withColumn(
        "application_id", id_string("application_id")
    )


def distinct_application_ids(activities: DataFrame) -> DataFrame:
    """P4/A4: present, non-'0' application ids, deduplicated."""
    return (
        activities.filter(
            F.col("application_id").isNotNull() & (F.col("application_id") != "0")
        )
        .select("application_id")
        .distinct()
    )


def build_application_names(
    spark: SparkSession, client: TimeCampClient, activities: DataFrame
) -> DataFrame:
    ids = [r.application_id for r in distinct_application_ids(activities).collect()]
    details = client.get_applications(sorted(ids))

    raw_schema = T.StructType(
        [
            T.StructField("application_id", T.StringType()),
            T.StructField("app_name", T.StringType()),
            T.StructField("full_name", T.StringType()),
            # the API really spells it this way (dlt_fetch_timecamp.py:640-642)
            T.StructField("aditional_info", T.StringType()),
            T.StructField("category_id", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("icon_url", T.StringType()),
        ]
    )
    df = _rows_df(spark, _project(list(details.values()), raw_schema), raw_schema)
    # P2 projection+rename; F4 fallback chain; J3 category lookup
    return df.select(
        id_string("application_id").alias("application_id"),
        string_fallback("full_name", "aditional_info", "app_name").alias(
            "application_name"
        ),
        F.coalesce(F.col("app_name"), F.lit("")).alias("app_name"),
        F.coalesce(F.col("full_name"), F.lit("")).alias("full_name"),
        F.coalesce(F.col("aditional_info"), F.lit("")).alias("additional_info"),
        F.coalesce(F.col("category_id"), F.lit("0")).alias("category_id"),
        map_lookup(
            CATEGORY_NAMES, F.coalesce(F.col("category_id"), F.lit("0")), "No category"
        ).alias("category_name"),
        F.coalesce(F.col("type"), F.lit("")).alias("type"),
        F.coalesce(F.col("icon_url"), F.lit("")).alias("icon_url"),
    )


# ---------------------------------------------------------------------------
# parallel fetch pattern (S4 at scale)
# ---------------------------------------------------------------------------

def parallel_fetch(
    work: DataFrame,
    fetch_batch: Callable[[pd.DataFrame], list[dict[str, Any]]],
    out_schema: T.StructType,
    partitions: int | None = None,
) -> DataFrame:
    """Distribute a fetch grid (e.g. date × user) across executors.

    ``fetch_batch`` receives one pandas batch of work rows and returns raw
    result dicts; it runs inside ``mapInPandas`` so each executor holds its
    own connection, and a raising batch is converted to zero rows (the
    reference's per-batch failure tolerance, common/api.py:281-298).
    Results are JSON-round-tripped through a single string column then
    projected, so arbitrary payload shapes survive Arrow.
    """
    if partitions:
        work = work.repartition(partitions)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            try:
                rows = fetch_batch(batch)
            except Exception:
                rows = []  # per-batch tolerance
            yield pd.DataFrame({"payload": [json.dumps(r) for r in rows]})

    raw = work.mapInPandas(_run, "payload string")
    parsed = raw.select(
        F.from_json("payload", out_schema).alias("r")
    ).select("r.*")
    return parsed
