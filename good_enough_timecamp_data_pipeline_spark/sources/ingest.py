"""Extract→enrich builders: raw API payloads → canonical DataFrames.

Each reference dlt resource (``/root/reference/dlt_fetch_timecamp.py:409-653``)
becomes a ``build_<table>(spark, ...) -> DataFrame``.

Every extracted table has ONE row rule, a pure-Python function from the
API payload to rows of the table's schema: `task_rows`, `user_rows`,
`entry_rows`, `activity_rows` and `application_rows`. Each is `_coerce`
per field (``''``/number-like/invalid values, lone surrogates) plus the
table's own rules: tags → JSON text (F7), budget default 0 (P9), the
application-name fallback chain (F4) and category lookup (J3). The
builders apply the rule on the driver to the payload they fetched; the
``timecamp`` DataSource (`datasource`) applies the same function on
executors, one input partition per fetch window, which is the fan-out
for fetches that must scale with a date × user grid (S4).

The rest of the reference's per-row Python enrichment:

- dict lookup joins (J1, J2) → broadcast left joins (users' groups)
- breadcrumb parent-walks (H2/H3) → operators.hierarchy.breadcrumb_rows
  over the rows the driver holds: the crumbs land with the row
- "first group per user" (W1) → row_number over a *documented* deterministic
  order (min numeric group id) — the reference's choice is dict insertion
  order, i.e. unspecified; we pin it

Each ruled payload becomes an Arrow-backed frame (``_rows_df``, which is
`operators.local.rows_relation`, where small iterative operators land their
results too): a local relation (``LocalTableScan``) up to
``spark.sql.execution.arrow.localRelationThreshold``, a JVM scan of Arrow
batches above it. Neither starts a Python worker on a re-read. A row-list
``createDataFrame`` would build a ``parallelize`` RDD that PySpark wraps in
a Python ``map``, so every job re-reading it starts a Python-worker pass.
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Iterable
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.ids import strip_prefix_value
from ..operators.canonicalize import null_canonical_value
from ..operators.hierarchy import breadcrumb_rows
from ..operators.local import rows_relation as _rows_df
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


# a lone UTF-16 surrogate: a payload string cut mid-emoji ("\ud83d")
_LONE_SURROGATE = re.compile("[\ud800-\udfff]")

# Jackson's string escapes, i.e. the JSON text Spark's ``to_json`` writes:
# short forms for \b \t \n \f \r, uppercase ``\u00XX`` for the other
# control characters, nothing else escaped (``json.dumps`` writes lowercase)
_JSON_ESCAPES = str.maketrans({chr(c): f"\\u{c:04X}" for c in range(0x20)} | {
    '"': '\\"', "\\": "\\\\", "\b": "\\b", "\t": "\\t", "\n": "\\n", "\f": "\\f", "\r": "\\r",
})


def _text(v: Any) -> str:
    """``str(v)`` with each lone surrogate replaced by U+FFFD, the text
    Spark's own encoder writes: Arrow cannot encode a surrogate."""
    s = str(v)
    return s if s.isascii() else _LONE_SURROGATE.sub("\ufffd", s)


def _json_text(v: Any) -> str:
    return '"' + _text(v).translate(_JSON_ESCAPES) + '"'


def _project(
    rows: Iterable[dict[str, Any]], schema: T.StructType, **rules: Any
) -> list[dict[str, Any]]:
    """Raw dict rows → the schema's fields, tolerating missing/stringly
    values; a field named in ``rules`` is converted by its rule instead."""
    conv = [(f.name, rules.get(f.name) or partial(_coerce, dt=f.dataType)) for f in schema.fields]
    return [{name: c(r.get(name)) for name, c in conv} for r in rows]


def _coerce(v: Any, dt: T.DataType) -> Any:
    if v is None:
        return None
    if isinstance(dt, T.StringType):
        return _text(v)
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
# row rules: API payload → rows of the table's schema
# ---------------------------------------------------------------------------

def _budget(v: Any) -> int:
    """P9: a missing or invalid budget is 0."""
    n = _coerce(v, T.LongType())
    return 0 if n is None else n


def _tags_json(tags: Any) -> str | None:
    """F7: a non-empty list → the JSON text of json.dumps at :494-499 as
    Spark's ``to_json`` spells it (each map's keys and values stringified,
    API key order kept); else NULL."""
    if not isinstance(tags, list) or not tags:
        return None
    maps = ({str(k): str(v) for k, v in t.items()} for t in tags)
    return "[" + ",".join(
        "{" + ",".join(f"{_json_text(k)}:{_json_text(v)}" for k, v in m.items()) + "}"
        for m in maps
    ) + "]"


def _first_nonblank(*vals: str | None) -> str:
    """F4: the first value that is not blank after trimming spaces, trimmed;
    '' if none (Spark's ``trim`` strips U+0020 only)."""
    return next((v.strip(" ") for v in vals if v is not None and v.strip(" ")), "")


def task_rows(raw: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """P1: `users`/`perms` never reach the rows (dropped at :551-552)."""
    return _project(raw, schemas.RAW_TASKS, budgeted=_budget)


def user_rows(raw: list[dict[str, Any]]) -> list[dict[str, Any]]:
    return _project(raw, schemas.RAW_USERS)


def entry_rows(raw: list[dict[str, Any]]) -> list[dict[str, Any]]:
    return _project(raw, schemas.ENTRIES, tags=_tags_json)


def activity_rows(raw: list[dict[str, Any]]) -> list[dict[str, Any]]:
    return _project(raw, schemas.COMPUTER_ACTIVITIES)


def application_rows(details: Iterable[dict[str, Any]]) -> list[dict[str, Any]]:
    """P2 projection and rename, F4 name fallback chain, J3 category
    lookup with its "No category" default (:632-633)."""
    out = []
    for r in _project(details, schemas.RAW_APPLICATIONS):
        category = "0" if r["category_id"] is None else r["category_id"]
        out.append({
            "application_id": r["application_id"],
            "application_name": _first_nonblank(
                r["full_name"], r["aditional_info"], r["app_name"]
            ),
            "app_name": r["app_name"] or "",
            "full_name": r["full_name"] or "",
            "additional_info": r["aditional_info"] or "",
            "category_id": category,
            "category_name": CATEGORY_NAMES.get(category, "No category"),
            "type": r["type"] or "",
            "icon_url": r["icon_url"] or "",
        })
    return out


# ---------------------------------------------------------------------------
# tasks (dlt resource at dlt_fetch_timecamp.py:509-570)
# ---------------------------------------------------------------------------

def build_tasks(spark: SparkSession, client: TimeCampClient) -> DataFrame:
    rows = task_rows(client.get_tasks())
    for r in rows:
        r["parent_id"] = null_canonical_value(r["parent_id"])
    # H2/H3: breadcrumb + 8 fixed level columns
    return _rows_df(spark, breadcrumb_rows(rows, n_levels=8, prefix="task"), schemas.TASKS)


# ---------------------------------------------------------------------------
# users + group enrichment (dlt_fetch_timecamp.py:305-406, :573-603)
# ---------------------------------------------------------------------------

def group_rows(groups: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """people_picker groups → canonical adjacency rows with their
    breadcrumb and 5 level columns; ids may arrive 'g'-prefixed (F6). A
    NULL name or id stays NULL: the walk skips a NULL name, and a NULL id
    gets NULL crumbs."""

    def text(v: Any) -> str | None:
        return None if v is None else _text(v)

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

    udf_ = _rows_df(spark, user_rows(raw_users), schemas.RAW_USERS)

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
    mem_schema = T.StructType([schemas.USERS["user_id"], schemas.USERS["group_id"]])
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

def fetch_entries(
    client: TimeCampClient, from_date: str, to_date: str, user_ids: list[int] | None = None
) -> list[dict[str, Any]]:
    return entry_rows(client.get_time_entries(
        from_date, to_date, user_ids=user_ids, opt_fields="tags,breadcrumps"
    ))


def build_entries(
    spark: SparkSession,
    client: TimeCampClient,
    from_date: str,
    to_date: str,
    user_ids: list[int] | None = None,
) -> DataFrame:
    return _rows_df(spark, fetch_entries(client, from_date, to_date, user_ids), schemas.ENTRIES)


# ---------------------------------------------------------------------------
# computer activities + application names (dlt_fetch_timecamp.py:240-302, :606-653)
# ---------------------------------------------------------------------------

def fetch_activities(
    client: TimeCampClient,
    dates: list[str],
    user_ids: list[int] | None = None,
    dates_per_request: int = 20,
) -> list[dict[str, Any]]:
    return activity_rows(client.get_computer_activities(
        dates, include="application,window_title", user_ids=user_ids,
        dates_per_request=dates_per_request,
    ))


def build_computer_activities(
    spark: SparkSession,
    client: TimeCampClient,
    dates: list[str],
    user_ids: list[int] | None = None,
) -> DataFrame:
    return _rows_df(spark, fetch_activities(client, dates, user_ids), schemas.COMPUTER_ACTIVITIES)


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
    return _rows_df(spark, application_rows(details.values()), schemas.APPLICATION_NAMES)
