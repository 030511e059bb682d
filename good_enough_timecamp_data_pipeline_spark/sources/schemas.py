"""Explicit StructType contracts for the reference-domain tables.

The reference relies on dlt schema *inference* with two per-column hints
(``/root/reference/dlt_fetch_timecamp.py:512-515`` pins ``public_hash`` and
``task_key`` to text). The Spark engine inverts that: every landed table has
an explicit schema (FIXTURES.md §A), and inference is a debugging path only —
at 100 TB, schema drift between files is an outage, not a curiosity.

Raw API payloads arrive as strings; ``ingest`` canonicalizes (''/'0' parent →
NULL, measures → long) per SURVEY §2.2 P8/P9 right after the edge.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(name: str) -> T.StructField:
    return T.StructField(name, T.StringType(), True)


# fact: one row per time entry (pk id — dlt_fetch_timecamp.py:458)
ENTRIES = T.StructType(
    [
        _s("id"),
        _s("task_id"),
        _s("user_id"),
        T.StructField("date", T.DateType(), True),
        T.StructField("duration", T.LongType(), True),
        _s("description"),
        # json-serialized array, not a child table (dlt_fetch_timecamp.py:494-499)
        _s("tags"),
        _s("project_name"),
        T.StructField("rate", T.DoubleType(), True),
    ]
)

# hierarchy dimension (pk task_id — dlt_fetch_timecamp.py:511)
TASKS = T.StructType(
    [
        _s("task_id"),
        _s("parent_id"),
        _s("name"),
        T.StructField("budgeted", T.LongType(), True),
        _s("public_hash"),  # pinned text (dlt_fetch_timecamp.py:512-514)
        _s("task_key"),  # pinned text (dlt_fetch_timecamp.py:512-515)
        _s("task_breadcrumb"),
        *[_s(f"task_level_{i}") for i in range(1, 9)],
    ]
)

# user dimension (pk user_id — dlt_fetch_timecamp.py:586)
USERS = T.StructType(
    [
        _s("user_id"),
        _s("email"),
        _s("display_name"),
        T.StructField("is_enabled", T.BooleanType(), True),
        _s("group_id"),
        _s("group_name"),
        _s("group_breadcrumb"),
        *[_s(f"group_level_{i}") for i in range(1, 6)],
    ]
)

# group adjacency (input to user enrichment; people_picker — common/api.py:183-191)
GROUPS = T.StructType([_s("group_id"), _s("name"), _s("parent_id")])

# activity fact (no pk — dlt_fetch_timecamp.py:575)
COMPUTER_ACTIVITIES = T.StructType(
    [
        _s("user_id"),
        _s("application_id"),
        _s("window_title"),
        T.StructField("start_time", T.StringType(), True),
        T.StructField("end_time", T.StringType(), True),
        T.StructField("end_date", T.DateType(), True),
        T.StructField("duration", T.LongType(), True),
    ]
)

# application lookup dimension, landed projection (dlt_fetch_timecamp.py:635-647)
APPLICATION_NAMES = T.StructType(
    [
        _s("application_id"),
        _s("application_name"),
        _s("app_name"),
        _s("full_name"),
        _s("additional_info"),  # renamed from the API-typo field `aditional_info`
        _s("category_id"),
        _s("category_name"),
        _s("type"),
        _s("icon_url"),
    ]
)

# raw API tiers, the payload fields before enrichment: `ingest`'s row rules
# project payloads onto them, and the `timecamp` DataSource serves them
RAW_TASKS = T.StructType(TASKS.fields[:6])
RAW_USERS = T.StructType(USERS.fields[:4])
RAW_APPLICATIONS = T.StructType(
    [
        _s("application_id"),
        _s("app_name"),
        _s("full_name"),
        # the API really spells it this way (dlt_fetch_timecamp.py:640-642)
        _s("aditional_info"),
        _s("category_id"),
        _s("type"),
        _s("icon_url"),
    ]
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "entries": ENTRIES,
    "tasks": TASKS,
    "users": USERS,
    "groups": GROUPS,
    "computer_activities": COMPUTER_ACTIVITIES,
    "application_names": APPLICATION_NAMES,
}

# primary keys → dedup-by-pk before landing (A5; dlt write_disposition pk's
# at dlt_fetch_timecamp.py:458,511,586,606; computer_activities has none)
PRIMARY_KEYS: dict[str, str | None] = {
    "entries": "id",
    "tasks": "task_id",
    "users": "user_id",
    "groups": "group_id",
    "computer_activities": None,
    "application_names": "application_id",
}
