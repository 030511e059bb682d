"""Driver-side payload frames: the Arrow-backed local relations of
``sources.ingest`` keep the rows and schema of the row-list
``createDataFrame`` path on degenerate payloads, and no re-read of them
runs through a Python worker."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from good_enough_timecamp_data_pipeline_spark.functions.ids import strip_prefix
from good_enough_timecamp_data_pipeline_spark.operators.canonicalize import (
    canonicalize_hierarchy,
    measure_long,
    null_canonical,
)
from good_enough_timecamp_data_pipeline_spark.operators.hierarchy import breadcrumbs
from good_enough_timecamp_data_pipeline_spark.sources import ingest, schemas
from good_enough_timecamp_data_pipeline_spark.sources.client import TimeCampClient
from good_enough_timecamp_data_pipeline_spark.sources.fixtures import (
    DictTransport,
    demo_transport,
)

_NULL_TASK = dict.fromkeys(("task_id", "parent_id", "name", "budgeted", "public_hash", "task_key"))

# every field degenerate somewhere: all-null rows, number-like and invalid
# numbers, dates and booleans, emoji and right-to-left text, and tags as
# several maps, an empty list and non-lists
DEGENERATE = {
    "tasks": {
        "1": {"task_id": 1, "parent_id": 0, "name": "פרויקט 🚀", "budgeted": "12.0",
              "public_hash": 7, "task_key": None, "users": {"101": {}}},
        "2": {"task_id": "2", "parent_id": "1", "name": "مهمة", "budgeted": "abc"},
        "3": {"task_id": 3, "parent_id": 2, "name": None, "budgeted": 1.9},
        "4": _NULL_TASK,
    },
    "users": [
        {"user_id": "101", "email": None, "display_name": "שלום 👋"},
        {"user_id": 102, "email": "x@example.com", "display_name": None},
    ],
    "people_picker": {"groups": [
        {"group_id": "g1", "name": "😀 فريق", "parent_id": None,
         "users": {"u101": {}, "u102": {}}},
        {"group_id": "2", "name": None, "parent_id": "g1", "users": None},
        {"group_id": None, "name": None, "parent_id": None},
    ]},
    "user_settings": [{"user_id": "102", "value": "1"}],
    "entries": [
        {"id": 1, "task_id": 1, "user_id": 101, "date": "2025-01-02T10:00:00",
         "duration": "12.0", "description": "עברית 😀",
         "tags": [{"tagId": 7}, {"name": "🏷"}, {"b": None}], "rate": "1.5"},
        {"id": "2", "date": "not-a-date", "duration": "abc", "tags": [], "rate": "x"},
        {"id": 3, "tags": "oops", "duration": 7},
        {"id": 4, "tags": {"k": "v"}, "date": "2025-02-30"},
        dict.fromkeys(("id", "task_id", "user_id", "date", "duration", "description",
                       "tags", "project_name", "rate")),
    ],
    "computer_activities": [
        {"user_id": 101, "application_id": 501, "window_title": "😀 — نافذة",
         "start_time": None, "end_time": "x", "end_date": "2026-01-05", "duration": "12.0"},
        {"user_id": "102", "application_id": "0", "duration": "bad", "end_date": "bad"},
        {"application_id": "502"},
        dict.fromkeys(("user_id", "application_id", "window_title", "start_time",
                       "end_time", "end_date", "duration")),
    ],
    "application": {
        "501": {"application_id": 501, "app_name": "עורך", "full_name": None,
                "aditional_info": "🚀", "category_id": 2, "type": None},
        "502": {"application_id": "502"},
    },
}

EMPTY = {"tasks": {}, "users": [], "people_picker": {}, "user_settings": [],
         "entries": [], "computer_activities": [], "application": {}}


def _client(payloads: dict) -> TimeCampClient:
    return TimeCampClient(
        DictTransport({f"/{k}$": v for k, v in payloads.items()}), sleeper=lambda s: None
    )


def _builds(spark, client) -> dict:
    acts = ingest.build_computer_activities(spark, client, ["2026-01-05"])
    return {
        "tasks": ingest.build_tasks(spark, client),
        "users": ingest.build_users(spark, client, include_disabled=True),
        "entries": ingest.build_entries(spark, client, "2025-01-01", "2026-02-01"),
        "computer_activities": acts,
        "application_names": ingest.build_application_names(spark, client, acts),
    }


def _rowlist_df(spark, rows, schema):
    """The row-list path the Arrow relation replaced."""
    projected = [
        {f.name: ingest._coerce(r.get(f.name), f.dataType) for f in schema.fields} for r in rows
    ]
    return spark.createDataFrame(projected, schema)


def _landed(df) -> tuple:
    return df.schema, sorted(df.collect(), key=repr)


@pytest.mark.parametrize("payloads", [DEGENERATE, EMPTY], ids=["degenerate", "empty"])
def test_builders_match_rowlist_path(spark, monkeypatch, payloads):
    got = {k: _landed(df) for k, df in _builds(spark, _client(payloads)).items()}
    monkeypatch.setattr(ingest, "_rows_df", _rowlist_df)
    want = {k: _landed(df) for k, df in _builds(spark, _client(payloads)).items()}
    for name in want:
        assert got[name] == want[name], name
    if payloads is EMPTY:
        assert all(not rows for _, rows in got.values())
    else:
        entries = {r.id: r for r in got["entries"][1]}
        assert entries["1"].duration == 12 and entries["2"].duration is None
        assert entries["2"].date is None and entries["4"].date is None
        assert entries["3"].tags is None and entries["4"].tags is None
        assert entries["2"].tags is None  # empty list → NULL
        tasks = {r.task_id: r for r in got["tasks"][1]}
        assert tasks["1"].budgeted == 12 and tasks["2"].budgeted == 0
        assert tasks["2"].task_breadcrumb == "פרויקט 🚀 / مهمة"


def test_multi_key_tag_keeps_api_key_order(spark):
    """The one value the row-list path did not keep: it shipped each tag
    dict as a JVM HashMap, so a multi-key tag's JSON text came out in hash
    order. The Arrow map keeps the API's order, like the reference's
    ``json.dumps`` and the DataSource twin ``_entry_row``, and non-ASCII
    text stays unescaped in both."""
    from good_enough_timecamp_data_pipeline_spark.sources import datasource

    raw = {"id": 1, "tags": [{"zeta": 1, "tagId": 7, "alpha": "a", "name": "🏷"}]}
    client = _client({"entries": [raw]})
    (row,) = ingest.build_entries(spark, client, "2025-01-01", "2026-02-01").collect()
    assert row.tags == '[{"zeta":"1","tagId":"7","alpha":"a","name":"🏷"}]'
    assert row.tags == datasource._entry_row(raw)[6]


@pytest.mark.parametrize("threshold", [None, "0"], ids=["local-relation", "arrow-rdd"])
def test_builder_frames_start_no_python_worker(spark, threshold):
    """Each builder's plan has no Python node and its RDD lineage no
    ``PythonRDD`` (the row-list path's ``parallelize`` source carries one),
    both for a ``LocalTableScan`` and, above
    ``arrow.localRelationThreshold``, for the JVM scan of Arrow batches."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        client = TimeCampClient(demo_transport(), sleeper=lambda s: None)
        for name, df in _builds(spark, client).items():
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
            for node in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                         "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas"):
                assert node not in plan, (name, node, plan)
            assert "PythonRDD" not in qe.toRdd().toDebugString(), name
            if threshold is None:  # demo payloads sit below the threshold
                assert "LocalTableScan" in plan, (name, plan)
    finally:
        spark.conf.set(key, prev)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_crumb_builders_plan_no_recursion_or_join(spark):
    """The trees are walked on the driver: `build_tasks` plans no recursive
    loop (``UnionLoop``) and no join, and `build_users` no loop and no
    join beyond its two lookups (primary group, group row)."""
    client = TimeCampClient(demo_transport(), sleeper=lambda s: None)
    tasks = _optimized(ingest.build_tasks(spark, client))
    assert "UnionLoop" not in tasks and "Join" not in tasks, tasks
    users = _optimized(ingest.build_users(spark, client))
    assert "UnionLoop" not in users, users
    assert len(re.findall(r"\bJoin \w+", users)) == 2, users


def _spark_tasks(spark, raw):
    """`build_tasks` with its ids canonicalized by Column expressions and
    the tree walked by `hierarchy.breadcrumbs`."""
    base = T.StructType(schemas.TASKS.fields[:6])
    df = spark.createDataFrame(ingest._project(raw, base), base)
    df = canonicalize_hierarchy(df).withColumn("budgeted", measure_long("budgeted"))
    return breadcrumbs(df, n_levels=8)


@pytest.mark.parametrize("payloads", [DEGENERATE, "demo"], ids=["degenerate", "demo"])
def test_build_tasks_matches_spark_walk(spark, payloads):
    client = (TimeCampClient(demo_transport(), sleeper=lambda s: None)
              if payloads == "demo" else _client(payloads))
    got = ingest.build_tasks(spark, client)
    want = _spark_tasks(spark, client.get_tasks())
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_group_rows_match_spark_walk(spark):
    """'g'-prefixed ids and parents, a 'g0' and a '' parent (roots), a
    missing parent, a 2-cycle and a NULL id: the driver projection and
    walk give the rows of strip_prefix/null_canonical Columns and
    `hierarchy.breadcrumbs`."""
    groups = [
        {"group_id": "g1", "name": "Everyone", "parent_id": "g0"},
        {"group_id": "g2", "name": "Eng", "parent_id": "g1"},
        {"group_id": "3", "name": "Платформа", "parent_id": "2"},
        {"group_id": "g4", "name": None, "parent_id": "g3"},
        {"group_id": "g5", "name": "Lost", "parent_id": "g99"},
        {"group_id": "g6", "name": "X", "parent_id": "g7"},
        {"group_id": "g7", "name": "Y", "parent_id": "g6"},
        {"group_id": "g8", "name": "Top", "parent_id": ""},
        {"group_id": None, "name": "NoId", "parent_id": "g1"},
    ]
    def text(v):
        return None if v is None else str(v)

    raw = spark.createDataFrame(
        [(text(g.get("group_id", "")), text(g.get("name", "")), str(g.get("parent_id") or ""))
         for g in groups],
        schemas.GROUPS,
    )
    canon = raw.withColumn("group_id", strip_prefix("group_id", "g")).withColumn(
        "parent_id", null_canonical(strip_prefix("parent_id", "g"))
    )
    want = breadcrumbs(canon, "group_id", "parent_id", "name", n_levels=5, prefix="group")
    got = ingest.group_rows(groups)
    assert [tuple(r) for r in got] == [tuple(want.columns)] * len(got)
    assert sorted((tuple(r.values()) for r in got), key=repr) == sorted(
        (tuple(r) for r in want.collect()), key=repr
    )
    by_id = {r["group_id"]: r for r in got}
    assert by_id["6"]["group_breadcrumb"] == "Y / X"
    assert by_id["4"]["name"] is None
    assert by_id["4"]["group_breadcrumb"] == "Everyone / Eng / Платформа"
