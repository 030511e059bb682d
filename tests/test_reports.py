"""Flagship report properties (SURVEY.md §5: rollup conservation etc.)."""

import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.plans import reports, testdata


@pytest.fixture(scope="module")
def project_report(spark, sf_dir):
    return reports.report_project_budget(spark, sf_dir).collect()


def test_project_report_shape(project_report):
    assert len(project_report) == 5  # one row per region root
    for r in project_report:
        assert r.project_id.startswith("r")
        assert r.cumulative_seconds >= 0
        assert r.budgeted_seconds >= 0


def test_rollup_conservation(spark, sf_dir, project_report):
    """Sum of per-project cumulative == total entry durations (every entry's
    customer exists and every customer sits under exactly one region)."""
    total = testdata.entries_df(spark, sf_dir).agg(F.sum("duration")).first()[0]
    assert sum(r.cumulative_seconds for r in project_report) == total


def test_budget_conservation(spark, sf_dir, project_report):
    total = testdata.tasks_df(spark, sf_dir).agg(F.sum("budgeted")).first()[0]
    assert sum(r.budgeted_seconds for r in project_report) == total


def test_task_report_only_budgeted(spark, sf_dir):
    df = reports.report_task_budget(spark, sf_dir)
    assert df.filter(F.col("budgeted_seconds") <= 0).count() == 0
    row = df.first()  # ordered by cumulative desc
    assert row.cumulative_fmt.endswith("m") and "h " in row.cumulative_fmt


def test_golden_parity_with_reference_sample_output(spark):
    """Verbatim parity with the reference's PUBLISHED sample report
    (/root/reference/SAMPLE-REPORTS.md:126-137): a fixture reproducing the
    four golden rows is run through (a) the reference's own DuckDB SQL
    (macro + recursive CTE, SAMPLE-REPORTS.md:20-111, verbatim shape) and
    (b) our Spark report — all three formatted columns must agree row for
    row, and match the golden display literals."""
    import duckdb
    import json
    import tempfile

    from good_enough_timecamp_data_pipeline_spark.plans.reports import (
        task_budget_report,
    )

    # fixture: the 3 golden root tasks + the golden 4-level TCD chain.
    # SEO cumulative 1255530 s = 348h45m30s → displays 348h 45m with
    # Left 151h 14m (the golden pair proves display-floor vs exact-left).
    tasks = [
        (1, 0, "[MAR] SEO", 1800000, "[MAR] SEO"),
        (2, 0, "[ORG] Departments meetings", 72000, "[ORG] Departments meetings"),
        (3, 0, "[ORG] Education", 72000, "[ORG] Education"),
        (10, 0, "Jira", 0, "Jira"),
        (11, 10, "TimeCamp DEV", 0, "Jira / TimeCamp DEV"),
        (12, 11, "[TCD-2851] Architektura - Front...", 0,
         "Jira / TimeCamp DEV / [TCD-2851] Architektura - Front..."),
        (13, 12, "[TCD-8572] Zmiana design...", 60,
         "Jira / TimeCamp DEV / [TCD-2851] Architektura - Front... / [TCD-8572] Zmiana design..."),
    ]
    entries = [(1, 1255530), (2, 515100), (3, 76500)]

    golden = {
        "[MAR] SEO": ("348h 45m", "151h 14m", "500h 00m"),
        "[ORG] Departments meetings": ("143h 05m", "-123h 05m", "20h 00m"),
        "[ORG] Education": ("21h 15m", "-1h 15m", "20h 00m"),
        "[TCD-8572] Zmiana design...": ("0h 00m", "0h 01m", "0h 01m"),
    }

    # (a) the reference's own SQL over the fixture, in DuckDB
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/tasks.jsonl", "w") as f:
            for tid, pid, name, budget, crumb in tasks:
                f.write(json.dumps({
                    "task_id": tid, "parent_id": pid, "name": name,
                    "budgeted": budget, "task_breadcrumb": crumb,
                }) + "\n")
        with open(f"{d}/entries.jsonl", "w") as f:
            for tid, dur in entries:
                f.write(json.dumps({"task_id": tid, "duration": dur,
                                    "date": "2025-12-15"}) + "\n")
        ref_sql = f"""
CREATE OR REPLACE MACRO format_duration(seconds) AS
    CONCAT(
        CAST(CAST(FLOOR(seconds / 3600) AS INTEGER) AS VARCHAR), 'h ',
        LPAD(CAST(CAST(FLOOR((seconds % 3600) / 60) AS INTEGER) AS VARCHAR), 2, '0'), 'm'
    );
WITH RECURSIVE
tasks AS (
    SELECT task_id, parent_id, name, COALESCE(budgeted, 0) AS budgeted,
           task_breadcrumb
    FROM read_json_auto('{d}/tasks.jsonl')
),
entries AS (
    SELECT task_id, CAST(duration AS INTEGER) AS duration
    FROM read_json_auto('{d}/entries.jsonl')
),
task_hierarchy AS (
    SELECT task_id AS descendant_id, task_id AS ancestor_id FROM tasks
    UNION ALL
    SELECT th.descendant_id, t.parent_id AS ancestor_id
    FROM task_hierarchy th JOIN tasks t ON th.ancestor_id = t.task_id
    WHERE t.parent_id > 0
),
tracked_cumulative AS (
    SELECT th.ancestor_id AS task_id, SUM(e.duration) AS cumulative_seconds
    FROM entries e JOIN task_hierarchy th ON e.task_id = th.descendant_id
    GROUP BY th.ancestor_id
),
report AS (
    SELECT t.name, t.task_breadcrumb AS breadcrumb,
           COALESCE(tc.cumulative_seconds, 0) AS cumulative_seconds,
           t.budgeted AS budgeted_seconds,
           t.budgeted - COALESCE(tc.cumulative_seconds, 0) AS left_seconds
    FROM tasks t LEFT JOIN tracked_cumulative tc ON t.task_id = tc.task_id
    WHERE t.budgeted > 0
)
SELECT name, breadcrumb,
       format_duration(cumulative_seconds) AS cumulative,
       CASE WHEN left_seconds < 0
            THEN CONCAT('-', format_duration(ABS(left_seconds)))
            ELSE format_duration(left_seconds) END AS left_fmt,
       format_duration(budgeted_seconds) AS budgeted
FROM report ORDER BY cumulative_seconds DESC
"""
        ref_rows = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in duckdb.sql(ref_sql).fetchall()
        }

    # (b) our Spark report over the same fixture
    tasks_sdf = spark.createDataFrame(
        [
            (str(tid), None if pid == 0 else str(pid), name, budget)
            for tid, pid, name, budget, _ in tasks
        ],
        "task_id string, parent_id string, name string, budgeted long",
    )
    entries_sdf = spark.createDataFrame(
        [(str(i), str(tid), dur) for i, (tid, dur) in enumerate(entries)],
        "entry_id string, task_id string, duration long",
    )
    ours = {
        r.name: (r.task_breadcrumb, r.cumulative_fmt, r.left_fmt, r.budgeted_fmt)
        for r in task_budget_report(tasks_sdf, entries_sdf, max_depth=8).collect()
    }

    assert set(ours) == set(ref_rows) == set(golden)
    for name in golden:
        # engine-vs-reference-SQL: all three formatted columns + breadcrumb
        assert ours[name] == ref_rows[name], (name, ours[name], ref_rows[name])
        # engine-vs-published-golden-literals
        assert ours[name][1:] == golden[name], (name, ours[name])


def test_golden_parity_project_budget_sample(spark):
    """Verbatim parity with the reference's published project-budget
    sample (/root/reference/SAMPLE-PROJECT-BUDGET-REPORT.md:133-143):
    fixture through the reference's own DuckDB SQL (verbatim shape,
    :20-121) AND our Spark report; formatted decimal hours must match
    both ways, including the repeating-decimal row (164.3333)."""
    import duckdb
    import json
    import tempfile

    from good_enough_timecamp_data_pipeline_spark.plans.reports import (
        project_budget_report,
    )

    tasks = [
        (1, 0, "[MAR] Marketing", 1800000),   # 500h
        (2, 1, "SEO", 720000),                # 200h  → tree 700h
        (3, 0, "Jira", 360000),               # 100h
        (4, 3, "TimeCamp DEV", 1260000),      # 350h  → tree 450h
        (5, 0, "[ORG] Organization", 144000), # 40h
    ]
    entries = [
        (1, 1080000),   # 300h on Marketing root
        (2, 765000),    # 212.5h on SEO → tree 512.5h
        (4, 1512900),   # 420.25h on TimeCamp DEV
        (5, 591600),    # 164h20m → 164.3333h repeating
    ]
    golden = {
        "[MAR] Marketing": ("512.5000", "700.0000"),
        "Jira": ("420.2500", "450.0000"),
        "[ORG] Organization": ("164.3333", "40.0000"),
    }

    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/tasks.jsonl", "w") as f:
            for tid, pid, name, budget in tasks:
                f.write(json.dumps({"task_id": tid, "parent_id": pid,
                                    "name": name, "budgeted": budget}) + "\n")
        with open(f"{d}/entries.jsonl", "w") as f:
            for tid, dur in entries:
                f.write(json.dumps({"task_id": tid, "duration": dur}) + "\n")
        ref_sql = f"""
CREATE OR REPLACE MACRO format_hours(seconds) AS printf('%.4f', seconds / 3600.0);
WITH RECURSIVE
tasks AS (
    SELECT CAST(task_id AS VARCHAR) AS task_id,
           CASE WHEN parent_id IS NULL
                     OR CAST(parent_id AS VARCHAR) IN ('', '0')
                THEN NULL ELSE CAST(parent_id AS VARCHAR) END AS parent_id,
           name, COALESCE(CAST(budgeted AS INTEGER), 0) AS budgeted
    FROM read_json_auto('{d}/tasks.jsonl')
),
entries AS (
    SELECT CAST(task_id AS VARCHAR) AS task_id,
           CAST(duration AS INTEGER) AS duration
    FROM read_json_auto('{d}/entries.jsonl')
),
task_hierarchy AS (
    SELECT task_id AS descendant_id, task_id AS ancestor_id FROM tasks
    UNION ALL
    SELECT th.descendant_id, t.parent_id AS ancestor_id
    FROM task_hierarchy th JOIN tasks t ON th.ancestor_id = t.task_id
    WHERE t.parent_id IS NOT NULL
),
projects AS (SELECT task_id, name FROM tasks WHERE parent_id IS NULL),
project_descendants AS (
    SELECT p.task_id AS project_id, p.name AS project_name, th.descendant_id
    FROM projects p JOIN task_hierarchy th ON th.ancestor_id = p.task_id
),
tracked_cumulative AS (
    SELECT pd.project_id, SUM(e.duration) AS cumulative_seconds
    FROM project_descendants pd JOIN entries e ON e.task_id = pd.descendant_id
    GROUP BY pd.project_id
),
budgeted_total AS (
    SELECT pd.project_id, SUM(t.budgeted) AS budgeted_seconds
    FROM project_descendants pd JOIN tasks t ON t.task_id = pd.descendant_id
    GROUP BY pd.project_id
)
SELECT p.name,
       format_hours(COALESCE(tc.cumulative_seconds, 0)) AS cumulative,
       format_hours(COALESCE(bt.budgeted_seconds, 0)) AS budgeted
FROM projects p
LEFT JOIN tracked_cumulative tc ON p.task_id = tc.project_id
LEFT JOIN budgeted_total bt ON p.task_id = bt.project_id
ORDER BY COALESCE(tc.cumulative_seconds, 0) DESC
"""
        ref_rows = {r[0]: (r[1], r[2]) for r in duckdb.sql(ref_sql).fetchall()}

    tasks_sdf = spark.createDataFrame(
        [
            (str(tid), None if pid == 0 else str(pid), name, budget)
            for tid, pid, name, budget in tasks
        ],
        "task_id string, parent_id string, name string, budgeted long",
    )
    entries_sdf = spark.createDataFrame(
        [(str(i), str(tid), dur) for i, (tid, dur) in enumerate(entries)],
        "entry_id string, task_id string, duration long",
    )
    ours = {
        r.project_name: (r.cumulative_hours, r.budgeted_hours)
        for r in project_budget_report(tasks_sdf, entries_sdf).collect()
    }
    assert set(ours) == set(ref_rows) == set(golden)
    for name in golden:
        assert ours[name] == ref_rows[name] == golden[name], (name, ours[name])


def test_task_report_on_landed_tables_matches_duckdb(spark, tmp_path):
    """Landed ``tasks`` already carry a ``task_breadcrumb`` column; the
    report must use its own recomputed one (no AMBIGUOUS_REFERENCE) and
    equal its DuckDB oracle over the same landed parquet, the demo
    workspace's orphan task (parent id 999) included: both walks end at
    the missing parent with the partial path."""
    import duckdb

    from good_enough_timecamp_data_pipeline_spark.sources import fixtures, io
    from good_enough_timecamp_data_pipeline_spark.sources.pipeline import run_pipeline

    out = str(tmp_path)
    run_pipeline(spark, fixtures.demo_transport(), out, "2025-01-01", "2026-02-01",
                 datasets=("tasks", "entries"))
    ours = reports.task_budget_report(
        io.read_table(spark, out, "tasks"), io.read_table(spark, out, "entries")
    ).collect()

    sql = reports.oracle_task_budget_sql(
        f"SELECT task_id, parent_id, name, budgeted FROM read_parquet('{out}/tasks/*.parquet')",
        f"SELECT task_id, duration FROM read_parquet('{out}/entries/*.parquet')",
    )
    want = duckdb.sql(sql).fetchall()
    assert [tuple(r) for r in ours] == want
    assert [r.task_breadcrumb for r in ours] == [
        "Acme / Platform", "Acme / Platform / Ingest", "Orphan"
    ]


def test_oracle_crumb_matches_spark_on_null_names_cycles_and_deep_chains(spark):
    """Both engines give the same crumbs for a NULL task name (skipped), a
    parent cycle X↔Y (each walk stops at the id it already visited) and a
    12-deep chain (the walk stops at the 8-step cap with the partial
    path)."""
    import duckdb

    tasks = [
        ("root", None, "Root"),
        ("mid", "root", None),
        ("leaf", "mid", "Leaf"),
        ("x", "y", "X"),
        ("y", "x", "Y"),
    ] + [(f"k{i}", f"k{i - 1}" if i else None, f"K{i}") for i in range(13)]
    entries = [("leaf", 60), ("k12", 3600), ("k4", 7)]
    ours = reports.task_budget_report(
        spark.createDataFrame(
            [(t, p, n, 1) for t, p, n in tasks],
            "task_id string, parent_id string, name string, budgeted long",
        ),
        spark.createDataFrame(entries, "task_id string, duration long"),
    ).collect()

    def values(rows):
        return ", ".join(
            "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
            for row in rows
        )

    want = duckdb.sql(reports.oracle_task_budget_sql(
        "SELECT task_id, parent_id, name, CAST(budgeted AS BIGINT) AS budgeted FROM (VALUES "
        + values((*t, 1) for t in tasks) + ") v(task_id, parent_id, name, budgeted)",
        "SELECT task_id, CAST(duration AS BIGINT) AS duration FROM (VALUES "
        + values(entries) + ") v(task_id, duration)",
    )).fetchall()
    assert [tuple(r) for r in ours] == want
    crumbs = {r.task_id: r.task_breadcrumb for r in ours}
    assert crumbs["leaf"] == "Root / Leaf"
    assert crumbs["mid"] == "Root"
    assert (crumbs["x"], crumbs["y"]) == ("Y / X", "X / Y")
    assert crumbs["k12"] == " / ".join(f"K{i}" for i in range(4, 13))


def test_task_report_matches_duckdb_with_entries_on_a_cycle(spark):
    """A parent cycle X↔Y with a 60 s entry on X: each member counts the
    other once, so both engines give X and Y 60 s each; the oracle's
    closure also runs unchanged on Spark and gives DuckDB's pairs."""
    import duckdb

    from good_enough_timecamp_data_pipeline_spark.operators.hierarchy import closure_sql

    tasks = [("x", "y", "X", 1), ("y", "x", "Y", 1), ("r", None, "R", 1), ("c", "r", "C", 1)]
    entries = [("x", 60), ("c", 30)]
    ours = reports.task_budget_report(
        spark.createDataFrame(
            tasks, "task_id string, parent_id string, name string, budgeted long"
        ),
        spark.createDataFrame(entries, "task_id string, duration long"),
    ).collect()

    def values(rows):
        return ", ".join(
            "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
            for row in rows
        )

    tasks_sql = (
        "SELECT task_id, parent_id, name, CAST(budgeted AS BIGINT) AS budgeted "
        "FROM (VALUES " + values(tasks) + ") v(task_id, parent_id, name, budgeted)"
    )
    want = duckdb.sql(reports.oracle_task_budget_sql(
        tasks_sql,
        "SELECT task_id, CAST(duration AS BIGINT) AS duration FROM (VALUES "
        + values(entries) + ") v(task_id, duration)",
    )).fetchall()
    assert [tuple(r) for r in ours] == want
    seconds = {r.task_id: r.cumulative_seconds for r in ours}
    assert (seconds["x"], seconds["y"], seconds["r"]) == (60, 60, 30)

    pairs_sql = (
        "WITH RECURSIVE " + closure_sql(tasks_sql)
        + " SELECT descendant_id, ancestor_id, depth FROM task_hierarchy"
    )
    on_spark = sorted(tuple(r) for r in spark.sql(pairs_sql).collect())
    assert on_spark == sorted(duckdb.sql(pairs_sql).fetchall())
    assert [p for p in on_spark if p[0] == "x"] == [("x", "x", 0), ("x", "y", 1)]
