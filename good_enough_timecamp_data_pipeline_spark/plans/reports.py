"""The two flagship report queries of the reference, Spark-first.

Reference parity:
- "Budget vs Tracked Time" task-level report —
  ``/root/reference/SAMPLE-REPORTS.md:20-137`` (recursive closure, entries
  join, grouped SUM, left-join assembly, "Xh YYm" formatting, ORDER BY desc).
- "Project Cumulative vs Budgeted" project-level report —
  ``/root/reference/SAMPLE-PROJECT-BUDGET-REPORT.md:20-147`` (roots-as-
  projects, two grouped SUMs over the closure, '%.4f' hour formatting).

Both run over the task tree synthesized from testdata (plans/testdata.py).
Each ``report_*`` entry has a ``REPORT_*_SQL`` twin, the exact ANSI-SQL
equivalent for DuckDB (``oracle_task_budget_sql`` builds the task one over
any tasks/entries SELECTs).

Scale design (100 TB): the entries fact is the only big input. The closure
and task dim are broadcast (`F.broadcast`), so the only shuffle in either
report is the final groupBy on ancestor/project id — a partial-aggregated
hash agg whose key cardinality is the task count, not the fact count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.formatting import format_duration, format_duration_signed, format_hours
from ..operators.hierarchy import closure_sql, transitive_closure
from . import shared
from .common import fmt_duration_signed_sql, fmt_duration_sql
from .testdata import ENTRIES_SQL, TASKS_SQL, entries_df, tasks_df


# ---------------------------------------------------------------------------
# SQL fragments for the oracle side (DuckDB) — must mirror functions/formatting
# ---------------------------------------------------------------------------

def _fmt_hours_sql(expr: str) -> str:
    return f"printf('%.4f', ({expr}) / 3600.0)"


_CRUMB_CTE = """
crumb AS (
    -- task_budget_report's crumb: the names up the closure's walk, root
    -- first, NULL names skipped; the walk ends at a root, a missing
    -- parent, an id it already visited, or the depth cap
    WITH RECURSIVE walk(task_id, cursor_id, path, visited, d) AS (
        SELECT task_id, parent_id, name, [task_id], 0 FROM _tasks
        UNION ALL
        SELECT w.task_id, t.parent_id,
               COALESCE(t.name || ' / ' || w.path, t.name, w.path),
               list_append(w.visited, t.task_id), w.d + 1
        FROM walk w JOIN _tasks t ON w.cursor_id = t.task_id
        WHERE w.d < 8 AND NOT list_contains(w.visited, t.task_id)
    )
    SELECT w.task_id, COALESCE(w.path, '') AS task_breadcrumb FROM walk w
    WHERE w.cursor_id IS NULL
       OR w.d = 8
       OR list_contains(w.visited, w.cursor_id)
       OR NOT EXISTS (SELECT 1 FROM _tasks t WHERE t.task_id = w.cursor_id)
)
""".strip()


# ---------------------------------------------------------------------------
# Report 1 — Budget vs Tracked Time (task level)
# ---------------------------------------------------------------------------

@shared.artifact("task_closure_unroll_d3")
def task_closure_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tasks tree's transitive closure as a SESSION-shared checkpoint
    (plans/shared.py): the closure is a dimension-sized derived table
    (task count × avg depth rows) consumed by BOTH flagship reports —
    exactly the table a production warehouse materializes next to its
    dimension rather than re-deriving per report. The synthesized tree
    (plans/testdata.py) is exactly 3 levels, so the unroll strategy
    applies; h_closure_pairs keeps exercising the native recursive-CTE
    strategy for unbounded-depth parity."""
    return transitive_closure(tasks_df(spark, sf_dir), strategy="unroll", max_depth=3)


def report_task_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The closure is the session-shared materialization; within the
    # report the remaining broadcast sides (crumbs, tracked) inline into
    # the consumer job — persisting THOSE costs a blocking
    # materialization job that recomputing the tiny tables does not
    # (measured medians at sf0.1: unroll-no-persist 2.6 s vs CTE+persist
    # 3.6 s for the whole report).
    return task_budget_report(
        tasks_df(spark, sf_dir),
        entries_df(spark, sf_dir),
        max_depth=3,
        closure=task_closure_shared(spark, sf_dir),
    )


def task_budget_report(
    tasks: DataFrame,
    entries: DataFrame,
    max_depth: int = 8,
    closure: DataFrame | None = None,
) -> DataFrame:
    """DataFrame-level Budget-vs-Tracked report over ANY (tasks, entries)
    pair with the FIXTURES.md §A contract — the reusable core
    `report_task_budget` binds to testdata, and the golden-parity test
    (tests/test_reports.py) binds to the reference's published sample
    table (SAMPLE-REPORTS.md:126-137). ``closure``: pass an
    already-materialized (ancestor_id, descendant_id, depth) closure to
    skip the in-plan derivation."""
    if closure is None:
        closure = transitive_closure(tasks, strategy="unroll", max_depth=max_depth)
    tracked = (
        entries.join(
            F.broadcast(closure),
            entries["task_id"] == closure["descendant_id"],
        )
        .groupBy("ancestor_id")
        .agg(F.sum("duration").alias("cumulative_seconds"))
    )
    names = tasks.select(F.col("task_id").alias("_nid"), F.col("name").alias("_nname"))
    path = (
        closure.join(F.broadcast(names), closure["ancestor_id"] == names["_nid"])
        .groupBy("descendant_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("depth")).alias("o"), F.col("_nname").alias("n")))
                ),
                lambda s: s["n"],
            ).alias("_path")
        )
    )
    crumbs = path.select(
        F.col("descendant_id"),
        F.concat_ws(" / ", F.col("_path")).alias("task_breadcrumb"),
    )
    dim = tasks.join(
        F.broadcast(crumbs), tasks["task_id"] == crumbs["descendant_id"], "left"
    ).drop("descendant_id")

    left_expr = F.col("budgeted_seconds") - F.col("cumulative_seconds")
    # tracked is keyed by ancestor id (≤ task count) — broadcast it so the
    # assembly join never shuffles the dim
    return (
        dim.filter(F.col("budgeted") > 0)
        .join(F.broadcast(tracked), dim["task_id"] == tracked["ancestor_id"], "left")
        .select(
            dim["task_id"],
            dim["name"],
            # the recomputed crumb; landed tasks already carry their own
            crumbs["task_breadcrumb"],
            dim["budgeted"].alias("budgeted_seconds"),
            F.coalesce(F.col("cumulative_seconds"), F.lit(0).cast("long")).alias(
                "cumulative_seconds"
            ),
        )
        .withColumn("left_seconds", left_expr)
        .withColumn("cumulative_fmt", format_duration(F.col("cumulative_seconds")))
        .withColumn("left_fmt", format_duration_signed(F.col("left_seconds")))
        .withColumn("budgeted_fmt", format_duration(F.col("budgeted_seconds")))
        .orderBy(F.desc("cumulative_seconds"), F.asc("task_id"))
    )


def oracle_task_budget_sql(tasks_sql: str = TASKS_SQL, entries_sql: str = ENTRIES_SQL) -> str:
    """``tasks_sql``/``entries_sql``: SELECTs of (task_id, parent_id, name,
    budgeted) and (task_id, duration); default to the testdata tables."""
    return f"""
WITH RECURSIVE
{closure_sql(tasks_sql)},
_entries AS ({entries_sql}),
{_CRUMB_CTE},
tracked AS (
    SELECT th.ancestor_id, CAST(SUM(e.duration) AS BIGINT) AS cumulative_seconds
    FROM _entries e
    JOIN task_hierarchy th ON e.task_id = th.descendant_id
    GROUP BY th.ancestor_id
)
SELECT t.task_id,
       t.name,
       c.task_breadcrumb,
       t.budgeted                                    AS budgeted_seconds,
       COALESCE(tr.cumulative_seconds, 0)            AS cumulative_seconds,
       t.budgeted - COALESCE(tr.cumulative_seconds, 0) AS left_seconds,
       {fmt_duration_sql('COALESCE(tr.cumulative_seconds, 0)')} AS cumulative_fmt,
       {fmt_duration_signed_sql('t.budgeted - COALESCE(tr.cumulative_seconds, 0)')} AS left_fmt,
       {fmt_duration_sql('t.budgeted')}             AS budgeted_fmt
FROM _tasks t
LEFT JOIN tracked tr ON t.task_id = tr.ancestor_id
LEFT JOIN crumb c   ON t.task_id = c.task_id
WHERE t.budgeted > 0
ORDER BY cumulative_seconds DESC, t.task_id ASC
""".strip()


REPORT_TASK_BUDGET_SQL = oracle_task_budget_sql()


# ---------------------------------------------------------------------------
# Report 2 — Project Cumulative vs Budgeted (project = root task)
# ---------------------------------------------------------------------------

def report_project_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    return project_budget_report(
        tasks_df(spark, sf_dir),
        entries_df(spark, sf_dir),
        max_depth=3,
        closure=task_closure_shared(spark, sf_dir),
    )


def project_budget_report(
    tasks: DataFrame,
    entries: DataFrame,
    max_depth: int = 8,
    closure: DataFrame | None = None,
) -> DataFrame:
    """DataFrame-level Project-Cumulative-vs-Budgeted core (see
    task_budget_report); golden-parity bound to
    SAMPLE-PROJECT-BUDGET-REPORT.md:133-143 in tests/test_reports.py."""
    # same sharing contract as task_budget_report; the pairs set is cheap
    # to recompute lazily for both SUM consumers — persist's blocking
    # materialization job costs more than the rebuild
    if closure is None:
        closure = transitive_closure(tasks, strategy="unroll", max_depth=max_depth)
    projects = tasks.filter(F.col("parent_id").isNull()).select(
        F.col("task_id").alias("project_id"), F.col("name").alias("project_name")
    )
    pd_pairs = projects.join(
        closure, projects["project_id"] == closure["ancestor_id"]
    ).select("project_id", "project_name", "descendant_id")

    tracked = (
        entries.join(
            F.broadcast(pd_pairs),
            entries["task_id"] == pd_pairs["descendant_id"],
        )
        .groupBy("project_id")
        .agg(F.sum("duration").alias("cumulative_seconds"))
    )
    budget = (
        tasks.join(
            F.broadcast(pd_pairs),
            tasks["task_id"] == pd_pairs["descendant_id"],
        )
        .groupBy("project_id")
        .agg(F.sum("budgeted").alias("budgeted_seconds"))
    )

    # both aggregates are keyed by project id (root count) — broadcast
    return (
        projects.join(F.broadcast(tracked), "project_id", "left")
        .join(F.broadcast(budget), "project_id", "left")
        .select(
            "project_id",
            "project_name",
            F.coalesce(F.col("cumulative_seconds"), F.lit(0).cast("long")).alias(
                "cumulative_seconds"
            ),
            F.coalesce(F.col("budgeted_seconds"), F.lit(0).cast("long")).alias(
                "budgeted_seconds"
            ),
        )
        .withColumn("cumulative_hours", format_hours(F.col("cumulative_seconds")))
        .withColumn("budgeted_hours", format_hours(F.col("budgeted_seconds")))
        .orderBy(F.desc("cumulative_seconds"), F.asc("project_id"))
    )


REPORT_PROJECT_BUDGET_SQL = f"""
WITH RECURSIVE
{closure_sql(TASKS_SQL)},
_entries AS ({ENTRIES_SQL}),
projects AS (
    SELECT task_id AS project_id, name AS project_name
    FROM _tasks WHERE parent_id IS NULL
),
pd AS (
    SELECT p.project_id, p.project_name, th.descendant_id
    FROM projects p
    JOIN task_hierarchy th ON th.ancestor_id = p.project_id
),
tracked AS (
    SELECT pd.project_id, CAST(SUM(e.duration) AS BIGINT) AS cumulative_seconds
    FROM _entries e JOIN pd ON e.task_id = pd.descendant_id
    GROUP BY pd.project_id
),
budget AS (
    SELECT pd.project_id, CAST(SUM(t.budgeted) AS BIGINT) AS budgeted_seconds
    FROM _tasks t JOIN pd ON t.task_id = pd.descendant_id
    GROUP BY pd.project_id
)
SELECT p.project_id,
       p.project_name,
       COALESCE(tr.cumulative_seconds, 0) AS cumulative_seconds,
       COALESCE(b.budgeted_seconds, 0)    AS budgeted_seconds,
       {_fmt_hours_sql('COALESCE(tr.cumulative_seconds, 0)')} AS cumulative_hours,
       {_fmt_hours_sql('COALESCE(b.budgeted_seconds, 0)')}    AS budgeted_hours
FROM projects p
LEFT JOIN tracked tr ON p.project_id = tr.project_id
LEFT JOIN budget b   ON p.project_id = b.project_id
ORDER BY cumulative_seconds DESC, p.project_id ASC
""".strip()
