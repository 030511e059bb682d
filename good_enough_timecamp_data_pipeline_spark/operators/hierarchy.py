"""Hierarchy operators: transitive closure, breadcrumbs, level columns.

Reference parity (SURVEY.md §2.5):

- H1 transitive closure — the reference expresses it as a DuckDB
  ``WITH RECURSIVE`` CTE (``/root/reference/SAMPLE-REPORTS.md:59-75``,
  ``SAMPLE-PROJECT-BUDGET-REPORT.md:54-70``): base = every task is its own
  ancestor; step = join the working set to tasks on ancestor = task_id and
  emit the parent as a further ancestor.
- H2 breadcrumb path — a Python parent-walk with a ``visited`` cycle guard
  (``/root/reference/dlt_fetch_timecamp.py:527-547``, groups variant
  ``:313-342``).
- H3 denormalization — ``" / ".join(path)`` plus fixed-depth level columns
  (``/root/reference/dlt_fetch_timecamp.py:554-567``).

Spark-first design
------------------
Spark 4 has native recursive CTEs, but the closure is also a library
operator here (`transitive_closure`) built as a bounded *lazy* unroll of
broadcast self-joins:

- The hierarchy table is a *dimension* — even at 100 TB of facts, the tasks
  dim is millions of rows at most, so each iteration's join broadcasts the
  (node → parent) edge list: zero shuffles, and the unroll runs
  ``max_depth`` (reference caps at 8) rounds.
- The unroll is fully lazy: no ``localCheckpoint``/``isEmpty`` inside the
  loop, so the closure itself schedules no job and the whole consumer
  query (closure + fact join + agg) plans as one query. Native
  ``WITH RECURSIVE`` is not one job: Spark plans and runs every level as
  separate queries (a repartition, a count, a collect into a local
  relation once few rows remain).
- Cycle safety: the walk carries a ``_visited`` id array and stops a branch
  when the next ancestor is already in it — same semantics as the
  reference's ``visited`` set — plus the hard depth bound.
- A hierarchy of at most ``local.MAX_ROWS`` rows finishes on the driver
  (operators/local.py): one bounded probe collects its (id, parent)
  pairs, `_closure_rows` walks the same levels in Python and the closure
  comes back as an Arrow-backed local relation. That probe is the one
  job building a closure now costs, on either side of the threshold.
- Rows the driver already holds (ingest's API payloads) skip Spark:
  `breadcrumb_rows` walks them as dicts with the rules of `breadcrumbs`.

The closure output is small ⇒ callers should ``F.broadcast`` it when joining
facts against it (done in plans/reports.py).
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import local

DEFAULT_MAX_DEPTH = 8

def _as_view(df: DataFrame, tag: str) -> str:
    """Register a DataFrame under a temp-view name keyed by the INPUT
    PLAN's semantic hash.

    ``spark.sql`` analyzes eagerly, so the returned DataFrame binds the
    view's current definition at call time — a later call re-registering
    the same name cannot retroactively change an earlier closure. The
    semantic hash keeps the name (hence the generated SQL text, hence
    the codegen/JIT classes) stable across repeated calls on the same
    input, while two concurrent calls on DIFFERENT inputs get different
    names instead of interleaving createOrReplaceTempView/spark.sql on
    one shared name and binding one query to the other's edge table
    (same-input concurrent registration stays a benign race — both
    register the identical definition)."""
    name = f"__hier_{tag}_{df.semanticHash() & 0x7FFFFFFF:x}"
    df.createOrReplaceTempView(name)
    return name


def _native_recursive_cte(df: DataFrame) -> bool:
    try:
        return int(df.sparkSession.version.split(".")[0]) >= 4
    except ValueError:  # non-standard version string — feature-probe instead
        try:
            df.sparkSession.sql(
                "WITH RECURSIVE __p(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM __p "
                "WHERE n < 2) SELECT 1 WHERE FALSE"
            ).collect()
            return True
        except Exception:
            return False


def _closure_rows(edges: pa.Table, max_depth: int, depth_nullable: bool) -> pa.Table:
    """`transitive_closure` over (id, parent) rows the driver holds: the
    levels both Spark strategies build. One base row per input row (a NULL
    id included); then, per level up to ``max_depth``, one row per pair of
    a frontier row and an input row whose id is the frontier's ancestor,
    whose parent is not NULL and not yet on that frontier row's visited
    path — a duplicated (id, parent) row repeats the step, as the join
    does. ``depth_nullable``: the recursive CTE types depth nullable, the
    unroll's literals do not."""
    ids, parents = edges.column(0).to_pylist(), edges.column(1).to_pylist()
    up: dict = {}
    for node, parent in zip(ids, parents):
        if node is not None and parent is not None:
            up.setdefault(node, []).append(parent)
    desc, anc, depth = list(ids), list(ids), [0] * len(ids)
    frontier = [(d, (d,)) for d in ids]  # (descendant, visited path)
    for level in range(1, max_depth + 1):
        frontier = [
            (d, (*path, p)) for d, path in frontier for p in up.get(path[-1], ()) if p not in path
        ]
        if not frontier:
            break
        for d, path in frontier:
            desc.append(d)
            anc.append(path[-1])
            depth.append(level)
    typ = edges.schema.field(0).type
    return pa.Table.from_arrays(
        [pa.array(desc, typ), pa.array(anc, typ), pa.array(depth, pa.int32())],
        schema=pa.schema(
            [
                ("descendant_id", typ),
                ("ancestor_id", typ),
                pa.field("depth", pa.int32(), depth_nullable),
            ]
        ),
    )


def transitive_closure(
    tasks: DataFrame,
    id_col: str = "task_id",
    parent_col: str = "parent_id",
    max_depth: int = DEFAULT_MAX_DEPTH,
    strategy: str = "auto",
) -> DataFrame:
    """Ancestor/descendant closure of an adjacency-list hierarchy.

    Returns (descendant_id, ancestor_id, depth): depth 0 is the self-pair,
    depth 1 the parent, etc. ``parent_col`` must already be canonicalized
    (''/'0' → NULL — see operators.canonicalize.null_canonical).

    Two physical strategies with identical semantics (cycle guard + depth
    cap included):

    - ``recursive_cte`` (default on Spark ≥ 4): native ``WITH RECURSIVE``
      — the engine iterates a working table and *stops when the frontier
      empties*, so a 3-level tree costs 3 rounds regardless of
      ``max_depth``; each round is planned and run as its own queries
      (see the module docstring). The recursive member carries a BROADCAST
      hint on the dimension side: CTE rounds don't AQE-coalesce, so the
      default sort-merge join would pay a full spark.sql.shuffle.partitions
      exchange of a near-empty frontier EVERY round (measured 3× the whole
      closure cost); the hierarchy dim is dimension-sized by definition,
      so broadcasting it makes each round shuffle-free.
    - ``unroll``: a lazy chain of ``max_depth`` broadcast self-joins —
      portable to any Spark, and the broadcast edge exchange is reused
      across rounds; costs O(max_depth) plan nodes even for shallow trees.

    Either strategy finishes on the driver (`_closure_rows`) when the
    hierarchy has at most ``local.MAX_ROWS`` rows and its id and parent
    columns share one type (a mixed pair keeps Spark's own coercion or
    analysis error).
    """
    if strategy not in ("auto", "recursive_cte", "unroll"):
        raise ValueError(f"unknown strategy {strategy!r}")
    cte = strategy in ("auto", "recursive_cte") and _native_recursive_cte(tasks)
    pairs = tasks.select(F.col(id_col), F.col(parent_col))
    if pairs.schema[0].dataType == pairs.schema[1].dataType:
        small = local.collect_small(pairs)
        if small is not None:
            closure = _closure_rows(small, max_depth, depth_nullable=cte)
            return tasks.sparkSession.createDataFrame(closure)
    if cte:
        v = _as_view(
            tasks.select(
                F.col(id_col).alias("_node"), F.col(parent_col).alias("_parent")
            ),
            "closure",
        )
        return tasks.sparkSession.sql(
            f"""
            WITH RECURSIVE __closure(descendant_id, ancestor_id, depth, _visited) AS (
                SELECT _node, _node, 0, array(_node) FROM {v}
                UNION ALL
                SELECT /*+ BROADCAST(t) */ c.descendant_id, t._parent, c.depth + 1,
                       array_append(c._visited, t._parent)
                FROM __closure c JOIN {v} t ON c.ancestor_id = t._node
                WHERE t._parent IS NOT NULL
                  AND NOT array_contains(c._visited, t._parent)
                  AND c.depth < {int(max_depth)}
            )
            SELECT descendant_id, ancestor_id, depth FROM __closure
            """
        )

    edges = tasks.select(
        F.col(id_col).alias("_node"),
        F.col(parent_col).alias("_parent"),
    ).filter(F.col("_parent").isNotNull())

    base = tasks.select(
        F.col(id_col).alias("descendant_id"),
        F.col(id_col).alias("ancestor_id"),
        F.lit(0).alias("depth"),
        F.array(F.col(id_col)).alias("_visited"),
    )
    levels = [base]
    frontier = base
    for d in range(1, max_depth + 1):
        frontier = (
            frontier.alias("f")
            .join(
                F.broadcast(edges).alias("e"),
                F.col("f.ancestor_id") == F.col("e._node"),
            )
            .filter(~F.array_contains(F.col("f._visited"), F.col("e._parent")))
            .select(
                F.col("f.descendant_id"),
                F.col("e._parent").alias("ancestor_id"),
                F.lit(d).alias("depth"),
                F.array_append(F.col("f._visited"), F.col("e._parent")).alias("_visited"),
            )
        )
        levels.append(frontier)

    return reduce(DataFrame.unionByName, levels).drop("_visited")


def closure_sql(tasks_cte: str, max_depth: int = DEFAULT_MAX_DEPTH) -> str:
    """ANSI ``WITH RECURSIVE`` equivalent of `transitive_closure` (depth
    bound + visited-array cycle guard), runnable by DuckDB and Spark ≥ 4.

    ``tasks_cte`` is a SELECT producing (task_id, parent_id). The returned
    text is a full CTE chain ending in ``task_hierarchy``; embed it as
    ``WITH RECURSIVE {closure_sql(...)} SELECT ... FROM task_hierarchy``
    and select its columns by name (it also carries ``visited``).

    A walk stops at an id it already visited, so a parent cycle gives each
    member its cycle-mates once, as `transitive_closure` does. The ids are
    visited as strings: ``split`` on a character no id holds is the one
    single-element array constructor both engines share.
    """
    return f"""
_tasks AS ({tasks_cte}),
task_hierarchy(descendant_id, ancestor_id, depth, visited) AS (
    SELECT task_id, task_id, 0, split(CAST(task_id AS STRING), chr(0)) FROM _tasks
    UNION ALL
    SELECT th.descendant_id, t.parent_id, th.depth + 1,
           array_append(th.visited, CAST(t.parent_id AS STRING))
    FROM task_hierarchy th
    JOIN _tasks t ON th.ancestor_id = t.task_id
    WHERE t.parent_id IS NOT NULL AND th.depth < {max_depth}
      AND NOT array_contains(th.visited, CAST(t.parent_id AS STRING))
)
""".strip()


def breadcrumbs(
    tasks: DataFrame,
    id_col: str = "task_id",
    parent_col: str = "parent_id",
    name_col: str = "name",
    max_depth: int = DEFAULT_MAX_DEPTH,
    n_levels: int = 8,
    sep: str = " / ",
    prefix: str = "task",
) -> DataFrame:
    """Denormalized breadcrumb columns for every node of a hierarchy.

    Output: input columns + ``{prefix}_breadcrumb`` (root→leaf names joined
    by ``sep``) + ``{prefix}_level_1..n_levels`` ('' beyond actual depth).
    Missing parents end the walk (reference yields the partial path);
    a repeated ancestor id ends it too (cycle guard).

    A lazy linear chain of ``max_depth`` broadcast left joins where a
    finished row (NULL cursor) passes through the remaining joins
    unchanged. Payloads already held on the driver walk with
    `breadcrumb_rows` instead.
    """
    dim = tasks.select(
        F.col(id_col).alias("_node"),
        F.col(parent_col).alias("_parent"),
        F.col(name_col).alias("_name"),
    )

    walk = dim.select(
        F.col("_node").alias("_id"),
        F.array(F.col("_name")).alias("_path"),
        F.array(F.col("_node")).alias("_visited"),
        F.col("_parent").alias("_cursor"),
    )
    for _ in range(max_depth):
        p = F.col("p._node")
        walk = (
            walk.alias("w")
            .join(F.broadcast(dim).alias("p"), F.col("w._cursor") == p, "left")
            .select(
                F.col("w._id").alias("_id"),
                F.when(p.isNull(), F.col("w._path"))
                .otherwise(F.concat(F.array(F.col("p._name")), F.col("w._path")))
                .alias("_path"),
                F.when(p.isNull(), F.col("w._visited"))
                .otherwise(F.array_append(F.col("w._visited"), p))
                .alias("_visited"),
                F.when(
                    p.isNull() | F.array_contains(F.col("w._visited"), F.col("p._parent")),
                    F.lit(None).cast("string"),
                )
                .otherwise(F.col("p._parent"))
                .alias("_cursor"),
            )
        )

    crumbs = walk.select(
        F.col("_id"),
        F.concat_ws(sep, F.col("_path")).alias(f"{prefix}_breadcrumb"),
        *[
            F.coalesce(F.try_element_at(F.col("_path"), F.lit(i)), F.lit("")).alias(
                f"{prefix}_level_{i}"
            )
            for i in range(1, n_levels + 1)
        ],
    )
    return tasks.join(crumbs, tasks[id_col] == crumbs["_id"], "left").drop("_id")


def breadcrumb_rows(rows: list[dict], n_levels: int, prefix: str) -> list[dict]:
    """`breadcrumbs` over dict rows the driver already holds: one parent
    walk per row (the reference's form, H2), rows × depth work, no Spark.

    Rows carry ``{prefix}_id``, a canonical ``parent_id`` (root = None)
    and ``name``. Same rules as `breadcrumbs`: a missing parent ends the
    walk with the partial path; the next parent is checked against the ids
    visited before the step (x↔y gives ``Y / X``); at most
    `DEFAULT_MAX_DEPTH` steps; NULL names are skipped in the breadcrumb
    and '' as levels; a None id gets None crumbs (no walk joins back to
    it). One new dict per input row: a duplicated id is walked through its
    last row, where the join repeats the row once per match.
    """
    id_key = f"{prefix}_id"
    by_id = {r[id_key]: r for r in rows if r[id_key] is not None}
    keys = [f"{prefix}_breadcrumb", *(f"{prefix}_level_{i}" for i in range(1, n_levels + 1))]
    out = []
    for r in rows:
        path, visited, cursor = [r["name"]], [r[id_key]], r["parent_id"]
        for _ in range(DEFAULT_MAX_DEPTH):
            p = by_id.get(cursor)
            if p is None:
                break
            path.append(p["name"])
            nxt = p["parent_id"]
            cursor = None if nxt is None or nxt in visited else nxt
            visited.append(p[id_key])
        path.reverse()
        crumbs = [" / ".join(n for n in path if n is not None)] + [
            path[i] if i < len(path) and path[i] is not None else "" for i in range(n_levels)
        ]
        if r[id_key] is None:  # no walk joins back to a NULL id
            crumbs = [None] * len(keys)
        out.append({**r, **dict(zip(keys, crumbs))})
    return out
