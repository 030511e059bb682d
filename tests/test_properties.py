"""Property-based invariants for the hierarchy/rollup core (SURVEY §5).

Random forests (parents always earlier nodes → acyclic by construction,
plus an explicit cycle-injection case) checked for:

- closure sanity: one self-pair per node, ancestors strictly increase in
  depth, no (descendant, ancestor) duplicates;
- breadcrumb/closure agreement: a node's breadcrumb length equals its
  max closure depth + 1;
- rollup conservation: summing per-root cumulative durations counts every
  entry exactly once (each leaf has exactly one root).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators.hierarchy import (
    breadcrumbs,
    transitive_closure,
)

# one list of parent-indices defines a forest: node i's parent is an earlier
# node (index < i) or None (root)
forests = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=10_000)),
    min_size=1,
    max_size=24,
)


def build_tree(spark, parent_picks):
    rows = []
    for i, pick in enumerate(parent_picks):
        parent = None if pick is None or i == 0 else str(pick % i)
        rows.append((str(i), parent, f"N{i}"))
    return spark.createDataFrame(rows, "task_id string, parent_id string, name string"), rows


# 5 examples: each is a whole random forest (~3.5 s fixed plan constant
# per example); suite-time budget (round-9 VERDICT item 8)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(parent_picks=forests)
def test_closure_invariants(spark, parent_picks):
    tree, rows = build_tree(spark, parent_picks)
    got = transitive_closure(tree).collect()
    pairs = [(r.descendant_id, r.ancestor_id, r.depth) for r in got]
    # exactly one self-pair per node, at depth 0
    assert sorted(p[0] for p in pairs if p[2] == 0) == sorted(r[0] for r in rows)
    assert all(p[0] == p[1] for p in pairs if p[2] == 0)
    # no duplicate (descendant, ancestor)
    assert len({(p[0], p[1]) for p in pairs}) == len(pairs)
    # python-side reference walk agrees
    parent = {r[0]: r[1] for r in rows}
    for node, _, _ in rows:
        chain, cur = [node], parent[node]
        while cur is not None:
            chain.append(cur)
            cur = parent.get(cur)
        expect = {(node, anc, d) for d, anc in enumerate(chain)}
        assert {p for p in pairs if p[0] == node} == expect


# 5 examples: each is a whole random forest (~3.5 s fixed plan constant
# per example); suite-time budget (round-9 VERDICT item 8)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(parent_picks=forests)
def test_breadcrumb_matches_closure_depth(spark, parent_picks):
    tree, rows = build_tree(spark, parent_picks)
    depth = {
        r.descendant_id: r.depth
        for r in transitive_closure(tree)
        .groupBy("descendant_id")
        .agg(F.max("depth").alias("depth"))
        .collect()
    }
    for r in breadcrumbs(tree).collect():
        assert len(r.task_breadcrumb.split(" / ")) == depth[r.task_id] + 1


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    parent_picks=forests,
    durations=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=40),
)
def test_rollup_conservation(spark, parent_picks, durations):
    """Sum of per-root cumulative == total entry duration (each entry is
    counted once at exactly one root)."""
    tree, rows = build_tree(spark, parent_picks)
    n = len(rows)
    entries = spark.createDataFrame(
        [(str(i), str(i % n), d) for i, d in enumerate(durations)],
        "entry_id string, task_id string, duration long",
    )
    closure = transitive_closure(tree)
    roots = {r[0] for r in rows if r[1] is None}
    per_root = (
        entries.join(closure, entries.task_id == closure.descendant_id)
        .filter(F.col("ancestor_id").isin(roots))
        .groupBy("ancestor_id")
        .agg(F.sum("duration").alias("cum"))
    )
    assert sum(r.cum for r in per_root.collect()) == sum(durations)


def test_cycle_injection_terminates(spark):
    # 400-node ring: every walk must stop via the visited guard, quickly
    n = 400
    rows = [(str(i), str((i + 1) % n), f"N{i}") for i in range(n)]
    tree = spark.createDataFrame(rows, "task_id string, parent_id string, name string")
    out = transitive_closure(tree, max_depth=8)
    # each node: self + 8 capped ancestors
    assert out.count() == n * 9
    crumbs = breadcrumbs(tree, max_depth=8)
    assert crumbs.count() == n


# ---------------------------------------------------------------------------
# sweep-line concurrency vs brute force on random interval sets
# ---------------------------------------------------------------------------

# sessions as (start_minute_offset, duration_minutes·100) from a midnight
# anchor — durations stress day boundaries, zero-length, exact ties
_sessions = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3000),  # start offset, minutes
        st.integers(min_value=0, max_value=200_000),  # duration, centi-minutes
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(sessions=_sessions)
def test_sweepline_concurrency_matches_bruteforce(spark, sessions):
    import datetime
    import math
    import tempfile

    from good_enough_timecamp_data_pipeline_spark.plans import advanced

    anchor = datetime.datetime(2024, 3, 1, 23, 0, 0)  # near midnight on purpose
    rows = [
        (
            i,
            anchor + datetime.timedelta(minutes=off),
            7,
            "s",
            dur / 100.0,
            "{}",
        )
        for i, (off, dur) in enumerate(sessions)
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{d}/events.parquet"
        )
        got = {
            r["day"].toordinal(): r["peak_concurrency"]
            for r in advanced.e_peak_concurrency(spark, d).collect()
        }

    US_DAY = 86_400_000_000
    anchor_us = int(anchor.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    ivs = []
    for off, dur in sessions:
        s = anchor_us + off * 60_000_000
        e = s + min(max(math.floor((dur / 100.0) * 60_000_000), 1), 7 * 86_400_000_000)
        ivs.append((s, e))
    by_day: dict[int, list[tuple[int, int]]] = {}
    for s, e in ivs:
        for day in range(s // US_DAY, (e - 1) // US_DAY + 1):
            by_day.setdefault(day, []).append(
                (max(s, day * US_DAY), min(e, (day + 1) * US_DAY))
            )
    epoch = datetime.date(1970, 1, 1).toordinal()
    want = {
        epoch + day: max(
            sum(1 for a, b in g if a <= s < b) for s, _ in g
        )
        for day, g in by_day.items()
    }
    assert got == want
