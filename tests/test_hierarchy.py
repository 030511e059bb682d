"""Closure + breadcrumb operator tests (SURVEY.md §2.5 H1-H4).

Covers the reference's edge semantics: ''/'0' parent canonicalization,
missing parents (partial path), cycle termination (the ``visited`` guard of
``/root/reference/dlt_fetch_timecamp.py:533-535``), and depth capping.
"""

import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators.canonicalize import (
    canonicalize_hierarchy,
)
from good_enough_timecamp_data_pipeline_spark.operators.hierarchy import (
    breadcrumb_rows,
    breadcrumbs,
    transitive_closure,
)


@pytest.fixture(scope="module")
def tree(spark):
    # a: root; b: child of a; c: child of b; d: '' parent (root after canon);
    # e: '0' parent (root); f: parent missing from table; x<->y: 2-cycle
    rows = [
        ("a", None, "A"),
        ("b", "a", "B"),
        ("c", "b", "C"),
        ("d", "", "D"),
        ("e", "0", "E"),
        ("f", "zz", "F"),
        ("x", "y", "X"),
        ("y", "x", "Y"),
    ]
    df = spark.createDataFrame(rows, "task_id string, parent_id string, name string")
    return canonicalize_hierarchy(df)


@pytest.mark.parametrize("strategy", ["recursive_cte", "unroll"])
def test_closure_pairs(tree, strategy):
    got = {
        (r.descendant_id, r.ancestor_id, r.depth)
        for r in transitive_closure(
            tree.filter(~F.col("task_id").isin("x", "y", "f")), strategy=strategy
        ).collect()
    }
    expect = {
        ("a", "a", 0),
        ("b", "b", 0),
        ("c", "c", 0),
        ("d", "d", 0),
        ("e", "e", 0),
        ("b", "a", 1),
        ("c", "b", 1),
        ("c", "a", 2),
    }
    assert got == expect


@pytest.mark.parametrize("strategy", ["recursive_cte", "unroll"])
def test_closure_cycle_terminates(tree, strategy):
    # x<->y must not loop: visited guard stops after each node saw the other
    got = {
        (r.descendant_id, r.ancestor_id)
        for r in transitive_closure(
            tree.select("task_id", "parent_id", "name"), strategy=strategy
        ).collect()
        if r.descendant_id in ("x", "y")
    }
    assert got == {("x", "x"), ("x", "y"), ("y", "y"), ("y", "x")}


def test_closure_missing_parent_keeps_edge(tree):
    # f's parent zz is not a node: closure records (f, zz) then stops
    got = {
        (r.descendant_id, r.ancestor_id)
        for r in transitive_closure(tree).collect()
        if r.descendant_id == "f"
    }
    assert got == {("f", "f"), ("f", "zz")}


# the two breadcrumb walks: `breadcrumbs`' Spark unroll of broadcast joins,
# and `breadcrumb_rows` over the dict rows the driver already holds
CRUMB_WALKS = {
    "unroll": lambda df: [r.asDict() for r in breadcrumbs(df).collect()],
    "driver": lambda df: breadcrumb_rows([r.asDict() for r in df.collect()], 8, "task"),
}


@pytest.mark.parametrize("walk", list(CRUMB_WALKS))
def test_breadcrumbs(tree, walk):
    out = {
        r["task_id"]: (
            r["task_breadcrumb"], r["task_level_1"], r["task_level_2"], r["task_level_3"]
        )
        for r in CRUMB_WALKS[walk](tree)
    }
    assert out["c"] == ("A / B / C", "A", "B", "C")
    assert out["b"] == ("A / B", "A", "B", "")
    assert out["a"] == ("A", "A", "", "")
    assert out["d"] == ("D", "D", "", "")   # '' parent → root
    assert out["e"] == ("E", "E", "", "")   # '0' parent → root
    assert out["f"] == ("F", "F", "", "")   # missing parent → partial path
    # cycle: x's walk collects y then stops when y's parent (x) is visited
    assert out["x"] == ("Y / X", "Y", "X", "")


def test_depth_cap(spark):
    # chain of 12 nodes with max_depth=8 → deepest path capped at 9 names
    rows = [(str(i), str(i - 1) if i else None, f"N{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "task_id string, parent_id string, name string")
    closure = transitive_closure(df, max_depth=8)
    assert closure.agg(F.max("depth")).first()[0] == 8
    closure_u = transitive_closure(df, max_depth=8, strategy="unroll")
    assert closure_u.agg(F.max("depth")).first()[0] == 8
    crumbs = breadcrumbs(df, max_depth=8)
    deepest = crumbs.filter(F.col("task_id") == "11").first()
    assert deepest.task_breadcrumb.count(" / ") == 8  # 9 names = self + 8 walked


# self-parent and its child, NULL and unicode names, duplicate ids with equal rows, a row
# without an id, and a 12-deep chain past the 8-step cap
EDGE_ROWS = [
    ("s", "s", "S"),
    ("k", "s", "K"),
    ("n", "a", None),
    ("m", "n", "M"),
    ("u1", None, "Ünïcødé 🚀"),
    ("u2", "u1", "مهمة"),
    ("dup", "b", "Dup"),
    ("dup", "b", "Dup"),
    ("kid", "dup", "Kid"),
    (None, "a", "NoId"),
    *[(f"c{i}", f"c{i - 1}" if i else None, f"N{i}") for i in range(12)],
]


def test_driver_walk_matches_breadcrumbs(spark, tree):
    """`breadcrumb_rows` over dict rows gives the rows of the Spark
    `breadcrumbs` walk (distinct: the join repeats a duplicated id's
    row once per match, the driver walk keeps one per input row)."""
    edges = spark.createDataFrame(EDGE_ROWS, "task_id string, parent_id string, name string")
    df = tree.unionByName(edges)
    rows = [r.asDict() for r in df.collect()]
    want = {tuple(r) for r in breadcrumbs(df).collect()}
    got = breadcrumb_rows(rows, 8, "task")
    assert len(got) == len(rows)
    assert {tuple(r.values()) for r in got} == want
    by_id = {r["task_id"]: r for r in got}
    assert by_id["s"]["task_breadcrumb"] == "S / S"
    # s is checked against the ids visited before its step ({k}), so the
    # walk takes s's self-edge once more
    assert by_id["k"]["task_breadcrumb"] == "S / S / K"
    assert by_id["m"]["task_breadcrumb"] == "A / M"  # NULL name skipped...
    assert by_id["m"]["task_level_2"] == ""  # ...and '' as a level
    assert by_id["u2"]["task_breadcrumb"] == "Ünïcødé 🚀 / مهمة"
    assert by_id[None]["task_breadcrumb"] is None
    assert by_id["c11"]["task_breadcrumb"].count(" / ") == 8  # self + 8 walked
