"""Small iterative operators finish on the driver (operators/local.py).

Each of the six operators runs on both paths: its driver rounds, and its
Spark loop, forced by ``local.MAX_ROWS = -1`` (so that even an empty input
takes the loop). Both must give the same rows and schema, and the same
non-convergence behaviour: raise, or warn and return over-segmented labels.
PageRank and k-means sum floats in another order on the driver, so they
match within 1e-9 relative.
"""

from __future__ import annotations

import math
import re
import warnings

import numpy as np
import pytest

from good_enough_timecamp_data_pipeline_spark.operators import (
    clustering,
    graph,
    hierarchy,
    local,
)

SPARK_LOOP = -1
REL = 1e-9


def _on_both(monkeypatch, build):
    """(driver result, Spark-loop result) of ``build()``."""
    driver = build()
    with monkeypatch.context() as m:
        m.setattr(local, "MAX_ROWS", SPARK_LOOP)
        spark_loop = build()
    return driver, spark_loop


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _is_local(df) -> bool:
    return _plan(df).startswith("LocalRelation")


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


# Every operator here works per component (PageRank only shares the node
# count), so the degenerate shapes sit side by side as disconnected parts
# of one graph, where the hub holds 90% of the edges.
COMPOSITE = [
    *[(0, i) for i in range(1, 163)],  # hub: 162 of the 180 edges
    (201, 201), (201, 202),  # self-loop
    (211, 212), (212, 211),  # 2-cycle
    (221, 222), (221, 222), (222, 221), (222, 223),  # duplicate edges
    (231, None), (None, 232), (233, 234), (None, None), (234, None),  # NULL ids
    (241, 242), (242, 243), (243, 241), (243, 244), (244, 245),  # triangle + tail
]
GRAPHS = {"empty": [], "one_node": [(3, 3)], "composite": COMPOSITE}


@pytest.mark.parametrize("name", list(GRAPHS))
def test_graph_operators_match_spark_loop(spark, monkeypatch, name):
    edges = _edges(spark, GRAPHS[name])
    exact = {
        "connected_components": lambda: graph.connected_components(edges),
        "label_propagation": lambda: graph.label_propagation(edges, max_iter=3),
        "kcore": lambda: graph.kcore(edges, k=2),
    }
    for op, build in exact.items():
        got, want = _on_both(monkeypatch, build)
        assert _is_local(got) and not _is_local(want), op
        assert got.schema == want.schema, op
        assert _rows(got) == _rows(want), op

    got, want = _on_both(monkeypatch, lambda: graph.pagerank(edges, num_iter=3))
    assert got.schema == want.schema
    got, want = _rows(got), _rows(want)
    assert [n for n, _ in got] == [n for n, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=REL)
    if GRAPHS[name]:
        assert _is_local(graph.pagerank(edges, num_iter=3))


def test_long_chain_nonconvergence_on_both_paths(spark, monkeypatch):
    chain = _edges(spark, [(i, i + 1) for i in range(9)])
    for max_rows in (local.MAX_ROWS, SPARK_LOOP):
        monkeypatch.setattr(local, "MAX_ROWS", max_rows)
        with pytest.raises(RuntimeError, match="no fixpoint"):
            graph.connected_components(chain, max_iter=2)
        with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
            graph.kcore(chain, k=2, max_iter=2)

    def warned():
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            labels = graph.connected_components(chain, max_iter=2, on_nonconverged="warn")
        assert any("no fixpoint" in str(w.message) for w in caught)
        return labels

    got, want = _on_both(monkeypatch, warned)
    assert _rows(got) == _rows(want)
    assert len({c for _, c in _rows(got)}) > 1  # over-segmented


def test_threshold_is_at_most_max_rows(spark, monkeypatch):
    """The undirected edge set is the loop's input: 2 pairs → 4 rows."""
    edges = _edges(spark, [(1, 2), (2, 3)])
    monkeypatch.setattr(local, "MAX_ROWS", 4)
    assert _is_local(graph.connected_components(edges))
    monkeypatch.setattr(local, "MAX_ROWS", 3)
    assert not _is_local(graph.connected_components(edges))


def test_non_numeric_ids_keep_the_spark_loop(spark):
    """CC sums and LPA negates ids, which fails on text ids; the driver
    path must not turn that error into a result."""
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        graph.connected_components(edges).collect()
    got = graph.kcore(edges, k=1)
    assert _is_local(got) and _rows(got) == [("a", 1), ("b", 1)]


# Disjoint id ranges: one part per degenerate shape.
HIERARCHY = [
    (1, None),  # one row
    (11, 11), (12, 11),  # own parent
    (21, 22), (22, 21),  # 2-cycle
    (31, 32), (32, 33), (33, 31), (34, 33),  # cycle with a tail
    (41, None), (42, 41), (42, 41), (43, 42), (43, 45), (45, None),  # duplicates
    (None, 51), (51, None), (52, None), (53, 52), (None, None),  # NULL ids
    *[(100 + i, 100 + i - 1 if i else None) for i in range(12)],  # past the depth cap
]


@pytest.mark.parametrize("name", ["empty", "composite"])
@pytest.mark.parametrize("strategy", ["recursive_cte", "unroll"])
def test_closure_matches_spark_loop(spark, monkeypatch, name, strategy):
    rows = HIERARCHY if name == "composite" else []
    tasks = spark.createDataFrame(rows, "task_id long, parent_id long")
    for max_depth in (8, 3):
        got, want = _on_both(
            monkeypatch,
            lambda: hierarchy.transitive_closure(tasks, max_depth=max_depth, strategy=strategy),
        )
        assert _is_local(got) and not _is_local(want)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want), max_depth
    if rows:
        assert max(d for *_, d in _rows(got)) == 3


def test_closure_text_ids_and_mixed_types(spark, monkeypatch):
    from pyspark.errors import AnalysisException

    tasks = spark.createDataFrame(
        [("a", None), ("b", "a"), ("c", "b")], "task_id string, parent_id string"
    )
    got, want = _on_both(monkeypatch, lambda: hierarchy.transitive_closure(tasks))
    assert _is_local(got) and got.schema == want.schema and _rows(got) == _rows(want)
    # an id and a parent of different types are Spark's error, on both paths
    mixed = spark.createDataFrame([(1, None), (2, "1")], "task_id long, parent_id string")
    with pytest.raises(AnalysisException, match="DATATYPE_MISMATCH"):
        hierarchy.transitive_closure(mixed)


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_rng = np.random.default_rng(7)
VECTORS = {
    "fewer_than_k": [(1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [9.0, 0.0])],
    "distance_ties": [(1, [0.0, 0.0]), (2, [2.0, 0.0]), (3, [1.0, 0.0]), (4, [1.0, 5.0])],
    "null_id": [(None, [5.0, 5.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [9.0, 9.0])],
    "blobs": [(i, _rng.normal(i % 3 * 4.0, 1.0, 4).tolist()) for i in range(300)],
}


@pytest.mark.parametrize("name", list(VECTORS))
def test_kmeans_matches_spark_loop(spark, monkeypatch, name):
    vecs = _vectors(spark, VECTORS[name])
    (got, got_hist), (want, want_hist) = _on_both(
        monkeypatch, lambda: clustering.kmeans(vecs, k=3, max_iter=6)
    )
    assert _is_local(got) and not _is_local(want)
    assert got.schema == want.schema
    assert len(got_hist) == len(want_hist)
    assert all(math.isclose(a, b, rel_tol=REL, abs_tol=1e-12) for a, b in zip(got_hist, want_hist))
    got, want = _rows(got), _rows(want)
    assert [r[:2] for r in got] == [r[:2] for r in want]
    assert all(math.isclose(a[2], b[2], rel_tol=REL, abs_tol=1e-12) for a, b in zip(got, want))
    if name == "distance_ties":  # (1, 0) is as near to (0, 0) as to (2, 0): lowest id
        assert dict(r[:2] for r in got)[3] == 0


def test_kmeans_spark_loop_releases_its_input_cache(spark, monkeypatch):
    """The Spark loop caches its input for the rounds and drops it before
    returning, so a later plan over the same projection reads no
    ``InMemoryRelation``; the only RDD left persisted is the assignments'
    own checkpoint, freed with them."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(local, "MAX_ROWS", SPARK_LOOP)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    vecs = _vectors(spark, VECTORS["blobs"])
    assign, _ = clustering.kmeans(vecs, k=3, max_iter=2)
    assert assign.count() == len(VECTORS["blobs"])
    again = vecs.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    assert "InMemoryRelation" not in _plan(again)
    graph.unpersist_checkpoint_blocks(assign)
    assert set(jsc.getPersistentRDDs().keySet().toArray()) <= before


def test_kmeans_empty_raises_on_both_paths(spark, monkeypatch):
    empty = _vectors(spark, [])
    for max_rows in (local.MAX_ROWS, SPARK_LOOP):
        monkeypatch.setattr(local, "MAX_ROWS", max_rows)
        with pytest.raises(ValueError, match="no vectors"):
            clustering.kmeans(empty, k=2)


# The optimized plans of each operator's Spark loop before the driver
# path existed, expression ids masked. With the driver path switched off
# the loops must build exactly these plans.
SPARK_LOOP_PLANS = {
    "connected_components": (
        "LogicalRDD [node#L, cluster_id#L], false\n"
    ),
    "label_propagation": (
        "LogicalRDD [node#L, community#L], false\n"
    ),
    "kcore": (
        "Aggregate [u#L], [u#L AS node#L, count(1) AS core_degree#L]\n"
        "+- Project [u#L]\n"
        "   +- LogicalRDD [v#L, u#L], false\n"
    ),
    "pagerank": (
        "Project [node#L, rank#]\n"
        "+- LogicalRDD [node#L, out_deg#L, rank#], false\n"
    ),
    "closure_cte": (
        "Project [_node#L AS descendant_id#L, _node#L AS ancestor_id#L, 0# AS depth#]\n"
        "+- UnionLoop 0\n"
        "   :- Project [task_id#L AS _node#L, task_id#L AS _node#L, 0 AS 0#, array(task_id#L) AS array(_node)#]\n"
        "   :  +- LogicalRDD [task_id#L, parent_id#L], false\n"
        "   +- Project [descendant_id#L, _parent#L, (depth# + 1) AS (depth + 1)#, array_insert(_visited#, -1, _parent#L, false) AS array_append(_visited, _parent)#]\n"
        "      +- Join Inner, (NOT array_contains(_visited#, _parent#L) AND (ancestor_id#L = _node#L)), rightHint=(strategy=broadcast)\n"
        "         :- Project [_node#L AS descendant_id#L, _node#L AS ancestor_id#L, 0# AS depth#, array(_node)# AS _visited#]\n"
        "         :  +- Filter ((isnotnull(0#) AND (0# < 8)) AND (isnotnull(array(_node)#) AND isnotnull(_node#L)))\n"
        "         :     +- UnionLoopRef 0, [_node#L, _node#L, 0#, array(_node)#], false\n"
        "         +- Project [task_id#L AS _node#L, parent_id#L AS _parent#L]\n"
        "            +- Filter (isnotnull(parent_id#L) AND isnotnull(task_id#L))\n"
        "               +- LogicalRDD [task_id#L, parent_id#L], false\n"
    ),
    "closure_unroll": (
        "Union false, false\n"
        ":- Project [task_id#L AS descendant_id#L, task_id#L AS ancestor_id#L, 0 AS depth#]\n"
        ":  +- LogicalRDD [task_id#L, parent_id#L], false\n"
        ":- Project [descendant_id#L, _parent#L AS ancestor_id#L, 1 AS depth#]\n"
        ":  +- Join Inner, (NOT array_contains(_visited#, _parent#L) AND (ancestor_id#L = _node#L)), rightHint=(strategy=broadcast)\n"
        ":     :- Project [task_id#L AS descendant_id#L, task_id#L AS ancestor_id#L, array(task_id#L) AS _visited#]\n"
        ":     :  +- Filter isnotnull(task_id#L)\n"
        ":     :     +- LogicalRDD [task_id#L, parent_id#L], false\n"
        ":     +- Project [task_id#L AS _node#L, parent_id#L AS _parent#L]\n"
        ":        +- Filter (isnotnull(parent_id#L) AND isnotnull(task_id#L))\n"
        ":           +- LogicalRDD [task_id#L, parent_id#L], false\n"
        "+- Project [descendant_id#L, _parent#L AS ancestor_id#L, 2 AS depth#]\n"
        "   +- Join Inner, (NOT array_contains(_visited#, _parent#L) AND (ancestor_id#L = _node#L)), rightHint=(strategy=broadcast)\n"
        "      :- Project [descendant_id#L, _parent#L AS ancestor_id#L, array_insert(_visited#, -1, _parent#L, false) AS _visited#]\n"
        "      :  +- Join Inner, (NOT array_contains(_visited#, _parent#L) AND (ancestor_id#L = _node#L)), rightHint=(strategy=broadcast)\n"
        "      :     :- Project [task_id#L AS descendant_id#L, task_id#L AS ancestor_id#L, array(task_id#L) AS _visited#]\n"
        "      :     :  +- Filter isnotnull(task_id#L)\n"
        "      :     :     +- LogicalRDD [task_id#L, parent_id#L], false\n"
        "      :     +- Project [task_id#L AS _node#L, parent_id#L AS _parent#L]\n"
        "      :        +- Filter (isnotnull(parent_id#L) AND isnotnull(task_id#L))\n"
        "      :           +- LogicalRDD [task_id#L, parent_id#L], false\n"
        "      +- Project [task_id#L AS _node#L, parent_id#L AS _parent#L]\n"
        "         +- Filter (isnotnull(parent_id#L) AND isnotnull(task_id#L))\n"
        "            +- LogicalRDD [task_id#L, parent_id#L], false\n"
    ),
    "kmeans": (
        "LogicalRDD [vec_id#L, cluster#, sq_dist#], false\n"
    ),
}


def test_spark_loop_plans_unchanged(spark, monkeypatch):
    monkeypatch.setattr(local, "MAX_ROWS", SPARK_LOOP)
    edges = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    tasks = spark.createDataFrame([(1, None), (2, 1), (3, 2)], "task_id long, parent_id long")
    vecs = _vectors(spark, [(i, [float(i), 0.0]) for i in range(6)])
    built = {
        "connected_components": lambda: graph.connected_components(edges),
        "label_propagation": lambda: graph.label_propagation(edges, max_iter=2),
        "kcore": lambda: graph.kcore(edges, k=1),
        "pagerank": lambda: graph.pagerank(edges, num_iter=2),
        "closure_cte": lambda: hierarchy.transitive_closure(tasks, strategy="recursive_cte"),
        "closure_unroll": lambda: hierarchy.transitive_closure(
            tasks, strategy="unroll", max_depth=2
        ),
        "kmeans": lambda: clustering.kmeans(vecs, k=2, max_iter=2)[0],
    }
    for op, build in built.items():
        assert re.sub(r"#\d+", "#", _plan(build())) == "".join(SPARK_LOOP_PLANS[op]), op
