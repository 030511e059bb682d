"""Property-based invariants for the chi-square, EWMA and temperature-mix
operators: random inputs checked against brute-force Python references (SURVEY §5
strategy — the Spark plan must agree with the obvious sequential
program, bit-exactly where the design promises it)."""

from __future__ import annotations

import collections
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.plans import advanced, training, warehouse
from good_enough_timecamp_data_pipeline_spark.operators.graph import kcore


def _with_tables(monkey_module, tables, fn):
    orig = monkey_module.load_table
    try:
        monkey_module.load_table = lambda spark, sf_dir, name: tables[name]
        return fn()
    finally:
        monkey_module.load_table = orig


# ---------------------------------------------------------------------------
# chi-square: random contingency rows vs the sequential reference
# ---------------------------------------------------------------------------

_rows_strategy = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.booleans()),
    min_size=2,
    max_size=60,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=_rows_strategy)
def test_chi_square_matches_reference_on_random_tables(spark, rows):
    # weekend flag realized through actual dates (Mon=wk0 / Sat=wk1)
    data = [("2024-01-06 09:00:00" if wk else "2024-01-01 09:00:00", et) for et, wk in rows]
    df = spark.createDataFrame(data, "ts_s string, event_type string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
    )
    (r,) = _with_tables(
        warehouse, {"events": df}, lambda: warehouse.a_chi_square(spark, "unused").collect()
    )
    cells = collections.Counter(rows)
    n = len(rows)
    rt = collections.Counter(et for et, _ in rows)
    ct = collections.Counter(wk for _, wk in rows)
    chi2 = 0.0
    for et, wk in sorted(cells, key=lambda c: (c[0], int(c[1]))):
        o = cells[(et, wk)]
        num = float(o * n - rt[et] * ct[wk])
        chi2 += (num * num) / (float(n) * rt[et] * ct[wk])
    assert r.n == n
    assert r.dof == (len(rt) - 1) * (len(ct) - 1)
    assert r.chi2 == chi2
    assert r.chi2 >= 0.0


# ---------------------------------------------------------------------------
# EWMA closed form == sequential recurrence on random daily series
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(counts=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=25))
def test_ewma_closed_form_equals_recurrence_on_random_series(spark, counts):
    data = []
    eid = 0
    for day, cnt in enumerate(counts, start=1):
        for _ in range(cnt):
            data.append((eid, f"2024-03-{day:02d} 12:00:00"))
            eid += 1
    df = spark.createDataFrame(data, "event_id long, ts_s string").select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = _with_tables(
        advanced,
        {"events": df},
        lambda: advanced.e_ewma_anomaly(spark, "unused").orderBy("d").collect(),
    )
    assert len(out) == len(counts)
    s = None
    for r, cnt in zip(out, counts):
        s = float(cnt) if s is None else 0.5 * cnt + 0.5 * s
        assert r.cnt == cnt and r.ewma == s
        assert min(counts) <= r.ewma <= max(counts)  # EWMA stays in the data range


# ---------------------------------------------------------------------------
# temperature mixing: random source sizes, exactness + flattening
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=6)
)
def test_temperature_mix_random_sources(spark, sizes):
    docs = []
    doc_id = 0
    for i, n_tok in enumerate(sizes):
        docs.append((doc_id, " ".join(["w"] * n_tok), f"s{i}"))
        doc_id += 1
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    rows = _with_tables(
        training,
        {"documents": df},
        lambda: training.t_temperature_mix(spark, "unused").collect(),
    )
    t_sqrt = 0.0
    for i, n in sorted(enumerate(sizes), key=lambda kv: f"s{kv[0]}"):
        t_sqrt += math.sqrt(float(n))
    total = sum(sizes)
    for r in rows:
        n = sizes[int(r.source[1:])]
        assert r.n_tokens == n
        assert r.share == n / total
        assert r.weight == math.sqrt(float(n)) / t_sqrt
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# k-core: random graphs vs brute-force peeling (hypothesis-driven)
# ---------------------------------------------------------------------------


def _py_kcore(edges, k):
    adj = collections.defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    while True:
        drop = [n for n, nb in adj.items() if len(nb) < k]
        if not drop:
            return {n: len(nb) for n, nb in adj.items()}
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=0, max_size=40
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_kcore_matches_bruteforce_random(spark, edges, k):
    df = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long")
    )
    got = {r.node: r.core_degree for r in kcore(df, k=k).collect()}
    assert got == _py_kcore(edges, k)
