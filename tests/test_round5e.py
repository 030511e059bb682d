"""Sequential-reference tests for source caps, temperature mixing, chi-square independence, closed-form
EWMA, and k-core peeling. Each operator is recomputed in plain Python
(on the sf0.001 tables or hand-built graphs) and compared exactly."""

import collections
import hashlib
import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators.graph import kcore
from good_enough_timecamp_data_pipeline_spark.plans import advanced, curation, northstar, training, warehouse


# ---------------------------------------------------------------------------
# t_source_caps
# ---------------------------------------------------------------------------


def test_source_caps_matches_python_md5_rank(spark, sf_dir):
    out = {r.doc_id: r for r in training.t_source_caps(spark, sf_dir).collect()}
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "source"])
    by_src = collections.defaultdict(list)
    for doc_id, source in zip(docs.doc_id, docs.source):
        by_src[source].append(doc_id)
    for source, ids in by_src.items():
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        for rk0, doc_id in enumerate(ranked):
            r = out[doc_id]
            assert r.source == source
            assert r.rk == rk0 + 1, (source, doc_id)
            assert r.keep == (r.rk <= training.SOURCE_CAP)


def test_source_caps_bounds_every_source(spark, sf_dir):
    kept = (
        training.t_source_caps(spark, sf_dir)
        .filter("keep")
        .groupBy("source")
        .count()
        .collect()
    )
    assert kept and all(r["count"] <= training.SOURCE_CAP for r in kept)


# ---------------------------------------------------------------------------
# t_temperature_mix
# ---------------------------------------------------------------------------


def test_temperature_mix_matches_python(spark, sf_dir):
    out = {r.source: r for r in training.t_temperature_mix(spark, sf_dir).collect()}
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    n_tok = collections.Counter()
    for source, text in zip(docs.source, docs.text):
        n_tok[source] += len([t for t in text.strip().split() if t])
    t_tok = sum(n_tok.values())
    # the engine folds sqrt terms in (source, n) order — replicate exactly
    t_sqrt = 0.0
    for s, n in sorted(n_tok.items()):
        t_sqrt += math.sqrt(float(n))
    for s, n in n_tok.items():
        r = out[s]
        assert r.n_tokens == n
        assert r.share == n / t_tok
        assert r.weight == math.sqrt(float(n)) / t_sqrt
        assert r.boost == r.weight / r.share


def test_temperature_mix_flattens_the_distribution(spark, sf_dir):
    rows = training.t_temperature_mix(spark, sf_dir).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    # α<1 temperature scaling: sources below average share get boosted,
    # above-average sources get damped — boost ordering inverts share order
    lo = min(rows, key=lambda r: r.share)
    hi = max(rows, key=lambda r: r.share)
    if lo.share < hi.share:  # sf data has non-uniform sources
        assert lo.boost > hi.boost


# ---------------------------------------------------------------------------
# a_chi_square
# ---------------------------------------------------------------------------


def test_chi_square_matches_python(spark, sf_dir):
    (r,) = warehouse.a_chi_square(spark, sf_dir).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    cells = collections.Counter()
    for ts, et in zip(ev.ts, ev.event_type):
        wk = 1 if ts.weekday() >= 5 else 0  # pandas: Mon=0 … Sun=6
        cells[(et, wk)] += 1
    n = sum(cells.values())
    rows_tot = collections.Counter()
    cols_tot = collections.Counter()
    for (et, wk), o in cells.items():
        rows_tot[et] += o
        cols_tot[wk] += o
    chi2 = 0.0
    for (et, wk) in sorted(cells):
        o = cells[(et, wk)]
        num = float(o * n - rows_tot[et] * cols_tot[wk])
        chi2 += (num * num) / (float(n) * rows_tot[et] * cols_tot[wk])
    assert r.n == n
    assert r.dof == (len(rows_tot) - 1) * (len(cols_tot) - 1)
    assert r.chi2 == chi2, (r.chi2, chi2)


def test_chi_square_zero_on_independent_table(spark):
    """A perfectly independent synthetic table must score exactly 0."""
    rows = [
        (f"2024-01-{d:02d} 12:00:00", et)
        for d in (1, 6)  # Mon (wk=0), Sat (wk=1)
        for et in ("a", "b")
        for _ in range(10)
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_type string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
    )
    orig = warehouse.load_table
    try:
        warehouse.load_table = lambda spark, sf_dir, name: df
        (r,) = warehouse.a_chi_square(spark, "unused").collect()
    finally:
        warehouse.load_table = orig
    assert r.chi2 == 0.0 and r.dof == 1 and r.n == 40


# ---------------------------------------------------------------------------
# e_ewma_anomaly
# ---------------------------------------------------------------------------


def test_ewma_matches_sequential_recurrence(spark, sf_dir):
    """The closed-form cumsum must equal the literal per-day recurrence
    s_t = ½x_t + ½s_{t−1} BIT-EXACTLY: every quantity is a dyadic
    rational that double arithmetic represents exactly at this horizon."""
    out = advanced.e_ewma_anomaly(spark, sf_dir).orderBy("d").collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    daily = collections.Counter(ts.date() for ts in ev.ts)
    s = None
    prev = None
    for r, (d, cnt) in zip(out, sorted(daily.items())):
        assert r.d == d and r.cnt == cnt
        s = float(cnt) if s is None else 0.5 * cnt + 0.5 * s
        assert r.ewma == s, (d, r.ewma, s)
        if prev is None:
            assert r.anomaly is False
        else:
            assert r.anomaly == (cnt > 2.0 * prev or cnt * 2.0 < prev)
        prev = s
    assert len(out) == len(daily)


def _ewma_events_dir(spark, n_days: int, tmp_path) -> str:
    """Write a minimal events.parquet spanning n_days calendar days
    (day i carries i+1 events) under a temp sf_dir."""
    rows = [
        (f"2024-01-01", d, e)
        for d in range(n_days)
        for e in range(d + 1)
    ]
    df = (
        spark.createDataFrame(rows, "base string, d int, e int")
        .select(
            F.timestamp_micros(
                F.unix_micros(F.to_timestamp("base"))
                + F.col("d").cast("long") * 86_400_000_000
                + F.col("e").cast("long")
            ).alias("ts")
        )
    )
    out = str(tmp_path / "events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return str(tmp_path)


def test_ewma_long_horizon_no_bigint_wrap(spark, tmp_path):
    """Regression (round-5 ADVICE): 2^t via a single BIGINT shiftleft
    silently wraps at t >= 63 — Spark reduces the shift distance mod 64.
    A 70-day horizon must still match the sequential recurrence exactly."""
    sf = _ewma_events_dir(spark, 70, tmp_path)
    out = advanced.e_ewma_anomaly(spark, sf).orderBy("d").collect()
    assert len(out) == 70
    s = None
    for t, r in enumerate(out):
        cnt = t + 1
        assert r.cnt == cnt
        s = float(cnt) if s is None else 0.5 * cnt + 0.5 * s
        assert r.ewma == s, (t, r.ewma, s)


def test_ewma_past_cap_raises_loudly(spark, tmp_path):
    """Past EWMA_MAX_STEPS the operator must raise, not degrade to
    NULLs via silent decimal overflow."""
    sf = _ewma_events_dir(spark, advanced.EWMA_MAX_STEPS + 2, tmp_path)
    with pytest.raises(Exception, match="EWMA_MAX_STEPS"):
        advanced.e_ewma_anomaly(spark, sf).collect()


# ---------------------------------------------------------------------------
# kcore
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


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kcore_matches_bruteforce_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    edges = list({tuple(sorted((rng.randrange(30), rng.randrange(30)))) for _ in range(80)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.core_degree for r in kcore(df, k=3).collect()}
    assert got == _py_kcore(edges, 3)


def test_kcore_empty_and_total_peel(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert kcore(empty, k=2).collect() == []
    # a path graph has no 2-core: every iteration peels the endpoints
    path = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    assert kcore(path, k=2).collect() == []
    # ... but closing the cycle makes the whole ring the 2-core
    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    got = {r.node: r.core_degree for r in kcore(ring, k=2).collect()}
    assert got == {i: 2 for i in range(6)}


def test_kcore_ignores_self_loops_and_orientation(spark):
    # triangle listed in mixed orientations + self-loops: still the 2-core
    edges = [(1, 2), (3, 2), (1, 3), (1, 1), (2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.core_degree for r in kcore(df, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_g_kcore_matches_bruteforce_on_testdata(spark, sf_dir):
    """Exact parity with python peeling on the real sf graph. At sf0.001
    the bipartite graph is too thin to hold a 25-core (brute force says
    so too) — the assertion is equality, not non-emptiness; sf0.01 has a
    1370-node core and runs through the same code in the driver gate."""
    got = {r.node: r.core_degree for r in curation.g_kcore(spark, sf_dir).collect()}
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_partkey", "l_suppkey"])
    edges = {(int(p), int(s) + 10_000_000) for p, s in zip(li.l_partkey, li.l_suppkey)}
    assert got == _py_kcore(sorted(edges), curation.KCORE_K)
    assert all(d >= curation.KCORE_K for d in got.values())


# ---------------------------------------------------------------------------
# empty-input robustness for the round-5e/5f catalog queries
# ---------------------------------------------------------------------------


def test_round5ef_queries_survive_empty_tables(spark):
    import tempfile

    from pyspark.sql import types as T

    events_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    docs_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    li_schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame([], events_schema).write.parquet(f"{d}/events.parquet")
        spark.createDataFrame([], docs_schema).write.parquet(f"{d}/documents.parquet")
        spark.createDataFrame([], li_schema).write.parquet(f"{d}/lineitem.parquet")
        # empty → empty result set, never a crash
        for fn in (
            training.t_source_caps,
            advanced.e_ewma_anomaly,
            curation.g_kcore,
            northstar.d_threshold_curve,
            northstar.t_ngram_novelty,
            warehouse.a_source_lang_entropy,
            training.t_temperature_mix,
        ):
            assert fn(spark, d).collect() == [], fn.__name__
        # the chi-square summary row degenerates cleanly: 0 observations,
        # 0-term fold → chi2 exactly 0.0 (and trivially non-significant)
        (r,) = warehouse.a_chi_square(spark, d).collect()
        assert r.n == 0 and r.chi2 == 0.0
