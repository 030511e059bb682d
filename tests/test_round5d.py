"""Sequential-reference tests for the hashed classifier, containment
pairs, KS test and interval coverage. Each operator is recomputed in plain Python on tiny
hand-built inputs and compared exactly."""

import hashlib

from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators.dedup import containment_pairs
from good_enough_timecamp_data_pipeline_spark.operators import classifier
from good_enough_timecamp_data_pipeline_spark.plans import advanced, curation, warehouse


def _md5int8(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_weight(tok: str) -> int:
    b = _md5int8(tok) % classifier.HASH_BUCKETS
    return (_md5int8("w" + str(b)) % classifier.WEIGHT_MOD) - 1000


def test_hashed_classifier_matches_python_model(spark, sf_dir):
    out = {
        r.doc_id: r
        for r in curation.t_hashed_classifier(spark, sf_dir).limit(2000).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).collect()
    assert docs
    for d in docs:
        toks = [t for t in d.text.strip().split() if t]
        raw = sum(_py_weight(t) for t in toks)
        r = out[d.doc_id]
        assert r.n_tokens == len(toks)
        assert r.score_raw == raw, (d.doc_id, raw, r.score_raw)
        if toks:
            assert abs(r.score - raw / (len(toks) * 1000.0)) < 1e-12
        assert r.keep == (r.score > 0)


def test_containment_catches_prefix_excerpt_jaccard_misses(spark):
    """A 40% prefix excerpt: containment 1.0 (caught), jaccard well under
    a symmetric 0.9 threshold (structurally missed)."""
    from good_enough_timecamp_data_pipeline_spark.operators.dedup import (
        shingle_pairs_jaccard,
    )

    base = " ".join(f"w{i}" for i in range(30))  # 30 tokens → 26 shingles
    excerpt = " ".join(f"w{i}" for i in range(12))  # prefix: 8 shingles, all shared
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    pairs = containment_pairs(df, threshold=0.9, max_shingle_df=None).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (1, 2)
    assert p.containment == 1.0 and p.n_inter == 8 and p.n_a == 26 and p.n_b == 8
    jac = shingle_pairs_jaccard(df, threshold=0.9, max_shingle_df=None).collect()
    assert jac == []  # 8/26 jaccard ≈ 0.31 — invisible to the symmetric measure


def test_containment_hot_shingle_cap_drops_stop_shingles(spark):
    """With max_shingle_df set, a shingle shared by more docs than the cap
    stops generating candidate pairs."""
    shared = " ".join(f"s{i}" for i in range(5))
    rows = [(i, shared) for i in range(4)]  # one shingle, df=4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert len(containment_pairs(df, max_shingle_df=None).collect()) == 6  # C(4,2)
    assert containment_pairs(df, max_shingle_df=3).collect() == []


def test_ks_test_matches_scipy_style_reference(spark, sf_dir):
    """Exact KS on the real table vs a plain-Python two-pointer ECDF sweep."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    a = sorted(r.value for r in ev if r.event_type == warehouse.KS_TYPE_A)
    b = sorted(r.value for r in ev if r.event_type == warehouse.KS_TYPE_B)
    n1, n2 = len(a), len(b)
    xs = sorted(set(a) | set(b))
    import bisect

    d = max(
        abs(bisect.bisect_right(a, x) * n2 - bisect.bisect_right(b, x) * n1)
        for x in xs
    )
    row = warehouse.a_ks_test(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert abs(row.ks_stat - d / (n1 * n2)) < 1e-15


def test_ks_test_binned_bounds_exact_and_matches_reference(spark, sf_dir):
    """Binned KS against a plain-Python binned ECDF sweep; and binned D
    is a lower bound of exact D (sup restricted to bin boundaries)."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    a = [r.value for r in ev if r.event_type == warehouse.KS_TYPE_A]
    b = [r.value for r in ev if r.event_type == warehouse.KS_TYPE_B]
    vals = a + b
    vmin, vmax = min(vals), max(vals)
    B = warehouse.KS_BINS

    def bin_of(x):
        if vmax == vmin:
            return 0
        import math

        return min(B - 1, int(math.floor((x - vmin) / (vmax - vmin) * B)))

    n1, n2 = len(a), len(b)
    ha, hb = [0] * B, [0] * B
    for x in a:
        ha[bin_of(x)] += 1
    for x in b:
        hb[bin_of(x)] += 1
    d, c1, c2 = 0, 0, 0
    for k in range(B):
        c1 += ha[k]
        c2 += hb[k]
        d = max(d, abs(c1 * n2 - c2 * n1))
    row = warehouse.a_ks_test_binned(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert abs(row.ks_stat - d / (n1 * n2)) < 1e-15
    exact = warehouse.a_ks_test(spark, sf_dir).collect()[0]
    assert row.ks_stat <= exact.ks_stat + 1e-15


def test_ks_exact_cardinality_guard(spark, sf_dir):
    """Above the distinct-value bound the exact KS plan must not silently
    ship (round-9 sf10 probe: the histogram grows with cardinality).
    Forced via max_distinct=0: default raises pointing at the binned
    mode; on_exceed='delegate' returns the binned result."""
    import pytest

    with pytest.raises(ValueError, match="a_ks_test_binned"):
        warehouse.a_ks_test(spark, sf_dir, max_distinct=0)
    delegated = warehouse.a_ks_test(
        spark, sf_dir, max_distinct=0, on_exceed="delegate"
    ).collect()[0]
    binned = warehouse.a_ks_test_binned(spark, sf_dir).collect()[0]
    assert (delegated.n1, delegated.n2, delegated.ks_stat) == (
        binned.n1,
        binned.n2,
        binned.ks_stat,
    )


def test_interval_coverage_merges_overlaps(spark):
    """Hand-built intervals: [0,10) ∪ [5,15) ∪ [15,20) = one island of 20;
    [100,101) is its own island. Built through the same µs session
    arithmetic as the plan (value is MINUTES)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ev(eid, user, start_min, dur_min):
        return (eid, base + dt.timedelta(minutes=start_min), user, "view", float(dur_min))

    rows = [
        ev(1, 7, 0, 10),
        ev(2, 7, 5, 10),  # overlaps #1 → same island
        ev(3, 7, 15, 5),  # starts exactly at merged end (half-open) → same-start new island
        ev(4, 7, 100, 1),
        ev(5, 8, 0, 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    start_us, end_us = advanced._session_bounds()
    s = df.select("user_id", start_us.alias("s_us"), end_us.alias("e_us"))
    # islands: [0,15min)+[15,20min) — interval 3 starts at the running max
    # end (15 min) so with half-open semantics it opens a NEW island
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "e_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max("e_us").over(w_prev)
    flagged = s.withColumn(
        "new_isl",
        F.when(prev_end.isNull() | (F.col("s_us") >= prev_end), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "e_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = flagged.withColumn("island", F.sum("new_isl").over(w_run))
    per_isl = isl.groupBy("user_id", "island").agg(
        (F.max("e_us") - F.min("s_us")).alias("cov_us"), F.count("*").alias("n")
    )
    got = {
        r.user_id: sorted(
            (row.cov_us for row in per_isl.filter(F.col("user_id") == r.user_id).collect())
        )
        for r in s.select("user_id").distinct().collect()
    }
    m = 60_000_000  # µs per minute
    assert got[7] == sorted([15 * m, 5 * m, 1 * m])
    assert got[8] == [1 * m]


def test_round5d_catalog_registration():
    from good_enough_timecamp_data_pipeline_spark.plans import catalog

    q, o = catalog.queries(), catalog.oracle_sql()
    for name in ("t_hashed_classifier", "d_containment", "a_ks_test", "e_interval_coverage"):
        assert name in q and name in o


def test_ks_driver_tier_matches_distributed(spark, sf_dir, monkeypatch):
    """a_ks_test's driver-histogram tier (the sf0.01 default — footer
    rows fit the cap) must be value-identical to the distributed cumsum
    tier (forced by zeroing the cap)."""
    fast = warehouse.a_ks_test(spark, sf_dir).collect()[0]
    monkeypatch.setattr(warehouse, "_KS_DRIVER_MAX_ROWS", 0)
    slow = warehouse.a_ks_test(spark, sf_dir).collect()[0]
    assert tuple(fast) == tuple(slow)
    assert fast["n1"] > 0 and fast["n2"] > 0
