"""Round-5 operator tests: sweep-line concurrency, quality gate,
co-occurrence lift, PageRank."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.operators.graph import pagerank
from good_enough_timecamp_data_pipeline_spark.plans import round5, testdata


# ---------------------------------------------------------------------------
# e_peak_concurrency
# ---------------------------------------------------------------------------

def test_peak_concurrency_matches_bruteforce(spark, sf_dir):
    """Sweep-line result equals an O(n²) brute force over the raw sessions
    (evaluate concurrency at every session start, clipped per day)."""
    out = {
        (r["event_type"], r["day"].toordinal()): r["peak_concurrency"]
        for r in round5.e_peak_concurrency(spark, sf_dir).collect()
    }
    ev = testdata.load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    rows = ev.collect()
    import calendar
    import datetime
    import math

    sessions = []
    for r in rows:
        # exact µs epoch (float .timestamp() can flip a µs at 2024 epochs)
        ts = r["ts"]
        start = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        # reproduce the query's µs arithmetic exactly
        end = start + min(max(math.floor(r["value"] * 60_000_000), 1), 7 * 86_400_000_000)
        sessions.append((r["event_type"], start, end))

    US_DAY = 86_400_000_000
    expected: dict[tuple[str, int], int] = {}
    by_type_day: dict[tuple[str, int], list[tuple[int, int]]] = {}
    for et, s, e in sessions:
        for day in range(s // US_DAY, (e - 1) // US_DAY + 1):
            cs, ce = max(s, day * US_DAY), min(e, (day + 1) * US_DAY)
            by_type_day.setdefault((et, day), []).append((cs, ce))
    epoch = datetime.date(1970, 1, 1).toordinal()
    for (et, day), ivs in by_type_day.items():
        peak = 0
        for s, _ in ivs:
            peak = max(peak, sum(1 for a, b in ivs if a <= s < b))
        expected[(et, epoch + day)] = peak

    assert out == expected


# ---------------------------------------------------------------------------
# t_quality_gate
# ---------------------------------------------------------------------------

def test_quality_gate_reasons_consistent(spark, sf_dir):
    rows = round5.t_quality_gate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["keep"]:
            assert r["reasons"] == ""
        else:
            assert r["reasons"] != ""
            assert set(r["reasons"].split(",")) <= {
                "too_short",
                "too_long",
                "bad_word_length",
                "repetitive",
                "digit_heavy",
            }


def test_quality_gate_rules_recomputed_in_python(spark, sf_dir):
    """Spot-check every doc's verdict against a plain-Python re-derivation."""
    docs = {
        r["doc_id"]: r["text"]
        for r in testdata.load_table(spark, sf_dir, "documents").collect()
    }
    for r in round5.t_quality_gate(spark, sf_dir).collect():
        text = docs[r["doc_id"]]
        toks = re.split(r"\s+", text.strip())
        n = len(toks)
        distinct_ratio = len(set(toks)) / n
        nonspace = len(re.sub(r"\s", "", text))
        mean_wlen = nonspace / n
        digits = sum(c.isdigit() for c in text)
        digit_ratio = digits / len(text)
        fails = (
            n < 15
            or n > 2000
            or mean_wlen < 2.0
            or mean_wlen > 12.0
            or distinct_ratio < 0.3
            or digit_ratio > 0.2
        )
        assert r["n_tokens"] == n
        assert r["keep"] == (not fails), (r["doc_id"], r["reasons"])


# ---------------------------------------------------------------------------
# t_cooccurrence_lift
# ---------------------------------------------------------------------------

def test_cooccurrence_lift_bounds_and_bruteforce(spark, sf_dir):
    res = round5.t_cooccurrence_lift(spark, sf_dir).collect()
    assert res
    vocab = {r["tok_a"] for r in res} | {r["tok_b"] for r in res}
    assert len(vocab) <= 40
    docs = [
        set(re.split(r"\s+", r["text"].strip()))
        for r in testdata.load_table(spark, sf_dir, "documents").collect()
    ]
    n_docs = len(docs)
    for r in res[:10]:
        assert r["tok_a"] < r["tok_b"]
        assert r["n_ab"] >= 5
        n_ab = sum(1 for d in docs if r["tok_a"] in d and r["tok_b"] in d)
        n_a = sum(1 for d in docs if r["tok_a"] in d)
        n_b = sum(1 for d in docs if r["tok_b"] in d)
        assert (r["n_ab"], r["n_a"], r["n_b"]) == (n_ab, n_a, n_b)
        assert r["lift"] == pytest.approx(n_ab * n_docs / (n_a * n_b), rel=1e-12)


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def _numpy_pagerank(edges, num_iter=10, damping=0.85):
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for u, _ in edges:
        out_deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(num_iter):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out_deg[idx[u]]
        dangling = r[out_deg == 0].sum()
        r = (1 - damping) / n + damping * dangling / n + damping * contrib
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_ring_is_uniform(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, num_iter=5).collect()}
    for v in ranks.values():
        assert v == pytest.approx(1 / 3, rel=1e-12)


def test_pagerank_matches_numpy_reference(spark):
    # star + chain + dangling node: 1→2, 3→2, 2→4; 4 dangles
    edge_list = [(1, 2), (3, 2), (2, 4), (5, 1), (5, 3)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(edges, num_iter=10).collect()}
    want = _numpy_pagerank(edge_list, num_iter=10)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9), k
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_mass_conserved_on_lineitem_graph(spark, sf_dir):
    li = testdata.load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"), (F.col("l_suppkey") + 10_000_000).alias("dst")
    ).distinct()
    ranks = pagerank(edges, num_iter=4)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, rel=1e-6)
    assert ranks.filter(F.col("rank") <= 0).count() == 0


# ---------------------------------------------------------------------------
# x_range_join_bucketed
# ---------------------------------------------------------------------------

def test_range_join_bucketed_matches_bruteforce(spark, sf_dir):
    """The bucketed equi-join plan must equal the naive per-user range
    self-join computed in plain Python."""
    import calendar
    import math

    out = {
        r["anchor_id"]: r["n_within"]
        for r in round5.x_range_join_bucketed(spark, sf_dir).collect()
    }
    rows = (
        testdata.load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user: dict[int, list[tuple[int, int, int]]] = {}
    for r in rows:
        ts = r["ts"]
        t = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        e = t + min(max(math.floor(r["value"] * 60_000_000), 1), 7 * 86_400_000_000)
        by_user.setdefault(r["user_id"], []).append((r["event_id"], t, e))
    expected: dict[int, int] = {}
    for evs in by_user.values():
        for aid, t, e in evs:
            n = sum(1 for pid, p, _ in evs if pid != aid and t <= p < e)
            if n:
                expected[aid] = n
    assert out == expected


def test_range_join_bucketed_no_cartesian(spark, sf_dir):
    """The plan must be an equi-join on (user_id, bucket) — no broadcast
    nested loop, no cartesian product."""
    plan = (
        round5.x_range_join_bucketed(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# s_stream_incremental_dedup
# ---------------------------------------------------------------------------

def test_streaming_incremental_dedup_equals_batch_probe(spark, sf_dir):
    """foreachBatch probing of the persisted index must equal running the
    batch incremental probe over the same concatenated feed rows."""
    from pyspark.sql import functions as SF

    from good_enough_timecamp_data_pipeline_spark.operators import dedup
    from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
        streaming_incremental_dedup,
    )

    got = {
        r["dup_of"]: (r["n_matches"], round(r["best_jaccard"], 9))
        for r in streaming_incremental_dedup(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    feed = None
    for k in range(2):
        b = docs.filter(SF.col("doc_id") % 25 == k).select(
            (SF.col("doc_id") + SF.lit((k + 1) * 100_000_000)).alias("doc_id"),
            SF.concat(SF.col("text"), SF.lit(f" zz{k}")).alias("text"),
        )
        feed = b if feed is None else feed.unionByName(b)
    batch_pairs = dedup.incremental_lsh_pairs(
        feed, index_df=docs, n=5, num_hashes=64, bands=32, threshold=0.5
    )
    want = {
        r["dup_of"]: (r["n_matches"], round(r["best_jaccard"], 9))
        for r in batch_pairs.groupBy("dup_of")
        .agg(
            SF.count("*").alias("n_matches"), SF.max("jaccard").alias("best_jaccard")
        )
        .collect()
    }
    assert got == want
    assert got  # the synthetic near-dups must actually be detected


# ---------------------------------------------------------------------------
# x_ordered_paths
# ---------------------------------------------------------------------------

def test_ordered_paths_matches_python(spark, sf_dir):
    """Path strings equal a plain-Python (t, event_id)-sorted re-derivation."""
    import calendar

    got = [
        (r["path"], r["n_journeys"])
        for r in round5.x_ordered_paths(spark, sf_dir).collect()
    ]
    rows = (
        testdata.load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    )
    groups: dict[tuple[int, int], list[tuple[int, int, str]]] = {}
    US_DAY = 86_400_000_000
    for r in rows:
        ts = r["ts"]
        t = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        groups.setdefault((r["user_id"], t // US_DAY), []).append(
            (t, r["event_id"], r["event_type"])
        )
    from collections import Counter

    counts = Counter(
        ">".join(et for _, _, et in sorted(g)) for g in groups.values()
    )
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


# ---------------------------------------------------------------------------
# j_salted_skew_join
# ---------------------------------------------------------------------------

def test_salted_join_equals_plain_join(spark, sf_dir):
    """The salted plan must return exactly the unsalted join's answer."""
    import math

    got = {
        r["user_id"]: (r["n_events"], r["n_anomalous"])
        for r in round5.j_salted_skew_join(spark, sf_dir).collect()
    }
    rows = (
        testdata.load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .collect()
    )
    per_user: dict[int, list[int]] = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(math.floor(r["value"] * 100))
    want = {}
    for u, vals in per_user.items():
        n, s = len(vals), sum(vals)
        anom = sum(1 for v in vals if v * n > 2 * s)
        if anom:
            want[u] = (n, anom)
    assert got == want


def test_salted_join_spreads_hot_key(spark):
    """A synthetic 90%-hot-key fact must join correctly through the salted
    path (the correctness half of the skew story; the spread itself is the
    plan's (key, salt) join condition)."""
    from pyspark.sql import functions as SF

    from good_enough_timecamp_data_pipeline_spark.plans.round5 import (
        J_SALTED_SKEW_JOIN_SQL,  # noqa: F401 - imported for parity visibility
    )

    n = 2000
    fact = spark.range(n).select(
        SF.when(SF.col("id") % 10 < 9, SF.lit(1)).otherwise(SF.col("id")).alias(
            "user_id"
        ),
        SF.col("id").alias("event_id"),
        # spiky values so the hot user HAS anomalies (> 2x its average)
        SF.when(SF.col("id") % 10 == 0, SF.lit(500.0)).otherwise(SF.lit(10.0)).alias(
            "value"
        ),
        SF.lit("x").alias("event_type"),
        SF.current_timestamp().alias("ts"),
        SF.lit("{}").alias("props"),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        fact.write.mode("overwrite").parquet(f"{d}/events.parquet")
        res = round5.j_salted_skew_join(spark, d)
        hot = {r["user_id"]: r for r in res.collect()}.get(1)
    # hot user: 1800 events incl. all 200 spikes of 500 vs avg ~64 →
    # every spike anomalous
    assert hot is not None and hot["n_events"] == 1800 and hot["n_anomalous"] == 200


# ---------------------------------------------------------------------------
# c_cdc_apply
# ---------------------------------------------------------------------------

def test_cdc_apply_matches_python(spark, sf_dir):
    """Latest-wins + delete semantics equal a plain-Python replay."""
    import calendar

    got = {
        r["key"]: (r["value"], r["last_event_id"], r["n_changes"])
        for r in round5.c_cdc_apply(spark, sf_dir).collect()
    }
    rows = (
        testdata.load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .collect()
    )
    latest: dict[int, tuple] = {}
    counts: dict[int, int] = {}
    for r in rows:
        ts = r["ts"]
        t = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        k = r["event_id"] % 1000
        counts[k] = counts.get(k, 0) + 1
        op = "D" if r["event_type"] == "error" else "U"
        cur = latest.get(k)
        if cur is None or (t, r["event_id"]) > cur[0]:
            latest[k] = ((t, r["event_id"]), op, r["value"], r["event_id"])
    want = {
        k: (v[2], v[3], counts[k]) for k, v in latest.items() if v[1] != "D"
    }
    assert got == want
    # deletes must actually remove keys on this dataset
    assert len(want) < len(latest)


# ---------------------------------------------------------------------------
# t_semdedup
# ---------------------------------------------------------------------------

def test_semdedup_finds_injected_duplicates(spark, sf_dir):
    """Exact duplicate vectors land in the same k-means cluster (identical
    points share a nearest centroid deterministically), so SemDeDup must
    count at least one dup pair in those clusters — and every reported
    count must be consistent with the cluster's size."""
    import tempfile

    from pyspark.sql import functions as SF

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dups = emb.filter(SF.col("vec_id") % 100 == 0).select(
        (SF.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    n_injected = dups.count()
    assert n_injected > 0
    with tempfile.TemporaryDirectory() as d:
        emb.unionByName(dups).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        res = round5.t_semdedup(spark, d, threshold=0.999).collect()
    total_pairs = sum(r["n_dup_pairs"] for r in res)
    assert total_pairs >= n_injected  # every injected exact dup detected
    for r in res:
        assert r["n_dup_pairs"] <= r["n_vectors"] * (r["n_vectors"] - 1) // 2


# ---------------------------------------------------------------------------
# t_dsir_weights
# ---------------------------------------------------------------------------

def test_dsir_weights_favor_target_domain(spark, sf_dir):
    """Importance weights must discriminate: documents FROM the target
    domain (source='src0') score a higher mean log-weight than the rest —
    that is the whole point of importance resampling. Also every weight
    is finite (Laplace smoothing leaves no -inf)."""
    import math

    w = {
        r["doc_id"]: r["dsir_logw"]
        for r in round5.t_dsir_weights(spark, sf_dir).collect()
    }
    assert w and all(math.isfinite(v) for v in w.values())
    src = {
        r["doc_id"]: r["source"]
        for r in testdata.load_table(spark, sf_dir, "documents").collect()
    }
    tgt = [v for k, v in w.items() if src[k] == "src0"]
    rest = [v for k, v in w.items() if src[k] != "src0"]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_dsir_resample_is_weighted_and_deterministic(spark, sf_dir):
    """Gumbel-top-k must (a) be rerun-identical (md5 noise, no rand) and
    (b) actually sample ∝ exp(weight): the selected docs' mean log-weight
    exceeds the corpus mean."""
    a = [tuple(r) for r in round5.t_dsir_resample(spark, sf_dir).collect()]
    b = [tuple(r) for r in round5.t_dsir_resample(spark, sf_dir).collect()]
    assert a == b and len(a) == 100
    sel_mean = sum(r[1] for r in a) / len(a)
    all_w = [r["dsir_logw"] for r in round5.t_dsir_weights(spark, sf_dir).collect()]
    assert sel_mean > sum(all_w) / len(all_w)


# ---------------------------------------------------------------------------
# empty-input robustness: every round-5 query must plan and return empty
# (or a well-defined degenerate result) on zero-row tables, never crash
# ---------------------------------------------------------------------------

def test_round5_queries_survive_empty_tables(spark):
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
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame([], events_schema).write.parquet(f"{d}/events.parquet")
        spark.createDataFrame([], docs_schema).write.parquet(f"{d}/documents.parquet")
        for fn in (
            round5.e_peak_concurrency,
            round5.t_quality_gate,
            round5.t_cooccurrence_lift,
            round5.x_range_join_bucketed,
            round5.x_ordered_paths,
            round5.j_salted_skew_join,
            round5.c_cdc_apply,
            round5.t_dsir_weights,
            round5.t_dsir_resample,
            round5.t_token_kl_drift,
        ):
            assert fn(spark, d).collect() == [], fn.__name__


def test_kl_drift_zero_when_source_is_corpus(spark):
    """A single-source corpus has p_source == p_corpus exactly → KL 0.0."""
    import tempfile

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i % 7} delta", "en", "only", 30) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        rows = round5.t_token_kl_drift(spark, d).collect()
    assert len(rows) == 1 and rows[0]["kl_vs_corpus"] == 0.0


def test_pagerank_empty_and_semdedup_loud_on_no_vectors(spark):
    """Degenerate-input contracts: an empty edge set yields an empty rank
    table (not a crash); SemDeDup on an empty embeddings table fails LOUD
    (kmeans refuses to cluster nothing) rather than returning garbage."""
    import tempfile

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges).collect() == []

    from pyspark.sql import types as T

    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame([], emb_schema).write.parquet(f"{d}/embeddings.parquet")
        with pytest.raises(ValueError, match="no vectors"):
            round5.t_semdedup(spark, d).collect()
