"""Invariant tests for the round-4 extension queries (plans/extensions.py)
and the e_retention_cohorts broadcast-hint removal (round-3 VERDICT §4)."""

from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.plans import analytics, extensions
from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table


def test_retention_has_no_broadcast_hint(spark, sf_dir):
    """first_seen is user-cardinality — it must carry NO explicit broadcast
    hint (AQE may still *choose* broadcast at small scale from runtime
    stats; the point is the plan doesn't force it at any scale)."""
    df = analytics.e_retention_cohorts(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_sliding_window_counts_every_event_four_times(spark, sf_dir):
    """1 h window / 15 min slide ⇒ every event lands in exactly 4 buckets."""
    out = extensions.e_sliding_window(spark, sf_dir)
    total = out.agg(F.sum("n")).collect()[0][0]
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == 4 * n_events


def test_dau_wau_invariants(spark, sf_dir):
    """WAU ≥ DAU everywhere, and on the first active day WAU == DAU."""
    rows = extensions.e_dau_wau(spark, sf_dir).orderBy("day").collect()
    assert rows
    assert all(r["wau"] >= r["dau"] for r in rows)
    assert rows[0]["wau"] == rows[0]["dau"]


def test_latest_per_key_is_max_ts(spark, sf_dir):
    out = extensions.o_latest_per_key(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.select("user_id").distinct().count()
    max_ts = ev.groupBy("user_id").agg(F.max("ts").alias("mx"))
    joined = out.join(max_ts, "user_id").filter(F.col("last_ts") != F.col("mx"))
    assert joined.count() == 0


def test_unpivot_triples_rows(spark, sf_dir):
    n = load_table(spark, sf_dir, "lineitem").count()
    assert extensions.x_unpivot(spark, sf_dir).count() == 3 * n


def test_bigram_cond_p_bounded(spark, sf_dir):
    rows = extensions.t_bigram_lm(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all(0 < r["cond_p"] <= 1 for r in rows)
    assert all(r["cnt"] >= rows[-1]["cnt"] for r in rows)  # sorted desc


def test_embedding_stats_norm_bounds(spark, sf_dir):
    rows = extensions.s_embedding_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["min_norm"] <= r["avg_norm"] <= r["max_norm"]
        assert r["min_norm"] > 0  # no zero vectors in testdata


def test_lm_perplexity_scores_all_tokenizable_docs(spark, sf_dir):
    """Every doc with ≥2 tokens gets a positive finite score; add-one
    smoothing keeps probabilities < 1 so -ln p > 0."""
    import math

    rows = extensions.t_lm_perplexity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_bigrams"] >= 1
        assert r["avg_neg_logp"] > 0 and math.isfinite(r["avg_neg_logp"])


def test_load_table_handles_nanos_vintage(spark, sf_dir, tmp_path):
    """Both testdata vintages must load to the same canonical ts:
    a TIMESTAMP(NANOS) file (synthesized with pyarrow — the pre-round-3
    driver format) and the current timestamp[us] file yield identical
    values through load_table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from good_enough_timecamp_data_pipeline_spark.plans.testdata import footer_schema, load_table

    cur = load_table(spark, sf_dir, "events").orderBy("event_id").limit(50)
    rows = cur.collect()

    # rewrite the same rows as nanosecond timestamps (parquet TIMESTAMP(NANOS))
    tbl = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": pa.array([r["ts"] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows], pa.string()),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
            "props": pa.array([r["props"] for r in rows], pa.string()),
        }
    )
    vintage_dir = tmp_path / "nanos_vintage"
    vintage_dir.mkdir()
    pq.write_table(tbl, str(vintage_dir / "events.parquet"), version="2.6",
                   coerce_timestamps=None)

    pinned = footer_schema(str(vintage_dir / "events.parquet"))
    assert pinned["ts"].dataType.simpleString() == "bigint"
    back = load_table(spark, str(vintage_dir), "events").orderBy("event_id")
    assert dict(back.dtypes)["ts"] == "timestamp"
    got = back.collect()
    assert [(r["event_id"], r["ts"]) for r in got] == [
        (r["event_id"], r["ts"]) for r in rows
    ]


def test_unbounded_sides_carry_no_broadcast_hint(spark, sf_dir):
    """Corpus-growing sides (customer FK target, token vocabulary,
    cluster-size table, first-seen users) must never carry an explicit
    broadcast hint — AQE may choose one at small scale, but the plan
    cannot force it at any scale."""
    from good_enough_timecamp_data_pipeline_spark.plans import advanced, analytics

    analyzed = (
        analytics.d_dq_violations(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" not in analyzed
    # t_tfidf keeps exactly ONE hint: the 1-row n_docs scalar (bounded by
    # construction); the vocabulary-sized dfreq join must be unhinted
    analyzed = advanced.t_tfidf(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


def test_negative_sample_exactly_k_no_self(spark, sf_dir):
    """Exactly k negatives per doc, never the doc itself, deterministic
    across invocations."""
    out = extensions.t_negative_sample(spark, sf_dir).collect()
    per_doc: dict[int, list] = {}
    for r in out:
        assert r["neg_doc_id"] != r["doc_id"]
        per_doc.setdefault(r["doc_id"], []).append(r["neg_rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_doc.values())
    again = extensions.t_negative_sample(spark, sf_dir).collect()
    assert {(r["doc_id"], r["neg_rank"], r["neg_doc_id"]) for r in out} == {
        (r["doc_id"], r["neg_rank"], r["neg_doc_id"]) for r in again
    }


def test_weighted_avg_between_min_max_price(spark, sf_dir):
    rows = extensions.a_weighted_avg(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem")
    lo, hi = li.agg(
        F.min(F.floor(F.col("l_extendedprice") * 100)),
        F.max(F.floor(F.col("l_extendedprice") * 100)),
    ).collect()[0]
    assert rows
    for r in rows:
        assert lo <= r["wavg_price_cents"] <= hi
        assert r["total_qty"] > 0


def test_lag_delta_first_month_null(spark, sf_dir):
    rows = extensions.w_lag_delta_pct(spark, sf_dir).orderBy(
        "o_orderpriority", "month"
    ).collect()
    firsts = {}
    for r in rows:
        firsts.setdefault(r["o_orderpriority"], r)
    for r in firsts.values():
        assert r["delta"] is None and r["delta_pct"] is None


def test_except_all_multiset_counts(spark, sf_dir):
    """EXCEPT ALL keeps n_left - n_right copies per value (floored at 0)."""
    li = load_table(spark, sf_dir, "lineitem")
    n_left = li.count()
    n_right = li.filter(F.col("l_quantity") > 25).count()
    assert extensions.o_except_all(spark, sf_dir).count() == n_left - n_right
