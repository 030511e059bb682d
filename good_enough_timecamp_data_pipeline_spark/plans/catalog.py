"""Driver-facing query catalog.

``ENTRIES`` lists every catalog entry, a ``(spark, sf_dir) -> DataFrame``
function, in the order ``queries()`` returns them. An entry's name is its
function's name; its oracle, when it has one, is the ``<NAME>_SQL``
constant of the module that defines the function: the ANSI-SQL twin
DuckDB runs on the same parquet. Column names/aliases must match exactly
between the two sides (the driver sorts columns by name and hashes
values). The entries live in the plan modules by operator family
(ARCHITECTURE.md §Plan modules).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import session
from ..streaming import stateful
from . import (
    advanced,
    analytics,
    curation,
    extensions,
    northstar,
    relational,
    reports,
    training,
    warehouse,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# The driver's correctness gate checks the FIRST 50 entries of queries(),
# so they must all be oracle twins. The other twins follow; rows-only
# entries (approximate, UDF-bound or streaming: no SQL oracle) come last.
ENTRIES: tuple[QueryFn, ...] = (
    # --- the driver's first-50 window ---
    northstar.d_incremental_containment, northstar.d_minhash_lsh,
    northstar.d_simhash_pairs, northstar.d_incremental_dedup,
    relational.x_profile, advanced.x_range_join, relational.x_rollup,
    relational.x_topk_per_group, extensions.x_unpivot, warehouse.a_benford,
    warehouse.a_chi_square, warehouse.a_gini, advanced.a_grouping_sets,
    warehouse.a_ks_test_binned, extensions.a_mode,
    advanced.a_partial_agg_merge, warehouse.a_source_lang_entropy,
    curation.a_winsorize, advanced.c_cdc_apply, advanced.c_snapshot_diff,
    northstar.d_containment, analytics.d_dq_violations,
    northstar.d_ngram_jaccard, northstar.d_threshold_curve,
    warehouse.e_attribution, advanced.e_ewma_anomaly,
    analytics.e_funnel_stages, advanced.e_interval_coverage,
    warehouse.e_markov_transitions, relational.e_sessionize,
    relational.e_tumbling_window, analytics.f_month_batches,
    extensions.f_regex_extract, advanced.j_merge_upsert,
    relational.j_salted_skew_join, analytics.j_scd2_dim,
    extensions.o_latest_per_key, warehouse.q_local_supplier_volume,
    warehouse.q_nation_trade, warehouse.q_shipping_priority,
    northstar.s_cosine_topk, curation.s_embedding_drift,
    training.s_quantize_int8, curation.t_bm25_topk, curation.t_ccnet_buckets,
    training.t_dsir_resample, training.t_dsir_weights, curation.t_line_dedup,
    extensions.t_lm_perplexity, extensions.t_negative_sample,
    # --- the other oracle twins ---
    advanced.e_peak_concurrency, curation.t_quality_gate,
    extensions.t_cooccurrence_lift, advanced.x_range_join_bucketed,
    analytics.x_ordered_paths, training.t_token_kl_drift,
    curation.a_mad_outliers, curation.w_pareto_share,
    curation.g_triangle_count, curation.x_skew_report,
    curation.t_hashed_classifier, warehouse.a_ks_test, training.t_source_caps,
    training.t_temperature_mix, northstar.t_ngram_novelty,
    northstar.d_lsh_quality, advanced.x_geo_grid_join, extensions.f_array_ops,
    relational.x_asof_forward, relational.x_asof_nearest, advanced.x_geo_knn,
    relational.f_variant_shred, relational.x_lateral_topn,
    curation.t_calibration_bins, extensions.a_weighted_quantile,
    extensions.a_weighted_avg, extensions.w_lag_delta_pct,
    extensions.o_except_all, extensions.f_bitwise_ops,
    extensions.f_epoch_roundtrip, extensions.a_bool_aggs,
    advanced.d_dedup_survivors, analytics.j_scd2_lookup,
    analytics.e_windowed_funnel, advanced.d_cc_clusters,
    analytics.e_retention_cohorts, advanced.e_gapfill, relational.x_asof_join,
    extensions.e_sliding_window, extensions.e_dau_wau,
    northstar.s_cosine_neardup, analytics.w_rolling_7d,
    analytics.t_topk_tokens, analytics.t_scrub_pii, analytics.x_grouped_list,
    analytics.w_ntile_quartiles, advanced.a_histogram, advanced.t_tfidf,
    advanced.t_winnow, advanced.t_bpe_tokens, training.t_decontam,
    training.t_seq_pack, training.t_mixture_weights, training.t_repetition,
    training.t_shard_assign, analytics.w_rank_distribution,
    analytics.x_posexplode, training.t_chunking, advanced.a_zscore_outliers,
    relational.a_percentiles, extensions.a_corr_stats,
    extensions.a_conditional_agg, extensions.t_bigram_lm,
    extensions.s_embedding_stats, relational.f_json_props,
    relational.a_count_distinct, relational.x_cube, relational.w_frames,
    relational.h_breadcrumb_levels, relational.f_formatting_wide,
    relational.f_string_ids, relational.f_dates, relational.f_date_explode,
    relational.o_sort_topk, relational.o_set_ops, relational.w_running_rank,
    relational.x_pivot, northstar.t_token_stats, northstar.t_quality,
    northstar.t_langid, northstar.t_fingerprint, northstar.t_simhash,
    northstar.t_corpus_prep, northstar.t_split, northstar.t_balanced_sample,
    northstar.d_exact_dedup, reports.report_task_budget,
    reports.report_project_budget, relational.p_filter_pushdown,
    relational.p_null_canonicalization, relational.p_type_coercion,
    relational.j_broadcast_lookup, relational.j_first_group_enrich,
    relational.j_semi, relational.j_anti, relational.j_assembly_left_defaults,
    relational.j_fuzzy_match, relational.a_groupsum_pricing,
    relational.a_stats_minmax, relational.a_distinct_ids,
    relational.a_dedup_pk, relational.a_salted_skew_sum,
    relational.h_closure_pairs,
    # --- rows-only ---
    curation.m_phash_neardup, curation.g_pagerank, northstar.t_semdedup,
    advanced.a_approx_sketches, northstar.s_ann_lsh, northstar.s_ann_ivf,
    northstar.m_multimodal_features, northstar.s_stream_tumbling,
    northstar.s_stream_sliding, northstar.s_stream_sessions,
    northstar.s_stream_session_window, northstar.s_stream_dedup,
    northstar.s_stream_join, northstar.s_stream_static_join,
    northstar.s_stream_upsert, northstar.s_stream_incremental_dedup,
    northstar.s_stream_deadletter, curation.a_hll_partial_merge,
    curation.g_communities, curation.s_pq_codes, northstar.s_kmeans,
    curation.g_kcore, stateful.s_stream_ewma, curation.t_train_classifier,
    curation.s_pca_spectrum, curation.s_diverse_sample, curation.s_pq_recall,
    curation.s_pq_rerank, advanced.t_bpe_train,
    relational.f_variant_write_shred,
)

QUERIES: dict[str, QueryFn] = {fn.__name__: fn for fn in ENTRIES}
ORACLES: dict[str, str] = {
    fn.__name__: sql
    for fn in ENTRIES
    if (sql := getattr(sys.modules[fn.__module__], fn.__name__.upper() + "_SQL", None))
}


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


# Per-entry session-conf hints, applied (and restored) by the bench /
# baseline harnesses around the single entry — the per-pipeline tuning a
# production job ships in its spark-submit conf. The driver's correctness
# gate ignores these (results never depend on them). Rationale: at local
# testdata scale AQE's per-stage barrier + re-plan costs ~60-80 ms/stage,
# so the size-aware session default (session.tuned_conf_for) turns it
# off; the entries below are join-heavy pipelines where AQE's runtime
# sort-merge→broadcast conversion and partition coalescing win far more
# than the barrier tax (measured per-query both ways at sf0.1, PLANS.md).
# At cluster scale AQE is on everywhere.
# The heavy profile keeps AQE's runtime sort-merge→broadcast conversion
# but at the LOCAL partition count (8 on 32 cores): a 3-run interleaved
# A/B over the members measured AQE+8 ≤ AQE+32 on every member and strictly
# better on the join-heavy ones (g_triangle_count 0.91 vs 1.75 s median,
# e_dau_wau 0.29 vs 0.41 s) — the 32-partition variant paid per-stage
# task-launch overhead AQE then had to coalesce away. At cluster scale
# the session default (AQE + high partition count) applies everywhere.
HEAVY = {
    "spark.sql.adaptive.enabled": "true",
    # cores/4 ≡ the literal 8 every A/B above measured on 32 cores;
    # derived so low-core runs scale down with the session tier (see
    # session.tiny_partitions)
    "spark.sql.shuffle.partitions": str(session.tiny_partitions()),
}
# Membership is decided by measurement, not guesswork: a 3-run
# interleaved A/B (fresh process per run, median per query) of the light
# session default vs this profile over the 34 heaviest twins at sf0.1 —
# only entries whose MEDIAN improved > 0.1 s under the heavy profile
# keep it. Everything else runs the light default (most candidates tied
# or lost once fan_out_scan gave their narrow stages real parallelism).
QUERY_CONF: dict[str, dict[str, str]] = {
    name: HEAVY
    for name in (
        "t_token_kl_drift",
        "t_simhash",
        "g_triangle_count",
        "e_dau_wau",
        "e_gapfill",
        "x_range_join",
    )
}
# WIDE: the inverse of HEAVY — more reducers, AQE left on to coalesce
# them back down when the shuffle is actually small. For
# t_cooccurrence_lift the sf10 bottleneck is the exact top-V
# document-frequency pass: ~25M almost-all-distinct (tok, df) keys
# (synthetic corpus, vocab min_df = 3 with alphabetic tie-breaks, so no
# candidate-pruning shortcut is SOUND — any token's df decides
# membership) squeezed through the <2 GiB tier's 8 reducers on 32
# cores. Interleaved A/B at sf10: 8/off median 7.5 s vs 64/aqe
# 5.1 s; at sf0.1 the two are tied (1.51 vs 1.49 s median, 4-run
# interleaved) because AQE coalesces the 64 partitions away.
WIDE = {
    "spark.sql.adaptive.enabled": "true",
    # 2×cores ≡ the literal 64 measured on 32 cores
    "spark.sql.shuffle.partitions": str(2 * session.DEFAULT_CPUS),
}
QUERY_CONF["t_cooccurrence_lift"] = WIDE
# The small-input session profile turns whole-stage codegen OFF (see
# session.tuned_conf_for: a one-shot sub-second query never amortizes
# its Janino compile). These entries are the measured exceptions — scan
# + agg kernels over enough rows that compiled eval wins even one-shot
# (3-run interleaved A/B at sf0.1, fresh process per run, median
# improvement > 0.05 s required; e.g. t_cooccurrence_lift 1.19 vs
# 1.91 s, q_nation_trade 0.96 vs 1.42 s). At ≥ 2 GiB the session leaves
# codegen on everywhere and this profile is a no-op.
CODEGEN_ON = {"spark.sql.codegen.wholeStage": "true"}
QUERY_CONF.update(
    {
        name: CODEGEN_ON
        for name in (
            "e_peak_concurrency",
            "a_winsorize",
            # not t_cooccurrence_lift: its intersect/HOF plan is
            # warm-neutral under codegen but pays a ~4.7 s first-execution
            # Janino compile, which the cold-plan-per-query protocol
            # measures every time
            "q_nation_trade",
            "q_local_supplier_volume",
            "a_corr_stats",
            "x_profile",
            "a_conditional_agg",
            "x_rollup",
            "a_histogram",
            "a_groupsum_pricing",
            "a_stats_minmax",
            "q_shipping_priority",
            "w_pareto_share",
            # the scored-corpus build (shared first consumer): 1M-token
            # interpreted md5 fold ≈ 2.4 s vs ≈ 0.3 s compiled
            # (clean-window A/B); the Janino+JIT cost lands in the shape
            # warm-up
            "t_hashed_classifier",
        )
    }
)


def apply_query_conf(spark: SparkSession, name: str):
    """Set a query's conf hints; returns a restore callable.

    The CODEGEN_ON exceptions were measured under the shape-warmed
    protocol, where the entry's generated class compiles once in the
    warm-up and the timed run reuses it. Under the COLD protocol
    (SPARK_GRAFT_SHAPE_WARMUP=0) every plan is one-shot: the Janino
    compile lands INSIDE the timed run and never amortizes — exactly the
    condition the <64 MiB codegen-off session tier exists for — so the
    exceptions are skipped there (measured: w_pareto_share 1.75 s cold
    with the exception vs 0.82 s warm; the exception itself was the
    cold-run cost)."""
    conf = QUERY_CONF.get(name)
    if conf is CODEGEN_ON and os.environ.get("SPARK_GRAFT_SHAPE_WARMUP", "1") == "0":
        conf = None
    if not conf:
        return lambda: None
    prev = {}
    for k, v in conf.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)

    def restore() -> None:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)

    return restore


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reports.report_project_budget(spark, sf_dir)


# Harness warm-up set: one representative of each hot kernel family —
# tokenize+md5 projection, explode+hash-agg, ranking window, broadcast
# join — plus the flagship's closure/rollup shape. First execution of a
# kernel pays JVM JIT + codegen warm-up (measured 2-3 s on the md5-heavy
# aggs: 4.4 s cold vs 1.7 s steady-state for the same plan); without
# this, whichever catalog entry happens to run FIRST absorbs that cost
# into its published number, so per-query timings would depend on
# registration order rather than on the queries themselves.
WARMUP_QUERIES = (
    "t_fingerprint",
    "t_topk_tokens",
    "w_running_rank",
    "j_broadcast_lookup",
)

# Shape warm-up: whole-stage-codegen classes are keyed by the PLAN SHAPE
# (operator chain + expression trees + schema), not by the input paths —
# so executing the same query once against the tiny sf0.001 tables
# compiles-and-JITs exactly the class the sf0.1 run will reuse, for
# pennies (the per-query timing still builds its plan cold; only the
# ENGINE is warm, which is the stated protocol, and DuckDB's C++ kernels
# are "pre-warmed" by construction). Without this the first execution of
# each md5/HOF-heavy generated class runs interpreted over ~1M rows:
# measured t_dsir_weights 3.6→2.0 s, s_cosine_neardup 2.3→0.9 s.
# Members = every twin that measured ≥~0.8 s in the quiet-window
# baseline, t_hashed_classifier (the scored-corpus first consumer)
# among them.
SHAPE_WARMUP = (
    "a_gini", "a_ks_test", "a_mad_outliers", "a_weighted_quantile",
    "d_cc_clusters",
    "d_containment", "d_dedup_survivors", "d_incremental_dedup",
    "d_lsh_quality", "d_minhash_lsh", "d_ngram_jaccard", "d_simhash_pairs",
    "d_threshold_curve", "e_interval_coverage", "e_peak_concurrency",
    "g_triangle_count",
    "h_breadcrumb_levels", "h_closure_pairs", "report_project_budget",
    "report_task_budget", "s_cosine_neardup", "s_cosine_topk", "t_bm25_topk",
    "t_ccnet_buckets", "t_calibration_bins", "t_cooccurrence_lift",
    "t_corpus_prep", "t_dsir_resample", "t_dsir_weights",
    "t_hashed_classifier", "t_line_dedup",
    "t_lm_perplexity", "t_ngram_novelty", "t_repetition", "t_seq_pack",
    "t_simhash",
    "t_shard_assign",
    "t_token_kl_drift", "w_pareto_share", "x_geo_knn", "x_ordered_paths",
    "x_profile", "x_range_join_bucketed",
    # streaming kernel family: a session's FIRST streaming
    # query pays engine startup no batch warm-up touches — state-store
    # provider init, FileStreamSource/metadata-log classes, streaming
    # codegen, micro-batch thread pools (the committed block's first
    # entry read 2.2 s vs a 0.9 s same-session min). One sf0.001 pass
    # per streaming shape pays it in the warm-up, per the stated
    # shape-warmed protocol; plans are still built cold per timed query.
    "s_stream_tumbling", "s_stream_sliding", "s_stream_sessions",
    "s_stream_session_window", "s_stream_dedup", "s_stream_join",
    "s_stream_static_join", "s_stream_upsert",
    "s_stream_incremental_dedup", "s_stream_deadletter", "s_stream_ewma",
    # m_phash_neardup: non-iterative heavy rows-only entry
    # with a measured same-session run1→run2 delta (4.67→4.24 at
    # sf0.1) — banded-hamming join classes compile in the warm-up.
    # The iterative graph entries (g_pagerank, g_kcore, g_communities)
    # were A/B'd for membership the same day and deliberately stay OUT:
    # their loop bodies embed per-round driver scalars as LITERALS
    # (e.g. pagerank's dangling-mass base), so each dataset generates
    # different Janino source and an sf0.001 warm-up can never
    # pre-compile the sf0.1 classes — measured no run1 improvement,
    # pure warm-up wall-time. Absorbing them would need literal-free
    # loop bodies (1-row broadcast scalar columns), which costs a
    # broadcast job per iteration — worse than the compile it saves.
    "m_phash_neardup",
)


# Cost-switched entries choose their physical tier from the DATA under
# sf_dir (footer row counts, measured probes), so a shape warm-up at
# sf0.001 exercises only the small-data tier and the at-scale tier's
# generated classes stay cold — a_mad_outliers' bucketed tier measured
# 21 s first-execution vs 2.0 s warm at sf10. Each variant here forces
# the tier the small-SF run would NOT choose; warmup() runs them right
# after the entry itself.
SHAPE_WARMUP_VARIANTS: dict = {
    # bucketed global-cumsum tier — sf0.001's customer footer count picks
    # the single-window tier, so the distributed plan's generated classes
    # would hit the timed scale cold
    "w_pareto_share": (
        lambda spark, sf_dir: curation.w_pareto_share(
            spark, sf_dir, max_single_window_rows=0
        ),
    ),
    # rescan (no-pin) tier: sf0.001's documents footer count picks the
    # pinned tier, so the parquet-rescan window plan would hit the timed
    # scale cold past the cap
    "t_shard_assign": (
        lambda spark, sf_dir: training.t_shard_assign(
            spark, sf_dir, max_pin_rows=0
        ),
    ),
    "a_mad_outliers": (
        # bucketed path, driver-histogram sub-tier (histogram small)
        lambda spark, sf_dir: curation.a_mad_outliers(
            spark, sf_dir, max_single_reducer_rows=0
        ),
        # bucketed path, distributed global_cumsum_multi tier — the one
        # that actually executes at sf10, where its first execution
        # measured 21 s; at warm-up scale the histogram is far under
        # _DRIVER_HISTOGRAM_MAX_ROWS so it must be forced explicitly
        lambda spark, sf_dir: curation.a_mad_outliers(
            spark, sf_dir, max_single_reducer_rows=0,
            max_driver_histogram_rows=0,
        ),
    ),
}


def _pandas_identity(pdf):
    import numpy  # noqa: F401  — warm the worker's heavy imports too

    return pdf


def _pandas_identity_iter(pdfs):
    import numpy  # noqa: F401  — warm the worker's heavy imports too

    yield from pdfs


def _kernel_family_warmups(spark: SparkSession) -> None:
    """64-row synthetic exercises of the heavier shared kernel families
    (see warmup()); every frame is tiny and the persists are dropped."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join
    from ..operators.hierarchy import transitive_closure
    from ..operators.order import global_cumsum, pin_with_range_bucket

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # bucketed global cumsum (pin + bucket bounds + window + offsets)
    base = spark.range(64).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    pinned, bucket = pin_with_range_bucket(base, F.col("k"))
    _noop(global_cumsum(pinned, F.col("k"), F.col("v"), bucket))
    pinned.unpersist()
    # as-of carry window (both directions share the kernel)
    left = spark.range(32).select(F.col("id").alias("by"), F.col("id").alias("ts"))
    right = spark.range(32).select(
        F.col("id").alias("by"), (F.col("id") + 1).alias("ts"), F.lit(1).alias("x")
    )
    _noop(asof_join(left, right, on="ts", by="by", value_cols=["x"]))
    # iterative closure: 16 rows take the driver walk (probe + local
    # relation), as every hierarchy of at most local.MAX_ROWS rows does
    edges = spark.range(16).select(
        F.col("id").alias("task_id"),
        F.when(F.col("id") > 0, F.col("id") - 1).alias("parent_id"),
    )
    _noop(transitive_closure(edges))
    # embedding dot-product fold + top-k TakeOrdered
    emb = spark.range(64).select(
        "id", F.array(*[F.rand(seed=1) for _ in range(8)]).alias("e")
    )
    dot = F.aggregate(
        F.zip_with(F.col("e"), F.col("e"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    _noop(emb.select("id", dot.alias("s")).orderBy(F.desc("s")).limit(8))
    # the cold protocol keeps these warm-ups too, so first-execution
    # machinery they touch is not priced into whichever entry runs first:
    g = spark.range(64).select(
        (F.col("id") % 4).alias("a"), (F.col("id") % 8).alias("b"), F.col("id").alias("v")
    )
    # Expand + multi-grouping HashAggregate (cube/rollup/grouping sets)
    _noop(g.cube("a", "b").agg(F.sum("v").alias("s")))
    # ObjectHashAggregate (collect_list/sort_array) + Generate (posexplode)
    lists = g.groupBy("a").agg(F.sort_array(F.collect_list("v")).alias("xs"))
    _noop(lists.select("a", F.posexplode("xs")))
    # TypedImperativeAggregate (median/percentile buffer-merge)
    _noop(g.groupBy("a").agg(F.median("v").alias("m"), F.percentile("v", F.lit(0.9)).alias("p")))
    # SortMergeJoin (full outer cannot broadcast) + shuffle-exchange pair
    _noop(g.join(g.withColumnRenamed("v", "w"), ["a", "b"], "full_outer"))
    # pivot (Expand-free aggregate with per-bucket projections)
    _noop(g.groupBy("a").pivot("b", list(range(8))).agg(F.sum("v")))


def warmup(spark: SparkSession, sf_dir: str, shapes: bool = True) -> None:
    """Run the warm-up set through the noop sink (used by bench.py and
    tools/duckdb_baseline.py before any timed query). ``shapes=False``
    (or env SPARK_GRAFT_SHAPE_WARMUP=0) skips the per-entry shape
    warm-up — the "cold engine" protocol, published alongside the
    shape-warmed one so readers see both."""
    if os.environ.get("SPARK_GRAFT_SHAPE_WARMUP", "1") == "0":
        shapes = False
    flagship(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for name in WARMUP_QUERIES:
        try:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
    # Arrow/pandas-UDF kernel family: the FIRST grouped-map in a session
    # spawns the Python worker pool and imports pandas/numpy inside each
    # worker (~2 s measured at local[32], s_cosine_neardup 3.4 → 1.0 s
    # cold) — engine startup, not query work; DuckDB's process is warm by
    # construction. A 64-row no-op grouped map pays it here so whichever
    # pandas-UDF entry runs first doesn't absorb it.
    try:
        spark.range(64).repartition(32).groupBy("id").applyInPandas(
            _pandas_identity, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    # The grouped map above runs AFTER a shuffle, so at the tiny-SF tier
    # (8 shuffle partitions) it spawns only ~8 concurrent workers — the
    # fanned-out Python entries (m_multimodal_features, m_phash_neardup:
    # fan_out_scan to defaultParallelism tasks) then fork the remaining
    # ~24 workers + pandas/numpy imports INSIDE their timed run (benign
    # when the host is calm, a multi-second straggler tail under
    # contention — two loud benches read the first fanned entry at
    # 24-36 s vs its 1.3 s committed number, reprobe ≈ committed). A
    # narrow defaultParallelism-task mapInPandas pass warms the FULL
    # pool; same engine-startup amortization the grouped-map warm-up
    # already established.
    try:
        par = spark.sparkContext.defaultParallelism
        spark.range(0, 8 * par, 1, par).mapInPandas(
            _pandas_identity_iter, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    # Further kernel FAMILIES, warmed on 64-row synthetics (the pandas
    # no-op precedent): bucketed global-cumsum (pin + per-bucket window
    # + broadcast offsets — w_pareto_share/a_gini/a_mad machinery),
    # as-of carry windows, the iterative closure, and the embedding
    # dot-product fold. These JIT the shared executor/catalyst paths a
    # first execution otherwise pays inside its timed run; each entry's
    # own generated class still compiles per its own plan (the stated
    # per-query-cold protocol).
    try:
        _kernel_family_warmups(spark)
    except Exception:
        pass
    spark.catalog.clearCache()
    if not shapes:
        return
    # shape warm-up at the sibling sf0.001 dir (skipped when there is
    # none, or when sf_dir IS that dir)
    norm = os.path.normpath(sf_dir)
    small = os.path.join(os.path.dirname(norm), "sf0.001")
    if os.path.isdir(small) and os.path.normpath(small) != norm:
        for name in SHAPE_WARMUP:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            # warm under the entry's own conf profile so the engine
            # state (e.g. which generated classes exist) matches what
            # the timed sf_dir run will execute under
            restore = apply_query_conf(spark, name)
            try:
                fn(spark, small).write.format("noop").mode("overwrite").save()
                # also warm the tier(s) a cost-switched entry would only
                # pick at the TIMED scale (see SHAPE_WARMUP_VARIANTS)
                for variant in SHAPE_WARMUP_VARIANTS.get(name, ()):
                    variant(spark, small).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception:
                pass
            finally:
                restore()
            spark.catalog.clearCache()


def prewarm_shared(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every shared artifact at ``sf_dir`` before a timed loop and
    return per-tag build seconds (``shared.prewarm``): the harnesses
    report each one-time build next to the per-query numbers, so no
    first consumer's time silently carries a corpus-wide build. Every
    entry's module is imported above, so every artifact is registered."""
    from . import shared

    return shared.prewarm(spark, sf_dir)
