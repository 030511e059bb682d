"""Driver-facing query catalog.

Every implemented operator from SURVEY.md §2 is registered here as a named
``(spark, sf_dir) -> DataFrame`` callable; ``ORACLES`` holds the ANSI-SQL
twin DuckDB runs on the same parquet. Column names/aliases must match
exactly between the two sides (the driver sorts columns by name and hashes
values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import session

from . import (
    advanced,
    analytics,
    curation,
    extensions,
    northstar,
    relational,
    reports,
    round5,
    round5d,
    round5e,
    round5f,
    round5g,
    round6,
    round7,
    training,
    warehouse,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


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
# than the barrier tax (measured per-query both ways at sf0.1 — see
# round-7 notes in PLANS.md). At cluster scale AQE is on everywhere.
# The heavy profile keeps AQE's runtime sort-merge→broadcast conversion
# but at the LOCAL partition count (8): a round-8 3-run interleaved A/B
# over the members measured AQE+8 ≤ AQE+32 on every member and strictly
# better on the join-heavy ones (g_triangle_count 0.91 vs 1.75 s median,
# e_dau_wau 0.29 vs 0.41 s) — the 32-partition variant paid per-stage
# task-launch overhead AQE then had to coalesce away. At cluster scale
# the session default (AQE + high partition count) applies everywhere.
HEAVY = {
    "spark.sql.adaptive.enabled": "true",
    # cores/4 ≡ the literal 8 every A/B above measured on the default
    # 32-core session; derived so low-core runs scale down with the
    # session tier (r15 VERDICT item 1 — see session.tiny_partitions)
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
# cores. r12 interleaved A/B at sf10: 8/off median 7.5 s vs 64/aqe
# 5.1 s; at sf0.1 the two are tied (1.51 vs 1.49 s median, 4-run
# interleaved) because AQE coalesces the 64 partitions away.
WIDE = {
    "spark.sql.adaptive.enabled": "true",
    # 2×cores ≡ the literal 64 measured on the default 32-core session
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
            # t_cooccurrence_lift left the list in r11: the exception was
            # measured on the old join+collect_set plan; the rewritten
            # intersect/HOF plan is warm-neutral under codegen but pays a
            # ~4.7 s first-execution Janino compile, which the
            # cold-plan-per-query protocol measures every time
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
            # interpreted md5 fold ≈ 2.4 s vs ≈ 0.3 s compiled (round-8
            # clean-window A/B); the Janino+JIT cost lands in the shape
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
    import os

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
# baseline (round-8 clean-window re-measure added t_hashed_classifier —
# now the scored-corpus first consumer — plus the 0.8-0.9 s band:
# x_profile, a_gini, s_cosine_topk, t_seq_pack).
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
    # streaming kernel family (round-14): a session's FIRST streaming
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
    # m_phash_neardup (round-15): non-iterative heavy rows-only entry
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
    # would hit the timed scale cold (round-12 VERDICT item 2)
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
        # (round-11 ADVICE item 1)
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
    # iterative closure unroll (per-level union + checkpoint paths)
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
    # families added r13 (round-12 VERDICT item 4 — the cold protocol
    # keeps these warm-ups, so first-execution machinery they touch stops
    # being priced into whichever entry runs first):
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
    import os

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
    # ~24 workers + pandas/numpy imports INSIDE their timed run (r16:
    # benign when the host is calm, a multi-second straggler tail under
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
    # as-of carry windows, iterative closure unroll, and the embedding
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
    # shape warm-up at the smallest available SF (skipped when absent or
    # when sf_dir IS the smallest). SPARK_GRAFT_WARMUP_SF_DIR overrides
    # the sibling convention: a synthesized measurement dir (e.g.
    # tools/sf10_compare.py's fresh /tmp/scale_100x_* tree) has NO
    # sf0.001 sibling, so without the override the whole shape warm-up
    # silently skipped at sf10 and every timed entry paid its first-plan
    # Janino compile in-run — the w_pareto_share 0.96 s-cold vs 0.47 s-
    # warm residual the r14 VERDICT traced (item 4), while the artifact
    # note still claimed "shape-warmed". The env keeps the package free
    # of hardcoded testdata paths; the measurement tools own the choice.
    norm = os.path.normpath(sf_dir)
    small = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR") or os.path.join(
        os.path.dirname(norm), "sf0.001"
    )
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
    plan module is imported above, so every artifact is registered."""
    from . import shared

    return shared.prewarm(spark, sf_dir)


# Registration order is deliberate: the driver's correctness gate checks the
# FIRST 50 entries of queries(). Window history: r1+r2 confirmed the original
# ordering; r3 confirmed 43/50 (7 events-reader failures, fixed r4); r4 was
# 50/50; r5 rotated in the 12 post-r4 additions + impl-changed + oldest
# entries (50/50); r6 accidentally re-ran the IDENTICAL window (new entries
# were appended at the back without reordering the front), freezing
# driver-confirmed coverage at 104/149 twins. The r7 window is therefore
# exactly the 45 oracle twins the driver has NEVER sampled (everything
# registered after the r5 freeze — round5/curation/warehouse/round5d-g/
# round6 — all green under the round-6 judge's oracle_check re-run), plus
# d_incremental_dedup (implementation changed this round: versioned
# per-user LSH index cache key) and the round-7 additions. Everything else
# follows after slot 50; rows-only entries last.

# --- (a) the 45 never-driver-sampled oracle twins --------------------------
register(
    "e_peak_concurrency", round5.e_peak_concurrency, round5.E_PEAK_CONCURRENCY_SQL
)
register("t_quality_gate", round5.t_quality_gate, round5.T_QUALITY_GATE_SQL)
register(
    "t_cooccurrence_lift", round5.t_cooccurrence_lift, round5.T_COOCCURRENCE_LIFT_SQL
)
register(
    "x_range_join_bucketed",
    round5.x_range_join_bucketed,
    round5.X_RANGE_JOIN_BUCKETED_SQL,
)
register("x_ordered_paths", round5.x_ordered_paths, round5.X_ORDERED_PATHS_SQL)
register(
    "j_salted_skew_join", round5.j_salted_skew_join, round5.J_SALTED_SKEW_JOIN_SQL
)
register("c_cdc_apply", round5.c_cdc_apply, round5.C_CDC_APPLY_SQL)
register("t_dsir_weights", round5.t_dsir_weights, round5.T_DSIR_WEIGHTS_SQL)
register("t_dsir_resample", round5.t_dsir_resample, round5.T_DSIR_RESAMPLE_SQL)
register("t_token_kl_drift", round5.t_token_kl_drift, round5.T_TOKEN_KL_DRIFT_SQL)
register("t_ccnet_buckets", curation.t_ccnet_buckets, curation.T_CCNET_BUCKETS_SQL)
register("t_line_dedup", curation.t_line_dedup, curation.T_LINE_DEDUP_SQL)
register("a_mad_outliers", curation.a_mad_outliers, curation.A_MAD_OUTLIERS_SQL)
register("w_pareto_share", curation.w_pareto_share, curation.W_PARETO_SHARE_SQL)
register("g_triangle_count", curation.g_triangle_count, curation.G_TRIANGLE_COUNT_SQL)
register("a_winsorize", curation.a_winsorize, curation.A_WINSORIZE_SQL)
register("s_embedding_drift", curation.s_embedding_drift, curation.S_EMBEDDING_DRIFT_SQL)
register("x_skew_report", curation.x_skew_report, curation.X_SKEW_REPORT_SQL)
register(
    "q_shipping_priority", warehouse.q_shipping_priority, warehouse.Q_SHIPPING_PRIORITY_SQL
)
register(
    "q_local_supplier_volume",
    warehouse.q_local_supplier_volume,
    warehouse.Q_LOCAL_SUPPLIER_VOLUME_SQL,
)
register("e_attribution", warehouse.e_attribution, warehouse.E_ATTRIBUTION_SQL)
register("t_bm25_topk", curation.t_bm25_topk, curation.T_BM25_TOPK_SQL)
register(
    "t_hashed_classifier", round5d.t_hashed_classifier, round5d.T_HASHED_CLASSIFIER_SQL
)
register("d_containment", round5d.d_containment, round5d.D_CONTAINMENT_SQL)
register("a_ks_test", round5d.a_ks_test, round5d.A_KS_TEST_SQL)
register(
    "e_interval_coverage", round5d.e_interval_coverage, round5d.E_INTERVAL_COVERAGE_SQL
)
register(
    "e_markov_transitions",
    warehouse.e_markov_transitions,
    warehouse.E_MARKOV_TRANSITIONS_SQL,
)
register("a_gini", warehouse.a_gini, warehouse.A_GINI_SQL)
register("t_source_caps", round5e.t_source_caps, round5e.T_SOURCE_CAPS_SQL)
register(
    "t_temperature_mix", round5e.t_temperature_mix, round5e.T_TEMPERATURE_MIX_SQL
)
register("a_chi_square", round5e.a_chi_square, round5e.A_CHI_SQUARE_SQL)
register("e_ewma_anomaly", round5e.e_ewma_anomaly, round5e.E_EWMA_ANOMALY_SQL)
register(
    "a_source_lang_entropy",
    round5f.a_source_lang_entropy,
    round5f.A_SOURCE_LANG_ENTROPY_SQL,
)
register("d_threshold_curve", round5f.d_threshold_curve, round5f.D_THRESHOLD_CURVE_SQL)
register("t_ngram_novelty", round5f.t_ngram_novelty, round5f.T_NGRAM_NOVELTY_SQL)
register("q_nation_trade", warehouse.q_nation_trade, warehouse.Q_NATION_TRADE_SQL)
register("a_benford", warehouse.a_benford, warehouse.A_BENFORD_SQL)
register("d_lsh_quality", round5f.d_lsh_quality, round5f.D_LSH_QUALITY_SQL)
register("x_geo_grid_join", round5g.x_geo_grid_join, round5g.X_GEO_GRID_JOIN_SQL)
register("f_array_ops", round5g.f_array_ops, round5g.F_ARRAY_OPS_SQL)
register("x_asof_forward", round5g.x_asof_forward, round5g.X_ASOF_FORWARD_SQL)
register("x_asof_nearest", round5g.x_asof_nearest, round5g.X_ASOF_NEAREST_SQL)
register("x_geo_knn", round5g.x_geo_knn, round5g.X_GEO_KNN_SQL)
register("f_variant_shred", round6.f_variant_shred, round6.F_VARIANT_SHRED_SQL)
register("x_lateral_topn", round6.x_lateral_topn, round6.X_LATERAL_TOPN_SQL)

# --- new in r9: the binned (production-scale) KS mode ----------------------
register(
    "a_ks_test_binned", round5d.a_ks_test_binned, round5d.A_KS_TEST_BINNED_SQL
)

# --- new in r10: cross-set containment probe (excerpt contamination of an
# arriving batch vs a fixed corpus; registration position is cosmetic —
# the WINDOW_R11 reorder below decides the driver's first-50) ---------------
register(
    "d_incremental_containment",
    round5d.d_incremental_containment,
    round5d.D_INCREMENTAL_CONTAINMENT_SQL,
)

# --- (b) implementation changed in r7 --------------------------------------
# build_lsh_index_cached gained a versioned, per-user, ownership-checked
# artifact key (round-6 ADVICE item 1); re-confirm the probe query.
register(
    "d_incremental_dedup", northstar.d_incremental_dedup, northstar.D_INCREMENTAL_DEDUP_SQL
)

# --- (c) new in r7 ---------------------------------------------------------
for _name, (_fn, _sql) in round7.ROUND7_QUERIES.items():
    register(_name, _fn, _sql)
# ---------------------------- end of first-50 window -----------------------

# --- previously driver-confirmed (r1-r6 windows), unchanged ----------------
for _name, (_fn, _sql) in extensions.LATE_EXTENSION_QUERIES.items():
    register(_name, _fn, _sql)
register("d_dedup_survivors", advanced.d_dedup_survivors, advanced.D_DEDUP_SURVIVORS_SQL)
register("j_scd2_lookup", analytics.j_scd2_lookup, analytics.J_SCD2_LOOKUP_SQL)
register("e_windowed_funnel", analytics.e_windowed_funnel, analytics.E_WINDOWED_FUNNEL_SQL)
register("d_minhash_lsh", northstar.d_minhash_lsh, northstar.D_MINHASH_LSH_SQL)
register("d_ngram_jaccard", northstar.d_ngram_jaccard, northstar.D_NGRAM_JACCARD_SQL)
register("d_cc_clusters", advanced.d_cc_clusters, advanced.D_CC_CLUSTERS_SQL)
register("s_cosine_topk", northstar.s_cosine_topk, northstar.S_COSINE_TOPK_SQL)
register(
    "e_retention_cohorts", analytics.e_retention_cohorts, analytics.E_RETENTION_COHORTS_SQL
)
register("e_funnel_stages", analytics.e_funnel_stages, analytics.E_FUNNEL_STAGES_SQL)
register("j_scd2_dim", analytics.j_scd2_dim, analytics.J_SCD2_DIM_SQL)
register("x_range_join", advanced.x_range_join, advanced.X_RANGE_JOIN_SQL)
register("e_gapfill", advanced.e_gapfill, advanced.E_GAPFILL_SQL)
register("e_tumbling_window", relational.e_tumbling_window, relational.E_TUMBLING_WINDOW_SQL)
register("e_sessionize", relational.e_sessionize, relational.E_SESSIONIZE_SQL)
register("x_asof_join", relational.x_asof_join, relational.X_ASOF_JOIN_SQL)
register(
    "e_sliding_window",
    extensions.e_sliding_window,
    extensions.E_SLIDING_WINDOW_SQL,
)
register("e_dau_wau", extensions.e_dau_wau, extensions.E_DAU_WAU_SQL)
register("s_cosine_neardup", northstar.s_cosine_neardup, northstar.S_COSINE_NEARDUP_SQL)
register("w_rolling_7d", analytics.w_rolling_7d, analytics.W_ROLLING_7D_SQL)
register("t_topk_tokens", analytics.t_topk_tokens, analytics.T_TOPK_TOKENS_SQL)
register("d_dq_violations", analytics.d_dq_violations, analytics.D_DQ_VIOLATIONS_SQL)
register("t_scrub_pii", analytics.t_scrub_pii, analytics.T_SCRUB_PII_SQL)
register("x_grouped_list", analytics.x_grouped_list, analytics.X_GROUPED_LIST_SQL)
register("w_ntile_quartiles", analytics.w_ntile_quartiles, analytics.W_NTILE_QUARTILES_SQL)
register("j_merge_upsert", advanced.j_merge_upsert, advanced.J_MERGE_UPSERT_SQL)
register("a_histogram", advanced.a_histogram, advanced.A_HISTOGRAM_SQL)
register("t_tfidf", advanced.t_tfidf, advanced.T_TFIDF_SQL)
register("t_winnow", advanced.t_winnow, advanced.T_WINNOW_SQL)
register("t_bpe_tokens", advanced.t_bpe_tokens, advanced.T_BPE_TOKENS_SQL)
register("c_snapshot_diff", advanced.c_snapshot_diff, advanced.C_SNAPSHOT_DIFF_SQL)
register("t_decontam", training.t_decontam, training.T_DECONTAM_SQL)
register("t_seq_pack", training.t_seq_pack, training.T_SEQ_PACK_SQL)
register("t_mixture_weights", training.t_mixture_weights, training.T_MIXTURE_WEIGHTS_SQL)
register("t_repetition", training.t_repetition, training.T_REPETITION_SQL)
register("t_shard_assign", training.t_shard_assign, training.T_SHARD_ASSIGN_SQL)
register(
    "w_rank_distribution", analytics.w_rank_distribution, analytics.W_RANK_DISTRIBUTION_SQL
)
register("x_posexplode", analytics.x_posexplode, analytics.X_POSEXPLODE_SQL)
register("f_month_batches", analytics.f_month_batches, analytics.F_MONTH_BATCHES_SQL)
register("a_grouping_sets", advanced.a_grouping_sets, advanced.A_GROUPING_SETS_SQL)
register(
    "a_partial_agg_merge", advanced.a_partial_agg_merge, advanced.A_PARTIAL_AGG_MERGE_SQL
)
register("s_quantize_int8", training.s_quantize_int8, training.S_QUANTIZE_INT8_SQL)
register("t_chunking", training.t_chunking, training.T_CHUNKING_SQL)
register("a_zscore_outliers", advanced.a_zscore_outliers, advanced.A_ZSCORE_OUTLIERS_SQL)
register("a_percentiles", relational.a_percentiles, relational.A_PERCENTILES_SQL)
for _name, (_fn, _sql) in extensions.EXTENSION_QUERIES.items():
    if _name not in QUERIES:  # e_sliding_window / e_dau_wau sit in the window
        register(_name, _fn, _sql)
register("f_json_props", relational.f_json_props, relational.F_JSON_PROPS_SQL)
register("a_count_distinct", relational.a_count_distinct, relational.A_COUNT_DISTINCT_SQL)
register("x_cube", relational.x_cube, relational.X_CUBE_SQL)
register("w_frames", relational.w_frames, relational.W_FRAMES_SQL)
register(
    "h_breadcrumb_levels",
    relational.h_breadcrumb_levels,
    relational.H_BREADCRUMB_LEVELS_SQL,
)
register("f_formatting_wide", relational.f_formatting_wide, relational.F_FORMATTING_WIDE_SQL)
register("f_string_ids", relational.f_string_ids, relational.F_STRING_IDS_SQL)
register("f_dates", relational.f_dates, relational.F_DATES_SQL)
register("f_date_explode", relational.f_date_explode, relational.F_DATE_EXPLODE_SQL)
register("o_sort_topk", relational.o_sort_topk, relational.O_SORT_TOPK_SQL)
register("o_set_ops", relational.o_set_ops, relational.O_SET_OPS_SQL)
register("w_running_rank", relational.w_running_rank, relational.W_RUNNING_RANK_SQL)
register("x_topk_per_group", relational.x_topk_per_group, relational.X_TOPK_PER_GROUP_SQL)
register("x_rollup", relational.x_rollup, relational.X_ROLLUP_SQL)
register("x_pivot", relational.x_pivot, relational.X_PIVOT_SQL)
register("x_profile", relational.x_profile, relational.X_PROFILE_SQL)
register("t_token_stats", northstar.t_token_stats, northstar.T_TOKEN_STATS_SQL)
register("t_quality", northstar.t_quality, northstar.T_QUALITY_SQL)
register("t_langid", northstar.t_langid, northstar.T_LANGID_SQL)
register("t_fingerprint", northstar.t_fingerprint, northstar.T_FINGERPRINT_SQL)
register("t_simhash", northstar.t_simhash, northstar.T_SIMHASH_SQL)
register("t_corpus_prep", northstar.t_corpus_prep, northstar.T_CORPUS_PREP_SQL)
register("t_split", northstar.t_split, northstar.T_SPLIT_SQL)
register("t_balanced_sample", northstar.t_balanced_sample, northstar.T_BALANCED_SAMPLE_SQL)
register("d_exact_dedup", northstar.d_exact_dedup, northstar.D_EXACT_DEDUP_SQL)
register("d_simhash_pairs", northstar.d_simhash_pairs, northstar.D_SIMHASH_PAIRS_SQL)
register(
    "report_task_budget", reports.report_task_budget, reports.oracle_task_budget_sql()
)
register(
    "report_project_budget",
    reports.report_project_budget,
    reports.oracle_project_budget_sql(),
)
register("p_filter_pushdown", relational.p_filter_pushdown, relational.P_FILTER_PUSHDOWN_SQL)
register(
    "p_null_canonicalization",
    relational.p_null_canonicalization,
    relational.P_NULL_CANONICALIZATION_SQL,
)
register("p_type_coercion", relational.p_type_coercion, relational.P_TYPE_COERCION_SQL)
register("j_broadcast_lookup", relational.j_broadcast_lookup, relational.J_BROADCAST_LOOKUP_SQL)
register(
    "j_first_group_enrich",
    relational.j_first_group_enrich,
    relational.J_FIRST_GROUP_ENRICH_SQL,
)
register("j_semi", relational.j_semi, relational.J_SEMI_SQL)
register("j_anti", relational.j_anti, relational.J_ANTI_SQL)
register(
    "j_assembly_left_defaults",
    relational.j_assembly_left_defaults,
    relational.J_ASSEMBLY_LEFT_DEFAULTS_SQL,
)
register("j_fuzzy_match", relational.j_fuzzy_match, relational.J_FUZZY_MATCH_SQL)
register("a_groupsum_pricing", relational.a_groupsum_pricing, relational.A_GROUPSUM_PRICING_SQL)
register("a_stats_minmax", relational.a_stats_minmax, relational.A_STATS_MINMAX_SQL)
register("a_distinct_ids", relational.a_distinct_ids, relational.A_DISTINCT_IDS_SQL)
register("a_dedup_pk", relational.a_dedup_pk, relational.A_DEDUP_PK_SQL)
register("a_salted_skew_sum", relational.a_salted_skew_sum, relational.A_SALTED_SKEW_SUM_SQL)
register("h_closure_pairs", relational.h_closure_pairs, relational.H_CLOSURE_PAIRS_SQL)

# --- rows-only (approximate / UDF / streaming — no SQL oracle) -------------
register("m_phash_neardup", curation.m_phash_neardup)
register("g_pagerank", round5.g_pagerank)
register("t_semdedup", round5.t_semdedup)
register("a_approx_sketches", advanced.a_approx_sketches)
register("s_ann_lsh", northstar.s_ann_lsh)
register("s_ann_ivf", northstar.s_ann_ivf)
register("m_multimodal_features", northstar.m_multimodal_features)
register("s_stream_tumbling", northstar.s_stream_tumbling)
register("s_stream_sliding", northstar.s_stream_sliding)
register("s_stream_sessions", northstar.s_stream_sessions)
register("s_stream_session_window", northstar.s_stream_session_window)
register("s_stream_dedup", northstar.s_stream_dedup)
register("s_stream_join", northstar.s_stream_join)
register("s_stream_static_join", northstar.s_stream_static_join)
register("s_stream_upsert", northstar.s_stream_upsert)
register("s_stream_incremental_dedup", northstar.s_stream_incremental_dedup)
register("s_stream_deadletter", northstar.s_stream_deadletter)
register("a_hll_partial_merge", curation.a_hll_partial_merge)
register("g_communities", curation.g_communities)
register("s_pq_codes", curation.s_pq_codes)
register("s_kmeans", northstar.s_kmeans)
register("g_kcore", round5e.g_kcore)


def _s_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import s_stream_ewma

    return s_stream_ewma(spark, sf_dir)


register("s_stream_ewma", _s_stream_ewma)
register("t_train_classifier", round5f.t_train_classifier)
register("s_pca_spectrum", round5g.s_pca_spectrum)
register("s_diverse_sample", round5g.s_diverse_sample)
register("s_pq_recall", round5g.s_pq_recall)
register("s_pq_rerank", round5g.s_pq_rerank)
register("t_bpe_train", round6.t_bpe_train)
register("f_variant_write_shred", round7.f_variant_write_shred)

# --- round-16 driver window ------------------------------------------------
# The driver's correctness gate samples the FIRST 50 entries of queries().
# Cumulative driver coverage is 153/153 oracle twins, zero currently
# failing (r01-r15). Composition exactly as prescribed by the r15 VERDICT
# ("Next round" item 2), "impl-touched trumps freshness" (r14 policy):
# (a) the four twins whose verify path was REWRITTEN in r15 (per-doc
# array-intersect verify, cd159ce/41081f0) after the r15 window-rotation
# commit — the r15 window note's "No impl-touched twins this round" was
# written at 8b963b8 and went stale when those rewrites landed; the
# driver has not re-verified them since the rewrite (builder-side
# tools/oracle_check.py sweeps covered them at sf0.01, plus shared-kernel
# partial coverage via d_lsh_quality / t_simhash which WERE in
# WINDOW_R15 and passed); (b) the r12 lexical tail deferred from
# WINDOW_R15; (c) 41 of the 49 remaining r13-era rows (lexical order),
# deferring the 8-name lexical tail (t_ngram_novelty t_quality_gate
# t_scrub_pii t_shard_assign t_source_caps t_temperature_mix
# w_ntile_quartiles w_pareto_share) to lead WINDOW_R17.
WINDOW_R16 = (
    # (a) impl-touched in r15 (array-intersect verify rewrite)
    "d_incremental_containment", "d_minhash_lsh", "d_simhash_pairs",
    "d_incremental_dedup",
    # (b) r12 lexical tail (deferred from WINDOW_R15)
    "x_profile", "x_range_join", "x_rollup", "x_topk_per_group",
    "x_unpivot",
    # (c) 41 of the 49 remaining r13-era rows (lexical; tail 8 defer
    # to r17)
    "a_benford", "a_chi_square", "a_gini", "a_grouping_sets",
    "a_ks_test_binned", "a_mode", "a_partial_agg_merge",
    "a_source_lang_entropy", "a_winsorize", "c_cdc_apply",
    "c_snapshot_diff", "d_containment", "d_dq_violations",
    "d_ngram_jaccard", "d_threshold_curve", "e_attribution",
    "e_ewma_anomaly", "e_funnel_stages", "e_interval_coverage",
    "e_markov_transitions", "e_sessionize", "e_tumbling_window",
    "f_month_batches", "f_regex_extract", "j_merge_upsert",
    "j_salted_skew_join", "j_scd2_dim", "o_latest_per_key",
    "q_local_supplier_volume", "q_nation_trade", "q_shipping_priority",
    "s_cosine_topk", "s_embedding_drift", "s_quantize_int8",
    "t_bm25_topk", "t_ccnet_buckets", "t_dsir_resample",
    "t_dsir_weights", "t_line_dedup", "t_lm_perplexity",
    "t_negative_sample",
)
assert len(WINDOW_R16) == 50 and len(set(WINDOW_R16)) == 50
_missing = [n for n in WINDOW_R16 if n not in QUERIES or n not in ORACLES]
assert not _missing, f"window entries must be registered oracle twins: {_missing}"
_window = {n: QUERIES[n] for n in WINDOW_R16}
_rest = {n: f for n, f in QUERIES.items() if n not in _window}
QUERIES.clear()
QUERIES.update(_window)
QUERIES.update(_rest)
