"""Physical-plan regression tests — the scale contract.

Correctness tests prove the operators compute the right answer at small
scale; these prove the *plans* are the ones that survive 100 TB: filters
and projections reach the parquet scan, dimension joins broadcast instead
of shuffling the fact side, aggregations combine map-side, and the hot
expressions stay inside whole-stage codegen.
"""

from __future__ import annotations

import re

import pytest

from good_enough_timecamp_data_pipeline_spark.plans import relational, reports


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scans(plan: str) -> list[str]:
    return re.findall(r"FileScan parquet[^\n]*", plan)


def test_filter_and_projection_reach_scan(spark, sf_dir):
    plan = plan_of(relational.p_filter_pushdown(spark, sf_dir))
    (scan,) = scans(plan)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan
    # column pruning: 5 of lineitem's 11 columns read (4 projected +
    # l_shipdate for the filter) — never the full row
    m = re.search(r"ReadSchema: struct<([^>]*)", scan)
    assert len(m.group(1).split(",")) <= 5


def test_dim_lookup_is_broadcast(spark, sf_dir):
    plan = plan_of(relational.j_broadcast_lookup(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_retention_funnel_hint_free_but_aqe_broadcasts(spark, sf_dir):
    """r4 removed the forced broadcast of the first-seen/stage-user sides
    (user-cardinality — unbounded at 100 TB). The contract after that
    change: NO mandatory hint in the logical plan, and at small scale AQE
    must still recover the broadcast join from runtime stats — so the
    hint removal costs nothing where a broadcast is actually safe."""
    from good_enough_timecamp_data_pipeline_spark.plans import analytics

    for fn in (analytics.e_retention_cohorts, analytics.e_funnel_stages):
        df = fn(spark, sf_dir)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in logical, f"{fn.__name__} carries a hint"
        df.collect()  # AQE finalizes join strategies at runtime
        final = plan_of(df)
        assert "BroadcastHashJoin" in final, (
            f"{fn.__name__}: AQE did not recover the small-scale broadcast"
        )


def test_dedup_verify_semijoins_carry_no_broadcast_hint(spark, sf_dir):
    """The LSH verify stage semi-joins the shingle set against the
    candidate-id set, which is O(dup_rate × corpus) — billions of ids on
    a lightly-deduped crawl — so a MANDATORY broadcast there OOMs exactly
    at scale (r4 VERDICT, the one scale-killer). The logical plan must
    carry no broadcast hint on those joins; AQE may still choose a
    broadcast at runtime when the measured size allows (that part is
    asserted nowhere — it's a size-dependent choice, not a contract)."""
    from good_enough_timecamp_data_pipeline_spark.plans import northstar

    for fn in (northstar.d_minhash_lsh, northstar.d_incremental_dedup):
        logical = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in logical, (
            f"{fn.__name__}: forced broadcast hint survives in the "
            "optimized logical plan"
        )


def test_groupsum_has_partial_agg(spark, sf_dir):
    plan = plan_of(relational.a_groupsum_pricing(spark, sf_dir))
    # map-side combine: partial_sum before the exchange, final after
    assert "partial_sum" in plan
    assert plan.count("Exchange") >= 1


def test_flagship_reports_never_sort_merge(spark, sf_dir):
    """The only shuffle either report may do is the groupBy on the
    closure/project key — every join is against a dimension-sized side
    and must broadcast."""
    for fn in (reports.report_task_budget, reports.report_project_budget):
        plan = plan_of(fn(spark, sf_dir))
        assert "SortMergeJoin" not in plan, f"{fn.__name__} shuffles a join"


def test_codegen_covers_hot_path(spark, sf_dir):
    # AQE prints codegen spans only in the finalized plan — execute first
    df = relational.a_groupsum_pricing(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark WholeStageCodegen stages in the final plan;
    # both aggregates and the scan must sit inside one
    assert re.search(r"\*\(\d+\) HashAggregate", plan)


def test_fact_scans_prune_columns_in_reports(spark, sf_dir):
    plan = plan_of(reports.report_project_budget(spark, sf_dir))
    for scan in scans(plan):
        m = re.search(r"ReadSchema: struct<([^>]*)", scan)
        cols = m.group(1).split(",") if m and m.group(1) else []
        assert len(cols) <= 4, f"scan reads too many columns: {scan[:160]}"


# ---------------------------------------------------------------------------
# catalog-wide plan lint
# ---------------------------------------------------------------------------

# these intentionally cross-join a broadcast query set against the corpus
_INTENDED_CROSS = {"s_cosine_topk", "s_ann_lsh", "s_ann_ivf"}
# streaming queries execute on invocation (memory-sink materialization) —
# linting their final table plan says nothing about the streaming job
_SKIP = {"s_stream_tumbling", "s_stream_sliding", "s_stream_sessions"}


def test_catalog_plans_are_lintable(spark, sf_dir):
    """Every catalog query must plan without row-at-a-time Python UDFs
    (BatchEvalPython) and without unintended cartesian products. Arrow
    tiers (MapInPandas / ArrowEvalPython) are allowed — they are the
    designed escape hatch."""
    from good_enough_timecamp_data_pipeline_spark.plans import catalog

    from concurrent.futures import ThreadPoolExecutor

    offenders: list[str] = []
    # The lint is plan-BUILD bound (183 analyses plus each entry's eager
    # probe jobs — cost probes, driver-tier quantile collects), and plan
    # builds are independent: run them on a small thread pool (Spark
    # schedules concurrent jobs from one session; the shared-artifact
    # memos are lock-guarded). Measured 63 s serial → ~20 s at 4
    # threads; no per-query clearCache (sf0.001 persisted frames are
    # tiny, and an InMemoryRelation's tree string still prints its full
    # child plan, so a cached subtree cannot hide a BatchEvalPython).
    # NOTE: checkpoint-fed broadcast builds (the t_dsir_weights sf10 OOM
    # class) are audited by tools/broadcast_audit.py as a per-round
    # triage run, NOT here: at sf0.001 many checkpoint broadcasts are
    # bounded by contract in ways plan text cannot prove (band buckets,
    # candidate sets, codebooks), and cached-plan state makes the
    # flag set depend on execution order — a hard gate here was
    # whack-a-mole (round-10 notes).
    def lint(item):
        name, fn = item
        out = []
        try:
            plan = plan_of(fn(spark, sf_dir))
        except Exception as exc:  # a broken plan is an offender, not a crash
            return [f"{name}: plan build failed: {exc!r}"]
        if "BatchEvalPython" in plan:
            out.append(f"{name}: row-wise Python UDF")
        if "CartesianProduct" in plan and name not in _INTENDED_CROSS:
            out.append(f"{name}: cartesian product")
        return out

    items = [kv for kv in catalog.queries().items() if kv[0] not in _SKIP]
    with ThreadPoolExecutor(max_workers=4) as pool:
        for out in pool.map(lint, items):
            offenders.extend(out)
    spark.catalog.clearCache()
    assert not offenders, offenders


def test_asof_join_single_shuffle_shape(spark, sf_dir):
    """The as-of join must keep the union/carry-forward shape: at most one
    hash exchange per input (for the keyed window), no join explosion."""
    plan = plan_of(relational.x_asof_join(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_broadcasts_hot_side(spark, sf_dir):
    """The widened hot-window side is window-aggregated (tiny); the event
    fact must join it broadcast with the µs range as residual — never a
    shuffle of the fact for the join itself."""
    from good_enough_timecamp_data_pipeline_spark.plans import advanced

    plan = plan_of(advanced.x_range_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zscore_stats_broadcast(spark, sf_dir):
    """Per-type moment stats are 5 rows; the fact scan must not shuffle to
    meet them."""
    from good_enough_timecamp_data_pipeline_spark.plans import advanced

    plan = plan_of(advanced.a_zscore_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_peak_concurrency_partitioned_sweep(spark, sf_dir):
    """The sweep-line window must be partitioned by (event_type, day) —
    never an unpartitioned (single-partition) global sort — and the plan
    must contain no join at all: concurrency comes from explode + window,
    not a time-range self-join."""
    from good_enough_timecamp_data_pipeline_spark.plans import advanced

    plan = plan_of(advanced.e_peak_concurrency(spark, sf_dir))
    assert "Window" in plan
    m = re.search(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1) and "day" in m.group(1)
    assert "Join" not in plan


def test_cooccurrence_vocab_join_broadcasts(spark, sf_dir):
    """Round-11 shape: the vocabulary comes from TakeOrdered (distributed
    sort+limit, no single-partition row_number window) and folds into a
    ONE-ROW broadcast (array + df map); every join in the plan is a
    broadcast of that 1-row side — no corpus-keyed equi-join at all, so
    the only corpus shuffle left is the map-side-combined ≤C(V,2)-key
    pair aggregation."""
    from good_enough_timecamp_data_pipeline_spark.plans import extensions

    df = extensions.t_cooccurrence_lift(spark, sf_dir)
    df.collect()  # AQE finalizes join strategies at runtime
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # the 1-row vocab/stats sides join as broadcasts…
    assert "BroadcastNestedLoopJoin" in plan
    # …and nothing corpus-sized is ever joined or broadcast
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_quality_gate_is_single_stage_projection(spark, sf_dir):
    """Five rules, one scan: no shuffle, no join, codegen'd end to end."""
    from good_enough_timecamp_data_pipeline_spark.plans import curation

    plan = plan_of(curation.t_quality_gate(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.lstrip().startswith("*(1) Project")  # codegen'd single stage


def test_q3_pushdown_and_hint_free_joins(spark, sf_dir):
    from good_enough_timecamp_data_pipeline_spark.plans import warehouse

    df = warehouse.q_shipping_priority(spark, sf_dir)
    plan = plan_of(df)
    # the date cutoff reaches the orders scan; the segment scan prunes to
    # the key column only
    order_scans = [s for s in scans(plan) if "orders.parquet" in s]
    assert order_scans and "LessThan(o_orderdate" in order_scans[0]
    cust_scans = [s for s in scans(plan) if "customer.parquet" in s]
    m = re.search(r"ReadSchema: struct<([^>]*)", cust_scans[0])
    assert m.group(1).split(",") == ["c_custkey:bigint"]
    # no mandatory broadcast hints in the LOGICAL plan — AQE decides
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical


def test_q5_snowflake_no_cartesian(spark, sf_dir):
    from good_enough_timecamp_data_pipeline_spark.plans import warehouse

    plan = plan_of(warehouse.q_local_supplier_volume(spark, sf_dir))
    # six tables, zero cartesian products; the same-nation predicate folds
    # into a join, not a filter over a cross product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    from good_enough_timecamp_data_pipeline_spark.plans import warehouse

    plan = plan_of(warehouse.e_attribution(spark, sf_dir))
    # the window partitions by user — no empty-partition global window
    assert "WindowExec" not in plan or "user_id" in plan
    # exactly one exchange before the window (user shuffle), one for the
    # final tiny agg
    assert plan.count("Exchange hashpartitioning") <= 2


def test_source_caps_single_window_pruned_scan(spark, sf_dir):
    """Host balancing: one window partitioned by source, scan pruned to
    (doc_id, source), no joins anywhere."""
    from good_enough_timecamp_data_pipeline_spark.plans import training

    plan = plan_of(training.t_source_caps(spark, sf_dir))
    doc_scans = [s for s in scans(plan) if "documents.parquet" in s]
    m = re.search(r"ReadSchema: struct<([^>]*)", doc_scans[0])
    assert m.group(1).split(",") == ["doc_id:bigint", "source:string"]
    assert plan.count("Window [") == 1
    assert "Join" not in plan
    wm = re.search(r"Window \[[^\n]*\], \[source", plan)
    assert wm, "window must be partitioned by source"


def test_chi_square_single_scan_no_joins(spark, sf_dir):
    """The contingency test must scan the fact ONCE (pruned to ts +
    event_type) and compute margins as array folds — the naive
    cells→margins→totals join formulation re-scanned the fact 5×."""
    from good_enough_timecamp_data_pipeline_spark.plans import warehouse

    df = warehouse.a_chi_square(spark, sf_dir)
    df.collect()
    # the AQE final-plan string appends an "== Initial Plan ==" section
    # that repeats the whole subtree — count scans in the final part only
    plan = plan_of(df).split("== Initial Plan ==")[0]
    ev_scans = [s for s in scans(plan) if "events.parquet" in s]
    assert len(ev_scans) == 1, plan
    assert "Join" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)", ev_scans[0])
    assert sorted(m.group(1).split(",")) == ["event_type:string", "ts:timestamp_ntz"]


def test_ngram_novelty_no_pairwise_join(spark, sf_dir):
    """Novelty is join-shaped (shingles x first-seen dim) — never a
    shingle SELF-join pair enumeration and never a window."""
    from good_enough_timecamp_data_pipeline_spark.plans import northstar

    plan = plan_of(northstar.t_ngram_novelty(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # exactly one join: doc-shingles against the first-seen aggregate
    assert len(re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)) == 1


def test_runtime_bloom_filter_reduces_fact_scan(spark, sf_dir):
    """Scale feature the engine gets for free from Catalyst: when a
    selective dim filters a shuffled fact join, Spark injects a runtime
    BLOOM FILTER on the fact's join key (semi-join reduction before the
    shuffle). The application-side threshold (default 10 GB) is tuned
    for clusters — local testdata never crosses it, so the test lowers
    it to prove the machinery fires; at 100 TB it fires on defaults."""
    conf = spark.conf
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        part = spark.read.parquet(f"{sf_dir}/part.parquet").filter("p_size = 1")
        j = li.join(part, li.l_partkey == part.p_partkey).groupBy().count()
        plan = plan_of(j)
        assert "might_contain" in plan.lower(), plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_aqe_splits_skewed_join_partitions(spark):
    """The session enables AQE skew-join handling (session.py); this pins
    that it actually FIRES: a 2000:1 hot-key join, thresholds lowered to
    local data sizes (defaults are cluster-scale: 256 MB), must show the
    skewed sort-merge join split at runtime — SortMergeJoin(skew=true)
    in the final adaptive plan. At 100 TB the same machinery splits hot
    keys on default thresholds; salting (j_salted_skew_join) remains for
    the aggregation-side skew AQE does not cover."""
    from pyspark.sql import functions as F

    conf = spark.conf
    # the test's own premises: earlier tests can leave a lowered shuffle
    # partition count in the shared session (with 2 partitions the hot
    # partition is never 2x the median), or AQE off
    premises = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: conf.get(k) for k in premises}
    try:
        for k, v in premises.items():
            conf.set(k, v)
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        big = (
            spark.range(200_000)
            .select(F.lit(1).alias("k"), F.col("id").alias("payload"))
            .unionByName(
                spark.range(100).select(
                    (F.col("id") % 50 + 2).alias("k"), F.col("id").alias("payload")
                )
            )
        )
        dim = spark.range(52).select(F.col("id").alias("k"), (F.col("id") * 2).alias("p2"))
        j = big.join(dim, "k").groupBy().count()
        assert j.collect()[0]["count"] == 200_100
        plan = plan_of(j)
        assert "SortMergeJoin(skew=true)" in plan, plan
    finally:
        for k, v in old.items():
            conf.set(k, v)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        ):
            conf.unset(k)


def test_lateral_topn_decorrelates_to_one_window(spark, sf_dir):
    """x_lateral_topn's correlated LATERAL LIMIT must decorrelate into a
    per-key ranked window — ONE shuffle on the correlation key, never a
    per-outer-row re-scan (nested loop / cartesian)."""
    from good_enough_timecamp_data_pipeline_spark.plans import relational

    plan = plan_of(relational.x_lateral_topn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the decorrelated rank
    # customer is scanned once, nation once
    assert sum("customer" in s for s in scans(plan)) == 1


def test_lm_perplexity_is_two_corpus_passes(spark, sf_dir):
    """bigram_lm checkpoints the vocabulary-sized count table, and since
    the round-8 tokenized-corpus materialization the scoring pass reads
    the session-shared `docs_alpha_toks` checkpoint (an ExistingRDD
    scan) rather than re-tokenizing raw parquet. The final plan must
    therefore contain NO raw documents scan at all and at least one
    checkpoint-block scan — and never the round-5 defect shape (4 raw
    corpus passes per query)."""
    from good_enough_timecamp_data_pipeline_spark.plans import extensions

    plan = plan_of(extensions.t_lm_perplexity(spark, sf_dir))
    doc_scans = [s for s in scans(plan) if "documents" in s]
    assert len(doc_scans) == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_variant_shred_single_scan_partial_agg(spark, sf_dir):
    """f_variant_shred is one scan + one partially-aggregated hash agg —
    the shape that scales to any event volume."""
    from good_enough_timecamp_data_pipeline_spark.plans import relational

    plan = plan_of(relational.f_variant_shred(spark, sf_dir))
    assert len(scans(plan)) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
