"""Corpus-curation queries — the gates a 100 TB training-data pipeline
runs after dedup and before sharding. Families:

- quality gates and the model-based filter: ``t_ccnet_buckets``,
  ``t_line_dedup``, ``t_quality_gate``, ``t_hashed_classifier`` (with
  the shared scored corpus ``docs_hash_scored``), ``t_train_classifier``,
  ``t_calibration_bins``, ``t_bm25_topk``;
- robust statistics: ``a_mad_outliers``, ``a_winsorize``,
  ``w_pareto_share``, ``x_skew_report``, ``a_hll_partial_merge``;
- graphs: ``g_triangle_count``, ``g_communities``, ``g_pagerank``,
  ``g_kcore``;
- embeddings: ``s_embedding_drift``, ``s_pq_codes``, ``s_pq_recall``,
  ``s_pq_rerank``, ``s_pca_spectrum``, ``s_diverse_sample``;
- image near-dup: ``m_phash_neardup``.

Notes on the first of them:

- ``t_ccnet_buckets`` — CCNet-style per-language perplexity terciles
  (head/middle/tail), the canonical quality-stratification step before
  mixture sampling (Wenzek et al., "CCNet", 2020).
- ``t_line_dedup`` — C4-style corpus-wide exact line dedup (Raffel et
  al., 2020 §2.2: drop every repeated "line", keep the first
  occurrence, reassemble documents). Testdata has no newlines, so the
  "line" unit is a fixed 10-token pseudo-line; on a real crawl swap the
  splitter for ``split(text, '\\n')`` — the plan shape is identical.
- ``a_mad_outliers`` — robust (median/MAD) outlier QC per event type;
  the 3σ-equivalent gate that survives heavy tails where z-scores
  (plans/advanced.py a_zscore_outliers) break down.
- ``w_pareto_share`` — cumulative-share concentration (the 80/20 audit:
  which sources/customers dominate volume), built on the distributed
  global-cumsum operator — NO single-partition window.
- ``m_phash_neardup`` — rows-only: true-decode PPM → 64-bit average
  hash → pigeonhole-banded hamming pairs (operators/multimodal.py).

The reference has no corpus-curation surface (its pipeline ends at
warehouse sinks, dlt_fetch_timecamp.py); these extend SURVEY §2.11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.layout import fan_out_scan
from ..operators.order import (
    global_cumsum,
    global_cumsum_multi,
    packed_sort_key,
    pin_with_range_bucket,
)
from ..operators import text
from ..operators.classifier import WEIGHT_SQL, weight_expr
from ..operators.graph import kcore, pagerank
from ..operators.text import tokenize
from . import shared
from .common import TOKS_SQL, stop_ratio_sql
from .extensions import bigram_lm
from .testdata import load_table

# ---------------------------------------------------------------------------
# t_ccnet_buckets — per-language perplexity terciles (head/middle/tail)
# ---------------------------------------------------------------------------


def t_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratify every document into head/middle/tail quality buckets by
    its LM score WITHIN its language — CCNet's central move: perplexity
    is only comparable against same-language text, so the tercile split
    is per-language, then head gets oversampled in the training mixture.

    Scale shape: the LM build is two vocabulary-sized hash aggs (see
    t_lm_perplexity, plans/extensions.py); the tercile NTILE is a window
    partitioned BY LANGUAGE — parallel across languages, and within one
    language the scored-docs table (one row per doc) is orders of
    magnitude smaller than the corpus text it summarizes. For a corpus
    where even one language's doc LIST overflows an executor, swap NTILE
    for approx-quantile boundaries + a broadcast range join.
    """
    # the carried lang column never changes a bigram's count, so the LM
    # reads the SESSION-shared count materialization, and the scoring
    # pairs come from the shared tokenized corpus (plans/shared.py)
    from .extensions import bigram_counts_shared, bigram_rows_from_toks, docs_alpha_toks_shared

    pairs = bigram_rows_from_toks(
        docs_alpha_toks_shared(spark, sf_dir), extra_cols=("lang",)
    )
    lm = bigram_lm(pairs, counts=bigram_counts_shared(spark, sf_dir))
    scored = (
        # shuffle_hash with the LM as per-partition build: pairs is the
        # corpus-sized bigram explode off a checkpoint, whose LogicalRDD
        # estimate never grows — Catalyst planned it as the BROADCAST
        # side at small SF (round-10 plan lint, the t_dsir_weights OOM
        # class); the LM table (distinct bigrams) is the smaller side
        # but also data-derived, so it builds per-partition, never
        # per-executor
        pairs.join(lm.hint("shuffle_hash"), ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("_nlp"), 4).alias("avg_neg_logp"))
    )
    w = Window.partitionBy("lang").orderBy("avg_neg_logp", "doc_id")
    tile = F.ntile(3).over(w)
    return scored.withColumn(
        "bucket",
        F.element_at(F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), tile),
    )


T_CCNET_BUCKETS_SQL = """
WITH t AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
),
pairs AS (
    SELECT doc_id, lang,
           unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
           unnest(list_slice(toks, 2, len(toks))) AS w2
    FROM t WHERE len(toks) >= 2
),
bi AS (
    SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2
),
uni AS (
    SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1
),
v AS (
    SELECT COUNT(*) AS v FROM (
        SELECT w1 FROM bi UNION SELECT w2 FROM bi
    )
),
lm AS (
    SELECT bi.w1, bi.w2,
           -ln((bi.c12 + 1.0) / (uni.c1 + (SELECT CAST(v AS DOUBLE) FROM v))) AS nlp
    FROM bi JOIN uni ON bi.w1 = uni.w1
),
scored AS (
    SELECT p.doc_id, p.lang, ROUND(AVG(lm.nlp), 4) AS avg_neg_logp
    FROM pairs p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
    GROUP BY p.doc_id, p.lang
),
tiled AS (
    SELECT doc_id, lang, avg_neg_logp,
           NTILE(3) OVER (PARTITION BY lang ORDER BY avg_neg_logp, doc_id) AS t3
    FROM scored
)
SELECT doc_id, lang, avg_neg_logp,
       CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM tiled
""".strip()


# ---------------------------------------------------------------------------
# t_line_dedup — C4-style corpus-wide exact line dedup (first wins)
# ---------------------------------------------------------------------------

LINE_TOKENS = 10
POS_BITS = 20  # (doc_id, pos) packing: pos < 2^20, doc_id < 2^43


def _packed_winner_key():
    """(doc_id << POS_BITS) | pos, GUARDED (round-12 ADVICE): a document
    past 2^20 lines (~10.5M tokens) or a doc_id past 2^43 would silently
    bleed pos into doc_id bits and corrupt winner selection — so domain
    violations raise loudly at scan time instead. The per-row comparisons
    stay inside whole-stage codegen; the raise branch is dead code on any
    in-domain corpus."""
    in_domain = (F.col("pos") >= 0) & (F.col("pos") < F.lit(1 << POS_BITS)) & (
        F.col("doc_id") >= 0
    ) & (F.col("doc_id") < F.lit(1 << (63 - POS_BITS)))
    return F.when(
        in_domain, F.shiftleft(F.col("doc_id"), POS_BITS) + F.col("pos")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "t_line_dedup: (doc_id, pos) outside the packable domain "
                    f"(need 0 <= pos < 2^{POS_BITS} and "
                    f"0 <= doc_id < 2^{63 - POS_BITS}); got doc_id="
                ),
                F.col("doc_id"),
                F.lit(" pos="),
                F.col("pos"),
            )
        ).cast("long")
    )


def t_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop every corpus-wide repeated line, keeping only its FIRST
    occurrence (global order = (doc_id, position)), and reassemble each
    document from its surviving lines — C4's three-sentence-span rule in
    its simplest exact form. The "line" unit here is a fixed 10-token
    pseudo-line (testdata text has no newlines); a real crawl splits on
    newline instead and the plan is unchanged.

    Scale shape (round-11 VERDICT item 3 — no shuffle ever carries line
    TEXT): each exploded line is reduced to a 128-bit fingerprint (two
    independent xxhash64 streams — collision odds ~N²/2¹²⁹, negligible
    at any corpus size) the moment it is produced, so the
    winner-deciding pass is a groupBy(fingerprint).min(packed) whose
    min is COMBINABLE: map-side partial aggregation shrinks the shuffle
    to one 32-byte row per distinct line per task, and hot boilerplate
    lines (millions of replicas at 100 TB) combine locally instead of
    funneling replicas to one reducer — the skew story the old
    row_number window only had via AQE. The (doc_id, pos) winner is
    PACKED into one long (doc_id << 20 | pos — identical total order
    while pos < 2²⁰ lines/doc and doc_id < 2⁴³, both far past any real
    corpus shard) because min over a primitive keeps the aggregate a
    HashAggregate; min over a struct falls back to SortAggregate, which
    re-sorts every partition's full exploded key stream (measured: the
    dominant stage at sf10). Surviving positions then
    roll up per doc (ints only) and each document REBUILDS its kept
    lines from its own token array in the final doc_id join, so text
    moves exactly once, per document, never per line. Measured at sf10:
    the old line-keyed window shuffled the full exploded text (8.85 s,
    2.89× DuckDB); this shape shuffles fingerprints + positions.
    """
    from .extensions import docs_alpha_toks_shared

    d = (
        docs_alpha_toks_shared(spark, sf_dir)
        .select("doc_id", "t")
        .filter(F.size("t") >= 1)
    )
    n_lines = F.ceil(F.size("t") / F.lit(float(LINE_TOKENS))).cast("long")
    line_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("t"), i * LINE_TOKENS + 1, LINE_TOKENS), " "
    )
    keys = d.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), (n_lines - 1).cast("int")), line_at)
        ).alias("pos", "line"),
    ).select(
        _packed_winner_key().alias("packed"),
        F.xxhash64("line").alias("h1"),
        F.xxhash64(F.lit("ld2"), F.col("line")).alias("h2"),
    )
    winners = keys.groupBy("h1", "h2").agg(F.min("packed").alias("w"))
    kept_pos = (
        winners.select(
            F.shiftright(F.col("w"), POS_BITS).alias("doc_id"),
            F.col("w").bitwiseAND(F.lit((1 << POS_BITS) - 1)).cast("int").alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("kept_pos"))
    )
    return d.join(kept_pos, "doc_id", "left").select(
        "doc_id",
        n_lines.alias("n_lines"),
        F.coalesce(F.size("kept_pos"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(
            F.array_join(F.transform(F.col("kept_pos"), line_at), " "), F.lit("")
        ).alias("clean_text"),
    )


T_LINE_DEDUP_SQL = """
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
),
d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
ln AS (
    SELECT doc_id,
           unnest(list_transform(
               range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
               i -> struct_pack(
                   pos := CAST(i AS INT),
                   line := array_to_string(
                       list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')))) AS s
    FROM d
),
l AS (SELECT doc_id, s.pos AS pos, s.line AS line FROM ln),
w AS (
    SELECT doc_id, pos, line,
           ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
    FROM l
),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY 1),
kept AS (
    SELECT doc_id, COUNT(*) AS n_kept,
           string_agg(line, ' ' ORDER BY pos) AS clean_text
    FROM w WHERE rn = 1 GROUP BY doc_id
)
SELECT tot.doc_id, tot.n_lines,
       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(kept.clean_text, '') AS clean_text
FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
""".strip()


# ---------------------------------------------------------------------------
# a_mad_outliers — robust median/MAD outlier gate per event type
# ---------------------------------------------------------------------------

MAD_K = 3.0 * 1.4826  # 1.4826·MAD ≈ σ for normal data; 3σ-equivalent gate


def a_mad_outliers(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_single_reducer_rows: int = 2_000_000,
    max_driver_histogram_rows: int | None = None,
) -> DataFrame:
    """Per-event-type robust outlier counts: a value is an outlier when
    |value − median| > 3 · 1.4826 · MAD. Unlike the moment-based z-score
    gate (a_zscore_outliers), one wild sensor reading cannot drag the
    threshold — median and MAD have 50% breakdown.

    Scale shape — measured cost switch (the a_ks_test / pair-counting
    discipline). Spark plans a grouped ``F.median`` as a
    TypedImperativeAggregate that buffers EVERY value of a group and
    merges all partials onto ONE reducer: with a handful of event types
    that is a single-task sort of the whole fact, twice — 9× DuckDB at
    sf10 and an OOM once one group's values outgrow an executor. Below
    ``max_single_reducer_rows`` (parquet-footer row count — exact, no
    job) that plan is still the cheapest (ONE action, no driver round
    trips) and ships as-is. Above it, the plan switches to the
    histogram+cumsum shape (`_mad_outliers_bucketed`): compress the fact
    to the (event_type, value, cnt) histogram once, then take each
    quantile pass as a range-bucketed `global_cumsum_multi` over the
    pinned histogram — one running counter per event type per pass, so
    the medians come from range-parallel windows, never a per-type
    reducer funnel. A MEASURED middle tier (the round-11 sf10 numbers:
    every Spark job at that scale costs more than DuckDB's entire query)
    applies when the compressed histogram itself is driver-small: both
    quantile levels compute exactly on the collected histogram — two
    Spark jobs total instead of five. All tiers produce identical
    results (pytest-pinned on the oracle fixture); at unbounded value
    cardinality you would bin first — the approximate twin lives in
    a_approx_sketches (plans/advanced.py).
    """
    from .common import file_size_row_bound

    bound = file_size_row_bound(sf_dir)
    # event_type is a grouping key in every tier; null keys diverged
    # across tiers (classic tier's broadcast equi-join silently dropped
    # them, driver tier KeyError'd, distributed tier emitted a null row)
    # — filter once here so all tiers share the classic tier's effective
    # behavior (round-11 ADVICE item 2)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    if bound is not None and bound <= max_single_reducer_rows:
        med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
        dev = ev.join(F.broadcast(med), "event_type").withColumn(
            "adev", F.abs(F.col("value") - F.col("med"))
        )
        mad = dev.groupBy("event_type").agg(
            F.min("med").alias("med"), F.median("adev").alias("mad")
        )
        flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
        return (
            flagged.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.when(F.col("adev") > F.lit(MAD_K) * F.col("mad"), 1).otherwise(0)
                ).alias("n_outliers"),
                F.round(F.min("med"), 6).alias("med"),
                F.round(F.min("mad"), 6).alias("mad"),
            )
        )
    return _mad_outliers_bucketed(
        spark, ev, max_driver_histogram_rows=max_driver_histogram_rows
    )


# The distinct-value histogram collects to the driver when its MEASURED
# row count is under this cap (~6 MB of (type, double, long) rows) — the
# two quantile levels then cost zero further Spark jobs. Past the cap the
# distributed cumsum tier runs instead; the cap is a measured count, not
# an estimate, so the collect is bounded by construction.
_DRIVER_HISTOGRAM_MAX_ROWS = 262_144


def _interp_median(pairs: list[tuple[float, int]]) -> float:
    """Exact interpolated median of value→count pairs (sorted here) —
    the same lower + (higher − lower) · frac arithmetic Spark's
    Percentile and DuckDB's MEDIAN use."""
    pairs = sorted(pairs)
    n = sum(c for _, c in pairs)
    r1, r2 = (n + 1) // 2, (n + 2) // 2
    lo = hi = None
    cum = 0
    for v, c in pairs:
        cum += c
        if lo is None and cum >= r1:
            lo = v
        if cum >= r2:
            hi = v
            break
    return lo + (hi - lo) * 0.5


def _mad_outliers_bucketed(
    spark: SparkSession,
    ev: DataFrame,
    *,
    max_driver_histogram_rows: int | None = None,
) -> DataFrame:
    """The at-scale tiers of `a_mad_outliers`: histogram compression +
    exact quantiles either DRIVER-SIDE (histogram measured small: two
    bounded driver jobs total) or via two range-bucketed cumsum passes
    (five bounded driver jobs), every job over the pinned histogram —
    the fact is scanned once in all tiers."""
    from ..operators.order import range_bucket_col

    # ONE materializing job carries the histogram pin, the value bounds,
    # the type set (collect_set over ≤ handful of types) AND the
    # histogram row count that picks the tier below
    hist = ev.groupBy("event_type", "value").agg(
        F.count("*").alias("cnt")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    row = hist.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.collect_set("event_type").alias("types"),
        F.count("*").alias("n_hist"),
    ).collect()[0]
    types = sorted(row["types"])
    if not types:  # empty input: schema-stable empty result
        return spark.createDataFrame(
            [], "event_type string, n long, n_outliers long, med double, mad double"
        )
    driver_cap = (
        _DRIVER_HISTOGRAM_MAX_ROWS
        if max_driver_histogram_rows is None
        else max_driver_histogram_rows
    )
    if int(row["n_hist"]) <= driver_cap:
        by_type: dict[str, list] = {t: [] for t in types}
        for r in hist.collect():  # cached blocks; bounded by the count above
            by_type[r["event_type"]].append((float(r["value"]), int(r["cnt"])))
        med = {t: _interp_median(by_type[t]) for t in types}
        mad = {
            t: _interp_median([(abs(v - med[t]), c) for v, c in by_type[t]])
            for t in types
        }
        return _mad_finalize(hist, types, med, mad)
    vlo, vhi = float(row["lo"]), float(row["hi"])
    bucket = range_bucket_col(vlo, vhi, F.col("value"), 256)

    def per_type_counters() -> dict:
        return {
            f"c_{i}": F.when(F.col("event_type") == F.lit(t), F.col("cnt")).otherwise(
                F.lit(0)
            )
            for i, t in enumerate(types)
        }

    def extract_quantiles(cum: DataFrame, key: str, totals: dict) -> dict:
        """{event_type: interpolated median} from a cumsum frame — the
        two crossing values per type in ONE one-row agg, interpolated
        with the same lower + (higher − lower) · frac arithmetic Spark's
        Percentile and DuckDB's MEDIAN use."""
        aggs = []
        for i, t in enumerate(types):
            n = int(totals[f"c_{i}"])
            r1, r2 = (n + 1) // 2, (n + 2) // 2
            aggs.append(
                F.min(F.when(F.col(f"c_{i}") >= F.lit(r1), F.col(key))).alias(
                    f"lo_{i}"
                )
            )
            aggs.append(
                F.min(F.when(F.col(f"c_{i}") >= F.lit(r2), F.col(key))).alias(
                    f"hi_{i}"
                )
            )
        got = cum.agg(*aggs).collect()[0]
        out = {}
        for i, t in enumerate(types):
            lo, hi = float(got[f"lo_{i}"]), float(got[f"hi_{i}"])
            out[t] = lo + (hi - lo) * 0.5
        return out

    tot1: dict = {}
    cum1 = global_cumsum_multi(
        hist, F.col("value"), per_type_counters(), bucket, grand_totals=tot1
    )
    med = extract_quantiles(cum1, "value", tot1)

    med_col = F.lit(None).cast("double")
    for t in types:
        med_col = F.when(F.col("event_type") == F.lit(t), F.lit(med[t])).otherwise(
            med_col
        )
    dev = hist.withColumn("adev", F.abs(F.col("value") - med_col))
    # adev bounds need NO job: every |value − med_t| is bounded by the
    # known global value range against each type's median
    adev_hi = max(
        max(abs(vlo - m), abs(vhi - m)) for m in med.values()
    )
    cum2 = global_cumsum_multi(
        dev,
        F.col("adev"),
        per_type_counters(),
        range_bucket_col(0.0, adev_hi, F.col("adev"), 256),
    )
    mad = extract_quantiles(cum2, "adev", tot1)

    return _mad_finalize(hist, types, med, mad)


def _mad_finalize(
    hist: DataFrame, types: list, med: dict, mad: dict
) -> DataFrame:
    """Outlier counts over the pinned histogram with the per-type
    median/MAD embedded as literals — one hash-agg, cnt-weighted."""
    med_col = F.lit(None).cast("double")
    mad_col = F.lit(None).cast("double")
    for t in types:
        is_t = F.col("event_type") == F.lit(t)
        med_col = F.when(is_t, F.lit(med[t])).otherwise(med_col)
        mad_col = F.when(is_t, F.lit(mad[t])).otherwise(mad_col)
    return (
        hist.withColumn("adev", F.abs(F.col("value") - med_col))
        .withColumn("__mad", mad_col)
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(
                F.when(F.col("adev") > F.lit(MAD_K) * F.col("__mad"), F.col("cnt"))
                .otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.round(F.min(med_col), 6).alias("med"),
            F.round(F.min("__mad"), 6).alias("mad"),
        )
    )


A_MAD_OUTLIERS_SQL = f"""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
med AS (SELECT event_type, MEDIAN(value) AS med FROM ev GROUP BY 1),
dev AS (
    SELECT ev.event_type, ev.value, med.med,
           ABS(ev.value - med.med) AS adev
    FROM ev JOIN med ON ev.event_type = med.event_type
),
mad AS (
    SELECT event_type, MIN(med) AS med, MEDIAN(adev) AS mad
    FROM dev GROUP BY 1
)
SELECT d.event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN d.adev > {MAD_K!r} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers,
       ROUND(MIN(m.med), 6) AS med,
       ROUND(MIN(m.mad), 6) AS mad
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""".strip()


# ---------------------------------------------------------------------------
# w_pareto_share — cumulative-share concentration audit (80/20)
# ---------------------------------------------------------------------------

PARETO_KEY_BITS = 24  # custkey field width; domain GUARDED in packed_sort_key


def w_pareto_share(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_single_window_rows: int = 2_000_000,
) -> DataFrame:
    """Revenue concentration: customers sorted by revenue desc with their
    cumulative share of total — the 'which 20% of sources produce 80% of
    the tokens' audit every mixture design starts from. ``is_top80``
    marks the prefix that reaches 80% (boundary-crossing row included).

    Scale shape — measured cost switch (round-12 VERDICT item 2; the
    a_mad_outliers discipline). The cumsum runs over the PER-CUSTOMER
    revenue table, whose row count is bounded by the customer dim's
    parquet-footer count (exact, no job — every o_custkey is a customer
    key). Below ``max_single_window_rows`` the cheapest plan is exactly
    DuckDB's: one orders scan + groupBy, then ONE single-partition
    window pass (cumsum + grand total share the sort) — no persist, no
    bounds/totals driver round-trips, no broadcast-offsets join; at sf10
    those three extra jobs priced the entry at 3.92× DuckDB while the
    windowed table was 15k rows. Above the cap the plan switches to
    operators/order.py::global_cumsum — bucketed range partitioning +
    per-bucket window + broadcast bucket offsets, never the
    single-partition global window (fatal at 10^9 customers). Both
    tiers share the sort key packing (−revenue, custkey) into one long
    (monotone, unique) and the integer 80% test (cum·10 < total·8 — no
    FP boundary flake); tier parity is pytest-pinned.

    Revenue is summed as integer cents (order-independent — the
    repo-wide FP determinism rule, see a_groupsum_pricing).
    """
    from .common import file_size_row_bound

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents")
    )
    # GUARDED packing (round-13 VERDICT item 2): rev_cents >= 2^39
    # (≈ $5.5B revenue-cents for one customer) or o_custkey >= 2^24 used
    # to wrap the long SILENTLY and corrupt the global order (and so
    # is_top80); now those raise at scan time, t_line_dedup-style.
    key = packed_sort_key(
        -F.col("rev_cents"), F.col("o_custkey"), PARETO_KEY_BITS, "w_pareto_share"
    )

    bound = file_size_row_bound(sf_dir, "customer")
    if bound is not None and bound <= max_single_window_rows:
        # single-window tier: cumsum and grand total ride ONE sort of the
        # customer-sized table (same partition+order spec -> one
        # WindowExec); the degenerate all-zero-revenue contract (share
        # 0.0, not ANSI div-by-zero; is_top80 false) moves into a
        # per-row guard on the total column
        keyed = rev.withColumn("__k", key)
        w_cum = (
            Window.orderBy("__k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = (
            Window.orderBy("__k")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        cum = keyed.withColumn(
            "cum_cents", F.sum("rev_cents").over(w_cum).cast("long")
        ).withColumn("__t", F.sum("rev_cents").over(w_tot).cast("long"))
        share = F.when(
            F.col("__t") > 0,
            F.col("cum_cents").cast("double") / F.col("__t"),
        ).otherwise(F.lit(0.0))
        return cum.select(
            "o_custkey",
            "rev_cents",
            "cum_cents",
            share.alias("cum_share"),
            (
                (F.col("cum_cents") - F.col("rev_cents")) * 10 < F.col("__t") * 8
            ).alias("is_top80"),
        )

    # distributed tier: materialize the customer-sized revenue table once
    # (four consumers — total agg, bucket-bounds collect, totals scan,
    # main cumsum — would each re-run the orders scan + groupBy; the
    # persist targets the COMPRESSED per-customer table, never the
    # orders fact). pin + bucket-bounds in ONE action
    # (pin_with_range_bucket); the cumsum's driver-side prefix pass ends
    # on the grand total — embed t as a literal instead of a total-agg
    # job + broadcast join.
    keyed, bucket = pin_with_range_bucket(
        rev.withColumn("__k", key), F.col("__k")
    )
    gt: dict = {}
    cum = global_cumsum(
        keyed,
        F.col("__k"),
        F.col("rev_cents"),
        bucket,
        out="cum_cents",
        grand_totals=gt,
    ).drop("__k")
    t = int(gt.get("cum_cents") or 0)
    # degenerate contract: an all-zero-revenue input has no shares to
    # apportion — cum_share pins to 0.0 (ANSI division would throw),
    # is_top80 to false ((cum−rev)·10 < 0 is false); found by
    # tests/test_properties_curation.py.
    share = (
        (F.col("cum_cents").cast("double") / F.lit(t)) if t > 0 else F.lit(0.0)
    )
    return cum.select(
        "o_custkey",
        "rev_cents",
        "cum_cents",
        share.alias("cum_share"),
        ((F.col("cum_cents") - F.col("rev_cents")) * 10 < F.lit(t) * 8).alias(
            "is_top80"
        ),
    )


W_PARETO_SHARE_SQL = """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1
),
tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS t FROM rev),
c AS (
    SELECT o_custkey, rev_cents,
           CAST(SUM(rev_cents) OVER (
               ORDER BY rev_cents DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_cents
    FROM rev
)
SELECT o_custkey, rev_cents, cum_cents,
       CASE WHEN (SELECT t FROM tot) > 0
            THEN CAST(cum_cents AS DOUBLE) / (SELECT t FROM tot)
            ELSE 0.0 END AS cum_share,
       ((cum_cents - rev_cents) * 10 < (SELECT t FROM tot) * 8) AS is_top80
FROM c
""".strip()


# ---------------------------------------------------------------------------
# m_phash_neardup — image near-dup pairs over REAL-decoded PPM payloads
# ---------------------------------------------------------------------------


def m_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup detection, end to end on REAL
    decoded pixels: synthesize deterministic PPM payloads for even-id
    docs plus a noisy twin of each (one pixel perturbed, id shifted),
    average-hash them (stdlib decode), and emit hamming≤3 pairs via
    pigeonhole banding (operators/multimodal.py::phash_neardup_pairs).
    rows-only: binary decode has no SQL twin; twin-recovery and
    banding-exactness invariants are pinned in tests/test_curation.py.

    r15 rewrite (guide §4/§8): the old composition — pinned synth pass,
    perturb pass, union, hash pass — crossed the JVM↔Python boundary
    three times and cached ~15 MB of payload bytes just so the hasher
    could read them, and half the synthesized rows (odd-id WAVs) were
    shipped to Python only to be dropped (no image hash). The fused
    ``synth_phash_rows`` emits the IDENTICAL (doc_id, phash) rows —
    original + perturbed twin per even id, same synthesize/perturb/hash
    functions — in ONE Python pass over the even-id docs, no cache, no
    union; the banded join half is unchanged. Measured 4.4 → 1.1 s
    min-of-3 at sf0.1 (3 BatchEval passes + InMemoryRelation → 1 pass)."""
    from ..operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # odd ids synthesize WAVs, which carry no image hash — prune them
    # before the scan so the Python pass only receives PPM sources
    evens = fan_out_scan(docs.filter(F.col("doc_id") % 2 == 0), "doc_id")
    # persist the (doc_id, phash) rows: both sides of the band self-join
    # read them, and without the pin the fused synth+hash Python pass
    # executes twice per query (r15 ADVICE item 3). The pinned rows are
    # 16 bytes each — nothing like the ~15 MB payload cache the r15
    # rewrite removed. Measured (same-window min-of-3): 1.04 → 0.72 s.
    h = mm.synth_phash_rows(evens, id_shift=1_000_000_000).persist()
    pairs = mm.phash_pairs_from_hashes(h, max_hamming=3)
    return pairs.groupBy("hamming").agg(F.count("*").alias("n_pairs")).orderBy("hamming")


# ---------------------------------------------------------------------------
# g_triangle_count — distributed triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------


def g_triangle_count(
    spark: SparkSession, sf_dir: str, vertex_mod: int = 4
) -> DataFrame:
    """Triangles in the part co-purchase graph (parts are adjacent when
    some order contains both) — THE graph-shape statistic for clustering
    coefficient / community density, and the standard non-iterative
    distributed graph benchmark.

    Scale shape: edges are oriented low-id → high-id, so each triangle is
    enumerated exactly once as (a<b<c) and the classic two-join plan does
    no post-hoc dedup. Both joins are plain equi-joins on node ids — AQE
    splits hot nodes (high-degree parts). Per-order pair fan-out is
    bounded by order size (≤ order_lines², tiny); at web scale the
    orientation should be by DEGREE (lower-degree endpoint first), which
    bounds the e1⋈e2 wedge intermediate by O(E^1.5) for skewed-degree
    graphs (Suri & Vassilvitskii, "Counting Triangles and the Curse of
    the Last Reducer", WWW'11) — swap the orientation key for a degree
    lookup, the plan is unchanged. The co-purchase graph is NEAR-REGULAR
    (every part in ~120 orders), where no orientation shrinks the
    Θ(n·d²) wedge set — so the catalog entry counts the induced subgraph
    on the deterministic 1-in-``vertex_mod`` vertex sample (exact for
    that subgraph, wedge cost /mod³); pass ``vertex_mod=1`` for the full
    graph.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if vertex_mod > 1:
        li = li.filter(F.col("l_partkey") % vertex_mod == 0)
    a, b = li.alias("a"), li.alias("b")
    # edges feed FIVE consumers (three triangle-join legs + two stats
    # aggs) — persist so the per-order pair fan-out + distinct shuffle
    # runs once, not five times.
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    # edge + node counts in ONE pass over the pinned edges: exploding
    # (u, v) makes count(*) exactly 2·|E| and count_distinct the node
    # set — the former union-then-distinct subtree plus separate edge
    # agg cost one more scan, one more agg and one more crossJoin of
    # driver-sized singletons (round-15 job-floor trim; this entry
    # spent 17 jobs on 0.93 s at sf0.1).
    stats = edges.select(F.explode(F.array("u", "v")).alias("n")).agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        F.count_distinct("n").alias("n_nodes"),
    )
    return tri.crossJoin(stats).select("n_triangles", "n_edges", "n_nodes")


G_TRIANGLE_COUNT_SQL = """
WITH li AS (
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
),
edges AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
),
st AS (SELECT COUNT(*) AS n_edges FROM edges),
nd AS (
    SELECT COUNT(DISTINCT n) AS n_nodes FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
    )
)
SELECT tri.n_triangles, st.n_edges, nd.n_nodes FROM tri, st, nd
""".strip()


# ---------------------------------------------------------------------------
# a_winsorize — percentile clipping with exact integer arithmetic
# ---------------------------------------------------------------------------


def a_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) per-type value summaries — the
    standard heavy-tail taming step before moment statistics. Everything
    after the exact percentiles runs in integer micro-units so the
    clipped sums are order-independent (the repo-wide FP determinism
    rule); the interpolated percentiles themselves are bit-identical
    across engines (same (n−1)·p linear interpolation — proven by
    a_percentiles).

    Scale shape: one grouped exact-percentile agg (grouped sort-agg; at
    100 TB swap for approx_percentile's one-pass t-digest) broadcast
    back onto the fact, then one combinable hash-agg.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pct = ev.groupBy("event_type").agg(
        F.floor(F.percentile("value", 0.05) * 1_000_000).cast("long").alias("p05_micros"),
        F.floor(F.percentile("value", 0.95) * 1_000_000).cast("long").alias("p95_micros"),
    )
    mv = F.floor(F.col("value") * 1_000_000).cast("long")
    j = ev.join(F.broadcast(pct), "event_type").withColumn("mv", mv)
    clamped = F.greatest("p05_micros", F.least("p95_micros", F.col("mv")))
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("mv") < F.col("p05_micros"), 1).otherwise(0)).alias("n_lo"),
            F.sum(F.when(F.col("mv") > F.col("p95_micros"), 1).otherwise(0)).alias("n_hi"),
            F.min("p05_micros").alias("p05_micros"),
            F.min("p95_micros").alias("p95_micros"),
            F.sum(clamped).alias("sum_clamped_micros"),
        )
    )


A_WINSORIZE_SQL = """
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
pct AS (
    SELECT event_type,
           CAST(FLOOR(quantile_cont(value, 0.05) * 1000000) AS BIGINT) AS p05_micros,
           CAST(FLOOR(quantile_cont(value, 0.95) * 1000000) AS BIGINT) AS p95_micros
    FROM ev GROUP BY 1
),
j AS (
    SELECT ev.event_type,
           CAST(FLOOR(ev.value * 1000000) AS BIGINT) AS mv,
           pct.p05_micros, pct.p95_micros
    FROM ev JOIN pct ON ev.event_type = pct.event_type
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN mv < p05_micros THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       CAST(SUM(CASE WHEN mv > p95_micros THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
       MIN(p05_micros) AS p05_micros,
       MIN(p95_micros) AS p95_micros,
       CAST(SUM(GREATEST(p05_micros, LEAST(p95_micros, mv))) AS BIGINT)
           AS sum_clamped_micros
FROM j GROUP BY event_type
""".strip()


# ---------------------------------------------------------------------------
# s_embedding_drift — cohort centroid drift per label (exact integer path)
# ---------------------------------------------------------------------------


def s_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L1 centroid drift between two embedding cohorts (even vs
    odd vec_id standing in for reference vs current ingest) — the
    embedding-space analog of the token-KL drift monitor
    (training.t_token_kl_drift): a retrained encoder or a shifted corpus
    moves class centroids long before downstream metrics notice.

    Determinism: per-dim values floor to integer micro-units, and the
    drift keeps a COMMON denominator per label (cohort counts are
    constant across dims), so the summed per-dim term
    |sum_ref·n_cur − sum_cur·n_ref| stays in exact int64 all the way;
    one final division of exact longs is bit-identical cross-engine.

    Scale shape: one posexplode (rows × dims — columnar, codegen'd) into
    ONE combinable hash-agg on (label, dim), then a label-sized agg;
    no window, no join, B-row tables only (labels × dims).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_ref"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    ).withColumn("mv", F.floor(F.col("val").cast("double") * 1_000_000).cast("long"))
    per_dim = rows.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("is_ref"), F.col("mv")).otherwise(0)).alias("s_ref"),
        F.sum(F.when(~F.col("is_ref"), F.col("mv")).otherwise(0)).alias("s_cur"),
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
            F.count("*").alias("dims"),
            F.sum(
                F.abs(F.col("s_ref") * F.col("n_cur") - F.col("s_cur") * F.col("n_ref"))
            ).alias("drift_scaled"),
        )
        .withColumn(
            "l1_drift",
            F.col("drift_scaled").cast("double")
            / (F.col("n_ref") * F.col("n_cur") * F.lit(1_000_000)).cast("double"),
        )
    )


S_EMBEDDING_DRIFT_SQL = """
WITH rows_ AS (
    SELECT label,
           (vec_id % 2 = 0) AS is_ref,
           s.dim AS dim,
           CAST(FLOOR(CAST(s.val AS DOUBLE) * 1000000) AS BIGINT) AS mv
    FROM (
        SELECT label, vec_id,
               unnest(list_transform(range(1, len(embedding) + 1),
                      i -> struct_pack(dim := CAST(i - 1 AS INT),
                                       val := embedding[i]))) AS s
        FROM embeddings
    )
),
per_dim AS (
    SELECT label, dim,
           CAST(SUM(CASE WHEN is_ref THEN mv ELSE 0 END) AS BIGINT) AS s_ref,
           CAST(SUM(CASE WHEN NOT is_ref THEN mv ELSE 0 END) AS BIGINT) AS s_cur,
           CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
           CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
    FROM rows_ GROUP BY label, dim
)
SELECT label,
       MAX(n_ref) AS n_ref,
       MAX(n_cur) AS n_cur,
       COUNT(*) AS dims,
       CAST(SUM(ABS(s_ref * n_cur - s_cur * n_ref)) AS BIGINT) AS drift_scaled,
       CAST(SUM(ABS(s_ref * n_cur - s_cur * n_ref)) AS DOUBLE)
           / CAST(MAX(n_ref) * MAX(n_cur) * 1000000 AS DOUBLE) AS l1_drift
FROM per_dim GROUP BY label
""".strip()


# ---------------------------------------------------------------------------
# x_skew_report — hot-key diagnostics (the operator you run BEFORE salting)
# ---------------------------------------------------------------------------


SKEW_TOP_K = 20


def x_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hottest join/agg keys of the events fact with their share of total
    rows — the diagnostic that decides whether a_salted_skew_sum /
    j_salted_skew_join (or AQE skew-split alone) is warranted, and with
    what replication factor. Pairs with PLANS.md's skew notes.

    Scale shape: one combinable hash-agg to key-sized rows, then a
    distributed TakeOrdered for the top-k (no global window, no full
    sort); the share is integer ppm over a broadcast 1-row total —
    exact, no FP boundary.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n",
            F.expr("CAST((n * 1000000) DIV t AS BIGINT)").alias("share_ppm"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(SKEW_TOP_K)
    )


X_SKEW_REPORT_SQL = f"""
WITH counts AS (
    SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT user_id, n,
       CAST((n * 1000000) // (SELECT t FROM tot) AS BIGINT) AS share_ppm
FROM counts
ORDER BY n DESC, user_id ASC
LIMIT {SKEW_TOP_K}
""".strip()


# ---------------------------------------------------------------------------
# a_hll_partial_merge — sketch re-aggregation (incremental distinct counts)
# ---------------------------------------------------------------------------


def a_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users from MERGED daily HLL sketches — the
    incremental-maintenance shape exact distincts cannot give: daily
    sketches land once (a few KB each), and any rollup window is a
    sketch UNION over the partials, never a rescan of the fact. At
    100 TB this is the difference between a daily O(day) append and a
    weekly O(history) recount.

    rows-only: HLL estimates are library-specific (Spark's DataSketches
    lgK binning vs DuckDB's HLL) so no SQL twin can hash-match;
    merge-associativity (merged dailies == direct weekly sketch) and the
    error bound vs exact distinct are asserted in tests/test_curation.py.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.to_date("ts").alias("day"),
        "event_type",
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("week", "event_type")
        .agg(F.hll_union_agg("sk").alias("sk"), F.count("*").alias("n_days"))
        .select(
            F.to_date("week").alias("week"),
            "event_type",
            "n_days",
            F.hll_sketch_estimate("sk").alias("approx_users"),
        )
        .orderBy("week", "event_type")
    )


# ---------------------------------------------------------------------------
# t_bm25_topk — BM25 corpus ranking for a fixed query
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "table", "merge")  # fixed demo query over testdata vocab


BM25_TOP_K = 20


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by BM25 for a fixed query — the retrieval scorer
    every corpus-inspection and RAG-indexing pipeline needs next to the
    embedding ANN tier (similarity.py): lexical ranking with document-
    length normalization (Robertson & Spärck Jones; the Okapi BM25 form).

    Scale shape: tokenization explodes once; tf is ONE combinable
    hash-agg on (doc_id, term) FILTERED to the query's terms first (the
    per-term posting lists, not the whole corpus vocabulary); df and
    avgdl are B-row/1-row aggregates broadcast back. Nothing scales with
    vocabulary — only with the query's posting lists, exactly how a
    search engine shards. ln() appears once per (doc, term); the score
    rounds to 4dp (the t_lm_perplexity precedent — ln is IEEE-identical
    for identical inputs, the rounding absorbs summation-order ulps).
    """
    from .extensions import docs_alpha_toks_shared

    d = (
        docs_alpha_toks_shared(spark, sf_dir)
        .select("doc_id", "t")
        .filter(F.size("t") >= 1)
    )
    lens = d.select("doc_id", F.size("t").cast("long").alias("dl"))
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    terms = d.select(
        "doc_id", F.explode("t").alias("term")
    ).filter(F.col("term").isin(*BM25_QUERY))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        # tf ⨝ lens must NOT broadcast lens: the per-doc length table is
        # CORPUS-sized, and the shared checkpoint's LogicalRDD estimate
        # does not track volume, so Catalyst planned exactly that at the
        # synthesized sf10 (round-10 broadcast audit — the
        # t_dsir_weights OOM class). The posting-list side tf is the
        # small side by design; the shuffle_hash hint pins it as the
        # per-partition build side of a shuffled join.
        tf.join(F.broadcast(df_t), "term")
        .hint("shuffle_hash")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 4).alias("bm25"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


T_BM25_TOPK_SQL = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS t
    FROM documents
),
dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 1),
lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM dd),
stats AS (
    SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens
),
terms AS (
    SELECT doc_id, unnest(t) AS term FROM dd
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM terms
    WHERE term IN ('spark', 'table', 'merge')
    GROUP BY doc_id, term
),
df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           ln((stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1!r} + 1))
           / (tf.tf + {BM25_K1!r} * (1 - {BM25_B!r} + {BM25_B!r} * lens.dl / stats.avgdl))
               AS w
    FROM tf
    JOIN df_t ON tf.term = df_t.term
    JOIN lens ON tf.doc_id = lens.doc_id
    CROSS JOIN stats
)
SELECT doc_id,
       ROUND(SUM(w), 4) AS bm25,
       COUNT(*) AS n_terms_hit
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_K}
""".strip()


# ---------------------------------------------------------------------------
# g_communities — label-propagation communities on the co-purchase graph
# ---------------------------------------------------------------------------


def g_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the (sampled) part co-purchase
    graph — density grouping where d_cc_clusters gives reachability
    grouping (operators/graph.py::label_propagation). rows-only
    (iterative, not SQL-expressible); bridge-splitting and determinism
    invariants in tests/test_curation.py. Output: community size
    histogram (size → how many communities)."""
    from ..operators.graph import label_propagation

    # 1-in-8 vertex sample + 3 rounds: LPA on near-clique co-purchase
    # neighborhoods stabilizes in 2-3 rounds, and each extra round is a
    # full keyed shuffle — the demo stays proportionate in the bench
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 8 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    labels = label_propagation(edges, max_iter=3)
    sizes = labels.groupBy("community").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_communities")).orderBy("size")


# ---------------------------------------------------------------------------
# s_pq_codes — product-quantization compression audit
# ---------------------------------------------------------------------------


def s_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize the embedding corpus (8 subspaces × 16 codewords
    → 32× compression of 64-dim float32) and report the per-subspace
    codeword-usage entropy proxy plus corpus-level reconstruction error
    — the audit that decides whether a PQ index keeps enough recall
    (operators/clustering.py::product_quantize). rows-only; exactness
    and error-bound invariants in tests/test_curation.py."""
    from ..operators.clustering import product_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    # production shape: codebooks TRAIN on a deterministic sample (PQ
    # training converges on a fraction of the corpus), then the cheap
    # broadcast-codebook projection ENCODES everything; 4 subspaces ×
    # 2 Lloyd rounds keeps the demo proportionate in the bench
    from ..operators.clustering import pq_encode

    train = emb.filter(F.col("vec_id") % 5 == 0)
    _, codebook = product_quantize(train, n_subspaces=4, n_centroids=16, n_iter=2)
    codes = pq_encode(emb, codebook)
    usage = (
        codes.select(F.posexplode("code").alias("subspace", "centroid_id"))
        .groupBy("subspace")
        .agg(
            F.count_distinct("centroid_id").alias("codewords_used"),
            F.count("*").alias("n_vectors"),
        )
        .orderBy("subspace")
    )
    return usage


# ---------------------------------------------------------------------------
# t_quality_gate — composite quality filter with reason codes
# ---------------------------------------------------------------------------

def t_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document gating: every rule is an independent
    predicate, a failing doc carries the comma-joined reason codes (fixed
    rule order, so reruns and the oracle agree byte-for-byte), and
    ``keep`` is the conjunction. One projection pass — the rules share
    the tokenization subexpressions, zero shuffles, fully codegen'd.

    Ratios divide integer counts (exactly-rounded IEEE doubles) and are
    compared against constants — no cross-engine float drift.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens.cast(
        "double"
    )
    nonspace = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    mean_wlen = nonspace.cast("double") / n_tokens.cast("double")
    digit_ratio = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    ).cast("double") / F.length(F.col("text")).cast("double")

    too_short = n_tokens < 15
    too_long = n_tokens > 2000
    bad_wlen = (mean_wlen < 2.0) | (mean_wlen > 12.0)
    repetitive = distinct_ratio < 0.3
    digit_heavy = digit_ratio > 0.2

    reasons = F.concat_ws(
        ",",
        F.when(too_short, F.lit("too_short")),
        F.when(too_long, F.lit("too_long")),
        F.when(bad_wlen, F.lit("bad_word_length")),
        F.when(repetitive, F.lit("repetitive")),
        F.when(digit_heavy, F.lit("digit_heavy")),
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (~(too_short | too_long | bad_wlen | repetitive | digit_heavy)).alias("keep"),
        reasons.alias("reasons"),
    )


T_QUALITY_GATE_SQL = r"""
WITH m AS (
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) AS distinct_ratio,
           CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) AS mean_wlen,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
             / length(text) AS digit_ratio
    FROM documents
)
SELECT doc_id,
       n_tokens,
       NOT (n_tokens < 15 OR n_tokens > 2000
            OR mean_wlen < 2.0 OR mean_wlen > 12.0
            OR distinct_ratio < 0.3 OR digit_ratio > 0.2) AS keep,
       concat_ws(',',
           CASE WHEN n_tokens < 15 THEN 'too_short' END,
           CASE WHEN n_tokens > 2000 THEN 'too_long' END,
           CASE WHEN mean_wlen < 2.0 OR mean_wlen > 12.0 THEN 'bad_word_length' END,
           CASE WHEN distinct_ratio < 0.3 THEN 'repetitive' END,
           CASE WHEN digit_ratio > 0.2 THEN 'digit_heavy' END) AS reasons
FROM m
""".strip()


# ---------------------------------------------------------------------------
# g_pagerank — iterative PageRank over the part↔supplier supply graph
# ---------------------------------------------------------------------------

@shared.artifact("part_supplier_edges")
def part_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct part→supplier edge set from lineitem (suppliers
    offset by 10M) — the graph both ``g_pagerank`` and ``g_kcore``
    analyze. The distinct is a full fact-table shuffle, so the edge set
    is a session-shared checkpoint (plans/shared.py) rather than a
    per-entry recompute."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 10_000_000).alias("dst"),
    ).distinct()


def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the directed part→supplier graph from lineitem
    (which suppliers sit under the most supply pressure). Iterative —
    not SQL-expressible, so rows-only in the driver gate; invariants
    (mass conservation, uniform-graph degeneracy, hand-computed tiny
    graphs) are pinned in tests/test_round5.py."""
    edges = part_supplier_edges(spark, sf_dir)
    return pagerank(edges, num_iter=8).orderBy(F.desc("rank"), F.asc("node")).limit(50)


@shared.artifact("docs_hash_scored")
def docs_hash_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content_h, n_tokens, score_raw, quality, lang_pred) —
    ONE pass of the per-doc narrow compute over the corpus as a
    session-shared checkpoint.

    The per-token md5 fold is the heaviest narrow compute in the
    catalog, and several entries need slices of this table
    (``t_hashed_classifier``, ``t_calibration_bins``'s reliability
    bins, and ``t_corpus_prep``'s dedup + gate stages, which would
    otherwise re-tokenize the corpus per query and carry full text
    through an md5-keyed window shuffle); in production the scored
    corpus is a materialized table every downstream gate reads, not a
    per-query recompute (the ``docs_alpha_toks`` discipline,
    extensions.py). The artifact carries the DERIVED columns (quality,
    lang, content hash) instead of the raw text — the checkpoint is six
    narrow columns, and materialization stops paying to serialize the
    corpus body (measured 2.4 → 0.5 s at sf0.1). Every oracle twin
    still re-derives everything from raw text inside its own SQL."""
    from ..operators.layout import fan_out_scan
    from ..operators.text import lang_id, quality_score

    # fan the one-file local scan out before the per-token md5 fold;
    # no-op on many-file inputs
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    d = docs.withColumn("__toks", tokenize(F.col("text")))
    # single fused fold: transform(...)+aggregate would allocate an
    # intermediate per-token weight ARRAY per document before
    # summing it — folding the weight lookup into the aggregate
    # lambda skips that allocation (HOFs are interpreted, so the
    # optimizer never fuses it for us; measured ~30% on this scan)
    score_raw = F.aggregate(
        F.col("__toks"),
        F.lit(0).cast("long"),
        lambda acc, t: acc + weight_expr(t),
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("content_h"),
        F.size("__toks").cast("int").alias("n_tokens"),
        score_raw.alias("score_raw"),
        quality_score(F.col("text"), toks=F.col("__toks")).alias("quality"),
        lang_id(F.col("text"), toks=F.col("__toks")).alias("lang_pred"),
    )


def t_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with a hashed linear classifier and flag the
    keepers — the model-based quality-filter tier (beyond t_quality's
    hand heuristics) run the way it must run at 100 TB: as a pure
    projection, no shuffle, no Python.

    Scale shape: tokenize → per-token weight lookup → integer fold, all
    inside one ``transform``/``aggregate`` expression per row — the scan
    IS the inference pass (shared once per session, `docs_hash_scored`).
    A trained model swaps `weight_expr` for a literal array lookup
    (`F.element_at` on a broadcast V-vector) with the same plan.
    Score = mean token weight in [-1, 1]; keep = score>0.
    """
    return (
        docs_hash_scored(spark, sf_dir)
        .select("doc_id", "n_tokens", "score_raw")
        .withColumn(
            "score",
            F.when(
                F.col("n_tokens") > 0,
                F.col("score_raw").cast("double")
                / (F.col("n_tokens").cast("double") * 1000.0),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("keep", F.col("score") > 0)
    )


T_HASHED_CLASSIFIER_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
s AS (
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks, t -> {WEIGHT_SQL})), 0)
                AS BIGINT) AS score_raw
    FROM t
)
SELECT doc_id, n_tokens, score_raw,
       CASE WHEN n_tokens > 0
            THEN CAST(score_raw AS DOUBLE) / (n_tokens * 1000.0)
            ELSE 0.0 END AS score,
       (CASE WHEN n_tokens > 0
             THEN CAST(score_raw AS DOUBLE) / (n_tokens * 1000.0)
             ELSE 0.0 END) > 0 AS keep
FROM s
""".strip()


# ---------------------------------------------------------------------------
# g_kcore — density cut of the part↔supplier co-purchase graph (rows-only)
# ---------------------------------------------------------------------------

KCORE_K = 25


def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes of the 25-core of the bipartite part↔supplier graph from
    lineitem (suppliers offset by 10M, the g_pagerank convention).
    Iterative peeling — not single-statement SQL, so rows-only in the
    gate; brute-force references live in tests/test_round5e.py."""
    edges = part_supplier_edges(spark, sf_dir)
    return kcore(edges, k=KCORE_K).orderBy("node")


# ---------------------------------------------------------------------------
# t_train_classifier — distributed training of the quality classifier
# ---------------------------------------------------------------------------


def t_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the hashed bag-of-words quality classifier END-TO-END on the
    corpus via DISTANT SUPERVISION (the standard quality-filter
    bootstrap: label a corpus by a cheap rule, train a hashed linear
    model that generalizes the rule) and return the per-iteration
    training curve (iteration, loss, accuracy) — rows-only: gradient
    descent is iterative, and the loss is a float reduction whose
    exactness contract is per-run determinism, not cross-engine
    equality. The weak rule here is token-presence ('customer' —
    synthetic testdata carries no language signal in the text itself,
    so a lexical rule is the honest separable task); the trainer must
    recover it from the 1024-bucket hashed features, driving accuracy
    from the ~0.5 zero-model baseline toward 1 (floor-asserted in
    tests/test_round5f.py).

    Scale shape (`operators/classifier.py`): ONE featurize pass, then
    per iteration one Arrow `mapInPandas` pass emitting (partitions ×
    V)-float partial gradients — driver traffic is independent of
    corpus size. On single-partition input (all local bench SFs) the
    epoch loop runs fused in one Arrow pass instead — bit-identical
    (test-asserted), n_iter× less boundary traffic. The learned weights
    drop into the same zero-shuffle scoring scan as
    `t_hashed_classifier` (`score_with_model`)."""
    from ..operators.classifier import train_logreg_hashed
    from ..operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "text",
        F.array_contains(tokenize(F.col("text")), "customer").cast("int").alias("label"),
    )
    model = train_logreg_hashed(labeled, n_iter=15)
    return spark.createDataFrame(
        [(i, float(l), float(a)) for i, l, a in model.history],
        "iteration int, loss double, accuracy double",
    )


# ---------------------------------------------------------------------------
# s_pca_spectrum — distributed PCA fit over the embedding corpus
# ---------------------------------------------------------------------------

PCA_K = 8


def s_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit distributed PCA (k=8) on the embedding corpus and return the
    spectrum (component, explained_variance, ratio) — the
    dimensionality-reduction companion to product quantization in the
    vector-compression family. rows-only: eigendecomposition is
    iterative LAPACK, not SQL; determinism and numpy parity are pinned
    in tests/test_round5g.py. Scale shape
    (`operators/clustering.py::pca_fit`): moments in ONE Arrow pass
    (d + d² doubles per partition), eigenproblem on the driver at d×d —
    corpus size never touches the driver."""
    from ..operators.clustering import pca_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, vec_col="embedding", k=PCA_K)
    return spark.createDataFrame(
        [
            (i, float(model.explained_variance[i]), float(model.explained_variance_ratio[i]))
            for i in range(model.components.shape[0])
        ],
        "component int, explained_variance double, variance_ratio double",
    )


# ---------------------------------------------------------------------------
# s_diverse_sample — k-center greedy coreset over the embeddings
# ---------------------------------------------------------------------------

DIVERSE_K = 12


def s_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diverse subset of the embedding corpus
    (`operators/clustering.py::kcenter_greedy`): the diversity-aware
    sampling tier — prototypes that SPAN the space instead of k draws
    from the densest blob. Returns (pick_order, vec_id, radius) where
    radius is the covering distance the pick eliminated (non-increasing
    — the coverage curve; NULL for the seed pick). rows-only: greedy
    farthest-point is iterative; python-greedy parity and monotone
    coverage are pinned in tests/test_round5g.py."""
    from ..operators.clustering import kcenter_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    picks = kcenter_greedy(emb, k=DIVERSE_K)
    return spark.createDataFrame(
        [
            (i, int(vid), None if r == float("inf") else float(r))
            for i, (vid, r) in enumerate(picks)
        ],
        "pick_order int, vec_id long, radius double",
    )


# ---------------------------------------------------------------------------
# s_pq_recall — ranking damage of PQ compression, measured
# ---------------------------------------------------------------------------

@shared.artifact("pq_8x16_train")
def _pq_8x16(spark: SparkSession, sf_dir: str):
    """The trained 8×16 PQ (codes, codebook) pair, once per session.

    ``s_pq_recall`` and ``s_pq_rerank`` audit the SAME quantizer — the
    expensive part is the per-subspace k-means training, identical in
    both — so the pair is a shared artifact (plans/shared.py), each frame
    eagerly checkpointed."""
    from ..operators.clustering import product_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    codes, codebook = product_quantize(emb, n_subspaces=8, n_centroids=16, n_iter=5)
    return (
        codes.localCheckpoint(eager=True),
        codebook.localCheckpoint(eager=True),
    )


def s_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric distance vs exact L2 over a
    deterministic query sample — `s_pq_codes` reports reconstruction
    DISTORTION; this reports the RANKING damage retrieval actually
    eats, and on THIS corpus it is damning: 8×16 PQ scores mean recall
    ≈ 0.17–0.28 (the synthetic embeddings are near-uniform, the worst
    case for PQ — no cluster structure for codewords to exploit). That
    is the point of the audit: the aggregate reconstruction error in
    `s_pq_codes` looks acceptable while top-k ranking is destroyed —
    ship PQ behind this measurement (raise codewords / add an exact
    re-rank stage), never behind distortion alone. rows-only; a
    perfectly-codebook-representable corpus scores exactly 1.0 in
    tests/test_round5g.py."""
    from ..operators.clustering import pq_recall_audit

    emb = load_table(spark, sf_dir, "embeddings")
    codes, codebook = _pq_8x16(spark, sf_dir)
    return pq_recall_audit(emb, codes, codebook, query_mod=29, top_k=10)


def s_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval — ADC shortlist (top-200, a 20× shortlist/k
    ratio) + exact re-rank — audited against exact top-10: the standard
    repair for the recall collapse `s_pq_recall` measures (≈0.2 on these
    structure-free embeddings; mean recall ≥ 0.93 after re-rank). The
    shortlist only has to CONTAIN the true neighbors; the exact leg
    (shortlist × queries vector fetches, never the corpus) restores
    their order. The shortlist/k ratio is the recall knob — uniform
    embeddings are PQ's worst case and need the full 20×; clustered
    corpora reach 1.0 at far smaller shortlists (tests/test_round5g).
    rows-only; recall floor asserted in tests/test_round5g.py."""
    from ..operators.clustering import pq_rerank_audit

    emb = load_table(spark, sf_dir, "embeddings")
    codes, codebook = _pq_8x16(spark, sf_dir)
    return pq_rerank_audit(emb, codes, codebook, query_mod=29, top_k=10, shortlist=200)


# ---------------------------------------------------------------------------
# t_calibration_bins
# ---------------------------------------------------------------------------


def t_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins: hashed-classifier score vs heuristic-gate label.

    label := quality >= 0.6 with quality exactly as `t_quality` computes
    it (operand order mirrored in the SQL twin, so the IEEE doubles and
    hence the boundary comparisons agree engine-to-engine).

    The per-doc (n_tokens, score_raw, quality) inference pass is the
    session-shared scored corpus (`docs_hash_scored`) — the
    md5-per-token fold and the quality heuristic run once per session,
    not once per consumer entry."""
    d = docs_hash_scored(spark, sf_dir)
    score_raw = F.col("score_raw")
    n_toks = F.col("n_tokens")
    score = F.when(
        n_toks > 0,
        score_raw.cast("double") / (n_toks.cast("double") * 1000.0),
    ).otherwise(F.lit(0.0))
    label = (F.col("quality") >= 0.6).cast("int")
    scored = d.select(
        F.least(
            F.lit(9), F.floor((score + F.lit(1.0)) / F.lit(0.2)).cast("int")
        ).alias("bin"),
        score.alias("score"),
        label.alias("label"),
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias("pass_rate"),
        )
    )


T_CALIBRATION_BINS_SQL = f"""
WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
s AS (
    SELECT doc_id, text, toks,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks, t -> {WEIGHT_SQL})), 0)
                AS BIGINT) AS score_raw,
           {stop_ratio_sql('toks', text.STOPWORDS['en'])} AS en_stop_ratio,
           CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN 1.0
                WHEN len(toks) > 0 THEN 0.5 ELSE 0.0 END AS len_band,
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                     / length(text)
                ELSE 0.0 END AS alpha_ratio
    FROM t
),
q AS (
    SELECT CASE WHEN n_tokens > 0
                THEN CAST(score_raw AS DOUBLE) / (n_tokens * 1000.0)
                ELSE 0.0 END AS score,
           CASE WHEN 0.4 * len_band + 0.4 * alpha_ratio
                     + 0.2 * (CASE WHEN en_stop_ratio > 0.01 THEN 1.0 ELSE 0.0 END)
                     >= 0.6 THEN 1 ELSE 0 END AS label
    FROM s
)
SELECT LEAST(9, CAST(FLOOR((score + 1.0) / 0.2) AS INTEGER)) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(score), 6) AS mean_score,
       ROUND(AVG(CAST(label AS DOUBLE)), 6) AS pass_rate
FROM q
GROUP BY 1
""".strip()
