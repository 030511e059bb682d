"""Round-5d batch: model-inference scoring, asymmetric containment
dedup, distribution-drift testing, and merged-interval coverage.

Four operators a production corpus pipeline reaches for that the catalog
did not yet cover:

- ``t_hashed_classifier`` — a fasttext-shaped hashed-bag-of-words linear
  classifier evaluated as a pure codegen scan: the model-based quality
  filter every modern curation stack runs (CCNet's LM filter, DCLM's
  fasttext classifier) reduced to its distributed essentials — hash
  tokens into V buckets, sum per-bucket weights, threshold the mean.
  Weights here are md5-derived so the DuckDB twin computes the identical
  model; swapping in real trained weights is a broadcast join / literal
  map with the same plan shape. Zero shuffle: score every document at
  scan speed.
- ``d_containment`` — asymmetric shingle containment (|A∩B|/min(|A|,|B|),
  Broder 1997): catches excerpt/quote/boilerplate subset-duplication
  that symmetric Jaccard structurally misses (a 40% excerpt scores
  jaccard ≈ 0.4, containment 1.0).
- ``a_ks_test`` — exact two-sample Kolmogorov–Smirnov statistic between
  two event-type value distributions, the nonparametric drift test for
  "did this feed's distribution change". D = max |c1·n2 − c2·n1|/(n1·n2)
  evaluated entirely in integers until one final division.
- ``e_interval_coverage`` — merged-interval time coverage per user
  (gaps-and-islands): the time-tracking engine's core question — total
  tracked time WITHOUT double-counting overlapping timers (the
  reference's entries are exactly such intervals,
  /root/reference/dlt_fetch_timecamp.py fetches start/end timer rows).

Cross-engine exactness: every comparison/aggregation stays in integer or
exactly-representable-double domain until a single final division (the
a_gini rule); no ``rand()``, no floating accumulation order dependence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import containment_pairs
from ..operators.order import global_cumsum_multi, pin_with_range_bucket
from ..operators.text import tokenize
from .northstar import TOKS_SQL, _shingles_sql
from .round5 import MAX_SESSION_US, _session_bounds
from . import shared
from .testdata import load_table

# ---------------------------------------------------------------------------
# t_hashed_classifier — model inference as a codegen scan
# ---------------------------------------------------------------------------

HASH_BUCKETS = 1024  # V: feature-hash vocabulary size
WEIGHT_MOD = 2001  # weights are integers in [-1000, 1000] (milli-units)


def _bucket_expr(tok) -> F.Column:
    """Feature hash: first 8 hex digits of md5(token) mod V — identical
    arithmetic in both engines (the t_balanced_sample hash contract)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % HASH_BUCKETS


def _weight_table() -> list[int]:
    """The V=1024 bucket weights md5('w' || bucket) defines, computed
    once on the driver (hashlib.md5 hex == Spark's F.md5 — the repo-wide
    hash contract). The per-token expression then does ONE md5 (the
    feature hash) + a constant-folded array lookup instead of chaining a
    second md5 + hex-conv per token inside the interpreted HOF lambda —
    measured ~2× on the classifier/calibration scans, and exactly what
    "swap for trained weights" already promised the plan shape allows."""
    import hashlib

    return [
        int(hashlib.md5(f"w{b}".encode()).hexdigest()[:8], 16) % WEIGHT_MOD - 1000
        for b in range(HASH_BUCKETS)
    ]


_WEIGHTS = _weight_table()

# The V=1024 literal array Column is built ONCE per process: each
# F.lit() is a Py4J round-trip, so constructing it inside every
# _weight_expr call put ~1-2 s of pure driver chatter into every fresh
# classifier plan (the r7 "cached Column lists" lesson). A Column is a
# reusable expression wrapper — safe to share across plans and sessions
# in one process.
_WEIGHT_ARRAY_COL: list = []


def _weight_array_col() -> F.Column:
    if not _WEIGHT_ARRAY_COL:
        _WEIGHT_ARRAY_COL.append(
            F.array(*[F.lit(w).cast("long") for w in _WEIGHTS])
        )
    return _WEIGHT_ARRAY_COL[0]


def _weight_expr(tok) -> F.Column:
    """Deterministic per-bucket weight in [-1000, 1000]: md5('w' || bucket),
    materialized as a literal V-vector (see `_weight_table`) and indexed
    by the feature hash. INTEGER so per-document sums are exact
    regardless of token order (float weights would make the sum depend on
    Spark's partition-local accumulation order and break the oracle)."""
    b = _bucket_expr(tok)
    # CreateArray of literals constant-folds to one Literal array; 1-based
    return F.element_at(_weight_array_col(), b.cast("int") + 1)


@shared.artifact("docs_hash_scored")
def docs_hash_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content_h, n_tokens, score_raw, quality, lang_pred) —
    ONE pass of the per-doc narrow compute over the corpus as a
    session-shared checkpoint.

    The per-token md5 fold is the heaviest narrow compute in the
    catalog, and several entries need slices of this table
    (``t_hashed_classifier``, ``t_calibration_bins``'s reliability
    bins, and — round 11 — ``t_corpus_prep``'s dedup + gate stages,
    which previously re-tokenized the corpus per query and carried full
    text through an md5-keyed window shuffle); in production the scored
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
        lambda acc, t: acc + _weight_expr(t),
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
    A trained model swaps `_weight_expr` for a literal array lookup
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


_BUCKET_SQL = "(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1024)"
_WEIGHT_SQL = (
    "((CAST(('0x' || substr(md5('w' || CAST("
    + _BUCKET_SQL
    + " AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000)"
)

T_HASHED_CLASSIFIER_SQL = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
s AS (
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks, t -> {_WEIGHT_SQL})), 0)
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
# d_containment — asymmetric subset-duplication pairs
# ---------------------------------------------------------------------------

EXCERPT_MOD = 23  # 1-in-23 docs get an excerpt twin injected
EXCERPT_ID_OFFSET = 2_000_000


def _docs_with_excerpts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus + injected EXCERPT twins: a 40%-prefix slice of every 23rd
    document (min 5 tokens, so each excerpt has ≥ 1 5-gram shingle).
    Prefix slices make containment exactly 1.0 against the source while
    jaccard sits near 0.4 — the case the symmetric measure misses.
    Integer arithmetic ((2·len) div 5) so both engines cut identically."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize(F.col("text"))
    k = F.greatest(F.floor((F.size(toks) * 2) / F.lit(5)).cast("int"), F.lit(5))
    exc = docs.filter(F.col("doc_id") % EXCERPT_MOD == 0).select(
        (F.col("doc_id") + EXCERPT_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), k)).alias("text"),
    )
    return docs.unionByName(exc)


DOCS_WITH_EXCERPTS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {EXCERPT_ID_OFFSET} AS doc_id,
       array_to_string(list_slice(toks, 1, GREATEST((len(toks) * 2) // 5, 5)), ' ') AS text
FROM (SELECT doc_id, {TOKS_SQL} AS toks FROM documents WHERE doc_id % {EXCERPT_MOD} = 0)
""".strip()


def d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment ≥ 0.9 pairs over the excerpt-injected corpus.

    max_shingle_df=None because the oracle enumerates the exact pair
    set; production passes the default cap (the stop-shingle
    prefix-filter) — same plan, bounded join width."""
    return containment_pairs(
        _docs_with_excerpts(spark, sf_dir), n=5, threshold=0.9, max_shingle_df=None
    )


D_CONTAINMENT_SQL = f"""
WITH d AS ({DOCS_WITH_EXCERPTS_SQL}),
t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM d),
sh AS (SELECT doc_id, unnest({_shingles_sql('toks', 5)}) AS sh FROM t),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_inter,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.9
""".strip()


def d_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set containment probe (round 10): the injected excerpts
    play an ARRIVING batch, the raw documents table plays the fixed
    corpus — exactly the excerpt-contamination check `curate.py`'s
    incremental mode runs with ``--near-dup containment``. Exact pairs
    via the asymmetric prefix filter applied cross-set
    (`operators/dedup.py::incremental_containment_pairs`): O(batch)
    per arrival against write-once corpus artifacts."""
    from ..operators.dedup import incremental_containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokenize(F.col("text"))
    k = F.greatest(F.floor((F.size(toks) * 2) / F.lit(5)).cast("int"), F.lit(5))
    batch = docs.filter(F.col("doc_id") % EXCERPT_MOD == 0).select(
        (F.col("doc_id") + EXCERPT_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), k)).alias("text"),
    )
    # the corpus index (shingles + df order + prefix) is the op's
    # write-once per-generation artifact — model that lifetime with
    # shared checkpoints so the per-arrival number times the PROBE,
    # with the build labeled under shared_build_sec
    return incremental_containment_pairs(
        batch, index=_inc_containment_corpus_sh(spark, sf_dir), n=5, threshold=0.9
    )


@shared.prewarmed
def _inc_containment_corpus_sh(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Write-once corpus containment index (shingles, df table, prefix,
    per-doc shingle-array table) for the cross-set probe
    (shared-artifact accessor; prewarmed by catalog.prewarm_shared)."""
    from ..operators.dedup import build_containment_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    holder: dict = {}

    def derived(which: str):
        def build() -> DataFrame:
            if not holder:
                full, df_tbl, prefix, arr = build_containment_index(
                    corpus_df=docs, threshold=0.9
                )
                holder.update(full=full, df=df_tbl, prefix=prefix, arr=arr)
            # checkpoint PARTITIONED BY the probe's join key: localCheckpoint
            # preserves outputPartitioning, so every per-arrival join
            # against these artifacts shuffles only the O(batch) side —
            # the in-session analog of the production index's
            # bucketBy(sh) parquet layout. The arr table's probe key is
            # the DOC id (the verify joins candidate pairs by dup_of).
            key = "doc" if which == "arr" else "sh"
            return holder[which].repartition(F.col(key))

        return build

    full = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_sh", derived("full")
    )
    df_tbl = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_df", derived("df")
    )
    prefix = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_prefix_t09", derived("prefix")
    )
    arr = shared.shared_checkpoint(
        spark, sf_dir, "inc_containment_corpus_arr", derived("arr")
    )
    return full, df_tbl, prefix, arr


D_INCREMENTAL_CONTAINMENT_SQL = f"""
WITH t0 AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
batch AS (
    SELECT doc_id + {EXCERPT_ID_OFFSET} AS doc_id,
           array_to_string(list_slice(toks, 1, GREATEST((len(toks) * 2) // 5, 5)), ' ') AS text
    FROM t0 WHERE doc_id % {EXCERPT_MOD} = 0
),
bt AS (SELECT doc_id, {TOKS_SQL} AS toks FROM batch),
bsh AS (SELECT doc_id, unnest({_shingles_sql('toks', 5)}) AS sh FROM bt),
csh AS (SELECT doc_id, unnest({_shingles_sql('toks', 5)}) AS sh FROM t0),
bsz AS (SELECT doc_id, COUNT(*) AS n_new FROM bsh GROUP BY doc_id),
csz AS (SELECT doc_id, COUNT(*) AS n_idx FROM csh GROUP BY doc_id),
inter AS (
    SELECT b.doc_id AS id_new, c.doc_id AS dup_of, COUNT(*) AS n_inter
    FROM bsh b JOIN csh c ON b.sh = c.sh
    GROUP BY b.doc_id, c.doc_id
)
SELECT id_new, dup_of, n_inter, bsz.n_new, csz.n_idx,
       CAST(n_inter AS DOUBLE) / LEAST(bsz.n_new, csz.n_idx) AS containment
FROM inter
JOIN bsz ON bsz.doc_id = id_new
JOIN csz ON csz.doc_id = dup_of
WHERE CAST(n_inter AS DOUBLE) / LEAST(bsz.n_new, csz.n_idx) >= 0.9
""".strip()


# ---------------------------------------------------------------------------
# a_ks_test — exact two-sample Kolmogorov–Smirnov drift statistic
# ---------------------------------------------------------------------------

KS_TYPE_A = "view"
KS_TYPE_B = "click"
KS_ALPHA_C = 1.358  # c(α) for α = 0.05 in the large-sample KS rejection rule


_KS_EXACT_DISTINCT_MAX = 2_000_000


def _file_size_row_bound(sf_dir: str, table: str = "events") -> int | None:
    """EXACT table row count from the parquet footers (no Spark job;
    distinct ≤ rows, so this upper-bounds a cardinality guard's quantity
    with certainty), or None when the path is not local parquet — then a
    probe job decides. Footer counts replace the old bytes/4 heuristic:
    delta/dictionary encodings can pack whole rows below any assumed
    byte floor, so a size-derived bound was not actually certain
    (round-10 ADVICE item 4)."""
    import os

    try:
        # inside the try so a pyarrow-less environment degrades to the
        # documented "return None, let the probe job decide" path
        # instead of raising ImportError out of every caller
        # (round-11 ADVICE item 3)
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            files = [
                os.path.join(r, f)
                for r, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        else:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def a_ks_test(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_distinct: int = _KS_EXACT_DISTINCT_MAX,
    on_exceed: str = "error",
) -> DataFrame:
    """D = sup_x |F_a(x) − F_b(x)| between the `value` distributions of
    two event types, plus the α=0.05 large-sample significance verdict
    (reject iff D > c(α)·√((n1+n2)/(n1·n2))).

    Exactness: D is maximized as the INTEGER |c1·n2 − c2·n1| (DECIMAL(38)
    products — a trillion-row sample cannot overflow), divided by n1·n2
    once at the end; ECDF steps only move at distinct values, so the
    input first compresses to one row per distinct value (groupBy — at
    unbounded value cardinality you'd bin first, trading exactness for a
    bounded grid).

    Cardinality guard (round-9 sf10 probe: the distinct-value histogram
    GROWS with a near-continuous `value` column — 13.6 s at 100× facts
    and worsening with cardinality): a one-pass ``approx_count_distinct``
    probe runs first, and above ``max_distinct`` the unbounded plan does
    not silently ship — ``on_exceed="error"`` (default) raises with a
    pointer at `a_ks_test_binned` (the bounded-grid PRODUCTION mode;
    binned D lower-bounds exact D), ``on_exceed="delegate"`` returns the
    binned result outright. Same measured-cost-switch discipline as
    `shingle_pairs_jaccard`'s Σdf² probe.

    Scale shape: the cumulative counts come from ONE bucketed
    global-cumsum pass (`operators/order.py` — range-partitioned
    windows + broadcast bucket offsets, never a single-partition
    window), carrying both samples' sums in the same pass.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    # metadata short-circuit before the probe JOB: distinct ≤ rows, and
    # the parquet footers carry the EXACT row count for free (no job, no
    # compression assumptions). The approx_count_distinct job only runs
    # when the footers cannot rule scale out.
    bound = _file_size_row_bound(sf_dir)
    if bound is not None and bound <= max_distinct:
        approx = 0
    else:
        approx = ev.agg(F.approx_count_distinct("value").alias("d")).collect()[0][
            "d"
        ]
    if approx > max_distinct:
        if on_exceed == "delegate":
            return a_ks_test_binned(spark, sf_dir)
        raise ValueError(
            f"a_ks_test: ~{approx:,} distinct values exceeds the exact-mode "
            f"bound ({max_distinct:,}); the distinct-value histogram would "
            "grow unboundedly with cardinality. Use a_ks_test_binned (fixed "
            f"{KS_BINS}-bin grid, conservative lower-bound D) or pass "
            "on_exceed='delegate' / a larger max_distinct explicitly."
        )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0)).alias("d2"),
    )
    # DRIVER tier (round 11, the a_mad_outliers discipline): when the
    # histogram is PROVABLY small — footer rows or the approx probe
    # (with 2× headroom for its error band) under the cap — ONE job
    # collects it and the cumulative sweep runs in exact Python integers;
    # the statistic then feeds back through the SAME Spark expressions
    # as literals, so every cast/divide happens JVM-side, bit-identical
    # to the distributed tier (pytest-pinned). 4 jobs → 1.
    small = (bound is not None and bound <= _KS_DRIVER_MAX_ROWS) or (
        0 < approx <= _KS_DRIVER_MAX_ROWS // 2
    )
    if small:
        hist = sorted(
            (float(r["value"]), int(r["d1"]), int(r["d2"])) for r in g.collect()
        )
        n1 = sum(d1 for _, d1, _ in hist)
        n2 = sum(d2 for _, _, d2 in hist)
        if n1 and n2:
            max_diff = 0
            c1 = c2 = 0
            for _, d1, d2 in hist:
                c1 += d1
                c2 += d2
                diff_i = abs(c1 * n2 - c2 * n1)
                if diff_i > max_diff:
                    max_diff = diff_i
            return _ks_finalize(spark, n1, n2, max_diff)
    # pin the DISTINCT-VALUE histogram once — the bucket-bounds agg
    # doubles as the materializing action (pin_with_range_bucket), so
    # the remaining consumers (totals collect, main cumsum pass) read
    # cached blocks instead of re-running the events scan + groupBy.
    # The pinned table is the compressed histogram (distinct values),
    # never the fact — bounded by value cardinality at any corpus size
    # (bin first when unbounded, per the exactness note above).
    g, bucket = pin_with_range_bucket(g, F.col("value"))
    # the cumsum's driver-side prefix pass already ends on the grand
    # totals — embed n1/n2 as literals instead of a second aggregation
    # job + broadcast join over g
    gt: dict = {}
    cum = global_cumsum_multi(
        g,
        F.col("value"),
        {"c1": F.col("d1"), "c2": F.col("d2")},
        bucket,
        grand_totals=gt,
    )
    n1, n2 = int(gt["c1"]), int(gt["c2"])
    dec = "decimal(38,0)"
    diff = F.abs(
        F.col("c1").cast(dec) * F.lit(n2) - F.col("c2").cast(dec) * F.lit(n1)
    )
    res = (
        cum.agg(F.max(diff).alias("max_diff"))
        .select(
            F.lit(n1).cast("long").alias("n1"),
            F.lit(n2).cast("long").alias("n2"),
            (
                F.col("max_diff").cast("double")
                / (F.lit(n1).cast("double") * F.lit(n2).cast("double"))
            ).alias("ks_stat"),
        )
    )
    return res.withColumn("significant", F.col("ks_stat") > _ks_crit())


def _ks_crit() -> F.Column:
    """α=0.05 rejection threshold expression over n1/n2 columns."""
    return F.lit(KS_ALPHA_C) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )


# Collect the exact distinct-value histogram when it provably fits the
# driver (~262k (double, long, long) rows ≈ 6 MB) — bounded by footer
# rows or the approx-distinct probe with 2× headroom, never a guess.
_KS_DRIVER_MAX_ROWS = 262_144


def _ks_finalize(spark: SparkSession, n1: int, n2: int, max_diff: int) -> DataFrame:
    """The exact integers feed the SAME final expressions the
    distributed tier uses (JVM-side casts/divides — bit-identical)."""
    from decimal import Decimal

    res = spark.range(1).select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        (
            F.lit(Decimal(max_diff)).cast("decimal(38,0)").cast("double")
            / (F.lit(n1).cast("double") * F.lit(n2).cast("double"))
        ).alias("ks_stat"),
    )
    return res.withColumn("significant", F.col("ks_stat") > _ks_crit())


A_KS_TEST_SQL = f"""
WITH ev AS (
    SELECT value, event_type FROM events
    WHERE value IS NOT NULL AND event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
),
g AS (
    SELECT value,
           SUM(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS d1,
           SUM(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS d2
    FROM ev GROUP BY value
),
cum AS (
    SELECT value,
           CAST(SUM(d1) OVER (ORDER BY value) AS BIGINT) AS c1,
           CAST(SUM(d2) OVER (ORDER BY value) AS BIGINT) AS c2
    FROM g
),
tot AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2 FROM g),
m AS (
    SELECT MIN(n1) AS n1, MIN(n2) AS n2,
           MAX(ABS(CAST(c1 AS DECIMAL(38,0)) * n2
                   - CAST(c2 AS DECIMAL(38,0)) * n1)) AS max_diff
    FROM cum CROSS JOIN tot
),
r AS (
    SELECT n1, n2,
           CAST(max_diff AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_stat
    FROM m
)
SELECT n1, n2, ks_stat,
       ks_stat > {KS_ALPHA_C} * SQRT(CAST(n1 + n2 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS significant
FROM r
""".strip()


KS_BINS = 256


def a_ks_test_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS — the PRODUCTION-SCALE mode of `a_ks_test`.

    The exact test compresses the input to one row per DISTINCT value;
    the round-9 sf10 probe measured that histogram growing with the
    near-continuous `value` cardinality (13.6 s at 100× facts), exactly
    the unbounded-cardinality case the exact twin's docstring defers to
    binning. Here the ECDFs live on a fixed ``KS_BINS`` grid over
    [min, max]: ONE hash aggregation reduces any corpus to ≤256 rows,
    and every later step (cumsum window, totals, sup) runs on that
    bounded table — the global window is scale-safe BECAUSE its input
    is bounded by construction, never by the data. Binned D is a lower
    bound of exact D (sup restricted to bin boundaries), so
    `significant` is conservative. min/max come from an exact
    aggregation (IEEE-identical across engines); bin arithmetic is
    pure double ops + floor, bit-identical in DuckDB."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
    )
    mm = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    width = F.col("vmax") - F.col("vmin")
    bin_col = F.when(width == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(KS_BINS - 1),
            F.floor((F.col("value") - F.col("vmin")) / width * KS_BINS).cast("int"),
        )
    )
    g = (
        ev.crossJoin(F.broadcast(mm))
        .select(bin_col.alias("bin"), "event_type")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0)).alias("d1"),
            F.sum(F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0)).alias("d2"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        F.sum("d1").over(w).alias("c1"), F.sum("d2").over(w).alias("c2")
    )
    tot = g.agg(
        F.sum("d1").cast("long").alias("n1"), F.sum("d2").cast("long").alias("n2")
    )
    dec = "decimal(38,0)"
    m = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min("n1").alias("n1"),
            F.min("n2").alias("n2"),
            F.max(
                F.abs(
                    F.col("c1").cast(dec) * F.col("n2")
                    - F.col("c2").cast(dec) * F.col("n1")
                )
            ).alias("max_diff"),
        )
    )
    res = m.select(
        "n1",
        "n2",
        (
            F.col("max_diff").cast("double")
            / (F.col("n1").cast("double") * F.col("n2").cast("double"))
        ).alias("ks_stat"),
    )
    crit = F.lit(KS_ALPHA_C) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    return res.withColumn("significant", F.col("ks_stat") > crit)


A_KS_TEST_BINNED_SQL = f"""
WITH ev AS (
    SELECT value, event_type FROM events
    WHERE value IS NOT NULL AND event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
),
mm AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM ev),
g AS (
    SELECT CASE WHEN vmax = vmin THEN 0
           ELSE LEAST({KS_BINS - 1},
                CAST(FLOOR((value - vmin) / (vmax - vmin) * {KS_BINS}) AS INTEGER))
           END AS bin,
           SUM(CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END) AS d1,
           SUM(CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END) AS d2
    FROM ev CROSS JOIN mm GROUP BY 1
),
cum AS (
    SELECT CAST(SUM(d1) OVER (ORDER BY bin) AS BIGINT) AS c1,
           CAST(SUM(d2) OVER (ORDER BY bin) AS BIGINT) AS c2
    FROM g
),
tot AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2 FROM g),
m AS (
    SELECT MIN(n1) AS n1, MIN(n2) AS n2,
           MAX(ABS(CAST(c1 AS DECIMAL(38,0)) * n2
                   - CAST(c2 AS DECIMAL(38,0)) * n1)) AS max_diff
    FROM cum CROSS JOIN tot
),
r AS (
    SELECT n1, n2,
           CAST(max_diff AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_stat
    FROM m
)
SELECT n1, n2, ks_stat,
       ks_stat > {KS_ALPHA_C} * SQRT(CAST(n1 + n2 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS significant
FROM r
""".strip()


# ---------------------------------------------------------------------------
# e_interval_coverage — merged-interval billable time (gaps-and-islands)
# ---------------------------------------------------------------------------


def e_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TRUE tracked time: total coverage of the union of the
    user's session intervals — overlapping timers counted once (the
    time-tracking engine's billable-hours invariant; naive SUM(duration)
    double-bills every overlap).

    Sweep over PRE-AGGREGATED boundary points: every session contributes
    a start and an end marker; markers first collapse to one row per
    DISTINCT (user, t) carrying (n_starts, n_ends) — a map-side-
    combinable hash-agg — and only then does the per-user window run.
    The window partitions by user_id, a FIXED group count, so without
    the collapse its per-partition sort input grows linearly with the
    fact and the query degrades superlinearly (the e_peak_concurrency
    lesson: 21.5 → 1.8 s at sf10); with it, the window input is bounded
    by distinct timestamps per user. At each point, running coverage
    count = cumsum(n_starts − n_ends); half-open [s, e) means ends
    process BEFORE starts at the same instant, so a new island opens
    iff (running_before − n_ends) == 0 with n_starts > 0 — exactly the
    gaps-and-islands "s ≥ max previous end" flag — and a point
    contributes (next_t − t) to coverage iff running_after > 0. One
    shuffle on user_id for the window, one for the collapse; all
    integer µs, fully deterministic (no tie-order dependence — ties
    collapsed away).
    """
    ev = load_table(spark, sf_dir, "events")
    start_us, end_us = _session_bounds()
    s = ev.select(F.col("user_id"), start_us.alias("s_us"), end_us.alias("e_us"))
    marks = s.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("s_us").alias("t"),
                    F.lit(1).alias("ns"),
                    F.lit(0).alias("ne"),
                ),
                F.struct(
                    F.col("e_us").alias("t"),
                    F.lit(0).alias("ns"),
                    F.lit(1).alias("ne"),
                ),
            )
        ).alias("m"),
    ).select("user_id", "m.t", "m.ns", "m.ne")
    # MAP-SIDE-COMBINED collapse first, then the (small) window shuffle:
    # the alternative — repartition(user_id) once and let the groupBy +
    # window reuse it — shuffles every RAW mark (2 rows per event),
    # while this shape's first exchange carries only the per-(user, t)
    # combined rows (100× fewer when timestamps replicate — measured
    # 1.9 vs 1.1 s at sf10) and the second moves the same compressed
    # table once more. Shuffle volume bounded by distinct boundary
    # points at any corpus size.
    pts = marks.groupBy("user_id", "t").agg(
        F.sum("ns").alias("ns"), F.sum("ne").alias("ne")
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("user_id").orderBy("t")
    run_after = F.sum(F.col("ns") - F.col("ne")).over(w_cum)
    swept = pts.select(
        "user_id",
        "ns",
        run_after.alias("run_after"),
        # new island: nothing open once this instant's ends retire
        # (run_before − ne == run_after − ns + ne − ne) and ≥1 start here
        F.when(
            ((run_after - F.col("ns")) == 0) & (F.col("ns") > 0), 1
        )
        .otherwise(0)
        .alias("new_isl"),
        (F.lead("t", 1).over(w_lead) - F.col("t")).alias("seg_us"),
    )
    return swept.groupBy("user_id").agg(
        F.sum("ns").cast("long").alias("n_sessions"),
        F.sum("new_isl").cast("long").alias("n_islands"),
        F.sum(F.when(F.col("run_after") > 0, F.col("seg_us")).otherwise(0))
        .cast("long")
        .alias("covered_us"),
    )


E_INTERVAL_COVERAGE_SQL = f"""
WITH s AS (
    SELECT user_id,
           epoch_us(ts) AS s_us,
           epoch_us(ts)
             + LEAST(GREATEST(CAST(FLOOR(value * 60000000) AS BIGINT), 1),
                     {MAX_SESSION_US}) AS e_us
    FROM events
),
flagged AS (
    SELECT user_id, s_us, e_us,
           CASE WHEN MAX(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR s_us >= MAX(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                )
           THEN 1 ELSE 0 END AS new_isl
    FROM s
),
isl AS (
    SELECT user_id, s_us, e_us,
           SUM(new_isl) OVER (
               PARTITION BY user_id ORDER BY s_us, e_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS island
    FROM flagged
),
per_isl AS (
    SELECT user_id, island,
           MAX(e_us) - MIN(s_us) AS cov_us,
           COUNT(*) AS n_sessions
    FROM isl GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(n_sessions) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(cov_us) AS BIGINT) AS covered_us
FROM per_isl GROUP BY user_id
""".strip()
