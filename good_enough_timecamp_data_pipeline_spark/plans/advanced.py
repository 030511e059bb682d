"""Scale-pattern queries. Families:

- near-dup cluster assembly: ``d_cc_clusters``, ``d_dedup_survivors``;
- range, interval and spatial joins: ``x_range_join``,
  ``x_range_join_bucketed``, ``x_geo_grid_join``, ``x_geo_knn``;
- interval sweeps and time-series repair: ``e_peak_concurrency``,
  ``e_interval_coverage``, ``e_gapfill``;
- outliers and smoothing: ``a_zscore_outliers``, ``e_ewma_anomaly``;
- merge and change data: ``j_merge_upsert``, ``c_snapshot_diff``,
  ``c_cdc_apply``;
- distribution summaries: ``a_histogram``, ``a_grouping_sets``,
  ``a_partial_agg_merge``, ``a_approx_sketches``;
- text features and tokenizers: ``t_tfidf``, ``t_winnow``,
  ``t_bpe_tokens``, ``t_bpe_train``.

These extend the reference surface (which stops at per-row cache diffs and
flat rollups — ``/root/reference/common/api.py:362-425``,
``SAMPLE-REPORTS.md``) with the operations a 100 TB pipeline actually runs
after near-dup *detection*: cluster assembly (connected components), event
neighborhood joins (range/interval), time-series repair (gap-fill + LOCF),
statistical QC (z-score outliers), dimension maintenance (SCD1 merge), and
distribution summaries (fixed-width histogram, HLL/KLL sketches).

Exactness rules (so the driver's value-hash matches DuckDB):
- integer math until the last step: counts/sums as BIGINT, ``FLOOR`` before
  any double→bigint cast, integer division via ``div``/``//`` (never
  float-floor);
- float results come only from *identically shaped* IEEE expressions on
  both engines (single mult/sub/div/sqrt chains — deterministic bit-equal);
- every nondeterministic choice (latest-row pick, LOCF source row) is fully
  tie-broken by a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators import text
from ..operators.graph import cluster_sizes, connected_components
from .common import DOCS_NEAR_DUP_SQL, TOKS_SQL, docs_near_dup
from . import shared
from .testdata import load_table


# ---------------------------------------------------------------------------
# d_cc_clusters — dedup cluster assembly via connected components
# ---------------------------------------------------------------------------

def d_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a two-fingerprint document graph.

    Edges: docs sharing the md5 of tokens 1–20 (prefix fingerprint) OR of
    tokens 11–30 (mid fingerprint). The two windows overlap, so clusters
    CHAIN across edge types (A~B by prefix, B~C by mid) — exactly the
    transitive-closure situation pair-level dedup cannot express and CC
    exists for. The Spark side runs iterative min-label propagation
    (``operators/graph.py`` — one map-side-combinable shuffle per round,
    rounds = component diameter ≈ 2–4 for dedup graphs); the oracle is a
    recursive CTE computing min reachable id, so the driver hash-checks
    the *algorithm's fixpoint*, not just plumbing.

    Fingerprint rows for docs shorter than the window are dropped (else
    every short doc would share the '' fingerprint — a false mega-clique).
    """
    labels = _fingerprint_labels(spark, sf_dir)
    return cluster_sizes(labels).select(
        F.col("node").alias("doc"), "cluster_id", "cluster_size"
    )


@shared.artifact("cc_fingerprint_labels")
def _fingerprint_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC labels (node, cluster_id) over the two-fingerprint doc graph —
    shared by `d_cc_clusters` and `d_dedup_survivors` as a session
    checkpoint (plans/shared.py): label propagation is the expensive
    iterative stage (actions per round), so both consumers read ONE
    materialized fixpoint instead of each re-running it."""

    docs = docs_near_dup(spark, sf_dir).withColumn(
        "toks", text.tokenize(F.col("text"))
    )
    n = F.size("toks")
    fp = docs.select(
        "doc_id",
        F.when(n >= 20, F.md5(F.concat_ws(" ", F.slice("toks", 1, 20)))).alias("pre"),
        F.when(n >= 30, F.md5(F.concat_ws(" ", F.slice("toks", 11, 20)))).alias("mid"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def pairs(col: str) -> DataFrame:
        a, b = fp.alias("a"), fp.alias("b")
        return a.join(
            b,
            (F.col(f"a.{col}") == F.col(f"b.{col}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))

    edges = pairs("pre").unionByName(pairs("mid")).distinct()
    labels = connected_components(edges)
    # connected_components runs its propagation actions eagerly and
    # returns checkpoint-backed labels, so the pinned fingerprints
    # are already consumed — release them before returning
    fp.unpersist()
    return labels


def d_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the decision step every dedup pipeline ends
    with: per cluster keep ONE document (longest token count, ties to the
    smallest id), mark the rest for deletion. Docs outside any cluster
    survive as their own singleton.

    Scale shape: the CC labels are node-sized (a sliver of the corpus);
    the corpus left-joins them on doc_id, and the survivor choice is a
    first_value window partitioned by cluster — cluster-sized groups, no
    global order anywhere. The keep/delete column is what a downstream
    `filter(keep = 1)` consumes, so the full corpus is scanned exactly
    once end-to-end."""
    labels = _fingerprint_labels(spark, sf_dir)
    all_docs = docs_near_dup(spark, sf_dir).select(
        "doc_id", F.size(text.tokenize(F.col("text"))).cast("long").alias("n_toks")
    )
    labeled = (
        all_docs.join(labels, all_docs["doc_id"] == labels["node"], "left")
        .select(
            F.col("doc_id").alias("doc"),
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "n_toks",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_toks"), F.asc("doc"))
    out = labeled.select(
        "doc",
        "cluster_id",
        "n_toks",
        F.first_value("doc").over(w).alias("survivor"),
    ).withColumn("keep", (F.col("doc") == F.col("survivor")).cast("int"))
    return out


# NOTE list_slice(toks, 11, 30) is END-INDEX inclusive (= Spark slice(toks, 11, 20)).
_CC_CORE_SQL = f"""
d AS ({DOCS_NEAR_DUP_SQL}),
t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM d),
fp AS (
    SELECT doc_id,
           CASE WHEN len(toks) >= 20
                THEN md5(array_to_string(list_slice(toks, 1, 20), ' ')) END AS pre,
           CASE WHEN len(toks) >= 30
                THEN md5(array_to_string(list_slice(toks, 11, 30), ' ')) END AS mid
    FROM t
),
e1 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM fp a
       JOIN fp b ON a.pre = b.pre AND a.doc_id < b.doc_id),
e2 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM fp a
       JOIN fp b ON a.mid = b.mid AND a.doc_id < b.doc_id),
edges AS (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2),
und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, lbl) AS (
    SELECT DISTINCT src, src FROM und
    UNION
    SELECT u.dst, r.lbl FROM reach r JOIN und u ON u.src = r.node
    WHERE r.lbl < u.dst
),
lab AS (SELECT node AS doc, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
""".strip()

D_CC_CLUSTERS_SQL = f"""
WITH RECURSIVE
{_CC_CORE_SQL}
SELECT doc, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM lab
""".strip()

D_DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE
{_CC_CORE_SQL},
alln AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t),
labeled AS (
    SELECT a.doc_id AS doc,
           COALESCE(l.cluster_id, a.doc_id) AS cluster_id,
           a.n_toks
    FROM alln a LEFT JOIN lab l ON l.doc = a.doc_id
)
SELECT doc, cluster_id, n_toks,
       FIRST_VALUE(doc) OVER w AS survivor,
       CAST(doc = FIRST_VALUE(doc) OVER w AS INTEGER) AS keep
FROM labeled
WINDOW w AS (PARTITION BY cluster_id ORDER BY n_toks DESC, doc ASC)
""".strip()


# ---------------------------------------------------------------------------
# x_range_join — events into widened hot windows (equi + range predicate)
# ---------------------------------------------------------------------------

_W_US = 21_600_000_000  # 6 h in microseconds
_PAD_US = 10_800_000_000  # 3 h


def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: all events within ±3 h of a *hot* 6-hour window of
    their own type (incident neighborhood scan).

    Hot = window count above 1.25× the type's mean window count — kept
    integral as ``4·cnt·n_windows > 5·total`` so the threshold is exact
    and scale-free. The hot-window side is tiny (≤ #windows); it is
    explicitly broadcast so the range predicate becomes a broadcast hash
    join on event_type with the µs-range as residual — no shuffle of the
    event fact. At big-big scale (both sides huge) the standard rewrite
    is bucketing both sides by coarse time bucket and joining
    bucket-to-adjacent-buckets; the hot side here is window-aggregated,
    so broadcast is the right plan.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    wnd = ev.groupBy(
        "event_type", (F.col("us") - (F.col("us") % _W_US)).alias("w_us")
    ).agg(F.count("*").alias("n_base"))
    tot = wnd.groupBy("event_type").agg(
        F.count("*").alias("nw"), F.sum("n_base").alias("total")
    )
    # h_type rename: hot derives from the same events scan it joins back
    # to — distinct column names sidestep ambiguous-self-join resolution.
    hot = (
        wnd.join(tot, "event_type")
        .filter(4 * F.col("n_base") * F.col("nw") > 5 * F.col("total"))
        .select(
            F.col("event_type").alias("h_type"),
            "w_us",
            "n_base",
            (F.col("w_us") - _PAD_US).alias("lo"),
            (F.col("w_us") + _W_US + _PAD_US).alias("hi"),
        )
    )
    joined = ev.join(
        F.broadcast(hot),
        (F.col("event_type") == F.col("h_type"))
        & (F.col("us") >= F.col("lo"))
        & (F.col("us") < F.col("hi")),
    )
    return (
        joined.groupBy("h_type", "w_us", "n_base")
        .agg(
            F.count("*").alias("n_nearby"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("h_type").alias("event_type"),
            F.timestamp_micros(F.col("w_us")).alias("window_start"),
            "n_base",
            "n_nearby",
            "n_users",
        )
    )


X_RANGE_JOIN_SQL = f"""
WITH e AS (SELECT *, epoch_us(ts) AS us FROM events),
wnd AS (
    SELECT event_type, us - (us % {_W_US}) AS w_us, COUNT(*) AS n_base
    FROM e GROUP BY 1, 2
),
tot AS (
    SELECT event_type, COUNT(*) AS nw, CAST(SUM(n_base) AS BIGINT) AS total
    FROM wnd GROUP BY 1
),
hot AS (
    SELECT w.event_type, w.w_us, w.n_base,
           w.w_us - {_PAD_US} AS lo, w.w_us + {_W_US} + {_PAD_US} AS hi
    FROM wnd w JOIN tot t ON w.event_type = t.event_type
    WHERE 4 * w.n_base * t.nw > 5 * t.total
)
SELECT h.event_type,
       make_timestamp(h.w_us) AS window_start,
       h.n_base,
       COUNT(*) AS n_nearby,
       COUNT(DISTINCT e.user_id) AS n_users
FROM e JOIN hot h ON e.event_type = h.event_type
                 AND e.us >= h.lo AND e.us < h.hi
GROUP BY 1, 2, 3
""".strip()


# ---------------------------------------------------------------------------
# e_gapfill — daily skeleton + zero-fill + LOCF
# ---------------------------------------------------------------------------

def e_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity with missing days materialized: n_events=0
    and the day's type carried forward from the last active day (LOCF).

    sequence+explode builds each user's day spine distributed (rows ∝
    users × span — no driver loop, no calendar table collect); the LOCF
    is one window over the per-user day order. day_type per active day is
    MAX(event_type) — deterministic and engine-portable where an
    arbitrary first() is not.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n_events0"), F.max("event_type").alias("day_type"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    skel = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = skel.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    return filled.select(
        "user_id",
        "day",
        F.coalesce("n_events0", F.lit(0)).alias("n_events"),
        F.last("day_type", ignorenulls=True).over(w).alias("locf_type"),
        F.col("n_events0").isNull().cast("int").alias("is_gap"),
    )


E_GAPFILL_SQL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events0, MAX(event_type) AS day_type
    FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
skel AS (
    SELECT user_id,
           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
),
filled AS (
    SELECT s.user_id, s.day, d.n_events0, d.day_type
    FROM skel s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT user_id, day,
       COALESCE(n_events0, 0) AS n_events,
       last_value(day_type IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_type,
       CAST(n_events0 IS NULL AS INTEGER) AS is_gap
FROM filled
""".strip()


# ---------------------------------------------------------------------------
# a_zscore_outliers — exact-moment z-scores, broadcast stats join
# ---------------------------------------------------------------------------

def a_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits > 3 population std-devs above its type mean.

    Moments are exact BIGINT sums of cents (n, Σx, Σx²) — one map-side-
    combinable agg pass; z is then derived in ONE identically-shaped IEEE
    chain on both engines, z = (n·x − Σx) / √(n·Σx² − Σx²), so even the
    float compare at the 3.0 boundary agrees bit-for-bit. The 5-row stats
    side broadcasts into the fact scan: no shuffle of events at any scale.
    (Σx² of cents overflows BIGINT only past ~10¹⁰ rows per group; switch
    the moments to DECIMAL(38,0) there.)
    """
    events = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    g = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    joined = events.join(F.broadcast(g), "event_type")
    z = (F.col("cents").cast("double") * F.col("n") - F.col("s")) / F.sqrt(
        F.col("n").cast("double") * F.col("ss")
        - F.col("s").cast("double") * F.col("s")
    )
    return (
        joined.withColumn("z", z)
        .filter(F.col("z") > 3.0)
        .select("event_id", "event_type", "cents", "z")
    )


A_ZSCORE_OUTLIERS_SQL = """
WITH e AS (
    SELECT event_id, event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS cents
    FROM events
),
g AS (
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS s,
           CAST(SUM(cents * cents) AS BIGINT) AS ss
    FROM e GROUP BY 1
)
SELECT e.event_id, e.event_type, e.cents,
       (CAST(e.cents AS DOUBLE) * g.n - g.s)
           / sqrt(CAST(g.n AS DOUBLE) * g.ss - CAST(g.s AS DOUBLE) * g.s) AS z
FROM e JOIN g ON e.event_type = g.event_type
WHERE (CAST(e.cents AS DOUBLE) * g.n - g.s)
          / sqrt(CAST(g.n AS DOUBLE) * g.ss - CAST(g.s AS DOUBLE) * g.s) > 3.0
""".strip()


# ---------------------------------------------------------------------------
# j_merge_upsert — SCD1 merge (update + insert + keep) as full-outer join
# ---------------------------------------------------------------------------

def j_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet: base customer snapshot vs an
    update batch (each customer's latest order revalues them; ids ≡ 0
    mod 97 also arrive as brand-new +1000000 rows to exercise INSERT).

    Spark-native MERGE needs a table format (Delta/Iceberg); on files the
    equivalent is exactly one full-outer join on the key + row-level
    CASE — which is also what those formats execute underneath. The
    latest-order pick is a window row_number fully tie-broken by
    (date DESC, orderkey DESC).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    base = customer.select(
        F.col("c_custkey").alias("custkey"),
        F.floor("c_acctbal").cast("long").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.floor("o_totalprice").cast("long").alias("new_bal"),
        )
    )
    inserts = latest.filter(F.col("custkey") % 97 == 0).select(
        (F.col("custkey") + 1_000_000).alias("custkey"), "new_bal"
    )
    updates = latest.unionByName(inserts)

    merged = base.join(updates, "custkey", "full_outer")
    return merged.select(
        "custkey",
        F.coalesce("new_bal", "bal").alias("bal"),
        F.coalesce("seg", F.lit("NEW")).alias("seg"),
        F.when(F.col("bal").isNull(), "insert")
        .when(F.col("new_bal").isNull(), "keep")
        .otherwise("update")
        .alias("op"),
    )


J_MERGE_UPSERT_SQL = """
WITH base AS (
    SELECT c_custkey AS custkey,
           CAST(FLOOR(c_acctbal) AS BIGINT) AS bal,
           c_mktsegment AS seg
    FROM customer
),
ranked AS (
    SELECT o_custkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY CAST(o_orderdate AS DATE) DESC,
                                       o_orderkey DESC) AS rn
    FROM orders
),
latest AS (
    SELECT o_custkey AS custkey,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS new_bal
    FROM ranked WHERE rn = 1
),
updates AS (
    SELECT custkey, new_bal FROM latest
    UNION ALL
    SELECT custkey + 1000000, new_bal FROM latest WHERE custkey % 97 = 0
)
SELECT COALESCE(b.custkey, u.custkey) AS custkey,
       COALESCE(u.new_bal, b.bal) AS bal,
       COALESCE(b.seg, 'NEW') AS seg,
       CASE WHEN b.custkey IS NULL THEN 'insert'
            WHEN u.custkey IS NULL THEN 'keep'
            ELSE 'update' END AS op
FROM base b FULL OUTER JOIN updates u ON b.custkey = u.custkey
""".strip()


# ---------------------------------------------------------------------------
# a_histogram — fixed-width histogram with empty buckets materialized
# ---------------------------------------------------------------------------

def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of order value (whole dollars).

    Bucket index is pure integer math — ((x−min)·20) div (max−min+1) —
    never a float floor, so boundary values land identically on both
    engines. The (min, max, count) scalar row is a broadcast cross join
    into the scan; empty buckets come from a 20-row generated spine, so
    the result shape is fixed regardless of data. pct is a single exact
    IEEE division.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.floor("o_totalprice").cast("long").alias("dollars")
    )
    stats = orders.agg(
        F.min("dollars").alias("mn"),
        F.max("dollars").alias("mx"),
        F.count("*").alias("tot"),
    )
    binned = (
        orders.crossJoin(F.broadcast(stats))
        .groupBy(
            F.expr("((dollars - mn) * 20) div (mx - mn + 1)").alias("bucket"),
        )
        .agg(F.count("*").alias("n0"))
    )
    spine = stats.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(19).cast("long"))).alias(
            "bucket"
        ),
        "tot",
    )
    return (
        spine.join(binned, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n0", F.lit(0)).alias("n"),
            (F.coalesce("n0", F.lit(0)).cast("double") / F.col("tot")).alias("pct"),
        )
    )


A_HISTOGRAM_SQL = """
WITH o AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS dollars FROM orders),
stats AS (SELECT MIN(dollars) AS mn, MAX(dollars) AS mx, COUNT(*) AS tot FROM o),
binned AS (
    SELECT ((dollars - mn) * 20) // (mx - mn + 1) AS bucket, COUNT(*) AS n0
    FROM o, stats GROUP BY 1
),
spine AS (SELECT unnest(generate_series(0, 19)) AS bucket, tot FROM stats)
SELECT s.bucket,
       COALESCE(b.n0, 0) AS n,
       CAST(COALESCE(b.n0, 0) AS DOUBLE) / s.tot AS pct
FROM spine s LEFT JOIN binned b ON s.bucket = b.bucket
""".strip()


# ---------------------------------------------------------------------------
# a_approx_sketches — HLL distinct + KLL-style quantile (rows-only)
# ---------------------------------------------------------------------------

def a_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches per event type: HLL++ distinct users
    (``approx_count_distinct``) and an approximate median
    (``percentile_approx``). rows-only by design — sketch outputs are
    implementation-defined, so there is no cross-engine oracle; the test
    computes the exact answers separately and asserts relative-error
    bounds. (Separately on purpose: mixing ``countDistinct`` with other
    aggregates forces an Expand plan that re-processes every row per
    aggregate family — measured 3.3 s vs 0.4 s for the clean sketch-only
    agg.) At 100 TB these replace exact distinct/percentile shuffles with
    fixed-size mergeable state (KB per group), the canonical
    cardinality/quantile move."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_p50"),
    )


# ---------------------------------------------------------------------------
# t_tfidf — corpus TF-IDF with ratio idf (engine-exact), top-3 terms per doc
# ---------------------------------------------------------------------------

def t_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    idf is the *ratio* form (N+1)/(df+1), not ln((N+1)/(df+1)): JVM
    ``Math.log`` and libm ``log`` disagree in the last ulp on ~6% of
    inputs (measured — only sqrt is IEEE-mandated exact), and ranking by
    ln(x) ≡ ranking by x anyway since ln is monotone, so the ratio keeps
    the result hash-identical across engines without changing the top-k.

    Shape: explode → (doc, tok) count agg → per-token doc frequency agg →
    broadcast the token-df dim back onto term rows → per-doc top-k window.
    Two shuffles (doc,tok and tok) + one window on doc — each key-partial
    aggregated; the N scalar rides a 1-row broadcast cross join.
    """
    from .analytics import tf_doc_tok_shared

    # the (doc_id, tok, tf) posting table is the session-shared
    # materialization (see analytics.tf_doc_tok_shared); N counts ALL
    # documents (incl. token-less ones), so it comes from the raw table
    tf = tf_doc_tok_shared(spark, sf_dir)
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    scored = (
        # dfreq is VOCABULARY-sized — unbounded at web scale (typos,
        # numbers keep minting tokens), so no broadcast hint; tf already
        # shuffles on tok to build dfreq and the equi-join reuses that
        # partitioning. AQE broadcasts it at small scale anyway.
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * ((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


T_TFIDF_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
           CAST(tf.tf AS DOUBLE)
               * (CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) AS tfidf
    FROM tf JOIN dfreq ON tf.tok = dfreq.tok, n
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS INTEGER) AS rk
    FROM scored
)
SELECT doc_id, tok, tf, df, tfidf, rk FROM ranked WHERE rk <= 3
""".strip()


# ---------------------------------------------------------------------------
# c_snapshot_diff — CDC between two dimension snapshots
# ---------------------------------------------------------------------------

def c_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff of two customer snapshots: emits only the
    insert/update/delete rows, never the unchanged bulk.

    The "new" snapshot is derived deterministically (key % 41 deleted,
    % 13 revalued +100, % 29 cloned as +2000000 inserts) so both engines
    rebuild identical inputs. One full-outer join on the key, row-level
    CASE, change filter — the standard snapshot-CDC shape when there is
    no log to tail; at scale both sides arrive bucketed by the key so
    the join is exchange-free (sources/io.py::write_bucketed).
    """
    old = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.floor("c_acctbal").cast("long").alias("old_bal"),
    )
    kept = old.filter(F.col("custkey") % 41 != 0).select(
        "custkey",
        (
            F.col("old_bal")
            + F.when(F.col("custkey") % 13 == 0, 100).otherwise(0)
        ).alias("new_bal"),
    )
    inserts = old.filter(F.col("custkey") % 29 == 0).select(
        (F.col("custkey") + 2_000_000).alias("custkey"),
        F.col("old_bal").alias("new_bal"),
    )
    new = kept.unionByName(inserts)

    diff = old.join(new, "custkey", "full_outer")
    return (
        diff.withColumn(
            "op",
            F.when(F.col("old_bal").isNull(), "insert")
            .when(F.col("new_bal").isNull(), "delete")
            .when(F.col("old_bal") != F.col("new_bal"), "update"),
        )
        .filter(F.col("op").isNotNull())
        .select("custkey", "op", "old_bal", "new_bal")
    )


C_SNAPSHOT_DIFF_SQL = """
WITH old AS (
    SELECT c_custkey AS custkey,
           CAST(FLOOR(c_acctbal) AS BIGINT) AS old_bal
    FROM customer
),
kept AS (
    SELECT custkey,
           old_bal + CASE WHEN custkey % 13 = 0 THEN 100 ELSE 0 END AS new_bal
    FROM old WHERE custkey % 41 <> 0
),
ins AS (
    SELECT custkey + 2000000 AS custkey, old_bal AS new_bal
    FROM old WHERE custkey % 29 = 0
),
new AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
diff AS (
    SELECT COALESCE(o.custkey, n.custkey) AS custkey,
           o.old_bal, n.new_bal,
           CASE WHEN o.custkey IS NULL THEN 'insert'
                WHEN n.custkey IS NULL THEN 'delete'
                WHEN o.old_bal <> n.new_bal THEN 'update' END AS op
    FROM old o FULL OUTER JOIN new n ON o.custkey = n.custkey
)
SELECT custkey, op, old_bal, new_bal FROM diff WHERE op IS NOT NULL
""".strip()


# ---------------------------------------------------------------------------
# t_winnow — MOSS-style winnowing document fingerprints
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window of consecutive shingle hashes; min per window selected


def t_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken): hash every
    5-token shingle, slide a w=4 window over the hash sequence, keep each
    window's minimum — the distinct selected hashes are the document's
    fingerprint set (guaranteed to share hashes with any document sharing
    a long-enough substring).

    Expressed entirely as window functions over the exploded TOKEN
    sequence — one shuffle on doc_id shared by every window in the query.
    Shingles are assembled with ``lead()`` (whole-stage-codegen'd) rather
    than a higher-order ``transform`` over slice/concat (interpreted, and
    re-evaluated per shingle index — the HOF version measured ~2× this
    stage). Output is one row per doc: fingerprint count + BIGINT
    checksum, so the result stays doc-sized however long the text.
    Shingle hash = md5-prefix bigint — the engine-portable 32-bit hash
    this repo uses wherever DuckDB must agree bit-for-bit.
    """
    from ..operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", tokenize(F.col("text"))
    )
    tok_rows = docs.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    w_seq = Window.partitionBy("doc_id").orderBy("pos")
    shingle = F.concat_ws(
        " ",
        F.col("tok"),
        *[F.lead("tok", i).over(w_seq) for i in range(1, 5)],
    )
    sh = (
        # shingle + guard computed in ONE projection (before any filter:
        # a lead() evaluated after the filter would see the reduced rowset)
        tok_rows.select(
            "doc_id",
            "pos",
            shingle.alias("__sh"),
            F.lead("tok", 4).over(w_seq).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())  # full 5-token shingles only
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5("__sh"), 1, 8), 16, 10).cast("long").alias("h"),
        )
    )
    w_cnt = Window.partitionBy("doc_id")
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    selected = (
        sh.withColumn("n_sh", F.count("*").over(w_cnt))
        .withColumn("wmin", F.min("h").over(w_win))
        .filter(F.col("pos") <= F.col("n_sh") - _WINNOW_W)  # full windows only
        .select("doc_id", "wmin")
        .distinct()
    )
    return selected.groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.sum("wmin").alias("fp_checksum"),
    )


T_WINNOW_SQL = rf"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
shl AS (
    SELECT doc_id,
           list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                          i -> array_to_string(list_slice(toks, i, i + 4), ' '))
               AS shingles
    FROM t
),
sh AS (
    SELECT doc_id,
           generate_subscripts(shingles, 1) - 1 AS pos,
           CAST(('0x' || substr(md5(unnest(shingles)), 1, 8)) AS BIGINT) AS h
    FROM shl
),
win AS (
    SELECT doc_id, pos, h,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_sh,
           MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
               AS wmin
    FROM sh
),
selected AS (
    SELECT DISTINCT doc_id, wmin FROM win WHERE pos <= n_sh - {_WINNOW_W}
)
SELECT doc_id, COUNT(*) AS n_fp, CAST(SUM(wmin) AS BIGINT) AS fp_checksum
FROM selected GROUP BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# t_bpe_tokens — regex (BPE-ish) tokenization stats vs whitespace tokens
# ---------------------------------------------------------------------------

def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Pre-tokenizer stats with the GPT-style regex split ``\w+|[^\w\s]``
    (words and punctuation as separate pieces — the standard BPE
    pre-tokenization pass) next to plain whitespace token counts: the
    piece/word ratio is the "fertility" number a training-data pipeline
    watches per source. Pure projection — map-only at any scale.

    Piece classification never inspects pieces one-by-one: the alternation
    guarantees every piece is either a ``\w+`` run or a single punct char,
    so word pieces = a second vectorized ``regexp_extract_all`` on the raw
    text and punct = total − words (a per-piece ``rlike`` filter would be
    an interpreted HOF lambda — measured ~5× this query's cost)."""
    from ..operators.layout import fan_out_scan
    from ..operators.text import tokenize

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    pieces = F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)")
    n_word_pieces = F.size(F.expr(r"regexp_extract_all(text, '\\w+', 0)"))
    words = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(pieces).alias("n_pieces"),
        n_word_pieces.alias("n_word_pieces"),
        (F.size(pieces) - n_word_pieces).alias("n_punct_pieces"),
    )


T_BPE_TOKENS_SQL = rf"""
WITH t AS (
    SELECT doc_id, {TOKS_SQL} AS toks,
           regexp_extract_all(text, '\w+|[^\w\s]') AS pieces
    FROM documents
)
SELECT doc_id,
       len(toks) AS n_words,
       len(pieces) AS n_pieces,
       len(list_filter(pieces, p -> regexp_matches(p, '^\w+$'))) AS n_word_pieces,
       len(list_filter(pieces, p -> NOT regexp_matches(p, '^\w+$'))) AS n_punct_pieces
FROM t
""".strip()


# ---------------------------------------------------------------------------
# a_grouping_sets — explicit GROUPING SETS (the third of the cube family)
# ---------------------------------------------------------------------------

def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status, priority), (status), ()) over orders —
    the hand-picked-combination member of the rollup/cube family
    (`x_rollup`/`x_cube` cover the other two). GROUPING() markers
    disambiguate rolled-up NULLs. One Expand + hash-agg, exactly the
    physical plan cube/rollup use — partials combine map-side."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.withColumn("cents", cents)
        .groupingSets(
            [
                [F.col("o_orderstatus"), F.col("o_orderpriority")],
                [F.col("o_orderstatus")],
                [],
            ],
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
    )


A_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""".strip()


# ---------------------------------------------------------------------------
# a_partial_agg_merge — incremental aggregate maintenance (merge law)
# ---------------------------------------------------------------------------

_MERGE_SPLIT = "1995-01-01"


def a_partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a pre-aggregated per-customer
    state (orders before 1995) merged with a delta batch (1995+) via a
    full-outer join of partials — the pattern that updates a 100 TB
    rollup from a day's delta WITHOUT rescanning history.

    The oracle computes the aggregate directly over ALL orders, so the
    driver's hash check verifies the algebraic merge law (count and sum
    are commutative monoids) rather than mirroring the implementation —
    the strongest kind of twin this gate can express.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    split = F.lit(_MERGE_SPLIT).cast("date")

    def partial(df: DataFrame) -> DataFrame:
        return df.withColumn("cents", cents).groupBy("o_custkey").agg(
            F.count("*").alias("n"), F.sum("cents").alias("s")
        )

    state = partial(orders.filter(F.col("o_orderdate") < split))
    delta = partial(orders.filter(F.col("o_orderdate") >= split))
    s, d = state.alias("s"), delta.alias("d")
    return s.join(d, F.col("s.o_custkey") == F.col("d.o_custkey"), "full_outer").select(
        F.coalesce(F.col("s.o_custkey"), F.col("d.o_custkey")).alias("o_custkey"),
        (
            F.coalesce(F.col("s.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("s.s"), F.lit(0)) + F.coalesce(F.col("d.s"), F.lit(0))
        ).alias("total_cents"),
    )


A_PARTIAL_AGG_MERGE_SQL = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY o_custkey
""".strip()


US_PER_DAY = 86_400_000_000

# a session is [ts, ts + value minutes) clamped to 7 days: without a cap a
# single absurd `value` row would explode the day/bucket sequence (or hit
# Spark's array-length limit) — and the SQL twins carry the same LEAST()
MAX_SESSION_US = 7 * US_PER_DAY


def _session_bounds() -> tuple:
    """(start_us, end_us) expressions of an event's session — THE
    cross-engine arithmetic contract every interval twin shares: FLOOR
    before the double→long cast (Spark truncates, DuckDB rounds), minimum
    1 µs (half-open, never empty), duration clamped to ``MAX_SESSION_US``.
    Any change here must land in every `*_SQL` twin that inlines it."""
    start = F.unix_micros(F.col("ts"))
    dur = F.least(
        F.greatest(
            F.floor(F.col("value") * 60_000_000).cast("long"), F.lit(1).cast("long")
        ),
        F.lit(MAX_SESSION_US).cast("long"),
    )
    return start, start + dur


# ---------------------------------------------------------------------------
# e_peak_concurrency — sweep-line interval overlap (peak concurrent sessions)
# ---------------------------------------------------------------------------

def e_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of concurrently-open sessions per (event_type, day).

    Each event opens a session [ts, ts + value minutes) — half-open, so a
    session ending exactly when another starts does not overlap it. The
    sweep: every session slice contributes a +1 at its (clipped) start
    and a -1 at its (clipped) end; the running sum ordered by
    (t, delta) *is* the concurrency, and its max is the answer. Ordering
    deltas before starts at the same instant implements the half-open
    semantics identically in Spark and DuckDB (both use RANGE-to-current
    default frames, so tied rows peer-aggregate the same way).

    Sessions are minutes long, so the day-sequence explode is a bounded
    ≤2× fan-out; all arithmetic stays in epoch µs with FLOOR so Spark's
    truncating double→long cast can't diverge from DuckDB's rounding one.
    """
    ev = load_table(spark, sf_dir, "events")
    start_us, end_us = _session_bounds()
    s = ev.select(
        "event_type", start_us.alias("start_us"), end_us.alias("end_us")
    )
    sliced = (
        s.withColumn(
            "day",
            F.explode(
                F.sequence(
                    F.floor(F.col("start_us") / US_PER_DAY).cast("long"),
                    F.floor((F.col("end_us") - 1) / US_PER_DAY).cast("long"),
                )
            ),
        )
        .select(
            "event_type",
            "day",
            F.greatest("start_us", F.col("day") * US_PER_DAY).alias("s_us"),
            F.least("end_us", (F.col("day") + 1) * US_PER_DAY).alias("e_us"),
        )
    )
    deltas = sliced.select(
        "event_type",
        "day",
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("e_us").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("x"),
    ).select("event_type", "day", "x.t", "x.delta")
    # Pre-aggregate coincident deltas BEFORE the sweep window: the
    # window partitions by (event_type, day) — a FIXED group count —
    # so its per-partition sort input otherwise grows linearly with
    # the events table and the whole query degrades superlinearly
    # (measured 0.95 s at sf1 → 21.5 s at sf10, where replicated
    # timestamps made every group 100× deeper). The RANGE frame
    # peer-aggregates tied (t, delta) rows anyway, so running the sum
    # over per-(t, delta) totals is value-identical while bounding the
    # window input by DISTINCT sweep points per group — one extra
    # map-side-combinable hash-agg buys an input collapse at exactly
    # the cardinality ratio coincident events create (21.5 → 1.8 s
    # warm at sf10).
    agg = deltas.groupBy("event_type", "day", "t", "delta").agg(
        F.sum("delta").alias("d")
    )
    w = Window.partitionBy("event_type", "day").orderBy("t", "delta")
    return (
        agg.withColumn("conc", F.sum("d").over(w))
        .groupBy("event_type", "day")
        .agg(F.max("conc").alias("peak_concurrency"))
        .select(
            "event_type",
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("day").cast("int")).alias(
                "day"
            ),
            "peak_concurrency",
        )
    )


E_PEAK_CONCURRENCY_SQL = """
WITH s AS (
    SELECT event_type,
           epoch_us(ts) AS start_us,
           epoch_us(ts)
             + LEAST(GREATEST(CAST(FLOOR(value * 60000000) AS BIGINT), 1),
                     604800000000) AS end_us
    FROM events
), sliced AS (
    SELECT event_type,
           g.day,
           GREATEST(start_us, g.day * 86400000000) AS s_us,
           LEAST(end_us, (g.day + 1) * 86400000000) AS e_us
    FROM s
    CROSS JOIN LATERAL (
        SELECT unnest(generate_series(
            CAST(FLOOR(start_us / 86400000000) AS BIGINT),
            CAST(FLOOR((end_us - 1) / 86400000000) AS BIGINT))) AS day
    ) g
), deltas AS (
    SELECT event_type, day, s_us AS t, 1 AS delta FROM sliced
    UNION ALL
    SELECT event_type, day, e_us AS t, -1 AS delta FROM sliced
), swept AS (
    SELECT event_type, day,
           SUM(delta) OVER (PARTITION BY event_type, day ORDER BY t, delta) AS conc
    FROM deltas
)
SELECT event_type,
       DATE '1970-01-01' + CAST(day AS INT) AS day,
       CAST(MAX(conc) AS BIGINT) AS peak_concurrency
FROM swept
GROUP BY event_type, day
""".strip()


# ---------------------------------------------------------------------------
# x_range_join_bucketed — both-sides-big range join via time-bucket explode
# ---------------------------------------------------------------------------

US_PER_HOUR = 3_600_000_000


def x_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events contained in other events' sessions — the BOTH-SIDES-BIG
    range join (`x_range_join` handles the broadcastable-hot-side case).

    Each event opens a session [ts, ts + value minutes); count, per
    session, the same user's OTHER events falling inside it. The naive
    plan is a per-user time-range self-join — quadratic in the hot user.
    The scale plan turns the range predicate into an equi-join:

    - intervals explode to the 1 h time buckets they cover (sessions are
      minutes long — a bounded ≤2× fan-out);
    - points map to exactly ONE bucket, so a contained point meets its
      interval in precisely one (user_id, bucket) cell — no post-join
      dedup;
    - the join is a plain shuffle equi-join on (user_id, bucket) with
      the [s, e) containment as a residual filter. Shuffle keys grow
      with users × hours, so parallelism scales with data — no
      broadcast, no cross product, skew amortized over buckets.

    All µs arithmetic matches `e_peak_concurrency` (FLOOR before the
    long cast — Spark truncates, DuckDB rounds).
    """
    ev = load_table(spark, sf_dir, "events")
    start_us, end_us = _session_bounds()
    base = ev.select(
        "user_id", "event_id", start_us.alias("t_us"), end_us.alias("e_us")
    )
    intervals = base.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("t_us") / US_PER_HOUR).cast("long"),
                F.floor((F.col("e_us") - 1) / US_PER_HOUR).cast("long"),
            )
        ),
    ).select("user_id", F.col("event_id").alias("anchor_id"), "t_us", "e_us", "bucket")
    points = base.select(
        "user_id",
        F.col("event_id").alias("point_id"),
        F.col("t_us").alias("p_us"),
        F.floor(F.col("t_us") / US_PER_HOUR).cast("long").alias("bucket"),
    )
    return (
        intervals.join(points, ["user_id", "bucket"])
        .filter(
            (F.col("p_us") >= F.col("t_us"))
            & (F.col("p_us") < F.col("e_us"))
            & (F.col("point_id") != F.col("anchor_id"))
        )
        .groupBy("anchor_id")
        .agg(F.count("*").alias("n_within"))
    )


X_RANGE_JOIN_BUCKETED_SQL = """
WITH base AS (
    SELECT user_id, event_id, epoch_us(ts) AS t_us,
           epoch_us(ts)
             + LEAST(GREATEST(CAST(FLOOR(value * 60000000) AS BIGINT), 1),
                     604800000000) AS e_us
    FROM events
)
SELECT a.event_id AS anchor_id, COUNT(*) AS n_within
FROM base a
JOIN base b
  ON a.user_id = b.user_id
 AND b.t_us >= a.t_us
 AND b.t_us < a.e_us
 AND b.event_id <> a.event_id
GROUP BY a.event_id
""".strip()


# ---------------------------------------------------------------------------
# c_cdc_apply — CDC change-log application (latest wins, deletes honored)
# ---------------------------------------------------------------------------

def c_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a Debezium-style change log to produce current state: the
    newest change per key wins, and keys whose newest change is a DELETE
    vanish. The events table plays the log: key = event_id mod 1000
    (many versions per key), change order = (ts, event_id) — a total
    order, so reruns agree — and 'error' events are deletes.

    The scale plan is ONE map-side-combinable aggregation:
    ``max_by(struct(payload), struct(ts, event_id))`` — partial max_by in
    the scan stage, merge in the reduce — instead of the
    row_number-over-window formulation (which adds a per-partition SORT
    of the whole log). The oracle states the same semantics with
    ROW_NUMBER, which is exactly the point: same answer, different
    physics. Deletes filter AFTER the agg: dropping delete rows first
    would resurrect the previous version of a deleted key.

    The companion `o_latest_per_key` is compaction without delete
    semantics; this is the full CDC apply.
    """
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        F.pmod(F.col("event_id"), F.lit(1000)).alias("key"),
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias(
            "op"
        ),
        "ts",
        "event_id",
        "value",
    )
    latest = log.groupBy("key").agg(
        F.max_by(
            F.struct("op", F.col("value").alias("v"), F.col("event_id").alias("eid")),
            F.struct("ts", "event_id"),
        ).alias("last"),
        F.count("*").alias("n_changes"),
    )
    return latest.filter(F.col("last.op") != "D").select(
        "key",
        F.col("last.v").alias("value"),
        F.col("last.eid").alias("last_event_id"),
        "n_changes",
    )


C_CDC_APPLY_SQL = """
WITH log AS (
    SELECT event_id % 1000 AS key,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           ts, event_id, value
    FROM events
), ranked AS (
    SELECT key, op, value, event_id,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY key) AS n_changes
    FROM log
)
SELECT key, value, event_id AS last_event_id, CAST(n_changes AS BIGINT) AS n_changes
FROM ranked
WHERE rn = 1 AND op <> 'D'
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


# ---------------------------------------------------------------------------
# e_ewma_anomaly — EWMA (λ = ½) of daily volume as an exact closed-form cumsum
# ---------------------------------------------------------------------------

EWMA_MAX_STEPS = 100  # 2^101 · Σcount must fit DECIMAL(38); see docstring


def e_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event volume with its λ=½ EWMA and a ratio anomaly flag
    (today's count more than doubles, or falls below half of, the
    smoothed history).

    The recurrence s_t = ½x_t + ½s_{t−1} (s_0 = x_0) is evaluated
    NON-iteratively via the exact closed form
    s_t = (2x_0 + Σ_{k=1..t} x_k·2^k) / 2^{t+1}: the weights are exact
    integer powers of two, the cumulative sum runs in DECIMAL(38,0),
    and the single division by 2^{t+1} is an exact double scaling —
    both engines produce bit-identical doubles, and no sequential UDF
    ever runs. 2^t is materialized as 2^⌊t/2⌋ · 2^(t−⌊t/2⌋): each half
    is ≤ 2^50 and shifts safely inside BIGINT (a single ``shiftleft``
    would silently wrap at t ≥ 63 — Spark reduces the shift distance
    mod 64), and the product is exact in DECIMAL(38,0). Valid while
    2^{t+1}·Σx stays inside DECIMAL(38) — EWMA_MAX_STEPS = 100 daily
    steps with headroom for ~1e7 total events; an in-plan
    ``raise_error`` fires LOUDLY past the cap rather than letting
    decimal overflow degrade to NULLs. Longer horizons re-base the
    exponent per ~quarter chunk and carry the chunk boundary s_t as the
    next chunk's x_0 (the recurrence is associative in that sense).

    The window orders CALENDAR DAYS (one row per day — dimension-sized,
    bounded by the horizon), never raw events; the fact-table touch is
    the one daily hash-agg.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.orderBy("d")
    t = (F.row_number().over(w) - 1).alias("t")
    stepped = daily.select("d", "cnt", t)
    # shiftleft with a COLUMN shift count only exists at the SQL-function
    # layer (the python F.shiftleft wrapper pins numBits to a literal);
    # split the exponent so neither shift can reach the BIGINT wrap at 63
    two_t = (
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(floor(t / 2) AS INT))").cast(
            "decimal(38,0)"
        )
        * F.expr(
            "shiftleft(CAST(1 AS BIGINT), t - CAST(floor(t / 2) AS INT))"
        ).cast("decimal(38,0)")
    )
    overflow_msg = F.concat(
        F.lit(
            "e_ewma_anomaly: horizon step t="
        ),
        F.col("t").cast("string"),
        F.lit(
            f" exceeds EWMA_MAX_STEPS={EWMA_MAX_STEPS}; re-base the exponent"
            " per chunk for longer horizons"
        ),
    )
    y = (
        F.when(F.col("t") > EWMA_MAX_STEPS, F.raise_error(overflow_msg).cast("decimal(38,0)"))
        .when(F.col("t") == 0, F.col("cnt").cast("decimal(38,0)") * 2)
        .otherwise(F.col("cnt").cast("decimal(38,0)") * two_t)
    )
    cum = stepped.withColumn(
        "s", F.sum(y).over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn(
        "ewma",
        F.col("s").cast("double") / F.pow(F.lit(2.0), (F.col("t") + 1).cast("double")),
    )
    prev = F.lag("ewma").over(Window.orderBy("d"))
    return cum.select(
        "d",
        "cnt",
        "ewma",
        F.when(
            prev.isNull(), F.lit(False)
        )
        .otherwise(
            (F.col("cnt").cast("double") > 2.0 * prev)
            | (F.col("cnt").cast("double") * 2.0 < prev)
        )
        .alias("anomaly"),
    )


E_EWMA_ANOMALY_SQL = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
),
stepped AS (
    SELECT d, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS INTEGER) AS t
    FROM daily
),
cum AS (
    SELECT d, cnt, t,
           SUM(CASE WHEN t > 100 THEN CAST(error('e_ewma_anomaly: horizon exceeds EWMA_MAX_STEPS=100') AS DECIMAL(38,0))
                    WHEN t = 0 THEN CAST(cnt AS DECIMAL(38,0)) * 2
                    ELSE CAST(cnt AS DECIMAL(38,0))
                         * (CAST((CAST(1 AS BIGINT) << CAST(floor(t / 2) AS INTEGER)) AS DECIMAL(38,0))
                            * CAST((CAST(1 AS BIGINT) << (t - CAST(floor(t / 2) AS INTEGER))) AS DECIMAL(38,0))) END)
             OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS s
    FROM stepped
),
e AS (
    SELECT d, cnt,
           CAST(s AS DOUBLE) / power(2.0, CAST(t + 1 AS DOUBLE)) AS ewma
    FROM cum
)
SELECT d, cnt, ewma,
       CASE WHEN LAG(ewma) OVER (ORDER BY d) IS NULL THEN FALSE
            ELSE (CAST(cnt AS DOUBLE) > 2.0 * LAG(ewma) OVER (ORDER BY d))
                 OR (CAST(cnt AS DOUBLE) * 2.0 < LAG(ewma) OVER (ORDER BY d))
       END AS anomaly
FROM e
""".strip()


GEO_RADIUS = 5.0  # meters; also the grid cell size

GEO_SPAN_MM = 1_000_000  # points live in [0, 1000) m, millimeter grid


def _coord(key: F.Column, salt: str) -> F.Column:
    """Deterministic coordinate in [0, 1000) m with mm resolution:
    md5 → first 8 hex digits → mod 10^6 mm → ÷1000. Exact: the integer
    is exact, 10^3 division is one correctly-rounded double op."""
    h = F.conv(F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    return (h.cast("long") % GEO_SPAN_MM).cast("double") / 1000.0


def geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        _coord(F.col("c_custkey"), "x").alias("x"),
        _coord(F.col("c_custkey"), "y").alias("y"),
    )


def x_geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point pairs within ``GEO_RADIUS`` meters (id_a < id_b, squared
    distance), via 3×3 grid-neighborhood equi-join + exact residual.

    Cell side == radius guarantees every qualifying pair shares a
    (home, neighbor) cell combination exactly once: the left row is
    exploded to the 9 cells around its home, the right row sits at its
    home cell — a pair is found iff b's home is in a's neighborhood
    (always true at dist ≤ r√2 ≥ r), and found ONCE because b has one
    home. Shuffle key = cell id — parallelism grows with the occupied
    area, hot cells bounded by density × r²."""
    pts = geo_points(spark, sf_dir)
    cell_x = F.floor(F.col("x") / GEO_RADIUS).cast("long")
    cell_y = F.floor(F.col("y") / GEO_RADIUS).cast("long")
    homed = pts.select("id", "x", "y", cell_x.alias("cx"), cell_y.alias("cy"))
    probe = (
        homed.select(
            "id", "x", "y",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
            "cx", "cy",
        )
        .select(
            "id", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"),
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
            "cy",
        )
        .select("id", "x", "y", "cx", (F.col("cy") + F.col("dy")).alias("cy"))
    )
    a, b = probe.alias("a"), homed.alias("b")
    # explicit multiplies, not **2: pow() routes through Math.pow and is
    # not guaranteed bit-equal to x*x, while * is IEEE-exact both sides
    ddx = F.col("a.x") - F.col("b.x")
    ddy = F.col("a.y") - F.col("b.y")
    dist2 = ddx * ddx + ddy * ddy
    return (
        a.join(
            b,
            (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dist2.alias("dist2"),
        )
        .filter(F.col("dist2") <= F.lit(GEO_RADIUS * GEO_RADIUS))
        .orderBy("id_a", "id_b")
    )


X_GEO_GRID_JOIN_SQL = f"""
WITH pts AS (
    SELECT c_custkey AS id,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS x,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS y
    FROM customer
),
homed AS (
    SELECT id, x, y,
           CAST(FLOOR(x / {GEO_RADIUS}) AS BIGINT) AS cx,
           CAST(FLOOR(y / {GEO_RADIUS}) AS BIGINT) AS cy
    FROM pts
),
probe AS (
    SELECT id, x, y, cx + dx.g AS cx, cy + dy.g AS cy
    FROM homed,
         (SELECT unnest(generate_series(-1, 1)) AS g) dx,
         (SELECT unnest(generate_series(-1, 1)) AS g) dy
)
SELECT a.id AS id_a, b.id AS id_b,
       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
FROM probe a
JOIN homed b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= {GEO_RADIUS * GEO_RADIUS}
ORDER BY id_a, id_b
""".strip()


# ---------------------------------------------------------------------------
# x_geo_knn — bounded-radius k-nearest-neighbors over the grid
# ---------------------------------------------------------------------------

KNN_K = 3


def x_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each point's K nearest neighbors AMONG candidates in its 3×3 cell
    ring — bounded-radius kNN, the form spatial kNN takes at scale
    (unbounded exact kNN needs expanding-ring search; bounding the
    radius at one cell ring keeps it a single equi-join and is the
    standard "neighbors within max distance" contract). Ranking is a
    window PARTITIONED BY the query point — candidate lists are
    ring-occupancy-bounded, so no hot partition. Deterministic ties:
    (dist2, neighbor id)."""
    from pyspark.sql import Window

    pts = geo_points(spark, sf_dir)
    cell_x = F.floor(F.col("x") / GEO_RADIUS).cast("long")
    cell_y = F.floor(F.col("y") / GEO_RADIUS).cast("long")
    homed = pts.select("id", "x", "y", cell_x.alias("cx"), cell_y.alias("cy"))
    probe = (
        homed.select(
            "id", "x", "y",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"),
            "cx", "cy",
        )
        .select(
            "id", "x", "y",
            (F.col("cx") + F.col("dx")).alias("cx"),
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
            "cy",
        )
        .select("id", "x", "y", "cx", (F.col("cy") + F.col("dy")).alias("cy"))
    )
    a, b = probe.alias("a"), homed.alias("b")
    ddx = F.col("a.x") - F.col("b.x")
    ddy = F.col("a.y") - F.col("b.y")
    cands = a.join(
        b,
        (F.col("a.cx") == F.col("b.cx"))
        & (F.col("a.cy") == F.col("b.cy"))
        & (F.col("a.id") != F.col("b.id")),
    ).select(
        F.col("a.id").alias("id"),
        F.col("b.id").alias("neighbor_id"),
        (ddx * ddx + ddy * ddy).alias("dist2"),
    )
    w = Window.partitionBy("id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= KNN_K)
        .orderBy("id", "rk")
    )


X_GEO_KNN_SQL = f"""
WITH pts AS (
    SELECT c_custkey AS id,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS x,
           CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 8))
                AS BIGINT) % {GEO_SPAN_MM} AS DOUBLE) / 1000.0 AS y
    FROM customer
),
homed AS (
    SELECT id, x, y,
           CAST(FLOOR(x / {GEO_RADIUS}) AS BIGINT) AS cx,
           CAST(FLOOR(y / {GEO_RADIUS}) AS BIGINT) AS cy
    FROM pts
),
probe AS (
    SELECT id, x, y, cx + dx.g AS cx, cy + dy.g AS cy
    FROM homed,
         (SELECT unnest(generate_series(-1, 1)) AS g) dx,
         (SELECT unnest(generate_series(-1, 1)) AS g) dy
),
cands AS (
    SELECT a.id AS id, b.id AS neighbor_id,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
    FROM probe a
    JOIN homed b ON a.cx = b.cx AND a.cy = b.cy AND a.id <> b.id
),
ranked AS (
    SELECT id, neighbor_id, dist2,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY id ORDER BY dist2 ASC, neighbor_id ASC
           ) AS INTEGER) AS rk
    FROM cands
)
SELECT id, neighbor_id, dist2, rk
FROM ranked WHERE rk <= {KNN_K}
ORDER BY id, rk
""".strip()


def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 6 BPE merges from a deterministic 1-in-11 document sample
    (operators/bpe.py) — tokenizer TRAINING, the step upstream of every
    token-count/seq-pack entry in the catalog. Tokenizer trainers sample
    at scale (merge statistics converge long before the corpus ends), so
    the sample IS the production shape, not a shortcut. rows-only:
    the merge loop is iterative (argmax per round) — not one SQL
    statement; exactness is pinned by a pure-Python reference fold in
    tests/test_bpe.py."""
    from ..operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    return bpe_train(docs, n_merges=6)
