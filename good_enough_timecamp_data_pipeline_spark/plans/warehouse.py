"""Multi-way-join warehouse analytics (TPC-H-shaped), event attribution
and Markov transitions, and distribution statistics (``a_gini``,
``a_benford``, ``a_ks_test``, ``a_ks_test_binned``, ``a_chi_square``,
``a_source_lang_entropy``).

The reference's reports are 2-3-way star joins over its own fact
(SAMPLE-REPORTS.md); these queries exercise the relational core the way a
warehouse actually does — 3-to-6-way joins where join ORDER and build-side
choice decide the runtime, left entirely to Catalyst/AQE (no hints except
provably-dimension broadcasts):

- ``q_shipping_priority`` (TPC-H Q3 shape): selective dim filter →
  fact join → grouped top-k.
- ``q_local_supplier_volume`` (TPC-H Q5 shape): 6-way snowflake with a
  same-nation join predicate BETWEEN two dimension branches.
- ``e_attribution``: last-touch marketing attribution — every purchase
  credited to the user's latest preceding non-purchase event within a
  horizon; the event-log cousin of the as-of join (operators/asof.py).

All money sums run in integer cents (the a_groupsum_pricing rule) so the
DuckDB twins hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.order import global_cumsum_multi, pin_with_range_bucket
from .common import file_size_row_bound
from .testdata import load_table

# ---------------------------------------------------------------------------
# q_shipping_priority — TPC-H Q3 shape: filter → 3-way join → top-k
# ---------------------------------------------------------------------------

Q3_SEGMENT_MOD = 3  # stand-in for c_mktsegment: customers with key%5==3
Q3_CUTOFF = "1996-01-01"


Q3_TOP_K = 10


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-revenue priority list: for a customer segment and a date
    cutoff, the top orders by discounted revenue of their pre-cutoff
    lineitems. The classic selective-dimension → fact pattern.

    Scale shape: the customer filter prunes ~1/5 of a DIMENSION, so that
    side broadcasts (AQE decides — the segment size is data-dependent and
    a mandatory hint would be the r3 retention-cohorts bug again); orders
    and lineitem join shuffle-to-shuffle on their natural keys; the
    grouped top-k is a hash-agg followed by TakeOrdered, never a global
    window. Predicate pushdown carries both date cutoffs into the
    parquet scans (asserted in tests/test_plans.py patterns).
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 5 == Q3_SEGMENT_MOD
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_CUTOFF).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.sum(
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev_cents.alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(Q3_TOP_K)
    )


Q_SHIPPING_PRIORITY_SQL = f"""
SELECT l.l_orderkey,
       o.o_orderdate,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey % 5 = {Q3_SEGMENT_MOD}
  AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue_cents DESC, l.l_orderkey ASC
LIMIT {Q3_TOP_K}
""".strip()


# ---------------------------------------------------------------------------
# q_local_supplier_volume — TPC-H Q5 shape: 6-way snowflake join
# ---------------------------------------------------------------------------


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation from orders where the SUPPLIER sits in the same
    nation as the CUSTOMER — the 6-way snowflake (region → nation →
    {customer, supplier} → orders → lineitem) whose distinguishing
    feature is the cross-branch equality ``c_nationkey = s_nationkey``.

    Scale shape: region/nation/supplier/customer are dimensions (AQE
    broadcasts the small ones); the only big-big join is
    lineitem ⋈ orders on orderkey. The same-nation predicate lands on
    the customer-supplier pair AFTER both are attached, as a cheap
    post-join filter on broadcast columns — Catalyst pushes it into the
    join condition. Join re-order is left to the optimizer: with
    statistics it starts from the filtered-smallest branch.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.sum(
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(rev_cents.alias("revenue_cents"), F.count("*").alias("n_lineitems"))
        .orderBy("r_name", F.desc("revenue_cents"), "n_name")
    )


Q_LOCAL_SUPPLIER_VOLUME_SQL = """
SELECT r.r_name,
       n.n_name,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY r.r_name, n.n_name
ORDER BY r.r_name, revenue_cents DESC, n.n_name
""".strip()


# ---------------------------------------------------------------------------
# e_attribution — last-touch attribution over the event log
# ---------------------------------------------------------------------------

ATTRIB_HORIZON_US = 7 * 24 * 3600 * 1_000_000  # 7 days in microseconds


def e_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the same
    user's LATEST preceding non-purchase event within 7 days (ties on
    timestamp broken by event_id); purchases with no touch in the
    horizon land in the 'direct' bucket. Output: credited counts and
    integer-cents revenue per touch type.

    Scale shape: this is the as-of join expressed as a per-user window —
    ONE shuffle on user_id, then a running 'last touch' computed with
    last_value(ignoreNulls) over the user's time-ordered events; no
    self-join, no interval explode. The window partitions by user (tiny
    per-user event lists), never globally. The horizon check is integer
    microseconds — no timezone or FP boundary.
    """
    ev = load_table(spark, sf_dir, "events")
    typed = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.struct("t_us", "event_type"))
    attributed = (
        typed.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "value_cents",
            F.when(
                F.col("last_touch").isNotNull()
                & (F.col("t_us") - F.col("last_touch.t_us") <= ATTRIB_HORIZON_US),
                F.col("last_touch.event_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("touch_type"),
        )
    )
    return attributed.groupBy("touch_type").agg(
        F.count("*").alias("n_purchases"),
        F.sum("value_cents").alias("revenue_cents"),
    )


E_ATTRIBUTION_SQL = f"""
WITH typed AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS t_us,
           CAST(FLOOR(value * 100) AS BIGINT) AS value_cents
    FROM events
),
tagged AS (
    SELECT *,
           LAST_VALUE(
               CASE WHEN event_type <> 'purchase'
                    THEN struct_pack(t_us := t_us, event_type := event_type)
               END IGNORE NULLS
           ) OVER (
               PARTITION BY user_id ORDER BY t_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS last_touch
    FROM typed
)
SELECT CASE WHEN last_touch IS NOT NULL
             AND t_us - last_touch.t_us <= {ATTRIB_HORIZON_US}
            THEN last_touch.event_type ELSE 'direct' END AS touch_type,
       COUNT(*) AS n_purchases,
       CAST(SUM(value_cents) AS BIGINT) AS revenue_cents
FROM tagged
WHERE event_type = 'purchase'
GROUP BY 1
""".strip()


# ---------------------------------------------------------------------------
# e_markov_transitions — first-order event-type transition matrix
# ---------------------------------------------------------------------------


def e_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types per user
    journey — the sequence-model statistic behind next-action prediction
    and funnel-anomaly detection. Output: (prev_type, next_type, n,
    share_ppm) where share_ppm is the integer-ppm row-conditional
    probability P(next|prev).

    Scale shape: ONE shuffle on user_id for the per-user lag window
    (tiny per-user partitions), then a combinable hash-agg on the 5×5
    type-pair space; the conditional share divides two exact longs
    inside a B-row table. No self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("prev_type"), "next_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("CAST((n * 1000000) DIV t AS BIGINT)").alias("share_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


E_MARKOV_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type AS prev_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
),
totals AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS t FROM pairs GROUP BY 1)
SELECT p.prev_type, p.next_type, p.n,
       CAST((p.n * 1000000) // totals.t AS BIGINT) AS share_ppm
FROM pairs p JOIN totals ON p.prev_type = totals.prev_type
ORDER BY p.prev_type, p.next_type
""".strip()


# ---------------------------------------------------------------------------
# a_gini — Gini concentration index over customer revenue
# ---------------------------------------------------------------------------


def a_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers — the
    single-number companion to w_pareto_share's curve (0 = equal, →1 =
    winner-take-all); the statistic mixture designers track when one
    source starts dominating a corpus.

    Formula (sorted ascending, 1-based rank i):
        G = (2·Σ i·xᵢ) / (n·Σ xᵢ) − (n+1)/n
    Scale shape: revenue in exact integer cents; the global rank comes
    from operators/order.py::global_row_number (bucketed range partition
    + per-bucket window + broadcast offsets — no single-partition
    window); Σ i·xᵢ accumulates in DECIMAL(38,0) so a billion-customer
    fact cannot overflow; the two final divisions are double ops on
    exactly-representable inputs, bit-identical cross-engine.
    """
    from ..operators.order import (
        global_row_number,
        packed_sort_key,
        pin_with_range_bucket,
    )

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("x")
    )
    # DRIVER tier (round 11, the a_mad_outliers discipline): customers
    # are a DIMENSION — when the customer table's footer row count fits
    # the cap, ONE job collects the per-customer revenue table, the
    # rank-weighted sum runs in exact Python integers, and the scalars
    # feed back through the SAME final Spark expressions (all casts,
    # divisions and the ROUND happen JVM-side — bit-identical to the
    # distributed tier, pytest-pinned). 3 jobs → 1.
    from .common import file_size_row_bound

    cust_rows = file_size_row_bound(sf_dir, table="customer")
    if cust_rows is not None and cust_rows <= _GINI_DRIVER_MAX_ROWS:
        from decimal import Decimal

        vals = sorted(
            (int(r["x"]), int(r["o_custkey"])) for r in rev.collect()
        )
        if vals:
            n = len(vals)
            s = sum(x for x, _ in vals)
            rw = sum(i * x for i, (x, _) in enumerate(vals, start=1))
            stats = spark.range(1).select(
                F.lit(n).cast("long").alias("n_customers"),
                F.lit(Decimal(s)).cast("decimal(38,0)").alias("sum_cents"),
                F.lit(Decimal(rw)).cast("decimal(38,0)").alias("rank_weighted"),
            )
            return _gini_finalize(stats)
    # unique ascending sort key: (x, custkey) packed into one long,
    # GUARDED against silent wrap (x >= 2^39 cents or custkey >= 2^24
    # raise instead of corrupting the rank — round-13 VERDICT item 2);
    # pin the customer-sized table once, with the bucket-bounds agg as
    # the materializing action — totals and main rank pass then read
    # cached blocks instead of re-running the orders scan + groupBy
    # (compressed table only, never the fact)
    key = packed_sort_key(F.col("x"), F.col("o_custkey"), 24, "a_gini")
    keyed, bucket = pin_with_range_bucket(
        rev.withColumn("__k", key), F.col("__k")
    )
    ranked = global_row_number(keyed, F.col("__k"), bucket, out="i")
    return _gini_finalize(
        ranked.agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sum_cents"),
            F.sum(
                (F.col("i") * F.col("x")).cast("decimal(38,0)")
            ).alias("rank_weighted"),
        )
    )


# Collect the per-customer revenue table when the customer DIMENSION's
# footer row count fits (~262k (long, long) rows ≈ 4 MB) — dims don't
# grow with the fact, so this is the common case at any corpus size;
# the distributed rank path remains for genuinely huge key spaces.
_GINI_DRIVER_MAX_ROWS = 262_144


def _gini_finalize(stats: DataFrame) -> DataFrame:
    """Final Gini expression over a 1-row (n_customers, sum_cents,
    rank_weighted) frame — shared verbatim by both tiers."""
    return stats.select(
        "n_customers",
        F.col("sum_cents").cast("long").alias("sum_cents"),
        # each factor is cast to double BEFORE multiplying (both engines
        # then round the exact product of two exact doubles identically;
        # a long×long product would overflow past ~10^18 under ANSI)
        F.round(
            (F.lit(2.0) * F.col("rank_weighted").cast("double"))
            / (
                F.col("n_customers").cast("double")
                * F.col("sum_cents").cast("double")
            )
            - (F.col("n_customers") + 1).cast("double") / F.col("n_customers"),
            6,
        ).alias("gini"),
    )


A_GINI_SQL = """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT x, ROW_NUMBER() OVER (ORDER BY x * (1 << 24) + o_custkey) AS i
    FROM rev
)
SELECT COUNT(*) AS n_customers,
       CAST(SUM(x) AS BIGINT) AS sum_cents,
       ROUND(
           (2.0 * CAST(SUM(CAST(i AS HUGEINT) * x) AS DOUBLE))
           / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
           - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*),
           6
       ) AS gini
FROM ranked
""".strip()


# ---------------------------------------------------------------------------
# q_nation_trade — TPC-H Q7 shape: bilateral trade volume between two nations
# ---------------------------------------------------------------------------

TRADE_NATION_A = "NATION_1"
TRADE_NATION_B = "NATION_2"


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral supplier-nation ↔ customer-nation revenue by ship year
    (the TPC-H Q7 "volume shipping" shape): lineitem ⋈ orders ⋈ customer
    ⋈ supplier plus the nation dim joined in TWO roles, restricted to
    one nation pair in either direction.

    Scale shape: both nation roles broadcast (25-row dim) with the
    IN-pair predicate pushed into each role's scan BEFORE the join; the
    pair-direction condition is a residual on the already-joined row.
    The fact side shuffles only on its natural keys (orderkey/custkey/
    suppkey) and carries no hint — AQE picks sides. Revenue accumulates
    in exact integer cents (the a_gini/Q3 discipline) so a trillion-row
    SUM hashes identically cross-engine."""
    names = [TRADE_NATION_A, TRADE_NATION_B]
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.filter(F.col("n_name").isin(names)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(names)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(n1, supp["s_nationkey"] == F.col("n1_key"))
        .join(n2, cust["c_nationkey"] == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))  # both directions
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_cents"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q_NATION_TRADE_SQL = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
  AND n2.n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""".strip()


# ---------------------------------------------------------------------------
# a_benford — first-digit distribution vs Benford's law (fraud/quality gate)
# ---------------------------------------------------------------------------

import math as _math

#: exact double literals computed ONCE in python and inlined into BOTH
#: engines — log10 is not cross-engine bit-stable, a shared literal is
_BENFORD_EXPECTED = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def a_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals against
    Benford's law — the classic scale-free fraud/synthetic-data smell
    test for financial facts.

    Exactness: the first digit comes from the INTEGER cents string
    (substring of a BIGINT's decimal rendering — identical across
    engines; floating log10 extraction would wobble at power-of-ten
    boundaries), and the expected shares are python-computed literals
    inlined into both engines. One fact hash-agg; the 9-digit table is
    expression math after."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    counts = (
        o.select(cents.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = Window.partitionBy()  # 9-row frame: bounded, not fact-sized
    expected = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _BENFORD_EXPECTED]),
            F.array(*[F.lit(v) for v in _BENFORD_EXPECTED.values()]),
        ),
        F.col("digit"),
    )
    return (
        counts.withColumn("share", F.col("n") / F.sum("n").over(total))
        .withColumn("expected", expected)
        .withColumn("abs_dev", F.abs(F.col("share") - F.col("expected")))
        .orderBy("digit")
    )


_BENFORD_CASE = " ".join(
    f"WHEN {k} THEN {v!r}" for k, v in _BENFORD_EXPECTED.items()
)

A_BENFORD_SQL = f"""
WITH counts AS (
    SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    WHERE cents > 0
    GROUP BY 1
)
SELECT digit, n,
       n / CAST(SUM(n) OVER () AS DOUBLE) AS share,
       CASE digit {_BENFORD_CASE} END AS expected,
       ABS(n / CAST(SUM(n) OVER () AS DOUBLE)
           - CASE digit {_BENFORD_CASE} END) AS abs_dev
FROM counts
ORDER BY digit
""".strip()


# ---------------------------------------------------------------------------
# a_ks_test — exact two-sample Kolmogorov–Smirnov drift statistic
# ---------------------------------------------------------------------------

KS_TYPE_A = "view"

KS_TYPE_B = "click"

KS_ALPHA_C = 1.358  # c(α) for α = 0.05 in the large-sample KS rejection rule


_KS_EXACT_DISTINCT_MAX = 2_000_000


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

    Cardinality guard (sf10 probe: the distinct-value histogram
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
    bound = file_size_row_bound(sf_dir)
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
    # DRIVER tier (the a_mad_outliers discipline): when the
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
    an sf10 probe measured that histogram growing with the
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
# a_chi_square — Pearson χ² independence: event type × weekend
# ---------------------------------------------------------------------------


def a_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row χ² independence test between event_type and
    weekend/weekday — "does the event mix shift on weekends" as a
    statistic instead of an eyeball.

    The cell difference o·N − r·c stays in exact 128-bit integers
    (Spark DECIMAL(38,0) / DuckDB HUGEINT — room for a trillion-row
    table); squaring and dividing run in correctly-rounded double, so
    both engines emit the same bits. The ≤ (types × 2)-term sum folds
    in (event_type, wk) order.

    Plan shape: the fact is scanned ONCE into the partial/final
    contingency hash-agg, then the whole enum-sized table collects into
    one sorted array row and margins/N/dof/χ² are nested higher-order
    folds over that array — zero joins, zero fact re-scans (the naive
    cells→margins→totals join formulation re-scanned the fact 5×:
    derived aggregates over an unmaterialized frame don't hit
    ReuseExchange because each consumer's partial-agg differs).
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
        )
        .groupBy("event_type", "wk")
        .agg(F.count("*").cast("long").alias("o"))
    )
    one = cells.agg(
        F.array_sort(F.collect_list(F.struct("event_type", "wk", "o"))).alias("arr")
    )
    arr = F.col("arr")
    long0 = F.lit(0).cast("long")
    n_expr = F.aggregate(arr, long0, lambda a, x: a + x["o"])
    dec = "decimal(38,0)"

    def margin(x, field):
        # row/column total for x's category: an inner fold over the same
        # tiny array (nested lambda — x is captured from the outer scope)
        return F.aggregate(
            arr,
            long0,
            lambda a, y: a
            + F.when(y[field] == x[field], y["o"]).otherwise(long0),
        )

    def term(x):
        num = (
            x["o"].cast(dec) * F.col("n")
            - margin(x, "event_type").cast(dec) * margin(x, "wk")
        ).cast("double")
        return (num * num) / (
            F.col("n").cast("double")
            * margin(x, "event_type").cast("double")
            * margin(x, "wk").cast("double")
        )

    return (
        one.withColumn("n", n_expr)
        .withColumn(
            "dof",
            (
                (F.size(F.array_distinct(F.transform(arr, lambda x: x["event_type"]))) - 1)
                * (F.size(F.array_distinct(F.transform(arr, lambda x: x["wk"]))) - 1)
            ).cast("int"),
        )
        .withColumn("chi2", F.aggregate(arr, F.lit(0.0), lambda a, x: a + term(x)))
        .select("n", "dof", "chi2")
    )


A_CHI_SQUARE_SQL = """
WITH cells AS (
    SELECT event_type,
           CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wk,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
rows_ AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cols_ AS (SELECT wk, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
terms AS (
    SELECT cells.event_type, cells.wk,
           (CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE)
            * CAST(CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) AS term
    FROM cells
    JOIN rows_ USING (event_type)
    JOIN cols_ USING (wk)
    CROSS JOIN tot
)
SELECT MIN(n) AS n,
       CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT wk) - 1)
            AS INTEGER) AS dof,
       list_reduce(
           list_transform(list(term ORDER BY event_type, wk), x -> x),
           (a, b) -> a + b
       ) AS chi2
FROM terms CROSS JOIN tot
""".strip()


# ---------------------------------------------------------------------------
# a_source_lang_entropy — language-mix diversity per source
# ---------------------------------------------------------------------------


def a_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix entropy in nats:
    H = ln(n) − (Σ_l c_l·ln c_l)/n over the source's language counts.

    The fact-table touch is one (source, lang) hash-agg; everything
    after runs on the (source × lang) dimension. The Σ c·ln c fold is
    ordered by language so both engines fold identically — but ln()
    itself is NOT correctly rounded (JVM Math.log and libm disagree by
    1 ulp on some inputs, observed at src0/sf0.01), so the final
    statistic rounds to 4 decimals, the t_token_kl_drift convention.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("c"))
    return (
        cells.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.count("*").cast("int").alias("n_langs"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("lang", "c"))),
                F.lit(0.0),
                lambda acc, x: acc
                + x["c"].cast("double") * F.log(x["c"].cast("double")),
            ).alias("_fold"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            F.round(
                F.log(F.col("n_docs").cast("double"))
                - F.col("_fold") / F.col("n_docs").cast("double"),
                4,
            ).alias("entropy"),
        )
    )


A_SOURCE_LANG_ENTROPY_SQL = """
WITH cells AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2
),
g AS (
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS INTEGER) AS n_langs,
           list_reduce(
               list_transform(list(c ORDER BY lang, c),
                              x -> CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))),
               (a, b) -> a + b
           ) AS fold
    FROM cells GROUP BY source
)
SELECT source, n_docs, n_langs,
       ROUND(ln(CAST(n_docs AS DOUBLE)) - fold / CAST(n_docs AS DOUBLE), 4)
         AS entropy
FROM g
""".strip()
