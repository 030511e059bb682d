"""Event-analytics and pipeline-hygiene queries.

Families on top of the reference surface (SURVEY §2.4/§2.6 free extras and
the §2.11 training-data north star): cohort retention, funnel conversion,
ordered event paths, rolling event-time windows (RANGE frames) and rank
distributions, SCD2 dimension build and lookup, global token
frequencies, data-quality expectation checks, PII scrubbing, grouped
collect, and NTILE bucketing. Every query has a DuckDB oracle twin and
keeps arithmetic exact (bigint cents, IEEE-exact single divisions,
deterministic tie-breaks) so the driver's value-hash matches.

Scale notes are per-query docstrings; the common themes:
- one shuffle per groupBy/window on the natural key, nothing driver-side;
- broadcast only dimension-sized sides;
- sequences (SCD2, funnel) stay window/join-shaped — no collect-and-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import shared
from .advanced import US_PER_DAY
from .testdata import load_table


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------

def e_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle over events.

    cohort_day = the user's first-seen date; one row per (cohort_day,
    day_offset) with the distinct users active at that offset. Shuffles:
    min-ts per user (map-side combinable), the user_id equi-join, then the
    distinct count on the (cohort, offset) pair. The first-seen side is
    USER-cardinality — it grows with the corpus, so it is deliberately NOT
    broadcast (billions of users at 100 TB would OOM every executor);
    both sides shuffle on user_id and AQE may still pick a broadcast at
    small scale from runtime stats.
    """
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    return (
        events.select("user_id", F.to_date("ts").alias("activity_day"))
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("activity_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


E_RETENTION_COHORTS_SQL = """
WITH first_seen AS (
    SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
    FROM events GROUP BY user_id
)
SELECT f.cohort_day,
       CAST(CAST(e.ts AS DATE) - f.cohort_day AS INTEGER) AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_seen f ON e.user_id = f.user_id
GROUP BY 1, 2
""".strip()


# ---------------------------------------------------------------------------
# funnel conversion
# ---------------------------------------------------------------------------

def e_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users whose first qualifying
    event at each stage strictly follows the previous stage's.

    min-after-a-threshold is NOT derivable from per-type mins, so each
    stage is its own filtered agg joined to the previous stage's users —
    three key-partitioned aggs, never an all-events window. Stage
    cardinality only shrinks, so stages 2/3 run on filtered joins.
    """
    events = load_table(spark, sf_dir, "events")

    s1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        events.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(s1, "1_view")
        .unionByName(stage(s2, "2_click_after_view"))
        .unionByName(stage(s3, "3_purchase_after_click"))
    )


E_FUNNEL_STAGES_SQL = """
WITH s1 AS (
    SELECT user_id, MIN(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, MIN(e.ts) AS t_click
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts > s1.t_view
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
    GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM s1
UNION ALL
SELECT '2_click_after_view', COUNT(*) FROM s2
UNION ALL
SELECT '3_purchase_after_click', COUNT(*) FROM s3
""".strip()


# ---------------------------------------------------------------------------
# rolling event-time window (RANGE frame)
# ---------------------------------------------------------------------------

def w_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 7-day order value (RANGE frame on day number).

    The frame is a *value* range (6 preceding days), not a row count —
    same-day orders all see the same window, which a ROWS frame would get
    wrong. One shuffle on the customer key; day arithmetic stays integral
    (days since epoch date), cents stay bigint.
    """
    orders = load_table(spark, sf_dir, "orders")
    day_num = F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            day_num.alias("day_num"),
            cents.alias("cents"),
        )
        .withColumn("rolling_cents", F.sum("cents").over(w))
        .withColumn("rolling_orders", F.count("*").over(w))
    )


W_ROLLING_7D_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS INTEGER) AS day_num,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
           AS rolling_cents,
       COUNT(*) OVER w AS rolling_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS INTEGER)
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""".strip()


# ---------------------------------------------------------------------------
# SCD2 dimension build
# ---------------------------------------------------------------------------

def j_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event log.

    Tracks each user's event_type as the versioned attribute: consecutive
    duplicates collapse, each change opens a version with
    (valid_from, valid_to) where valid_to is the next change's timestamp
    (NULL = current). Two windows over the same (user, ts, event_id)
    ordering — one partitioned sort, reused by Spark for both.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = events.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn("prev_type", F.lag("event_type").over(w))
    changes = marked.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


J_SCD2_DIM_SQL = """
WITH marked AS (
    SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts ASC, event_id ASC) AS prev_type
    FROM events
),
changes AS (
    SELECT user_id, ts, event_id, event_type FROM marked
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS valid_to
FROM changes
""".strip()


def e_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel: per view, the first click within 1 hour, then
    the first purchase within 1 hour of that click. Stricter than the
    ordered funnel (`e_funnel_stages`): each transition must land inside
    the window, which is how conversion attribution is actually defined.

    Shape: two as-of-style joins — equi on user_id (carries the shuffle),
    the time window as a residual predicate, min-agg per anchor event to
    pick the FIRST qualifier. Fan-out inside a (user, window) pair is
    bounded by per-user event rate, and stages only shrink. Never an
    all-events window function, never a time-range cross join.
    """
    events = load_table(spark, sf_dir, "events")
    hour = F.expr("INTERVAL 1 HOUR")

    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("_cu"), F.col("ts").alias("c_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("_pu"), F.col("ts").alias("p_ts")
    )

    v2c = (
        views.join(
            clicks,
            (F.col("user_id") == F.col("_cu"))
            & (F.col("c_ts") > F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + hour),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("c_ts").alias("first_c"))
    )
    c2p = (
        v2c.join(
            purchases,
            (F.col("user_id") == F.col("_pu"))
            & (F.col("p_ts") > F.col("first_c"))
            & (F.col("p_ts") <= F.col("first_c") + hour),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("p_ts").alias("first_p"))
    )
    return (
        views.agg(F.count("*").alias("n")).select(F.lit("1_views").alias("stage"), "n")
        .unionByName(
            v2c.agg(F.count("*").alias("n")).select(
                F.lit("2_click_within_1h").alias("stage"), "n"
            )
        )
        .unionByName(
            c2p.agg(F.count("*").alias("n")).select(
                F.lit("3_purchase_within_1h").alias("stage"), "n"
            )
        )
    )


E_WINDOWED_FUNNEL_SQL = """
WITH views AS (
    SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
),
clicks AS (
    SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
),
v2c AS (
    SELECT v.user_id, v.v_ts, MIN(c.c_ts) AS first_c
    FROM views v JOIN clicks c
      ON c.user_id = v.user_id
     AND c.c_ts > v.v_ts
     AND c.c_ts <= v.v_ts + INTERVAL 1 HOUR
    GROUP BY v.user_id, v.v_ts
),
c2p AS (
    SELECT x.user_id, x.v_ts, MIN(p.p_ts) AS first_p
    FROM v2c x JOIN purchases p
      ON p.user_id = x.user_id
     AND p.p_ts > x.first_c
     AND p.p_ts <= x.first_c + INTERVAL 1 HOUR
    GROUP BY x.user_id, x.v_ts
)
SELECT '1_views' AS stage, COUNT(*) AS n FROM views
UNION ALL
SELECT '2_click_within_1h', COUNT(*) FROM v2c
UNION ALL
SELECT '3_purchase_within_1h', COUNT(*) FROM c2p
""".strip()


def j_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each probe (a fact with its own
    event time) joins the SCD2 version valid AT that time — the join every
    as-was report runs against a versioned dimension.

    Scale shape: an equi-join on the dimension KEY (user_id) carries the
    shuffle; the validity interval is a residual predicate evaluated
    inside each key's partition — never a time-range cross join. Both
    sides can be arbitrarily large; AQE handles key skew. Probes are
    events shifted +30 min so they land mid-interval and past the final
    version (exercising the NULL-valid_to current-row arm), not on the
    interval boundaries they themselves created."""
    dim = j_scd2_dim(spark, sf_dir)
    probes = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 0)
        .select(
            F.col("event_id").alias("probe_id"),
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("probe_ts"),
        )
    )
    d = dim.select(
        F.col("user_id").alias("_u"), "event_type", "valid_from", "valid_to"
    )
    return (
        probes.join(
            d,
            (F.col("user_id") == F.col("_u"))
            & (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("probe_ts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "probe_id",
            "user_id",
            "probe_ts",
            F.col("event_type").alias("version_type"),
            F.col("valid_to").isNull().cast("int").alias("is_current"),
        )
    )


J_SCD2_LOOKUP_SQL = f"""
WITH dim AS ({J_SCD2_DIM_SQL}),
probes AS (
    SELECT event_id AS probe_id, user_id,
           ts + INTERVAL 30 MINUTES AS probe_ts
    FROM events WHERE event_id % 7 = 0
)
SELECT p.probe_id, p.user_id, p.probe_ts,
       d.event_type AS version_type,
       CAST(d.valid_to IS NULL AS INTEGER) AS is_current
FROM probes p
LEFT JOIN dim d
  ON d.user_id = p.user_id
 AND d.valid_from <= p.probe_ts
 AND (d.valid_to IS NULL OR p.probe_ts < d.valid_to)
""".strip()


# ---------------------------------------------------------------------------
# global token frequencies
# ---------------------------------------------------------------------------

@shared.artifact("tf_doc_tok_ws")
def tf_doc_tok_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, tf) term-frequency table over the whitespace-token
    stream of ``documents``, as a SESSION-shared checkpoint
    (plans/shared.py): the tokenize→explode→count pass is the common
    reduction of the corpus-statistics family (`t_topk_tokens` sums it
    by token, `t_tfidf` scores straight off it) — the inverted-index
    posting table a production corpus materializes once."""
    from ..operators.layout import fan_out_scan
    from ..operators.text import tokenize

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )


def t_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token frequencies (Zipf head).

    explode → count is the canonical corpus-stats shape: the token count
    agg combines map-side, so the shuffle carries one row per distinct
    token per partition, not one per token occurrence — here summed from
    the session-shared (doc_id, tok, tf) posting table. Top-k via a
    single ordered limit (rank ties broken by token text).
    """
    return (
        tf_doc_tok_shared(spark, sf_dir)
        .groupBy("tok")
        .agg(F.sum("tf").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


T_TOPK_TOKENS_SQL = r"""
WITH t AS (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
)
SELECT tok, COUNT(*) AS n FROM t
GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20
""".strip()


# ---------------------------------------------------------------------------
# data-quality expectation checks
# ---------------------------------------------------------------------------

def d_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-check sweep over orders: per-rule violation counts in
    ONE scan (conditional aggs), plus a referential-integrity rule that
    anti-joins the customer dim. No rule does its own pass over the fact;
    the FK check's dim side is broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    one_pass = orders.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("v_null_key"),
        F.count(
            F.when(
                (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1_000_000), 1
            )
        ).alias("v_price_range"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("v_status_domain"),
    )
    fk = (
        # the FK target is customer-cardinality — it grows with the corpus,
        # so no broadcast hint (AQE may still choose one at small scale);
        # the anti-join shuffles both sides on the key
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count("*").alias("v_fk_customer"))
    )
    wide = one_pass.crossJoin(fk)
    return wide.select(
        F.expr(
            "stack(4, 'null_key', v_null_key, 'price_range', v_price_range, "
            "'status_domain', v_status_domain, 'fk_customer', v_fk_customer) "
            "AS (rule, n_violations)"
        ),
        "n_rows",
    ).select("rule", "n_violations", "n_rows")


D_DQ_VIOLATIONS_SQL = """
WITH one_pass AS (
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS v_null_key,
           COUNT(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000 THEN 1 END)
               AS v_price_range,
           COUNT(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
               AS v_status_domain
    FROM orders
),
fk AS (
    SELECT COUNT(*) AS v_fk_customer
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
)
SELECT u.rule, u.n_violations, one_pass.n_rows
FROM one_pass, fk, LATERAL (
    VALUES ('null_key', v_null_key),
           ('price_range', v_price_range),
           ('status_domain', v_status_domain),
           ('fk_customer', v_fk_customer)
) AS u(rule, n_violations)
""".strip()


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^ ]+"


def t_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: mask emails and URLs, count what was masked.

    The corpus text is deterministically augmented with synthetic contact
    strings (so the rule actually fires), then scrubbed with the same
    RE2-compatible patterns on both engines. Pure projection — no shuffle;
    at 100 TB this is a map-only pass that pipelines with the scan.
    """
    from ..operators.layout import fan_out_scan

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or see http://ex.com/p/"),
        F.col("doc_id").cast("string"),
    )
    with_aug = docs.select("doc_id", aug.alias("aug"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("aug"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return with_aug.select(
        "doc_id",
        clean.alias("clean_text"),
        F.expr(f"CAST(regexp_count(aug, '{_EMAIL_RE}') AS INTEGER)").alias("n_emails"),
        F.expr(f"CAST(regexp_count(aug, '{_URL_RE}') AS INTEGER)").alias("n_urls"),
    )


T_SCRUB_PII_SQL = rf"""
WITH a AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or see http://ex.com/p/'
                || CAST(doc_id AS VARCHAR) AS aug
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_URL_RE}', '<URL>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_URL_RE}')) AS INTEGER) AS n_urls
FROM a
""".strip()


# ---------------------------------------------------------------------------
# grouped collect + NTILE
# ---------------------------------------------------------------------------

def x_grouped_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic grouped collect: per region, its nation names sorted
    and joined — collect_list is unordered by contract, so sort_array
    makes it reproducible (emitted as a string for cross-engine parity).
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


X_GROUPED_LIST_SQL = """
SELECT r_name,
       string_agg(n_name, '|' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""".strip()


def w_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) balance quartiles per nation, fully tie-broken so the
    bucket assignment is deterministic on both engines."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.floor("c_acctbal").cast("long")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("bal_long"), F.asc("c_custkey")
    )
    return (
        cust.select("c_custkey", "c_nationkey", bal.alias("bal_long"))
        .withColumn("quartile", F.ntile(4).over(w))
    )


W_NTILE_QUARTILES_SQL = """
SELECT c_custkey, c_nationkey,
       CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_long,
       CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                           ORDER BY CAST(FLOOR(c_acctbal) AS BIGINT) DESC,
                                    c_custkey ASC) AS INTEGER) AS quartile
FROM customer
""".strip()


def w_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK and CUME_DIST of customer balances within market
    segment — the distribution-position window family (§2.6) the earlier
    rank/ntile queries don't cover.

    Both are peer-group functions: ties share a value, so no tie-break is
    needed for determinism. ``percent_rank = (rank-1)/(n-1)`` and
    ``cume_dist = peers_leq/n`` are single BIGINT→DOUBLE divisions —
    IEEE-identical on both engines. One shuffle on the partition key.
    """
    cust = load_table(spark, sf_dir, "customer")
    bal = F.floor("c_acctbal").cast("long")
    w = Window.partitionBy("c_mktsegment").orderBy("bal_long")
    return cust.select("c_custkey", "c_mktsegment", bal.alias("bal_long")).select(
        "c_custkey",
        "c_mktsegment",
        "bal_long",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


W_RANK_DISTRIBUTION_SQL = """
SELECT c_custkey, c_mktsegment,
       CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_long,
       PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(FLOOR(c_acctbal) AS BIGINT)) AS pct_rank,
       CUME_DIST() OVER (PARTITION BY c_mktsegment
                         ORDER BY CAST(FLOOR(c_acctbal) AS BIGINT)) AS cume_dist
FROM customer
""".strip()


def x_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL explode WITH ORDINALITY: part names unnested to one row per
    word with its 0-based position (§2.8 array surface — the positional
    variant ``f_date_explode`` doesn't exercise).

    Map-only (explode fuses into the scan stage, no shuffle); position
    comes from ``posexplode`` on the Spark side and ``WITH ORDINALITY``
    (1-based, re-based to 0) on DuckDB.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") % 10 == 0)
        .select(
            "p_partkey",
            F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
        )
        .select("p_partkey", F.col("pos").cast("bigint").alias("pos"), "word")
    )


X_POSEXPLODE_SQL = """
WITH t AS (
    SELECT p_partkey, string_split(p_name, ' ') AS words
    FROM part WHERE p_partkey % 10 = 0
),
e AS (
    SELECT p_partkey,
           unnest(list_transform(range(1, len(words) + 1),
                  i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                                   word := words[i]))) AS s
    FROM t
)
SELECT p_partkey, s.pos AS pos, s.word AS word FROM e
""".strip()


def f_month_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders bucketed into the reference's 6-calendar-month fetch batches
    (``ENTRY_BATCH_MONTHS = 6``, reference dlt_fetch_timecamp.py:37,
    174-191): batch key = whole calendar months since the epoch origin,
    integer-divided by 6.

    Month distance is the pure integer form ``(year·12 + month)`` delta —
    identical on every engine, unlike fractional ``months_between``
    (Spark's 31-day-fraction rule has no DuckDB twin). Map-only + one
    combinable agg."""
    orders = load_table(spark, sf_dir, "orders")
    origin_months = 1992 * 12 + 1
    months = F.year("o_orderdate") * 12 + F.month("o_orderdate") - origin_months
    return (
        orders.withColumn("m", months.cast("long"))
        .withColumn("batch_id", F.expr("m div 6"))
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


F_MONTH_BATCHES_SQL = """
WITH m AS (
    SELECT o_orderdate,
           CAST(year(o_orderdate) * 12 + month(o_orderdate)
                - (1992 * 12 + 1) AS BIGINT) AS m
    FROM orders
)
SELECT m // 6 AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM m GROUP BY m // 6
""".strip()


# ---------------------------------------------------------------------------
# x_ordered_paths — ordered event-path aggregation (top user journeys)
# ---------------------------------------------------------------------------

PATHS_TOP_K = 20


def x_ordered_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-common per-(user, day) event-type journeys.

    Ordered aggregation without a UDF: ``collect_list`` of
    (t, event_id, type) structs per group, ``array_sort`` (struct order =
    field order, and event_id makes the order total — reruns and the
    oracle agree byte-for-byte), then project + join into the path
    string. The per-group list is bounded by a user's daily activity —
    this is NOT a global sort; the final top-k is a distributed
    TakeOrdered with a deterministic (count desc, path asc) tie-break.
    """
    ev = load_table(spark, sf_dir, "events")
    paths = (
        ev.select(
            "user_id",
            F.floor(F.unix_micros("ts") / US_PER_DAY).cast("long").alias("day"),
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            ).alias("s"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda x: x["et"]), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_journeys"))
        .orderBy(F.desc("n_journeys"), F.asc("path"))
        .limit(PATHS_TOP_K)
    )


X_ORDERED_PATHS_SQL = f"""
WITH paths AS (
    SELECT user_id,
           CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
           string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
    FROM events
    GROUP BY user_id, day
)
SELECT path, COUNT(*) AS n_journeys
FROM paths
GROUP BY path
ORDER BY n_journeys DESC, path ASC
LIMIT {PATHS_TOP_K}
""".strip()
