"""Window, aggregate and function extensions, and the bigram-LM family
(SURVEY §2.4/§2.6/§2.11). Families:

- windows: ``e_sliding_window``, ``e_dau_wau``, ``w_lag_delta_pct``;
- aggregates: ``a_mode``, ``a_corr_stats``, ``a_conditional_agg``,
  ``a_weighted_avg``, ``a_weighted_quantile``, ``a_bool_aggs``;
- reshaping and set operations: ``x_unpivot``, ``o_latest_per_key``,
  ``o_except_all``;
- functions: ``f_regex_extract``, ``f_bitwise_ops``,
  ``f_epoch_roundtrip``, ``f_array_ops``;
- the bigram LM over the shared alphabetic tokens: ``t_bigram_lm``,
  ``t_lm_perplexity``, ``t_cooccurrence_lift``;
- embeddings and sampling: ``s_embedding_stats``, ``t_negative_sample``.

Nothing here introduces a Python UDF:
every operator stays in Catalyst expressions / built-in aggregates /
windows, so whole-stage codegen covers the hot paths.

Scale notes live on each query; the shared principles:

- sliding windows in BATCH explode each row into window/slide buckets
  (bounded fan-out, then one hash agg) — never a self-join on time range;
- exact rolling-distinct (WAU) is the same trick: a user-day contributes
  to exactly 7 report days, so explode 7× + re-aggregate beats a range
  join that would rescan 7 days of rows per day;
- "mode" is computed deterministically (count + row_number with a total
  tie-break order), because both Spark's and DuckDB's native ``mode()``
  break ties arbitrarily — an oracle comparison on arbitrary choice is a
  coin flip, and so is a production rerun;
- array math over embeddings (norms) stays in ``F.aggregate`` — JVM-side
  expression folding, no Arrow transfer for a scalar-per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import shared
from .common import TOKS_SQL
from .testdata import load_table


# ---------------------------------------------------------------------------
# e_sliding_window — batch sliding-window counts (1 h window / 15 min slide)
# ---------------------------------------------------------------------------

def e_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming_sliding_counts``: each event lands in
    window/slide = 4 overlapping hourly buckets. ``F.window`` with a slide
    does the bounded 4× fan-out then one hash agg — the scan stays one
    pass however long the window is, vs a time-range self-join that
    rescans an hour of rows per slide."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


E_SLIDING_WINDOW_SQL = """
SELECT time_bucket(INTERVAL 15 MINUTES, ts) - i * INTERVAL 15 MINUTES AS window_start,
       event_type,
       COUNT(*) AS n
FROM events
CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g
GROUP BY 1, 2
""".strip()


# ---------------------------------------------------------------------------
# e_dau_wau — exact rolling 7-day distinct users, no range join
# ---------------------------------------------------------------------------

def e_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU + exact WAU per active day.

    Distinct-over-a-sliding-range has no native window form (COUNT
    (DISTINCT) OVER RANGE is unsupported in Spark, and approx sketches
    change the answer). The scale-correct exact plan: reduce to distinct
    (day, user) pairs first (events-cardinality → user·day-cardinality,
    the big cut), then each pair contributes to exactly 7 report days —
    explode those 7 and hash-aggregate. Shuffles: the distinct, then one
    agg per output; fan-out is a constant 7, independent of event volume.
    """
    du = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    # ONE aggregation carries both counts: position 0 of the 7-day
    # explode IS the pair's own day, so dau = distinct users at offset 0
    # — the former dau⋈wau two-branch shape re-derived `du` per branch
    # and scheduled an AQE join cascade (7 jobs for two hash-aggs).
    # Days with wau-only coverage (no direct activity) are filtered out,
    # matching the old inner join.
    exploded = du.select(
        F.posexplode(F.sequence(F.col("day"), F.date_add("day", 6))).alias(
            "i", "day"
        ),
        "user_id",
    )
    return (
        exploded.groupBy("day")
        .agg(
            F.countDistinct(F.when(F.col("i") == 0, F.col("user_id"))).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
        .filter(F.col("dau") > 0)
        .select("day", "dau", "wau")
    )


E_DAU_WAU_SQL = """
WITH du AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day
),
wau AS (
    SELECT day, COUNT(DISTINCT user_id) AS wau
    FROM (
        SELECT du.day + CAST(i AS INTEGER) AS day, du.user_id
        FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) g
    )
    GROUP BY day
)
SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau
FROM dau JOIN wau USING (day)
""".strip()


# ---------------------------------------------------------------------------
# o_latest_per_key — current state from an event log
# ---------------------------------------------------------------------------

def o_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user (the log→current-state compaction every CDC
    consumer runs). One shuffle on the key; ties on ts broken by event_id
    so replays are deterministic. At scale this is the same plan as
    dedup-by-pk: row_number over (key, order) — AQE handles skewed users."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.floor(F.col("value") * 100).cast("long").alias("last_value_cents"),
        )
    )


O_LATEST_PER_KEY_SQL = """
SELECT user_id,
       ts AS last_ts,
       event_type AS last_type,
       CAST(FLOOR(value * 100) AS BIGINT) AS last_value_cents
FROM (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
""".strip()


# ---------------------------------------------------------------------------
# x_unpivot — wide → long reshape
# ---------------------------------------------------------------------------

def x_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.unpivot`` (melt): 3 measure columns → (metric, val)
    rows. Narrow, no shuffle — the reshape is a per-row generator, and
    the 3× row fan-out happens inside the scan stage."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )


X_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
""".strip()


# ---------------------------------------------------------------------------
# a_mode — deterministic per-group mode
# ---------------------------------------------------------------------------

def a_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal ship month per return flag, tie-broken by smallest month.

    Built from count + row_number instead of native ``mode()``: both
    Spark's and DuckDB's mode break ties arbitrarily, which makes reruns
    (and oracle comparison) nondeterministic. Two hash aggs + a window
    over the tiny (flag, month) count table."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.select("l_returnflag", F.month("l_shipdate").alias("ship_month"))
        .groupBy("l_returnflag", "ship_month")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("ship_month")
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("l_returnflag", F.col("ship_month").alias("modal_month"), "cnt")
    )


A_MODE_SQL = """
SELECT l_returnflag, ship_month AS modal_month, cnt
FROM (
    SELECT l_returnflag, ship_month, cnt,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY cnt DESC, ship_month ASC) AS rn
    FROM (
        SELECT l_returnflag, MONTH(l_shipdate) AS ship_month, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
    )
)
WHERE rn = 1
""".strip()


# ---------------------------------------------------------------------------
# a_corr_stats — correlation / covariance / stddev per group
# ---------------------------------------------------------------------------

def a_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate stats per return flag — single map-side-combinable agg
    (corr/covar/stddev all fold to sum/sum-sq/cross-sum partials).
    Rounded to 4 decimals: distributed summation order differs from the
    oracle's sequential fold in the last ulps, and the comparison is on
    exact strings."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_discount"), 4).alias("stddev_discount"),
    )


A_CORR_STATS_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       ROUND(STDDEV_SAMP(l_discount), 4) AS stddev_discount
FROM lineitem
GROUP BY l_returnflag
""".strip()


# ---------------------------------------------------------------------------
# a_conditional_agg — FILTER-clause aggregates
# ---------------------------------------------------------------------------

def a_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates in one pass (count_if / filtered sums) —
    the idiom that replaces N self-joins with N predicates folded into a
    single scan + hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_total"),
        F.expr("count_if(l_quantity > 40)").alias("n_bulk"),
        F.sum(F.when(F.col("l_linestatus") == "F", cents)).alias("cents_finished"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
    )


A_CONDITIONAL_AGG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE l_quantity > 40) AS n_bulk,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
            FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS cents_finished,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted
FROM lineitem
GROUP BY l_returnflag
""".strip()


# ---------------------------------------------------------------------------
# t_bigram_lm — bigram language-model statistics over documents
# ---------------------------------------------------------------------------

ALPHA_TOKS = "lowercase, split on [^a-z]+, drop empties"


@shared.artifact("docs_alpha_toks")
def docs_alpha_toks_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, t) — the lowercase-alpha tokenized corpus
    (``ALPHA_TOKS``) as a SESSION-shared checkpoint: the regex tokenize
    is the common narrow pass of the whole LM/statistics family
    (bigram counts, perplexity/CCNet scoring, DSIR, KL-drift, BM25), and
    each entry previously re-ran it from the raw text. In production
    this is the tokenized-corpus table every curation DAG materializes
    first. fan_out_scan inside the build spreads the regex across cores
    once; consumers read partitioned checkpoint blocks."""
    from ..operators.layout import fan_out_scan

    from .testdata import load_table

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    # fixture corpora (tests) may carry only (doc_id, text); the
    # metadata columns ride along when present
    meta = [c for c in ("source", "lang") if c in docs.columns]
    return docs.select("doc_id", *meta, toks.alias("t"))


def bigram_rows_from_toks(tdf: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """(doc_id, *extra_cols, w1, w2) bigram rows from an already-tokenized
    (doc_id, …, t) table: zip each token array with its own tail
    (``slice`` + ``arrays_zip`` — expression-level, no posexplode
    self-join)."""
    d = tdf.select("doc_id", *extra_cols, "t").filter(F.size("t") >= 2)
    return d.select(
        "doc_id",
        *extra_cols,
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("w1"),
                F.slice("t", 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("bg"),
    ).select(
        "doc_id", *extra_cols, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )


def doc_bigram_rows(docs: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """(doc_id, *extra_cols, w1, w2) bigram rows — THE tokenization
    contract shared by `t_bigram_lm`, `t_lm_perplexity`, and
    `training.t_dsir_weights`: ``ALPHA_TOKS`` then bigram-zip
    (`bigram_rows_from_toks`). Every SQL twin inlines the same
    regex/slice — a change here must land in each of them. Catalog
    entries prefer `docs_alpha_toks_shared` + `bigram_rows_from_toks`
    so the regex pass is materialized once per session; this form
    serves arbitrary DataFrames (tests, ad-hoc corpora)."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != F.lit("")
    )
    # NO fan_out_scan here: every bigram consumer reads `pairs` through
    # two lineages (count build + scoring), so the exchange would run
    # twice — measured a net loss vs the narrow 1-wide tokenize
    return bigram_rows_from_toks(
        docs.select("doc_id", *extra_cols, toks.alias("t")), extra_cols
    )


def t_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams with conditional probability P(w2 | w1).

    Bigram rows via `doc_bigram_rows` → one hash agg. The conditional-
    probability window runs over the AGGREGATED bigram table partitioned
    by w1 (vocabulary-sized, not corpus-sized). All whole-stage codegen;
    no Python."""
    # the shared LM count table IS this query's aggregate — read the
    # session materialization instead of re-counting the corpus
    counted = bigram_counts_shared(spark, sf_dir).withColumnRenamed("c12", "cnt")
    w = Window.partitionBy("w1")
    return (
        counted.withColumn(
            "cond_p", F.round(F.col("cnt") / F.sum("cnt").over(w), 6)
        )
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(50)
    )


T_BIGRAM_LM_SQL = """
WITH t AS (
    SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
),
pairs AS (
    SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
           unnest(list_slice(toks, 2, len(toks))) AS w2
    FROM t WHERE len(toks) >= 2
),
counted AS (
    SELECT w1, w2, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
)
SELECT w1, w2, cnt,
       ROUND(cnt / SUM(cnt) OVER (PARTITION BY w1), 6) AS cond_p
FROM counted
ORDER BY cnt DESC, w1, w2
LIMIT 50
""".strip()


# ---------------------------------------------------------------------------
# s_embedding_stats — array math over the embedding column
# ---------------------------------------------------------------------------

def s_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics. The norm is ``F.aggregate`` over the
    array — JVM expression evaluation, one scalar per row, no Arrow/UDF
    transfer; min/max of identical per-row doubles match the oracle
    bit-for-bit, avg is rounded (summation-order ulps)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    return (
        emb.select("label", norm.alias("_norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("_norm"), 4).alias("avg_norm"),
            F.round(F.min("_norm"), 4).alias("min_norm"),
            F.round(F.max("_norm"), 4).alias("max_norm"),
        )
    )


S_EMBEDDING_STATS_SQL = """
SELECT label,
       COUNT(*) AS n,
       ROUND(AVG(nrm), 4) AS avg_norm,
       ROUND(MIN(nrm), 4) AS min_norm,
       ROUND(MAX(nrm), 4) AS max_norm
FROM (
    SELECT label,
           sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                        x -> x * x))) AS nrm
    FROM embeddings
)
GROUP BY label
""".strip()


# ---------------------------------------------------------------------------
# f_regex_extract — regexp_extract_all over documents
# ---------------------------------------------------------------------------

def f_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document long-word extraction via ``regexp_extract_all`` —
    the scalar-function tier's list-returning regex (F-family companion
    to the split/json functions). Pure projection: no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    hits = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]{8,}"), 0)
    return docs.select(
        "doc_id",
        F.size(hits).alias("n_long"),
        F.size(F.array_distinct(hits)).alias("n_long_distinct"),
    )


F_REGEX_EXTRACT_SQL = """
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z]{8,}', 0)) AS n_long,
       len(list_distinct(regexp_extract_all(lower(text), '[a-z]{8,}', 0)))
           AS n_long_distinct
FROM documents
""".strip()


# ---------------------------------------------------------------------------
# a_weighted_avg — weighted aggregate (ratio-of-sums)
# ---------------------------------------------------------------------------

def a_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted unit price per return flag: SUM(w·x)/SUM(w) as
    exact integer-cents sums divided once at the end — the ratio-of-sums
    form is one map-side-combinable agg; a per-row division then AVG would
    be a different (wrong) statistic and two passes of float error."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    qty = F.floor(F.col("l_quantity")).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.sum(qty).alias("total_qty"),
        (
            F.sum(cents * qty).cast("double") / F.sum(qty).cast("double")
        ).alias("wavg_price_cents"),
    )


A_WEIGHTED_AVG_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)
                * CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE)
           / CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE)
           AS wavg_price_cents
FROM lineitem
GROUP BY l_returnflag
""".strip()


# ---------------------------------------------------------------------------
# w_lag_delta_pct — period-over-period change
# ---------------------------------------------------------------------------

def w_lag_delta_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order volume with absolute and percent deltas per
    priority — the lag + arithmetic idiom of every trend report. One
    shuffle on the small (priority, month) aggregate; the window runs
    over that aggregate, never the fact."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            "o_orderpriority",
            F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("month"),
            F.floor(F.col("o_totalprice")).cast("long").alias("units"),
        )
        .groupBy("o_orderpriority", "month")
        .agg(F.sum("units").alias("volume"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("volume").over(w)
    return monthly.select(
        "o_orderpriority",
        "month",
        "volume",
        (F.col("volume") - prev).alias("delta"),
        F.round((F.col("volume") - prev).cast("double") / prev * 100, 4).alias(
            "delta_pct"
        ),
    )


W_LAG_DELTA_PCT_SQL = """
WITH monthly AS (
    SELECT o_orderpriority,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
           CAST(SUM(CAST(FLOOR(o_totalprice) AS BIGINT)) AS BIGINT) AS volume
    FROM orders
    GROUP BY 1, 2
)
SELECT o_orderpriority, month, volume,
       volume - lag(volume) OVER w AS delta,
       ROUND(CAST(volume - lag(volume) OVER w AS DOUBLE)
             / lag(volume) OVER w * 100, 4) AS delta_pct
FROM monthly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)
""".strip()


# ---------------------------------------------------------------------------
# o_except_all — multiset difference
# ---------------------------------------------------------------------------

def o_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics: occurrences subtract, not vanish) —
    the set-ops family member `o_set_ops` doesn't cover. Duplicated
    low-cardinality projections of lineitem make the multiset count
    visible: each (flag, status) keeps max(n_left − n_right, 0) copies."""
    li = load_table(spark, sf_dir, "lineitem")
    left = li.select("l_returnflag", "l_linestatus")
    right = li.filter(F.col("l_quantity") > 25).select(
        "l_returnflag", "l_linestatus"
    )
    return left.exceptAll(right)


O_EXCEPT_ALL_SQL = """
SELECT l_returnflag, l_linestatus FROM lineitem
EXCEPT ALL
SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 25
""".strip()


# ---------------------------------------------------------------------------
# f_bitwise_ops — bit-manipulation scalar family
# ---------------------------------------------------------------------------

def f_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR/shift projection — the scalar family layout
    tricks (Z-order keys, bitmap flags, hash mixing) are built from.
    Pure codegen projection, zero shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(1)).alias("set_lsb"),
        k.bitwiseXOR(F.shiftright(k, 8)).alias("mix"),
        F.shiftleft(k.bitwiseAND(F.lit(15)), 4).alias("nibble_hi"),
    )


F_BITWISE_OPS_SQL = """
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | 1 AS set_lsb,
       xor(o_orderkey, o_orderkey >> 8) AS mix,
       (o_orderkey & 15) << 4 AS nibble_hi
FROM orders
""".strip()


# ---------------------------------------------------------------------------
# f_epoch_roundtrip — epoch/timestamp conversion family
# ---------------------------------------------------------------------------

def f_epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch conversions both directions: ts → µs/s since epoch → ts —
    the family every event-time pipeline leans on (unix_micros is also
    how the engine normalizes ts internally). Projection only."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("epoch_us"),
        # floor, not truncate-toward-zero: DuckDB's // floors, so pre-1970
        # timestamps would differ by 1 under a bare cast('long') of the
        # double division (r4 ADVICE).
        F.floor(F.unix_micros(F.col("ts")) / F.lit(1_000_000)).cast("long").alias("epoch_s"),
        F.timestamp_micros(F.unix_micros(F.col("ts"))).alias("ts_roundtrip"),
    )


F_EPOCH_ROUNDTRIP_SQL = """
SELECT event_id,
       epoch_us(ts) AS epoch_us,
       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS epoch_s,
       make_timestamp(epoch_us(ts)) AS ts_roundtrip
FROM events
""".strip()


# ---------------------------------------------------------------------------
# a_bool_aggs — boolean aggregate family
# ---------------------------------------------------------------------------

def a_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or per group — the expectation-check aggregates
    (every(...) over a partition is how DQ rules aggregate). Single
    combinable agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bool_and(F.col("l_shipdate").isNotNull()).alias("all_shipped_dated"),
    )


A_BOOL_AGGS_SQL = """
SELECT l_returnflag,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_discount > 0.09) AS any_deep_discount,
       bool_and(l_shipdate IS NOT NULL) AS all_shipped_dated
FROM lineitem
GROUP BY l_returnflag
""".strip()


# ---------------------------------------------------------------------------
# t_lm_perplexity — bigram-LM document scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------

@shared.artifact("bigram_counts")
def bigram_counts_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-sized (w1, w2, c12) bigram count table over the plain
    document bigram stream, materialized once per session as a shared
    checkpoint (plans/shared.py). This is THE LM-build table: the count
    of a bigram does not depend on any carried extra column, so every LM
    consumer — ``t_lm_perplexity``, ``t_ccnet_buckets`` (whose pair
    stream also carries lang), ``t_bigram_lm`` — reads the same
    materialization instead of re-running tokenize→explode→agg each."""
    return (
        bigram_rows_from_toks(docs_alpha_toks_shared(spark, sf_dir))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )


def bigram_lm(pairs: DataFrame, counts: DataFrame | None = None) -> DataFrame:
    """Add-one-smoothed bigram LM over a (…, w1, w2) pair table:
    returns (w1, w2, _nlp) with _nlp = −ln((c12+1)/(c1+V)).

    ONE corpus pass: the vocabulary-sized bigram count table is
    localCheckpoint'ed EAGERLY, so the unigram/V/scoring branches read
    the materialized table instead of re-running tokenize→explode from
    the scan. ReuseExchange cannot dedupe those branches — each prunes
    different columns, so their canonical exchanges differ and the
    corpus pipeline would run once per branch (4× — the round-5 bench
    regression). V stays in the DAG as a 1-row broadcast crossJoin.
    Checkpoint blocks are freed by the ContextCleaner when the result
    goes out of scope (same contract as operators/graph.py).

    ``counts``: pass an already-materialized (w1, w2, c12) table
    (``bigram_counts_shared``) to skip the build entirely — the
    cross-entry sharing path."""
    bi = (
        counts
        if counts is not None
        else pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=True)
    )
    uni = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = bi.select("w1").unionByName(bi.select(F.col("w2").alias("w1")))
    v_row = vocab.distinct().agg(F.count("*").alias("_v"))  # 1-row stats side
    return (
        bi.join(uni, "w1")
        .crossJoin(F.broadcast(v_row))
        .withColumn(
            "_nlp",
            -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("_v").cast("double"))),
        )
        .select("w1", "w2", "_nlp")
    )


def t_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by its average bigram negative log-probability
    under an add-one-smoothed LM trained on the corpus itself — the
    classic perplexity-bucket quality signal of pretraining pipelines
    (CCNet et al.): high score = unusual word sequences.

    Scale shape: token pairs reduce to a bigram-VOCABULARY-sized count
    table (two hash aggs); each document's pairs then equi-join that
    table on (w1, w2) — a shuffled join whose build side is the
    vocabulary, not the corpus, with AQE absorbing hot-bigram skew. The
    LM build (bigram_lm) checkpoints the vocabulary-sized count table,
    so the whole query is exactly TWO corpus passes: one to count
    bigrams, one to score documents — an earlier version re-ran the
    tokenize pipeline once per LM branch (round-5 VERDICT perf item 1).
    ln() is IEEE-identical for identical double inputs; the per-doc
    mean is rounded 4dp for summation-order ulps."""
    pairs = bigram_rows_from_toks(docs_alpha_toks_shared(spark, sf_dir))
    lm = bigram_lm(pairs, counts=bigram_counts_shared(spark, sf_dir))
    return (
        # shuffle_hash with the LM as per-partition build: pairs is the
        # corpus-sized bigram explode off a checkpoint, whose LogicalRDD
        # estimate never grows — Catalyst planned it as the BROADCAST
        # side at small SF (round-10 plan lint, the t_dsir_weights OOM
        # class); the LM table (distinct bigrams) is the smaller side
        # but also data-derived, so it builds per-partition, never
        # per-executor
        pairs.join(lm.hint("shuffle_hash"), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("_nlp"), 4).alias("avg_neg_logp"),
        )
    )


T_LM_PERPLEXITY_SQL = """
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
),
pairs AS (
    SELECT doc_id,
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
)
SELECT p.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(lm.nlp), 4) AS avg_neg_logp
FROM pairs p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
GROUP BY p.doc_id
""".strip()


# ---------------------------------------------------------------------------
# t_negative_sample — deterministic negative sampling (contrastive training)
# ---------------------------------------------------------------------------

NEGATIVES_PER_DOC = 3


def t_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``NEGATIVES_PER_DOC`` pseudo-random negative documents per
    document, fully deterministic — the contrastive-pair prep step
    (in-batch negatives don't cover the hard-negative mining case;
    rand() is unreproducible and per-rerun different). Every choice
    derives from md5 arithmetic, so reruns, engine swaps, and the DuckDB
    oracle all agree.

    Scale shape: the corpus gets a dense 1..N rank via the distributed
    two-level row_number over md5(doc_id) (operators/order.py — no
    single-partition window); each doc emits ``NEGATIVES_PER_DOC``
    target ranks by hashing (doc_id, i); one equi-join on rank resolves
    targets to doc ids. One rank-keyed shuffle; self-collisions remapped
    arithmetically (rank+1 mod N) so output is EXACTLY that many rows per
    doc, not fewer by luck. N stays in the DAG as a 1-row broadcast
    crossJoin: a ``docs.count()`` action would pay a separate scan job
    up front."""
    from ..operators.order import global_row_number, md5_prefix_bucket

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_row = docs.agg(F.count("*").alias("_n"))  # 1-row stats side
    keyed = docs.withColumn("_ok", F.md5(F.col("doc_id").cast("string")))
    idx = global_row_number(
        keyed, F.col("_ok"), md5_prefix_bucket(F.col("_ok")), out="rk"
    ).select("doc_id", "rk")

    cand = idx.crossJoin(F.broadcast(n_row)).select(
        "doc_id",
        "rk",
        F.col("_n"),
        F.explode(
            F.array(*[F.lit(i).cast("long") for i in range(1, NEGATIVES_PER_DOC + 1)])
        ).alias("neg_rank"),  # long: DuckDB generate_series yields BIGINT
    ).withColumn(
        "_t",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("_neg_"),
                            F.col("neg_rank").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("_n")
        )
        + 1,
    )
    fixed = cand.withColumn(
        "_t",
        F.when(F.col("_t") == F.col("rk"), (F.col("_t") % F.col("_n")) + 1).otherwise(
            F.col("_t")
        ),
    )
    tgt = idx.select(F.col("rk").alias("_t"), F.col("doc_id").alias("neg_doc_id"))
    return fixed.join(tgt, "_t").select("doc_id", "neg_rank", "neg_doc_id")


T_NEGATIVE_SAMPLE_SQL = f"""
WITH idx AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
    FROM documents
),
n AS (SELECT COUNT(*) AS n FROM documents),
cand AS (
    SELECT doc_id, rk, i AS neg_rank,
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_neg_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
            % (SELECT n FROM n)) + 1 AS t
    FROM idx CROSS JOIN (SELECT unnest(generate_series(1, {NEGATIVES_PER_DOC})) AS i) g
),
fixed AS (
    SELECT doc_id, neg_rank,
           CASE WHEN t = rk THEN (t % (SELECT n FROM n)) + 1 ELSE t END AS t
    FROM cand
)
SELECT f.doc_id, f.neg_rank, idx.doc_id AS neg_doc_id
FROM fixed f JOIN idx ON idx.rk = f.t
""".strip()


# ---------------------------------------------------------------------------
# t_cooccurrence_lift — bounded-vocabulary token co-occurrence association
# ---------------------------------------------------------------------------

LIFT_VOCAB = 40  # V: tokens kept by document frequency
LIFT_MIN_PAIRS = 5  # pairs co-occurring in fewer documents drop


def t_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair association (lift) over a top-V vocabulary.

    lift(a,b) = P(a,b) / (P(a)·P(b)) over documents — >1 means the pair
    co-occurs more than independence predicts. The unbounded version of
    this query is quadratic in vocabulary; the scale design caps it:

    - vocabulary = top ``LIFT_VOCAB`` tokens by document frequency,
      picked by a distributed sort+limit (TakeOrdered — never a
      single-partition row_number window over every distinct token),
      folded to a ONE-ROW broadcast (sorted token array + token→df map)
      — no driver collect, the whole query stays one action;
    - each doc's sorted vocab-token subset is computed MAP-SIDE
      (sort_array ∘ array_intersect against the broadcast vocab array,
      materialized once per row — a nested expression inside a
      higher-order lambda re-evaluates per element), docs with < 2
      vocab tokens drop before any fan-out, and the C(V,2)-bounded pair
      structs explode straight into the pair hash-agg. The former shape
      shuffled the corpus twice (vocab semi-join + per-doc collect_set
      groupBy — the round-10 sf10 probe's 4.55× cost); this one's ONLY
      corpus shuffle is the map-side-combined pair agg itself, whose
      key space is ≤ C(V,2) — at any corpus size the shuffle payload is
      bounded by vocabulary, not data;
    - df counts for the lift read from the same 1-row broadcast's map —
      no per-pair dimension join; n_docs is a 1-row stats side;
    - lift is one exactly-rounded integer division — no logs, so the
      DuckDB twin hashes identically (see module docstring).
    """
    docs = load_table(spark, sf_dir, "documents")
    # df pass carries ONLY the token — the per-doc pair pass below works
    # map-side off the broadcast vocab, so nothing here needs doc_id and
    # the corpus-wide explode shuffles one narrow column
    doc_toks = docs.select(
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("tok")
    )
    df_counts = doc_toks.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = df_counts.orderBy(F.desc("df"), F.asc("tok")).limit(LIFT_VOCAB)
    # ≤ V rows fold into ONE broadcastable row: the intersect array and
    # the df lookup map (long values — n_a·n_b is quadratic in corpus
    # size, int would overflow)
    # ONE single-column frame → the projection's broadcast and the final
    # stats broadcast are byte-identical plans, so ReuseExchange
    # computes the vocabulary subquery once (two pruned variants would
    # each re-run the df_counts pass)
    vstats = vocab.agg(
        F.struct(
            F.sort_array(F.collect_list("tok")).alias("vocab"),
            F.map_from_entries(
                F.collect_list(F.struct(F.col("tok"), F.col("df").cast("long")))
            ).alias("dfmap"),
        ).alias("__vs")
    )
    ts = F.col("__ts")
    pair_structs = F.flatten(
        F.transform(
            ts,
            lambda x, i: F.transform(
                F.slice(ts, i + 2, F.size(ts)),
                lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
            ),
        )
    )
    pair_counts = (
        docs.crossJoin(F.broadcast(vstats))
        .select(
            F.sort_array(
                F.array_intersect(
                    F.array_distinct(F.split(F.trim("text"), r"\s+")),
                    F.col("__vs.vocab"),
                )
            ).alias("__ts")
        )
        # docs with <2 vocab tokens fan out to an EMPTY pair array and
        # explode drops them — no filter, because a filter on the
        # projected column gets pushed below the Project and duplicates
        # the intersect evaluation per row (measured +0.25 s at sf0.1)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= LIFT_MIN_PAIRS)
    )
    dfmap = F.col("__vs.dfmap")
    return (
        pair_counts.crossJoin(F.broadcast(vstats))  # reused exchange
        .crossJoin(F.broadcast(docs.agg(F.count("*").alias("n_docs"))))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            dfmap[F.col("tok_a")].alias("n_a"),
            dfmap[F.col("tok_b")].alias("n_b"),
            (
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (dfmap[F.col("tok_a")] * dfmap[F.col("tok_b")]).cast("double")
            ).alias("lift"),
        )
    )


T_COOCCURRENCE_LIFT_SQL = rf"""
WITH doc_toks AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
    FROM documents
), df_counts AS (
    SELECT tok, COUNT(*) AS df FROM doc_toks GROUP BY tok
), vocab AS (
    SELECT tok, df FROM df_counts ORDER BY df DESC, tok ASC LIMIT {LIFT_VOCAB}
), in_vocab AS (
    SELECT d.doc_id, d.tok, v.df FROM doc_toks d JOIN vocab v USING (tok)
), pairs AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS n_a, b.df AS n_b,
           COUNT(*) AS n_ab
    FROM in_vocab a
    JOIN in_vocab b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY 1, 2, 3, 4
    HAVING COUNT(*) >= {LIFT_MIN_PAIRS}
)
SELECT tok_a, tok_b, n_ab, n_a, n_b,
       CAST(n_ab * (SELECT COUNT(*) FROM documents) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS lift
FROM pairs
""".strip()


# ---------------------------------------------------------------------------
# f_array_ops — array set-algebra battery (union/intersect/except/sort)
# ---------------------------------------------------------------------------


def f_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-algebra over each document's token halves: sizes of
    union/intersection/difference of the two distinct-token sets plus
    the lexicographically-first token — the higher-order-function
    coverage row for Spark's array algebra (`array_union` /
    `array_intersect` / `array_except` / `array_sort`), all exercised
    where results are ORDER-INSENSITIVE (sizes and a sorted head:
    the engines' internal element orders differ, their set sizes
    don't). Pure projection — zero shuffle, codegen end to end."""
    from ..operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    half = (F.size(toks) / 2).cast("int")
    a = F.array_distinct(F.slice(toks, F.lit(1), half))
    b = F.array_distinct(F.slice(toks, half + 1, F.size(toks) - half))
    return docs.select(
        "doc_id",
        F.size(a).cast("int").alias("n_a"),
        F.size(b).cast("int").alias("n_b"),
        F.size(F.array_union(a, b)).cast("int").alias("n_union"),
        F.size(F.array_intersect(a, b)).cast("int").alias("n_inter"),
        F.size(F.array_except(a, b)).cast("int").alias("n_except"),
        F.element_at(F.array_sort(a), 1).alias("first_tok"),
    )


F_ARRAY_OPS_SQL = f"""
WITH t AS (
    SELECT doc_id, {TOKS_SQL} AS toks FROM documents
),
halves AS (
    SELECT doc_id,
           list_distinct(list_slice(toks, 1, CAST(len(toks) // 2 AS INTEGER))) AS a,
           list_distinct(list_slice(toks, CAST(len(toks) // 2 AS INTEGER) + 1,
                                    len(toks))) AS b
    FROM t
)
SELECT doc_id,
       CAST(len(a) AS INTEGER) AS n_a,
       CAST(len(b) AS INTEGER) AS n_b,
       CAST(len(list_distinct(list_concat(a, b))) AS INTEGER) AS n_union,
       CAST(len(list_filter(a, x -> list_contains(b, x))) AS INTEGER) AS n_inter,
       CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS INTEGER) AS n_except,
       list_sort(a)[1] AS first_tok
FROM halves
""".strip()


# ---------------------------------------------------------------------------
# a_weighted_quantile
# ---------------------------------------------------------------------------


def a_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted p25/p50/p90 of l_extendedprice, weighted by
    l_quantity: smallest value whose cumulative weight reaches q·W.

    The fact table reduces to the value histogram first (one hash agg,
    checkpointed once — compressed table, never the fact). The quantile
    boundaries then come from the textbook two-level refine, NOT a
    cumulative window over the whole histogram: per-BUCKET weight totals
    (monotone range buckets, `operators/order.py::long_range_bucket`)
    are collected — ≤ 256 rows however big the data — the driver
    prefix-sums them to locate each quantile's bucket and its incoming
    offset, and a single partitioned window pass over ONLY the marked
    buckets (≤ 3 of 256) finds the crossing values. No single-partition
    stage anywhere, and the big pass touches ~1% of the histogram
    (a bare ``Window.orderBy`` here would serialize a
    millions-of-distinct-prices histogram through one task at 100 TB).
    Weights are integral sums of integral quantities, so the driver's
    integer prefix and both engines' running sums are exact."""
    from ..operators.order import pin_with_range_bucket

    li = load_table(spark, sf_dir, "lineitem")
    hist, bucket = pin_with_range_bucket(
        li.groupBy(F.col("l_extendedprice").alias("v")).agg(
            F.sum("l_quantity").alias("wt")
        ),
        F.col("v"),
    )
    b = hist.withColumn("__b", bucket)
    totals = sorted(
        (r["__b"], int(r["t"]))
        for r in b.groupBy("__b").agg(F.sum("wt").alias("t")).collect()
    )
    tw = float(sum(t for _, t in totals))
    qs = {"p25_w": 0.25, "p50_w": 0.50, "p90_w": 0.90}
    # driver prefix over the ≤256-row bucket totals: each quantile's
    # crossing bucket and the cumulative weight entering it
    marks: dict[str, tuple[int, int]] = {}
    for name, q in qs.items():
        run = 0
        for bk, t in totals:
            if run + t >= q * tw:
                marks[name] = (bk, run)
                break
            run += t
    want = sorted({bk for bk, _ in marks.values()})
    w_in = Window.partitionBy("__b").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        b.filter(F.col("__b").isin(want))
        .withColumn("cw", F.sum("wt").over(w_in))
    )
    aggs = []
    for name, q in qs.items():
        bk, off = marks.get(name, (None, 0))
        cond = (F.col("__b") == F.lit(bk)) & (
            F.col("cw") + F.lit(off) >= F.lit(q) * F.lit(tw)
        )
        aggs.append(F.min(F.when(cond, F.col("v"))).alias(name))
    # empty input: the twin's MAX(tw) over zero rows is NULL, not 0.0
    aggs.append(
        F.round(F.lit(tw if totals else None).cast("double"), 2).alias("total_weight")
    )
    return cum.agg(*aggs)


A_WEIGHTED_QUANTILE_SQL = """
WITH hist AS (
    SELECT l_extendedprice AS v, SUM(l_quantity) AS wt
    FROM lineitem GROUP BY 1
),
c AS (
    SELECT v,
           SUM(wt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw,
           SUM(wt) OVER () AS tw
    FROM hist
)
SELECT MIN(CASE WHEN cw >= 0.25 * tw THEN v END) AS p25_w,
       MIN(CASE WHEN cw >= 0.50 * tw THEN v END) AS p50_w,
       MIN(CASE WHEN cw >= 0.90 * tw THEN v END) AS p90_w,
       ROUND(MAX(tw), 2) AS total_weight
FROM c
""".strip()
