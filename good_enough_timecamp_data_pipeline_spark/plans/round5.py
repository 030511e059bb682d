"""Round-5 operator-coverage extensions (SURVEY §2.12 continuation).

Four further operators widening the analytic + LLM-pipeline surface; the
first three are oracle-twinned, `g_pagerank` is iterative (rows-only).
Nothing here introduces a Python UDF — every oracle-twinned query stays
in Catalyst expressions.

Scale principles specific to this batch:

- **Sweep-line** (`e_peak_concurrency`): interval-overlap questions are
  answered with +1/-1 boundary events and a running sum — never a
  time-range self-join (which rescans every overlapping row per row).
  Partitioning by (event_type, day) with day-clipped interval slices
  keeps the per-partition sort bounded and lets parallelism grow with
  the time range, instead of one partition per event_type.
- **Cross-engine float exactness** (`t_cooccurrence_lift`): association
  strength is reported as *lift* (a single exactly-rounded IEEE
  division of integer counts), not PMI — ``ln`` is the one scalar whose
  last ulp differs across engines, and the driver compares value hashes.
- **Bounded fan-out**: the co-occurrence pair join is restricted to a
  top-V vocabulary chosen by a distributed TakeOrdered (sort+limit — no
  single-partition row_number window over the full vocabulary), so the
  per-doc pair product is ≤ C(V,2) however large the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import pagerank
from . import shared
from .testdata import load_table

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
# t_cooccurrence_lift — bounded-vocabulary token co-occurrence association
# ---------------------------------------------------------------------------

def t_cooccurrence_lift(
    spark: SparkSession, sf_dir: str, vocab_size: int = 40, min_pairs: int = 5
) -> DataFrame:
    """Token-pair association (lift) over a top-V vocabulary.

    lift(a,b) = P(a,b) / (P(a)·P(b)) over documents — >1 means the pair
    co-occurs more than independence predicts. The unbounded version of
    this query is quadratic in vocabulary; the scale design caps it:

    - vocabulary = top ``vocab_size`` tokens by document frequency,
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
    vocab = df_counts.orderBy(F.desc("df"), F.asc("tok")).limit(vocab_size)
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
        .filter(F.col("n_ab") >= min_pairs)
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


T_COOCCURRENCE_LIFT_SQL = r"""
WITH doc_toks AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
    FROM documents
), df_counts AS (
    SELECT tok, COUNT(*) AS df FROM doc_toks GROUP BY tok
), vocab AS (
    SELECT tok, df FROM df_counts ORDER BY df DESC, tok ASC LIMIT 40
), in_vocab AS (
    SELECT d.doc_id, d.tok, v.df FROM doc_toks d JOIN vocab v USING (tok)
), pairs AS (
    SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS n_a, b.df AS n_b,
           COUNT(*) AS n_ab
    FROM in_vocab a
    JOIN in_vocab b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY 1, 2, 3, 4
    HAVING COUNT(*) >= 5
)
SELECT tok_a, tok_b, n_ab, n_a, n_b,
       CAST(n_ab * (SELECT COUNT(*) FROM documents) AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS lift
FROM pairs
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
# x_ordered_paths — ordered event-path aggregation (top user journeys)
# ---------------------------------------------------------------------------

def x_ordered_paths(spark: SparkSession, sf_dir: str, top_k: int = 20) -> DataFrame:
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
        .limit(top_k)
    )


X_ORDERED_PATHS_SQL = """
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
LIMIT 20
""".strip()


# ---------------------------------------------------------------------------
# j_salted_skew_join — hand-salted skew join (replicate build, salt probe)
# ---------------------------------------------------------------------------

def j_salted_skew_join(
    spark: SparkSession, sf_dir: str, n_salts: int = 8
) -> DataFrame:
    """Per-user anomalous-event counts via an explicitly SALTED join.

    The portable answer to join skew when the build side is too big to
    broadcast and AQE's skew split isn't available (pre-3.x clusters,
    non-AQE engines, deterministic-partitioning requirements): replicate
    the build side ``n_salts``× with a salt column, give every probe row
    one deterministic salt (hash of its unique id — never ``rand()``,
    reruns must agree), and equi-join on (key, salt). A key carrying 50%
    of the fact now spreads over ``n_salts`` partitions instead of
    melting one. Cost: build side ×``n_salts`` — cheap when the build is
    per-key aggregates (one row per key), which is exactly the skew-join
    case that hurts most.

    The result is identical to the unsalted join (the oracle runs that
    plain join), so correctness is engine-checkable while the plan shape
    is the scale pattern. The companion aggregation-side pattern is
    `a_salted_skew_sum`. The anomaly predicate compares exact integer
    cents (``v·n > 2·Σv`` instead of ``v > 2·avg``) — a float AVG is
    addition-order-sensitive, and a row near the boundary could flip
    between engines.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    profile = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents")
    )
    build = profile.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    probe = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)))
    return (
        probe.join(build, ["user_id", "salt"])
        .filter(cents * F.col("n_events") > 2 * F.col("sum_cents"))
        .groupBy("user_id", "n_events")
        .agg(F.count("*").alias("n_anomalous"))
    )


J_SALTED_SKEW_JOIN_SQL = """
WITH profile AS (
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS sum_cents
    FROM events GROUP BY user_id
)
SELECT e.user_id, p.n_events, COUNT(*) AS n_anomalous
FROM events e
JOIN profile p USING (user_id)
WHERE CAST(FLOOR(e.value * 100) AS BIGINT) * p.n_events > 2 * p.sum_cents
GROUP BY e.user_id, p.n_events
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
# t_semdedup — semantic dedup: cluster embeddings, near-dedup within clusters
# ---------------------------------------------------------------------------

def t_semdedup(
    spark: SparkSession, sf_dir: str, k: int = 8, threshold: float = 0.40
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then cosine near-dedup WITHIN each cluster — the
    all-pairs O(n²) becomes a sum of per-cluster squares, and the cluster
    count is the recall/cost knob. This is the semantic complement of the
    lexical MinHash path: paraphrases share no shingles but do share an
    embedding neighborhood.

    Pure composition of existing scale operators: `clustering.kmeans`
    (deterministic first-k init, mapInPandas partial sums) feeds its
    cluster ids as the blocking column of
    `similarity.neardup_pairs_blocked` (tiled-GEMM candidates + exact
    sequential-fold refine). rows-only: the float centroid means make
    cluster BOUNDARIES engine-specific even though the run itself is
    deterministic; the duplicate-recall property is pinned in tests by
    injecting known duplicates.

    Returns per-cluster (n_vectors, n_dup_pairs) — the dedup-rate map a
    curator reads before pulling the trigger.
    """
    from pyspark.storagelevel import StorageLevel

    from ..operators.clustering import kmeans
    from ..operators.similarity import neardup_pairs_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    assign, _ = kmeans(emb, k=k, max_iter=3)
    # pinned: consumed by the pair GEMM, the sizes agg, and the dup-count
    # join — without it each consumer re-runs the assignment scan + join
    labeled = emb.join(assign.select("vec_id", "cluster"), "vec_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = neardup_pairs_blocked(labeled, block_col="cluster", threshold=threshold)
    sizes = labeled.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    dup_counts = (
        pairs.join(
            labeled.select(F.col("vec_id").alias("id_a"), "cluster"), "id_a"
        )
        .groupBy("cluster")
        .agg(F.count("*").alias("n_dup_pairs"))
    )
    return (
        sizes.join(dup_counts, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# t_dsir_weights — DSIR importance weights (hashed-bigram log-ratio)
# ---------------------------------------------------------------------------

@shared.prewarmed
def _dsir_doc_sb(
    spark: SparkSession, sf_dir: str, n_buckets: int = 512
) -> DataFrame:
    """Shared (doc, source, bucket) hashed-bigram count table — the one
    corpus pass both DSIR entries reduce over (see t_dsir_weights)."""
    from .extensions import bigram_rows_from_toks, docs_alpha_toks_shared

    pairs = bigram_rows_from_toks(
        docs_alpha_toks_shared(spark, sf_dir), extra_cols=("source",)
    ).select(
        "doc_id",
        "source",
        (
            F.conv(
                F.substring(F.md5(F.concat_ws(" ", "w1", "w2")), 1, 8), 16, 10
            ).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    return shared.shared_checkpoint(
        spark,
        sf_dir,
        f"dsir_doc_sb_{n_buckets}",
        lambda: pairs.groupBy("doc_id", "source", "bucket").agg(
            F.count("*").alias("n")
        ),
    )


def t_dsir_weights(
    spark: SparkSession, sf_dir: str, n_buckets: int = 512
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): weight every document by how much more likely its
    hashed-bigram profile is under a TARGET distribution than under the
    raw corpus — log w(d) = Σ_b n_b(d)·(ln p̂_target(b) − ln p̂_corpus(b)),
    Laplace-smoothed. High-weight docs are the ones resampling keeps when
    curating toward the target domain (here: source='src0' plays the
    target; the full corpus is the proposal).

    Scale shape: bigrams hash into ``n_buckets`` md5-derived buckets
    (bit-identical across engines — the t_split recipe), so BOTH
    distribution estimates are B-row tables however big the corpus; the
    per-doc scoring join meets a B-row dimension (AQE broadcasts it) and
    the two totals are driver scalars from bounded aggregates. ln() gets
    identical double inputs in both engines; the per-doc sum is rounded
    4dp to absorb summation-order ulps (the t_lm_perplexity contract).
    """
    # ONE corpus pass: the (doc, source, bucket) count table is the
    # common reduction of everything downstream (per-doc counts, both
    # distribution estimates, both totals), and it is materialized as a
    # shared checkpoint so the md5-per-bigram pipeline — the expensive
    # narrow stage — runs once per SESSION, not once per consumer branch
    # or per catalog entry (t_dsir_resample builds on these weights;
    # see plans/shared.py). Source is functionally dependent on doc_id,
    # so adding it to the keys does not grow the table.
    doc_sb = _dsir_doc_sb(spark, sf_dir, n_buckets)
    doc_b = doc_sb.select("doc_id", "bucket", "n")
    bucket_counts = doc_sb.groupBy("bucket").agg(
        F.sum("n").alias("c_c"),
        F.sum(
            F.when(F.col("source") == "src0", F.col("n")).otherwise(F.lit(0))
        ).alias("c_t"),
    )
    tot = bucket_counts.agg(
        F.sum("c_c").cast("double").alias("t_c"),
        F.sum("c_t").cast("double").alias("t_t"),
    )
    lr = bucket_counts.crossJoin(tot).select(  # 1-row stats side
        "bucket",
        (
            F.log((F.col("c_t") + 1.0) / (F.col("t_t") + n_buckets))
            - F.log((F.col("c_c") + 1.0) / (F.col("t_c") + n_buckets))
        ).alias("lr"),
    )
    # EXPLICIT broadcast of the B-row likelihood-ratio dimension: lr is
    # ≤ n_buckets rows BY CONSTRUCTION, doc_b is corpus-sized. Leaving
    # the build-side choice to size estimates is a scale bug — doc_b
    # reads from a localCheckpoint whose LogicalRDD estimate does not
    # track the real data volume, and at the synthesized sf10 Catalyst
    # picked BuildLeft (broadcast the 25M-row doc_b) and died in the
    # broadcast build. The bounded side is knowable statically; say so.
    return (
        doc_b.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(F.sum(F.col("n") * F.col("lr")), 4).alias("dsir_logw"),
        )
    )


T_DSIR_WEIGHTS_SQL = """
WITH t AS (
    SELECT doc_id, source,
           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
),
pairs AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(w1 || ' ' || w2), 1, 8)) AS BIGINT) % 512 AS bucket
    FROM (
        SELECT doc_id, source,
               unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
               unnest(list_slice(toks, 2, len(toks))) AS w2
        FROM t WHERE len(toks) >= 2
    )
),
doc_b AS (
    SELECT doc_id, bucket, COUNT(*) AS n FROM pairs GROUP BY doc_id, bucket
),
tgt_b AS (
    SELECT bucket, COUNT(*) AS c_t FROM pairs WHERE source = 'src0' GROUP BY bucket
),
cor_b AS (
    SELECT bucket, COUNT(*) AS c_c FROM pairs GROUP BY bucket
),
tot AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS t_c,
           CAST(count_if(source = 'src0') AS DOUBLE) AS t_t
    FROM pairs
),
lr AS (
    SELECT c.bucket,
           ln((COALESCE(g.c_t, 0) + 1.0) / (tot.t_t + 512))
             - ln((c.c_c + 1.0) / (tot.t_c + 512)) AS lr
    FROM cor_b c LEFT JOIN tgt_b g USING (bucket) CROSS JOIN tot
)
SELECT d.doc_id,
       CAST(SUM(d.n) AS BIGINT) AS n_bigrams,
       ROUND(SUM(d.n * lr.lr), 4) AS dsir_logw
FROM doc_b d JOIN lr USING (bucket)
GROUP BY d.doc_id
""".strip()


# ---------------------------------------------------------------------------
# t_dsir_resample — Gumbel-top-k weighted sampling over DSIR weights
# ---------------------------------------------------------------------------

def t_dsir_resample(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """The resampling half of DSIR: draw ``k`` documents WITHOUT
    replacement with probability ∝ exp(dsir_logw), distributed, in one
    pass — the Gumbel-top-k identity (top-k of logw + Gumbel noise IS a
    weighted sample without replacement). No sequential draws, no
    rejection loop: per-row noise + a distributed TakeOrdered.

    Determinism is the whole design: the Gumbel uniform comes from an
    md5 of the doc id (never ``rand()`` — reruns and the oracle must
    agree), and the noise is rounded 4dp before the sum so the double
    ``ln`` calls' last-ulp wobble cannot flip a rank (the
    t_lm_perplexity contract); ties at 4dp resolution break by doc_id.
    """
    w = t_dsir_weights(spark, sf_dir)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("_g"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / 4294967296.0
    gumbel = F.round(-F.log(-F.log(u)), 4)
    return (
        w.withColumn("score", F.col("dsir_logw") + gumbel)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "dsir_logw", "score")
    )


T_DSIR_RESAMPLE_SQL = """
WITH t AS (
    SELECT doc_id, source,
           list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> x <> '') AS toks
    FROM documents
),
pairs AS (
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(w1 || ' ' || w2), 1, 8)) AS BIGINT) % 512 AS bucket
    FROM (
        SELECT doc_id, source,
               unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
               unnest(list_slice(toks, 2, len(toks))) AS w2
        FROM t WHERE len(toks) >= 2
    )
),
doc_b AS (
    SELECT doc_id, bucket, COUNT(*) AS n FROM pairs GROUP BY doc_id, bucket
),
bucket_counts AS (
    SELECT bucket, COUNT(*) AS c_c, count_if(source = 'src0') AS c_t
    FROM pairs GROUP BY bucket
),
tot AS (
    SELECT CAST(SUM(c_c) AS DOUBLE) AS t_c, CAST(SUM(c_t) AS DOUBLE) AS t_t
    FROM bucket_counts
),
lr AS (
    SELECT bucket,
           ln((c_t + 1.0) / (tot.t_t + 512)) - ln((c_c + 1.0) / (tot.t_c + 512)) AS lr
    FROM bucket_counts CROSS JOIN tot
),
w AS (
    SELECT d.doc_id, ROUND(SUM(d.n * lr.lr), 4) AS dsir_logw
    FROM doc_b d JOIN lr USING (bucket)
    GROUP BY d.doc_id
)
SELECT doc_id, dsir_logw,
       dsir_logw + ROUND(-ln(-ln(
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_g'), 1, 8)) AS BIGINT)
              + 0.5) / 4294967296.0)), 4) AS score
FROM w
ORDER BY score DESC, doc_id ASC
LIMIT 100
""".strip()


# ---------------------------------------------------------------------------
# t_token_kl_drift — per-source KL divergence vs the corpus distribution
# ---------------------------------------------------------------------------

def t_token_kl_drift(
    spark: SparkSession, sf_dir: str, n_buckets: int = 256
) -> DataFrame:
    """KL(source ‖ corpus) over hashed unigram buckets — the drift monitor
    a curation pipeline watches per ingest source: a source whose token
    distribution diverges from the corpus mix is changing under you
    (scraper drift, spam influx, language shift).

    Same physics as `t_dsir_weights`: md5-hashed token buckets make every
    per-source distribution a B-row table regardless of corpus size, so
    the whole query is two hash aggs + a join against a B-row dimension;
    totals ride along as grouped sums (no driver scalars at all).
    Laplace smoothing keeps every term finite; the sum runs over the
    buckets the source actually observed (absent-bucket terms are
    O(1/t_s) and identical in the twin); ln gets identical double inputs
    in both engines and the per-source sum rounds 4dp.
    """
    from .extensions import docs_alpha_toks_shared

    rows = docs_alpha_toks_shared(spark, sf_dir).select(
        "source", F.explode("t").alias("tok")
    ).select(
        "source",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % n_buckets
        ).alias("bucket"),
    )
    # ONE corpus pass: (source, bucket) is the common reduction — the
    # corpus-marginal and totals all derive from it, and the eager
    # checkpoint (sources × B rows, tiny) stops the tokenize+explode
    # pipeline re-running once per derived lineage.
    src_b = (
        rows.groupBy("source", "bucket")
        .agg(F.count("*").alias("c_s"))
        .localCheckpoint(eager=True)
    )
    # the corpus marginal, per-source totals and grand total are WINDOW
    # sums over the checkpointed (sources × B)-row table instead of
    # three join branches: same values, but a single linear plan — the
    # former agg+join shape scheduled an AQE stage cascade per join
    # (11 Spark jobs for a 2 500-row reduction; the round-10 job-floor
    # audit's textbook offender). The global window is bounded by
    # sources × B by construction, never by the data.
    w_b = Window.partitionBy("bucket")
    w_s = Window.partitionBy("source")
    w_all = Window.partitionBy()
    enriched = (
        src_b.withColumn("c_c", F.sum("c_s").over(w_b))
        .withColumn("t_s", F.sum("c_s").over(w_s).cast("double"))
        .withColumn("t_c", F.sum("c_s").over(w_all).cast("double"))
    )
    p_s = (F.col("c_s") + 1.0) / (F.col("t_s") + n_buckets)
    p_c = (F.col("c_c") + 1.0) / (F.col("t_c") + n_buckets)
    return (
        enriched.groupBy("source")
        .agg(
            F.sum("c_s").alias("n_tokens"),
            F.round(F.sum(p_s * (F.log(p_s) - F.log(p_c))), 4).alias("kl_vs_corpus"),
        )
    )


T_TOKEN_KL_DRIFT_SQL = """
WITH rows_ AS (
    SELECT source,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS bucket
    FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS tok
        FROM documents
    )
),
src_b AS (
    SELECT source, bucket, COUNT(*) AS c_s FROM rows_ GROUP BY source, bucket
),
cor_b AS (
    SELECT bucket, COUNT(*) AS c_c FROM rows_ GROUP BY bucket
),
src_tot AS (
    SELECT source, CAST(SUM(c_s) AS DOUBLE) AS t_s FROM src_b GROUP BY source
),
cor_tot AS (
    SELECT CAST(SUM(c_c) AS DOUBLE) AS t_c FROM cor_b
)
SELECT s.source,
       CAST(SUM(s.c_s) AS BIGINT) AS n_tokens,
       ROUND(SUM(((s.c_s + 1.0) / (st.t_s + 256))
                 * (ln((s.c_s + 1.0) / (st.t_s + 256))
                    - ln((c.c_c + 1.0) / (ct.t_c + 256)))), 4) AS kl_vs_corpus
FROM src_b s
JOIN cor_b c USING (bucket)
JOIN src_tot st USING (source)
CROSS JOIN cor_tot ct
GROUP BY s.source
""".strip()
