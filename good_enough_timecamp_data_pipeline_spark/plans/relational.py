"""Operator-inventory queries (SURVEY.md §2) over the driver testdata.
Families: predicates and coercion (``p_``), joins incl. salted skew and
fuzzy (``j_``), basic aggregates (``a_``), hierarchy (``h_``), scalar,
date, JSON and VARIANT functions (``f_``), ordering and set operations
(``o_``), windows (``w_``), reshaping and top-k incl. LATERAL
(``x_``), and as-of joins in all three directions (``x_asof_*``).

Each function is a ``(spark, sf_dir) -> DataFrame`` catalog entry; each
``*_SQL`` constant is the ANSI twin DuckDB replays as the oracle. Aliases
match exactly on both sides (the driver sorts columns by name and hashes
values).

Cross-engine determinism rules used throughout (see SURVEY.md §7 risk
register):
- double → bigint only via FLOOR (Spark CAST truncates, DuckDB rounds);
- AVG computed as CAST(SUM AS DOUBLE)/COUNT (engines' native AVG
  accumulators differ in summation order);
- money sums as integer cents (``FLOOR(x * 100)``) — IEEE ops are
  bit-deterministic, float *aggregation order* is not;
- every window/top-k fully tie-broken by a key column.

Scale notes are attached per query (docstrings): which side broadcasts,
where the single shuffle lands, what AQE handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.formatting import (
    format_duration,
    format_duration_signed,
    format_hours,
    string_fallback,
)
from ..functions.ids import add_prefix, strip_prefix
from ..operators.canonicalize import null_canonical
from ..operators.hierarchy import breadcrumbs, closure_sql, transitive_closure
from .testdata import TASKS_SQL, entries_df, load_table, register_views, tasks_df

# ---------------------------------------------------------------------------
# P — projections / filters / predicates
# ---------------------------------------------------------------------------

def p_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P10-style predicate + projection; both reach the parquet scan
    (PushedFilters + 4-column ReadSchema at any scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_quantity") > 30)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("long").alias("quantity"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
    )


P_FILTER_PUSHDOWN_SQL = """
SELECT l_orderkey,
       l_linenumber,
       CAST(FLOOR(l_quantity) AS BIGINT) AS quantity,
       CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01'
  AND l_shipdate <  TIMESTAMP '1995-09-01'
  AND l_quantity > 30
""".strip()


def p_null_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P8: roots-as-projects after ''/'0'/NULL → NULL canonicalization."""
    tasks = tasks_df(spark, sf_dir)
    return (
        tasks.withColumn("parent_id", null_canonical("parent_id"))
        .filter(F.col("parent_id").isNull())
        .select("task_id", "name")
    )


P_NULL_CANONICALIZATION_SQL = f"""
WITH _tasks AS ({TASKS_SQL})
SELECT task_id, name
FROM (
    SELECT task_id, name,
           CASE WHEN parent_id IS NULL OR parent_id IN ('', '0') THEN NULL
                ELSE parent_id END AS parent_id
    FROM _tasks
)
WHERE parent_id IS NULL
""".strip()


def p_type_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: defensive id-to-string / measure-to-long casts with defaults."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.coalesce(F.floor("o_totalprice").cast("long"), F.lit(0)).alias("total_long"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.coalesce(F.col("o_orderpriority"), F.lit("")).alias("priority"),
    )


P_TYPE_COERCION_SQL = """
SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
       COALESCE(CAST(FLOOR(o_totalprice) AS BIGINT), 0) AS total_long,
       CAST(o_orderdate AS DATE) AS order_date,
       COALESCE(o_orderpriority, '') AS priority
FROM orders
""".strip()


# ---------------------------------------------------------------------------
# J — joins
# ---------------------------------------------------------------------------

def j_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3: fact ⋈ broadcast dim + static category map with default.

    At 100 TB the part dim stays MBs → explicit broadcast kills the shuffle;
    the category map is a literal expression (no join at all).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    category = F.when(F.col("p_type") == "ECONOMY", "budget").otherwise(
        F.when(F.col("p_type") == "PROMO", "promoted").otherwise("No category")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"], "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.coalesce(F.col("p_name"), F.lit("unknown")).alias("part_name"),
            F.coalesce(category, F.lit("No category")).alias("category_name"),
        )
    )


J_BROADCAST_LOOKUP_SQL = """
SELECT l_orderkey,
       l_linenumber,
       COALESCE(p_name, 'unknown') AS part_name,
       COALESCE(CASE WHEN p_type = 'ECONOMY' THEN 'budget'
                     WHEN p_type = 'PROMO' THEN 'promoted'
                     ELSE 'No category' END, 'No category') AS category_name
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
""".strip()


def j_first_group_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + W1: left-enrich each customer with a deterministic "first"
    order (reference takes dict-insertion-order first group; we pin
    (date, orderkey) ascending) and '' / 0 defaults on miss."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    first_order = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderpriority", "o_totalprice")
    )
    return cust.join(first_order, cust["c_custkey"] == first_order["o_custkey"], "left").select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("o_orderpriority"), F.lit("")).alias("first_priority"),
        F.coalesce(F.floor("o_totalprice").cast("long"), F.lit(0)).alias("first_total_long"),
    )


J_FIRST_GROUP_ENRICH_SQL = """
WITH first_order AS (
    SELECT o_custkey, o_orderpriority, o_totalprice
    FROM (
        SELECT o_custkey, o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT c_custkey,
       c_name,
       COALESCE(o_orderpriority, '') AS first_priority,
       COALESCE(CAST(FLOOR(o_totalprice) AS BIGINT), 0) AS first_total_long
FROM customer LEFT JOIN first_order ON c_custkey = o_custkey
""".strip()


def j_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 semi: orders that have at least one lineitem."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"], "left_semi"
    ).select("o_orderkey", "o_orderstatus")


J_SEMI_SQL = """
SELECT o_orderkey, o_orderstatus
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
""".strip()


def j_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 anti (the cache-diff shape): customers with no orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


J_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""".strip()


def j_assembly_left_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: dim LEFT JOIN two independent aggregates, COALESCE defaults."""
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.floor("c_acctbal").cast("long")).alias("cust_bal_long"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        nation.join(cust, nation["n_nationkey"] == cust["c_nationkey"], "left")
        .join(supp, nation["n_nationkey"] == supp["s_nationkey"], "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("cust_bal_long"), F.lit(0)).alias("cust_bal_long"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


J_ASSEMBLY_LEFT_DEFAULTS_SQL = """
WITH cust AS (
    SELECT c_nationkey, COUNT(*) AS n_customers,
           CAST(SUM(CAST(FLOOR(c_acctbal) AS BIGINT)) AS BIGINT) AS cust_bal_long
    FROM customer GROUP BY c_nationkey
),
supp AS (
    SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey
)
SELECT n_nationkey, n_name,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(cust_bal_long, 0) AS cust_bal_long,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM nation
LEFT JOIN cust ON n_nationkey = c_nationkey
LEFT JOIN supp ON n_nationkey = s_nationkey
""".strip()


# ---------------------------------------------------------------------------
# A — aggregations
# ---------------------------------------------------------------------------

def a_groupsum_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 + free extras (TPC-H Q1 shape): grouped SUM/COUNT/AVG.

    One shuffle on the 4-value group key; Catalyst plans partial+final hash
    agg (map-side combine) automatically. AVG spelled as SUM/COUNT for
    cross-engine determinism.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor("l_quantity").cast("long")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    disc_cents = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(disc_cents).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


A_GROUPSUM_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       COUNT(*) AS count_order,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".strip()


def a_stats_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free extras: MIN/MAX/COUNT DISTINCT per group (absent in reference,
    noted in SURVEY §2.4 as built-in wins)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
        )
    )


A_STATS_MINMAX_SQL = """
SELECT l_returnflag,
       MIN(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS min_cents,
       MAX(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS max_cents,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part
FROM lineitem GROUP BY l_returnflag
""".strip()


def a_distinct_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/P4: distinct non-null, non-'0' id strings (application-id shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_partkey").cast("string").alias("application_id"))
        .filter(F.col("application_id").isNotNull() & (F.col("application_id") != "0"))
        .distinct()
    )


A_DISTINCT_IDS_SQL = """
SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS application_id
FROM lineitem
WHERE l_partkey IS NOT NULL AND CAST(l_partkey AS VARCHAR) <> '0'
""".strip()


def a_dedup_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: last-write-wins dedup by primary key. Duplicates are injected
    (every order re-appears with +1 price); winner = max price, pinned by
    ROW_NUMBER — the deterministic form of dlt's replace-by-pk."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dup = orders.withColumn("o_totalprice", F.col("o_totalprice") + 1)
    unioned = orders.unionByName(dup)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("o_totalprice"))
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey", F.floor("o_totalprice").cast("long").alias("total_long")
        )
    )


A_DEDUP_PK_SQL = """
WITH unioned AS (
    SELECT o_orderkey, o_totalprice FROM orders
    UNION ALL
    SELECT o_orderkey, o_totalprice + 1 FROM orders
)
SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS BIGINT) AS total_long
FROM (
    SELECT o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY o_totalprice DESC) AS rn
    FROM unioned
) WHERE rn = 1
""".strip()


# ---------------------------------------------------------------------------
# H — hierarchy (standalone closure / breadcrumbs; reports cover the rest)
# ---------------------------------------------------------------------------

def h_closure_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 as a bare query: the full ancestor/descendant closure."""
    return transitive_closure(tasks_df(spark, sf_dir)).select(
        "descendant_id", "ancestor_id", F.col("depth").cast("int").alias("depth")
    )


H_CLOSURE_PAIRS_SQL = f"""
WITH RECURSIVE
{closure_sql(TASKS_SQL)}
SELECT descendant_id, ancestor_id, CAST(depth AS INTEGER) AS depth
FROM task_hierarchy
""".strip()


def h_breadcrumb_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2/H3: breadcrumb + fixed-depth level columns ('' beyond depth).

    Strategy: the synthesized tree is exactly 3 levels (plans/testdata),
    so the lazy unroll (max_depth=4 = n_levels) inlines into the consumer
    job — measured 0.84 s vs 1.5 s for the driver-paced recursive CTE at
    sf0.1; h_closure_pairs keeps exercising the native-CTE strategy."""
    crumbs = breadcrumbs(tasks_df(spark, sf_dir), n_levels=4, max_depth=4)
    return crumbs.select(
        "task_id",
        "task_breadcrumb",
        "task_level_1",
        "task_level_2",
        "task_level_3",
        "task_level_4",
    )


H_BREADCRUMB_LEVELS_SQL = f"""
WITH RECURSIVE
_tasks AS ({TASKS_SQL}),
walk(task_id, cursor_id, path, d) AS (
    SELECT task_id, parent_id, name, 0 FROM _tasks
    UNION ALL
    SELECT w.task_id, t.parent_id, t.name || ' / ' || w.path, w.d + 1
    FROM walk w JOIN _tasks t ON w.cursor_id = t.task_id
    WHERE w.d < 8
),
crumb AS (SELECT task_id, path AS task_breadcrumb FROM walk WHERE cursor_id IS NULL)
SELECT task_id,
       task_breadcrumb,
       COALESCE(string_split(task_breadcrumb, ' / ')[1], '') AS task_level_1,
       COALESCE(string_split(task_breadcrumb, ' / ')[2], '') AS task_level_2,
       COALESCE(string_split(task_breadcrumb, ' / ')[3], '') AS task_level_3,
       COALESCE(string_split(task_breadcrumb, ' / ')[4], '') AS task_level_4
FROM crumb
""".strip()


# ---------------------------------------------------------------------------
# F — scalar function surfaces
# ---------------------------------------------------------------------------

def f_formatting_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F14 in one projection over the entries fact."""
    entries = entries_df(spark, sf_dir)
    signed = F.col("duration") - 150000
    return entries.select(
        "entry_id",
        "duration",
        format_duration("duration").alias("duration_fmt"),
        format_duration_signed(signed).alias("delta_fmt"),
        format_hours("duration").alias("hours_fmt"),
        F.abs(signed).alias("abs_delta"),
    )


def _f_formatting_wide_sql() -> str:
    from .common import fmt_duration_signed_sql, fmt_duration_sql
    from .testdata import ENTRIES_SQL

    return f"""
WITH _entries AS ({ENTRIES_SQL}),
base AS (SELECT entry_id, duration, duration - 150000 AS delta FROM _entries)
SELECT entry_id,
       duration,
       {fmt_duration_sql('duration')} AS duration_fmt,
       {fmt_duration_signed_sql('delta')} AS delta_fmt,
       printf('%.4f', (duration) / 3600.0) AS hours_fmt,
       ABS(delta) AS abs_delta
FROM base
""".strip()


F_FORMATTING_WIDE_SQL = _f_formatting_wide_sql()


def f_string_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/F6: prefix strip/add, fallback chain, breadcrumb concat."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    geo = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name", "r_name")
    return (
        cust.join(F.broadcast(geo), cust["c_nationkey"] == geo["n_nationkey"], "left")
        .select(
            "c_custkey",
            strip_prefix(F.col("c_name"), "Customer#").alias("bare_id"),
            add_prefix(F.col("c_custkey").cast("string"), "u").alias("prefixed_id"),
            F.concat_ws(" / ", F.col("r_name"), F.col("n_name"), F.col("c_name")).alias(
                "geo_breadcrumb"
            ),
            string_fallback(F.lit("  "), F.col("c_mktsegment"), F.lit("none")).alias(
                "segment_or_default"
            ),
        )
    )


F_STRING_IDS_SQL = """
WITH geo AS (
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
)
SELECT c_custkey,
       CASE WHEN starts_with(c_name, 'Customer#')
            THEN substr(c_name, 10) ELSE c_name END AS bare_id,
       'u' || CAST(c_custkey AS VARCHAR) AS prefixed_id,
       concat_ws(' / ', r_name, n_name, c_name) AS geo_breadcrumb,
       COALESCE(NULLIF(TRIM('  '), ''), NULLIF(TRIM(c_mktsegment), ''), TRIM('none'), '')
           AS segment_or_default
FROM customer LEFT JOIN geo ON c_nationkey = n_nationkey
""".strip()


def f_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8-F11: format→parse round-trip, day-clamped month add, month-batch
    key (calendar-month arithmetic, identical in both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    months_since = (F.year(d) * 12 + F.month(d)) - (1992 * 12 + 1)
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        F.date_format(d, "dd/MM/yyyy").alias("eu_str"),
        F.to_date(F.date_format(d, "dd/MM/yyyy"), "dd/MM/yyyy").alias("parsed_back"),
        F.add_months(d, 1).alias("next_month"),
        F.floor(months_since / 6).cast("long").alias("batch6")
    )


F_DATES_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       strftime(CAST(o_orderdate AS DATE), '%d/%m/%Y') AS eu_str,
       strptime(strftime(CAST(o_orderdate AS DATE), '%d/%m/%Y'), '%d/%m/%Y')::DATE AS parsed_back,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
       CAST(FLOOR(((year(o_orderdate) * 12 + month(o_orderdate)) - (1992 * 12 + 1)) / 6.0) AS BIGINT) AS batch6
FROM orders
""".strip()


def f_date_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: inclusive date-range expansion (one row per covered day)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 1000 == 0)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.explode(
            F.sequence(d, F.date_add(d, 3), F.expr("interval 1 day"))
        ).alias("day"),
    )


F_DATE_EXPLODE_SQL = """
SELECT o_orderkey, CAST(UNNEST(generate_series(
           CAST(o_orderdate AS DATE),
           CAST(o_orderdate AS DATE) + INTERVAL 3 DAY,
           INTERVAL 1 DAY)) AS DATE) AS day
FROM orders
WHERE o_orderkey % 1000 = 0
""".strip()


def f_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F12: JSON-string field extraction + array→JSON re-serialization."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.to_json(F.array(F.col("event_type"))).alias("type_json"),
    )


F_JSON_PROPS_SQL = """
SELECT event_id,
       CAST(props::JSON ->> 'k' AS VARCHAR) AS k_str,
       CAST(to_json([event_type]) AS VARCHAR) AS type_json
FROM events
""".strip()


# ---------------------------------------------------------------------------
# O / W — sorts, sets, windows
# ---------------------------------------------------------------------------

def o_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + free top-k: global sort DESC with full tie-break, LIMIT 100.
    Spark plans TakeOrderedAndProject — no full sort materialization."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        )
        .orderBy(F.desc("price_cents"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(100)
    )


O_SORT_TOPK_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem
ORDER BY price_cents DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
""".strip()


def o_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: UNION / INTERSECT / EXCEPT (distinct semantics both sides)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    with_orders = orders.select(F.col("o_custkey").alias("custkey"))
    return building.union(machinery).intersect(with_orders).exceptAll(
        cust.filter(F.floor("c_acctbal") < 0).select(F.col("c_custkey").alias("custkey"))
    )


O_SET_OPS_SQL = """
SELECT custkey FROM (
    (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
     UNION ALL
     SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    INTERSECT
    SELECT o_custkey FROM orders
)
EXCEPT ALL
SELECT c_custkey FROM customer WHERE FLOOR(c_acctbal) < 0
""".strip()


def w_running_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 + frames: per-nation rank and running balance (ROWS frame, fully
    tie-broken). One shuffle on the partition key."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.floor("c_acctbal").cast("long")
    order = [F.desc("bal_long"), F.asc("c_custkey")]
    w_rank = Window.partitionBy("c_nationkey").orderBy(*order)
    w_run = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        cust.select("c_custkey", "c_nationkey", bal.alias("bal_long"))
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("running_bal", F.sum("bal_long").over(w_run))
    )


W_RUNNING_RANK_SQL = """
SELECT c_custkey, c_nationkey,
       CAST(FLOOR(c_acctbal) AS BIGINT) AS bal_long,
       ROW_NUMBER() OVER w AS rn,
       CAST(SUM(CAST(FLOOR(c_acctbal) AS BIGINT))
           OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_bal
FROM customer
WINDOW w AS (PARTITION BY c_nationkey
             ORDER BY CAST(FLOOR(c_acctbal) AS BIGINT) DESC, c_custkey ASC)
""".strip()


def x_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free extra: top-3 orders per priority class."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("total_long"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.floor("o_totalprice").cast("long").alias("total_long"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


X_TOPK_PER_GROUP_SQL = """
SELECT o_orderkey, o_orderpriority, total_long, rn
FROM (
    SELECT o_orderkey, o_orderpriority,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS total_long,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY CAST(FLOOR(o_totalprice) AS BIGINT) DESC,
                                       o_orderkey ASC) AS rn
    FROM orders
) WHERE rn <= 3
""".strip()


def x_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free extra: ROLLUP grouping sets (subtotals + grand total)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


X_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""".strip()


def x_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free extra: pivot linestatus into measure columns."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor("l_quantity").cast("long")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(qty))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0)).alias("qty_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("qty_filled"),
        )
    )


X_PIVOT_SQL = """
SELECT l_returnflag,
       COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT), 0) AS qty_open,
       COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT), 0) AS qty_filled
FROM lineitem GROUP BY l_returnflag
""".strip()


# ---------------------------------------------------------------------------
# E — event-time queries (batch forms; streaming surface in streaming/)
# ---------------------------------------------------------------------------

def e_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (batch form of the streaming agg)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_cents",
        )
    )


E_TUMBLING_WINDOW_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
""".strip()


def e_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap per user (lag + cumsum)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        events.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("is_new").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


E_SESSIONIZE_SQL = """
WITH marked AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                     IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                           ORDER BY ts ASC, event_id ASC))
                     > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
)
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM marked GROUP BY user_id
""".strip()


# ---------------------------------------------------------------------------
# temporal / analytic extensions (SURVEY §2.3 absent-in-reference + §2.4/2.6
# free Spark extras) — all exact-arithmetic (cents as bigint) for the oracle
# ---------------------------------------------------------------------------

def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event enriched with the user's most recent
    (<=) view event. Spark lacks the operator; `operators.asof.asof_join`
    supplies it, DuckDB's native ASOF JOIN is the oracle."""
    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", cents.alias("purchase_cents")
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max(cents).alias("view_cents"))
    )
    return asof_join(
        purchases, views, on="ts", by="user_id", value_cols=["view_cents"]
    )


X_ASOF_JOIN_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts, CAST(FLOOR(value * 100) AS BIGINT) AS purchase_cents
    FROM events WHERE event_type = 'purchase'
),
views AS (
    SELECT user_id, ts, MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS view_cents
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, l.purchase_cents,
       r.ts AS ts_asof, r.view_cents AS view_cents_asof
FROM purchases l
ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts >= r.ts
""".strip()


def a_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count aggregates (absent in the reference; free in
    Spark — expand-based distinct agg, still one shuffle)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


A_COUNT_DISTINCT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
""".strip()


def x_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, year): all 4 grouping-set combinations in one
    pass (Expand + single hash agg)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("y", F.year("ts"))
        .cube("event_type", "y")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


X_CUBE_SQL = """
SELECT event_type, CAST(year(ts) AS INTEGER) AS y, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY CUBE (event_type, y)
""".strip()


def w_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window frames: lag/lead + a bounded ROWS frame moving sum
    per user (exact bigint arithmetic)."""
    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wf = w.rowsBetween(-3, 0)
    return events.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        F.lag(cents, 1).over(w).alias("prev_cents"),
        F.lead(cents, 1).over(w).alias("next_cents"),
        F.sum(cents).over(wf).alias("moving4_cents"),
        F.row_number().over(w).alias("seq"),
    )


W_FRAMES_SQL = """
SELECT event_id, user_id,
       CAST(FLOOR(value * 100) AS BIGINT) AS cents,
       lag(CAST(FLOOR(value * 100) AS BIGINT), 1)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_cents,
       lead(CAST(FLOOR(value * 100) AS BIGINT), 1)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_cents,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving4_cents,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            AS INTEGER) AS seq
FROM events
""".strip()


def a_salted_skew_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a pathologically skewed key.

    ~85% of lineitem rows are funneled to one hot key (quantity bucket 0).
    A plain groupBy would put the hot key's entire partial stream onto one
    reducer; salting splits it 16 ways first (partial agg per (key, salt)),
    then re-aggregates the 16 partials — the second shuffle carries only
    n_keys × 16 rows. AQE's skew handling covers *joins*; for aggregations
    the salt is still the portable fix. The oracle is the plain SUM (the
    rewrite must be semantically invisible).
    """
    li = load_table(spark, sf_dir, "lineitem")
    skew_key = F.when(F.col("l_quantity") <= 42, F.lit("hot")).otherwise(
        F.concat(F.lit("k"), F.floor(F.col("l_quantity")).cast("long").cast("string"))
    )
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    salted = li.select(
        skew_key.alias("k"),
        cents.alias("cents"),
        (F.xxhash64("l_orderkey", "l_linenumber") % 16).alias("salt"),
    )
    partial = salted.groupBy("k", "salt").agg(
        F.sum("cents").alias("p_cents"), F.count("*").alias("p_n")
    )
    return partial.groupBy("k").agg(
        F.sum("p_cents").alias("total_cents"), F.sum("p_n").alias("n_rows")
    )


A_SALTED_SKEW_SUM_SQL = """
SELECT CASE WHEN l_quantity <= 42 THEN 'hot'
            ELSE 'k' || CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR) END AS k,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY 1
""".strip()


def j_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy join: typo'd part names resolved against the clean name dim
    via blocked Levenshtein (operators.fuzzy). The dirty side drops each
    name's 3rd character — every dirty name must land within distance 1 of
    its source (and may legitimately match near-twin names too)."""
    from ..operators.fuzzy import fuzzy_join

    part = load_table(spark, sf_dir, "part")
    clean = part.select(F.col("p_name").alias("clean_name")).distinct()
    dirty = clean.select(
        F.concat(
            F.substring("clean_name", 1, 2),
            F.expr("substring(clean_name, 4)"),
        ).alias("dirty_name")
    ).distinct()
    return fuzzy_join(dirty, clean, "dirty_name", "clean_name", max_dist=2).select(
        "dirty_name", "clean_name", "edit_dist"
    )


J_FUZZY_MATCH_SQL = """
WITH clean AS (SELECT DISTINCT p_name AS clean_name FROM part),
dirty AS (
    SELECT DISTINCT substr(clean_name, 1, 2) || substr(clean_name, 4) AS dirty_name
    FROM clean
),
cand AS (
    SELECT d.dirty_name, c.clean_name
    FROM dirty d JOIN clean c
      ON substr(d.dirty_name, 1, 1) = substr(c.clean_name, 1, 1)
     AND ABS(length(d.dirty_name) - length(c.clean_name)) <= 2
)
SELECT dirty_name, clean_name,
       CAST(levenshtein(dirty_name, clean_name) AS INTEGER) AS edit_dist
FROM cand
WHERE levenshtein(dirty_name, clean_name) <= 2
""".strip()


def x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep over orders: per-column null count, distinct
    count, and value range in one scan.

    Shape: melt FIRST (stack → one (column_name, value) row per cell), then
    a two-level hash aggregation — level 1 collapses (column, value) groups,
    level 2 folds those into per-column stats. The naive wide form (one agg
    with 5 countDistinct + first() FILTERs) planned as Expand×6 feeding a
    SortAggregate chain — three full sorts of 6× the table; this form is
    pure HashAggregate (no sorts, partial aggs map-side), which is the
    profiling shape that holds on a 100 TB table. Distinct/min/max per
    column stay exact: min/max commute with FLOOR (monotonic), distincts
    count level-1 groups.
    """
    orders = load_table(spark, sf_dir, "orders")

    cols = {
        "o_orderkey": "num",
        "o_custkey": "num",
        "o_totalprice": "num",
        "o_orderstatus": "str",
        "o_orderpriority": "str",
    }
    # melt: (column_name, num_val, str_val); exactly one of num/str is
    # populated per row (both NULL ⇒ the cell was NULL)
    parts = []
    for c, kind in cols.items():
        if kind == "num":
            parts.append(f"'{c}', CAST({c} AS DOUBLE), CAST(NULL AS STRING)")
        else:
            parts.append(f"'{c}', CAST(NULL AS DOUBLE), CAST({c} AS STRING)")
    melted = orders.select(
        F.expr(
            f"stack({len(cols)}, "
            + ", ".join(parts)
            + ") AS (column_name, num_val, str_val)"
        )
    )
    is_null = F.col("num_val").isNull() & F.col("str_val").isNull()
    lvl1 = melted.groupBy("column_name", "num_val", "str_val").agg(
        F.count("*").alias("cnt")
    )
    return lvl1.groupBy("column_name").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(is_null, F.col("cnt"))), F.lit(0).cast("long")
        ).alias("n_nulls"),
        F.count(F.when(~is_null, F.lit(1))).alias("n_distinct"),
        F.coalesce(
            F.floor(F.min("num_val")).cast("long").cast("string"),
            F.min("str_val"),
        ).alias("min_val"),
        F.coalesce(
            F.floor(F.max("num_val")).cast("long").cast("string"),
            F.max("str_val"),
        ).alias("max_val"),
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


X_PROFILE_SQL = """
WITH w AS (
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
           COUNT(DISTINCT o_orderkey) AS k_dist,
           CAST(MIN(CAST(FLOOR(o_orderkey) AS BIGINT)) AS VARCHAR) AS k_min,
           CAST(MAX(CAST(FLOOR(o_orderkey) AS BIGINT)) AS VARCHAR) AS k_max,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_nulls,
           COUNT(DISTINCT o_custkey) AS c_dist,
           CAST(MIN(CAST(FLOOR(o_custkey) AS BIGINT)) AS VARCHAR) AS c_min,
           CAST(MAX(CAST(FLOOR(o_custkey) AS BIGINT)) AS VARCHAR) AS c_max,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
           COUNT(DISTINCT o_totalprice) AS t_dist,
           CAST(MIN(CAST(FLOOR(o_totalprice) AS BIGINT)) AS VARCHAR) AS t_min,
           CAST(MAX(CAST(FLOOR(o_totalprice) AS BIGINT)) AS VARCHAR) AS t_max,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls,
           COUNT(DISTINCT o_orderstatus) AS s_dist,
           MIN(CAST(o_orderstatus AS VARCHAR)) AS s_min,
           MAX(CAST(o_orderstatus AS VARCHAR)) AS s_max,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
           COUNT(DISTINCT o_orderpriority) AS p_dist,
           MIN(CAST(o_orderpriority AS VARCHAR)) AS p_min,
           MAX(CAST(o_orderpriority AS VARCHAR)) AS p_max
    FROM orders
)
SELECT u.column_name, w.n_rows, u.n_nulls, u.n_distinct, u.min_val, u.max_val
FROM w, LATERAL (
    VALUES ('o_orderkey', k_nulls, k_dist, k_min, k_max),
           ('o_custkey', c_nulls, c_dist, c_min, c_max),
           ('o_totalprice', t_nulls, t_dist, t_min, t_max),
           ('o_orderstatus', s_nulls, s_dist, s_min, s_max),
           ('o_orderpriority', p_nulls, p_dist, p_min, p_max)
) AS u(column_name, n_nulls, n_distinct, min_val, max_val)
""".strip()


def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont` — bit-identical on bigint inputs with exact
    binary fractions; verified, not assumed). The exact percentile is a
    sort-based agg; at 100 TB the approx_percentile sketch replaces it
    (rows-only tier) — this query pins the exact semantics."""
    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    return events.groupBy("event_type").agg(
        F.percentile(cents, 0.25).alias("p25"),
        F.percentile(cents, 0.5).alias("p50"),
        F.percentile(cents, 0.75).alias("p75"),
        F.percentile(cents, 0.9).alias("p90"),
    )


A_PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(CAST(FLOOR(value * 100) AS BIGINT), 0.25) AS p25,
       quantile_cont(CAST(FLOOR(value * 100) AS BIGINT), 0.5)  AS p50,
       quantile_cont(CAST(FLOOR(value * 100) AS BIGINT), 0.75) AS p75,
       quantile_cont(CAST(FLOOR(value * 100) AS BIGINT), 0.9)  AS p90
FROM events GROUP BY event_type
""".strip()


# ---------------------------------------------------------------------------
# j_salted_skew_join — hand-salted skew join (replicate build, salt probe)
# ---------------------------------------------------------------------------

N_SALTS = 8


def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomalous-event counts via an explicitly SALTED join.

    The portable answer to join skew when the build side is too big to
    broadcast and AQE's skew split isn't available (pre-3.x clusters,
    non-AQE engines, deterministic-partitioning requirements): replicate
    the build side ``N_SALTS``× with a salt column, give every probe row
    one deterministic salt (hash of its unique id — never ``rand()``,
    reruns must agree), and equi-join on (key, salt). A key carrying 50%
    of the fact now spreads over ``N_SALTS`` partitions instead of
    melting one. Cost: build side ×``N_SALTS`` — cheap when the build is
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
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1)))
    )
    probe = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS)))
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
# x_asof_forward / x_asof_nearest — the remaining as-of directions
# ---------------------------------------------------------------------------


def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", cents.alias("purchase_cents")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max(cents).alias("view_cents"))
    )
    return purchases, views


def x_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the user's NEXT (>=) view — the
    forward direction of the as-of operator (`x_asof_join` pins
    backward): the same carry window over the reversed order, one keyed
    shuffle; DuckDB's native ASOF JOIN with `<=` is the oracle."""
    from ..operators.asof import asof_join

    purchases, views = _asof_inputs(spark, sf_dir)
    return asof_join(
        purchases, views, on="ts", by="user_id",
        value_cols=["view_cents"], direction="forward",
    )


X_ASOF_FORWARD_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts, CAST(FLOOR(value * 100) AS BIGINT) AS purchase_cents
    FROM events WHERE event_type = 'purchase'
),
views AS (
    SELECT user_id, ts, MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS view_cents
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, l.purchase_cents,
       r.ts AS ts_asof, r.view_cents AS view_cents_asof
FROM purchases l
ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts <= r.ts
""".strip()


def x_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase enriched with the temporally CLOSEST view on either
    side (ties resolve backward — never read the future on a coin
    flip). Composition of both carry passes + an exact integer-µs
    distance pick; the oracle composes DuckDB's two native ASOF
    directions with the same tie rule."""
    from ..operators.asof import asof_join_nearest

    purchases, views = _asof_inputs(spark, sf_dir)
    return asof_join_nearest(
        purchases, views, on="ts", by="user_id", value_cols=["view_cents"]
    )


X_ASOF_NEAREST_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts, CAST(FLOOR(value * 100) AS BIGINT) AS purchase_cents
    FROM events WHERE event_type = 'purchase'
),
views AS (
    SELECT user_id, ts, MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS view_cents
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
),
bwd AS (
    SELECT l.event_id, r.ts AS ts_b, r.view_cents AS vc_b
    FROM purchases l
    ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts >= r.ts
),
fwd AS (
    SELECT l.event_id, r.ts AS ts_f, r.view_cents AS vc_f
    FROM purchases l
    ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts <= r.ts
)
SELECT p.event_id, p.user_id, p.ts, p.purchase_cents,
       CASE WHEN ts_b IS NOT NULL AND (ts_f IS NULL
                 OR ABS(epoch_us(ts_b) - epoch_us(p.ts))
                    <= ABS(epoch_us(ts_f) - epoch_us(p.ts)))
            THEN ts_b ELSE ts_f END AS ts_asof,
       CASE WHEN ts_b IS NOT NULL AND (ts_f IS NULL
                 OR ABS(epoch_us(ts_b) - epoch_us(p.ts))
                    <= ABS(epoch_us(ts_f) - epoch_us(p.ts)))
            THEN vc_b ELSE vc_f END AS view_cents_asof
FROM purchases p
JOIN bwd USING (event_id)
JOIN fwd USING (event_id)
""".strip()


def f_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rollup of a field shredded out of a VARIANT
    payload: parse the JSON props column once into VARIANT, extract
    ``$.k`` as BIGINT (``try_variant_get`` — NULL, never a throw, on
    path/type misses), and aggregate. One scan + one hash agg.

    Fixture contract (pinned by tests/test_round6.py): ``$.k`` in the
    testdata props is always an integer or absent. On non-integer
    payloads the engines would diverge — try_variant_get(...,'bigint')
    truncates 1.5 → 1 and casts booleans, while DuckDB's
    TRY_CAST(->>'k' AS BIGINT) yields NULL — so the twin holds only
    under that contract."""
    events = load_table(spark, sf_dir, "events")
    shredded = events.select(
        "event_type",
        F.expr("try_variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return (
        shredded.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


F_VARIANT_SHRED_SQL = """
WITH shredded AS (
    SELECT event_type,
           TRY_CAST(props::JSON ->> 'k' AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       ROUND(AVG(k), 6) AS avg_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM shredded
GROUP BY event_type
""".strip()


LATERAL_TOP_N = 3


def x_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``LATERAL_TOP_N`` customers by account balance per nation,
    written as a correlated LATERAL subquery (ORDER BY + LIMIT in the
    body) — the
    SQL-standard spelling of top-k-per-group. Catalyst decorrelates the
    correlated LIMIT into a per-key ranked window, so the executed plan
    is ONE shuffle on the correlation key, not a per-nation re-scan
    (plan shape pinned in tests/test_plans.py)."""
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT n.n_name AS nation, c.c_name AS customer, c.c_acctbal AS acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name
            LIMIT {LATERAL_TOP_N}
        ) c
        """
    )


X_LATERAL_TOPN_SQL = f"""
SELECT n.n_name AS nation, c.c_name AS customer, c.c_acctbal AS acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT {LATERAL_TOP_N}
) c
""".strip()


# ---------------------------------------------------------------------------
# f_variant_write_shred (rows-only)
# ---------------------------------------------------------------------------


def f_variant_write_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events props as SHREDDED VARIANT parquet, read the artifact
    back, extract the shredded field, aggregate. Covers the write half
    of the VARIANT story; tests/test_round7.py asserts the scan of the
    artifact prunes to the single typed subfield.

    The shredding schema is forced via
    ``spark.sql.variant.forceShreddingSchemaForTest`` — the only switch
    OSS Spark 4.1 exposes to produce spec-compliant shredded files (the
    production surface is a writer/table property once SPARK-45891's
    shredding API stabilizes); the files themselves are real shredded
    variant parquet, not a test fake. Conf is set/restored around the
    write so nothing leaks into the session."""
    import os

    from ..localfs import private_run_dir

    events = load_table(spark, sf_dir, "events")
    v = events.select(
        "event_id", "event_type", F.parse_json(F.col("props")).alias("v")
    )
    # fresh mkdtemp under the lstat-verified per-user root: a fixed
    # per-sf path would be pre-plantable by another local user and race
    # between concurrent runs on the same sf basename
    out_dir = os.path.join(
        private_run_dir(
            "spark_graft_variant_shred",
            prefix=os.path.basename(os.path.normpath(sf_dir)) + "-",
        ),
        "data",
    )
    key = "spark.sql.variant.forceShreddingSchemaForTest"
    prev = spark.conf.get(key, "")
    spark.conf.set(key, "k bigint")
    try:
        v.write.mode("overwrite").parquet(out_dir)
    finally:
        spark.conf.set(key, prev)
    back = spark.read.parquet(out_dir)
    return (
        back.select(
            "event_type",
            F.expr("try_variant_get(v, '$.k', 'bigint')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )
