"""Testdata access + the synthesized task-hierarchy fixture.

The driver ships TPC-H-ish parquet tables (TESTDATA.md). The reference
engine's hierarchy operators (SURVEY.md §2.5, modeled on the tasks tree of
``/root/reference/dlt_fetch_timecamp.py:527-547``) need a tree, so we derive
one deterministically from ``region → nation → customer``:

- regions are roots  (``task_id 'r<k>'``, parent NULL)
- nations are level 2 (``'n<k>'``, parent ``'r<regionkey>'``)
- customers are leaves (``'c<k>'``, parent ``'n<nationkey>'``), budgeted =
  ``floor(c_acctbal)`` clamped at >= 0 (budget-in-seconds analog)

and an ``entries`` fact from ``orders`` (``task_id 'c<o_custkey>'``,
``duration = floor(o_totalprice)``), mirroring the reference's
entries-join-tasks shape (``SAMPLE-REPORTS.md:51-84``).

Every derivation is written twice — once as a DataFrame plan, once as an
ANSI-SQL CTE string — so DuckDB can replay it bit-for-bit as the oracle.
``floor`` before every double→bigint cast: Spark truncates toward zero while
DuckDB rounds, so an explicit floor is the only portable semantics.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from . import shared
from .shared import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_events_read_conf(spark: SparkSession) -> None:
    """Some vintages of events.parquet carry TIMESTAMP(NANOS); Spark rejects
    those unless spark.sql.legacy.parquet.nanosAsLong is set (a no-op for
    files that already carry µs timestamps). Runtime-settable — call before
    ANY read of events (batch or the streaming chunk writer), so the code
    works under sessions we didn't build (the driver's).

    Also pin the session timezone to UTC: ``normalize_events_ts`` casts
    TIMESTAMP_NTZ → TIMESTAMP, which is value-preserving only under a UTC
    session. The DuckDB oracle reads the naive parquet value as UTC, so a
    foreign non-UTC session would shift every instant-based result
    (``unix_micros``, window/watermark boundaries) away from the oracle.
    Both confs are runtime-settable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Bring ``events.ts`` to one canonical type (TIMESTAMP, UTC session)
    regardless of how the file shipped.

    Testdata has drifted across rounds: TIMESTAMP(NANOS) — which the
    nanosAsLong conf surfaces as a long — and plain ``timestamp[us]``
    (TIMESTAMP_NTZ to Spark). Branch on the *resolved* dtype instead of
    assuming a vintage:

    - long nanos → floor-divide to µs (DuckDB also truncates ns → its
      native µs timestamps, keeping the oracle bit-identical);
    - TIMESTAMP_NTZ → value-preserving cast to TIMESTAMP under the UTC
      session (what every downstream plan and the DuckDB oracle assume).
    """
    dt = dict(df.dtypes).get("ts")
    if dt in ("bigint", "long"):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# NOTE on scan parallelism: the local testdata ships each table as ONE
# parquet file with ONE row group, so the scan — and every narrow op
# fused to it — runs in a single task regardless of core count. Two
# remedies were measured at sf0.1 and BOTH lost: (a) re-laying the file
# out into 32 parts + shrinking files.maxPartitionBytes session-wide
# (+53 s total: every cheap relational query paid 32-task stage overhead
# and binary-file reads over-split); (b) a round-robin repartition after
# the scan (2–3× slower on the very pipelines it targeted — the exchange
# pays a full row sort (spark.sql.execution.sortBeforeRepartition) and
# re-runs once per derived lineage in iterative operators). Single-task
# first scans are simply optimal at this data size; on real multi-file
# 100 TB inputs the scan fans out by itself.


def footer_schema(path: str) -> T.StructType | None:
    """The Spark schema of a single parquet file, from its footer read on
    the driver: ``spark.read.parquet`` without a schema starts a Spark job
    to infer it. Timestamps without a zone map to TIMESTAMP_NTZ and
    nanosecond timestamps to bigint, as Spark infers them under
    ``nanosAsLong``. None (infer) for a directory of part files or a type
    Spark cannot take from Arrow."""
    if not os.path.isfile(path):
        return None
    schema = pq.read_schema(path)
    for i, field in enumerate(schema):
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            schema = schema.set(i, field.with_type(pa.int64()))
    try:
        return from_arrow_schema(schema, prefer_timestamp_ntz=True)
    except TypeError:  # e.g. unsigned ints
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's plan, read once per (session, sf_dir): a re-read pays a
    parquet footer read per table per catalog build."""

    def read() -> DataFrame:
        path = f"{sf_dir}/{name}.parquet"
        schema = footer_schema(path)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        if name != "events":
            return reader.parquet(path)
        # Set the nanos conf HERE, not only in our own get_spark() builder:
        # the driver verifies queries() under its own SparkSession where the
        # conf would otherwise be unset and a nanos-vintage events read dies
        # with PARQUET_TYPE_ILLEGAL.
        ensure_events_read_conf(spark)
        return normalize_events_ts(reader.parquet(path))

    return shared.memo(spark, sf_dir, ("table", name), read)


# store key of the per-session marker: the sf_dir whose views are registered
VIEWS_KEY = "testdata.views"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql paths).

    Memoized per session on the LAST registered sf_dir: dozens of catalog
    queries call this on entry, and each re-registration is 10 Py4J
    round-trips. A different sf_dir re-registers (the views must point at
    the new data), and so does A after B after A; ``sqlrunner`` forgets
    the marker when it shadows these views."""
    if shared.lookup(spark, None, VIEWS_KEY) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    shared.store(spark, None, VIEWS_KEY, sf_dir)


# ---------------------------------------------------------------------------
# Synthesized tasks tree (Spark side)
# ---------------------------------------------------------------------------

@session_memo
def tasks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-level task tree: region roots → nation → customer leaves.

    Column contract matches FIXTURES.md §A tasks: (task_id string,
    parent_id string nullable, name string, budgeted bigint).
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")

    roots = region.select(
        F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("task_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.col("r_name").alias("name"),
        F.lit(0).cast("long").alias("budgeted"),
    )
    mids = nation.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("task_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent_id"),
        F.col("n_name").alias("name"),
        F.lit(0).cast("long").alias("budgeted"),
    )
    leaves = customer.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("task_id"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("parent_id"),
        F.col("c_name").alias("name"),
        F.greatest(F.floor(F.col("c_acctbal")).cast("long"), F.lit(0).cast("long")).alias(
            "budgeted"
        ),
    )
    return roots.unionByName(mids).unionByName(leaves)


@session_memo
def entries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entries fact over the synthesized tree: one row per order.

    (entry_id string, task_id string, duration bigint, entry_date date).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").cast("string").alias("entry_id"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("task_id"),
        F.floor(F.col("o_totalprice")).cast("long").alias("duration"),
        F.to_date("o_orderdate").alias("entry_date"),
    )


# ---------------------------------------------------------------------------
# Identical derivations as SQL CTE bodies (DuckDB oracle side)
# ---------------------------------------------------------------------------

TASKS_SQL = """
SELECT 'r' || CAST(r_regionkey AS VARCHAR) AS task_id,
       CAST(NULL AS VARCHAR)               AS parent_id,
       r_name                              AS name,
       CAST(0 AS BIGINT)                   AS budgeted
FROM region
UNION ALL
SELECT 'n' || CAST(n_nationkey AS VARCHAR),
       'r' || CAST(n_regionkey AS VARCHAR),
       n_name,
       CAST(0 AS BIGINT)
FROM nation
UNION ALL
SELECT 'c' || CAST(c_custkey AS VARCHAR),
       'n' || CAST(c_nationkey AS VARCHAR),
       c_name,
       GREATEST(CAST(FLOOR(c_acctbal) AS BIGINT), CAST(0 AS BIGINT))
FROM customer
""".strip()

ENTRIES_SQL = """
SELECT CAST(o_orderkey AS VARCHAR)        AS entry_id,
       'c' || CAST(o_custkey AS VARCHAR)  AS task_id,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS duration,
       CAST(o_orderdate AS DATE)          AS entry_date
FROM orders
""".strip()
