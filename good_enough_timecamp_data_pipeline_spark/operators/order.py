"""Distributed global ordering: cumulative sums and row numbers over a
total order WITHOUT a single-partition window.

``Window.orderBy(key)`` with no partition spec is the classic Spark scale
trap: the physical WindowExec moves EVERY row to one partition (Spark even
warns), so any query built on it caps out at one core / one executor's
memory — fine at sf0.01, fatal at 100 TB. The reference engine never needs
a global order (its reports end at ORDER BY on aggregated output); our
packing/sharding operators do, so they get the scalable construction:

1. **bucket** every row by a *monotone* function of the sort key — equal
   prefixes of an md5 key, or fixed arithmetic ranges of a numeric key.
   Monotone ⇒ bucket order == key order, so buckets are a fixed-boundary
   range partitioning (no sampling pass, no RangePartitioner
   nondeterminism);
2. **within-bucket** window (partitioned — parallel, each ≈ 1/N of data);
3. **bucket offsets**: per-bucket totals (a map-side-combinable groupBy of
   ≤ N rows) are COLLECTED — N ≤ 256 rows of driver traffic, bounded by
   the bucket count and not by the data, the same O(partitions) driver
   exchange Spark's own RangePartitioner and ``zipWithIndex`` perform —
   prefix-summed on the driver, and broadcast back as a literal lookup.

Two scans of the input (totals + main pass) instead of a persist — at
scale, a rescan of a columnar source is cheaper and safer than caching the
whole fact. Ties across bucket boundaries cannot happen when the key is
unique (callers pass md5(id) or a primary key); document uniqueness at the
call site.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def md5_prefix_bucket(key: Column, hex_digits: int = 2) -> Column:
    """Monotone bucket for an md5 (lowercase-hex) sort key: the first
    ``hex_digits`` hex chars as an int. md5 is uniform ⇒ 16^d near-equal
    buckets; 2 digits = 256 buckets, plenty below one executor's share
    even at 100 TB (widen to 3–4 digits past ~10^12 rows)."""
    return F.conv(F.substring(key, 1, hex_digits), 16, 10).cast("int")


def long_range_bucket(df: DataFrame, key: Column, n_buckets: int = 256) -> Column:
    """Monotone bucket for a NUMERIC key: fixed arithmetic ranges between
    the observed min/max (one exact, deterministic pre-aggregation —
    hash-agg, not a window). Near-equal buckets when the key is roughly
    uniform/dense (ids); skewed keys still give CORRECT order, just
    uneven buckets.

    Empty input returns a constant bucket (nothing to order). Non-numeric
    keys fail fast here — arithmetic on a string key would otherwise
    surface as an opaque ANSI cast error deep in the caller's plan; use
    ``md5_prefix_bucket`` over ``F.md5(key)`` for arbitrary key types.
    """
    row = df.select(F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
    return range_bucket_col(row["lo"], row["hi"], key, n_buckets)


def range_bucket_col(lo, hi, key: Column, n_buckets: int) -> Column:
    if lo is None:  # empty (or all-null-key) input
        return F.lit(0).cast("int")
    if isinstance(lo, bool) or not isinstance(lo, (int, float)):
        raise TypeError(
            f"long_range_bucket needs a numeric key, got {type(lo).__name__}; "
            "for string/other keys sort by F.md5(key) and bucket with "
            "md5_prefix_bucket"
        )
    span = max(int(hi) - int(lo) + 1, 1)
    width = max(span // n_buckets + (1 if span % n_buckets else 0), 1)
    return ((key - F.lit(int(lo))) / F.lit(width)).cast("int")


def pin_with_range_bucket(
    df: DataFrame, key: Column, n_buckets: int = 256
) -> tuple[DataFrame, Column]:
    """Persist ``df`` AND compute its numeric key range in ONE action:
    the min/max aggregation that ``long_range_bucket`` needs anyway is
    what materializes the persisted blocks, so callers that previously
    paid an eager ``localCheckpoint`` job PLUS a bounds-collect job pay
    one job total. Returns ``(pinned_df, bucket_col)``; the pinned frame
    is what the cumsum's remaining passes (totals collect + main window
    pass) must consume. MEMORY_AND_DISK: the pinned table is the
    COMPRESSED pre-aggregated input (distinct values / per-entity
    totals), never the raw fact — it spills rather than OOMs if a
    caller breaks that contract."""
    d = df.persist(StorageLevel.MEMORY_AND_DISK)
    row = d.select(F.min(key).alias("lo"), F.max(key).alias("hi")).collect()[0]
    return d, range_bucket_col(row["lo"], row["hi"], key, n_buckets)


def global_cumsum_multi(
    df: DataFrame,
    key: Column,
    vals: dict[str, Column],
    bucket: Column,
    grand_totals: dict | None = None,
) -> DataFrame:
    """Running SUM over the total order of ``key`` (inclusive frame) for
    SEVERAL value columns at once — one bucketed window pass and one
    totals scan regardless of how many sums ride along (a two-sample
    ECDF needs two). ``vals`` maps output column name → value expression;
    ``bucket`` must be monotone in ``key`` (see module docstring).

    When ``grand_totals`` is passed (a dict, mutated in place), it
    receives each value column's GRAND total (over non-null-bucket rows)
    as a plain Python scalar — the construction's driver-side prefix sum
    already ends on exactly that number, so callers that need the total
    (a share-of-total, an n for a test statistic) can embed it as a
    literal instead of paying a separate aggregation job + broadcast
    join over the same input."""
    from pyspark.sql import types as T

    names = list(vals)
    d = df.withColumn("__b", bucket)
    for nm in names:
        d = d.withColumn(f"__v_{nm}", vals[nm])
    w_in = Window.partitionBy("__b").orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = d.groupBy("__b").agg(
        *[F.sum(f"__v_{nm}").alias(f"__t_{nm}") for nm in names]
    )
    # prefix-sum the ≤ n_buckets totals ON THE DRIVER: O(buckets) rows of
    # driver traffic (bounded by the bucket count, never the data — the
    # same exchange RangePartitioner/zipWithIndex do), then broadcast the
    # offsets back as a LITERAL local relation. The previous construction
    # (broadcast triangular self-join over the totals) was also bounded,
    # but cost two extra jobs that each re-scanned the input to rebuild
    # the totals for their broadcast — at 150 bench queries that fixed
    # per-query job overhead dominated; on a cluster it wasted two full
    # input scans.
    trows = totals.collect()
    casts = {}  # python-side coercion to each sum's Spark type
    for nm in names:
        dt = totals.schema[f"__t_{nm}"].dataType
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            casts[nm] = float
        elif isinstance(dt, T.DecimalType):
            from decimal import Decimal

            casts[nm] = Decimal
        else:
            casts[nm] = int
    run: dict[str, object] = {nm: casts[nm](0) for nm in names}
    offs_rows = []
    for r in sorted(
        (r for r in trows if r["__b"] is not None), key=lambda r: r["__b"]
    ):
        offs_rows.append(tuple([r["__b"]] + [run[nm] for nm in names]))
        for nm in names:
            v = r[f"__t_{nm}"]
            if v is not None:
                run[nm] = run[nm] + v
    # a null bucket (null sort key) contributes to no other bucket and
    # starts at 0 — same semantics the triangular join's null comparisons
    # produced
    for r in trows:
        if r["__b"] is None:
            offs_rows.append(tuple([None] + [casts[nm](0) for nm in names]))
    if grand_totals is not None:
        grand_totals.update(run)
    offs_schema = T.StructType(
        [totals.schema["__b"]]
        + [
            T.StructField(f"__off_{nm}", totals.schema[f"__t_{nm}"].dataType, True)
            for nm in names
        ]
    )
    offs = df.sparkSession.createDataFrame(offs_rows, offs_schema)
    out = d.join(F.broadcast(offs), "__b")
    for nm in names:
        out = out.withColumn(
            nm, (F.sum(f"__v_{nm}").over(w_in) + F.col(f"__off_{nm}")).cast("long")
        )
    return out.drop(
        "__b", *[f"__v_{nm}" for nm in names], *[f"__off_{nm}" for nm in names]
    )


def global_cumsum(
    df: DataFrame,
    key: Column,
    val: Column,
    bucket: Column,
    out: str = "cum",
    grand_totals: dict | None = None,
) -> DataFrame:
    """Running SUM(val) over the total order of ``key`` (inclusive frame),
    distributed via ``bucket`` (must be monotone in ``key``; see module
    docstring). Adds column ``out``; keeps all input columns."""
    return global_cumsum_multi(df, key, {out: val}, bucket, grand_totals)


def global_row_number(
    df: DataFrame, key: Column, bucket: Column, out: str = "rn"
) -> DataFrame:
    """1-based ROW_NUMBER() over the total order of ``key`` (unique keys),
    distributed via ``bucket``."""
    return global_cumsum(df, key, F.lit(1).cast("long"), bucket, out=out)


def packed_sort_key(hi: Column, lo: Column, lo_bits: int, what: str) -> Column:
    """``hi * 2^lo_bits + lo`` as ONE long — the (hi, lo) lexicographic
    order as a primitive sort/agg key — GUARDED (round-13 VERDICT item 2,
    the t_line_dedup pattern): out-of-domain inputs raise loudly at scan
    time instead of silently wrapping the long and corrupting the global
    order (a wrapped w_pareto_share key would mislabel ``is_top80`` with
    no error anywhere).

    Domain (exactly the range where the packing is monotone and the
    arithmetic cannot overflow a 64-bit long):

    - ``0 <= lo < 2^lo_bits`` — lo must stay inside its bit field;
    - ``-2^(63-lo_bits) <= hi <= 2^(63-lo_bits) - 1`` — the product
      ``hi * 2^lo_bits`` spans [-2^63, 2^63 - 2^lo_bits] and adding lo
      stays within the long. Negative hi is legal (callers pack
      ``-revenue`` for a descending order).

    The comparisons are plain long predicates inside whole-stage codegen;
    the ``raise_error`` branch is dead code on any in-domain input, so
    the guard costs one branch per row, not a strategy change.
    """
    hi_lim = 1 << (63 - lo_bits)
    in_domain = (
        (lo >= 0)
        & (lo < F.lit(1 << lo_bits))
        & (hi >= F.lit(-hi_lim))
        & (hi < F.lit(hi_lim))
    )
    return F.when(hi.isNull() | lo.isNull(), F.lit(None).cast("long")).otherwise(
        F.when(in_domain, hi * F.lit(1 << lo_bits) + lo).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{what}: (hi, lo) outside the packable domain "
                        f"(need -2^{63 - lo_bits} <= hi < 2^{63 - lo_bits} "
                        f"and 0 <= lo < 2^{lo_bits}); got hi="
                    ),
                    hi,
                    F.lit(" lo="),
                    lo,
                )
            ).cast("long")
        )
    )
