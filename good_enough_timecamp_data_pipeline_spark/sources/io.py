"""Table readers/writers (SURVEY §2.1 S8, S9, S11).

Layout parity with the reference's dlt filesystem destination — one
directory per table under a base dir (``/root/reference/
dlt_fetch_timecamp.py:685-698`` uses ``{table_name}.{file_id}.{ext}``; a
dir-per-table is the Spark-native equivalent of that namespace), formats
csv / jsonl / parquet (``:36``), full-refresh overwrite (``:458`` etc.).
``dedup_by_pk`` is the A5 dedup; ``pipeline.run_pipeline`` applies it once
before landing, and ``write_table`` writes its frame as given.

S9 (object stores) needs no code here: every writer takes a path, and an
``s3a://bucket/prefix`` path works as-is once ``spark.hadoop.fs.s3a.*``
creds are configured — same division of labor as the reference, which
swaps ``bucket_url`` + env creds (``docs/fetch-project-data-to-s3.md:6-17``).

Scale notes: parquet+snappy is the default (the reference disables
compression for debuggability — pass ``compression='none'`` for parity);
``partition_by`` turns on directory partitioning so downstream date-range
scans prune files (S12 builds on this).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas

FORMATS = {"parquet", "jsonl", "csv", "orc"}


def dedup_by_pk(df: DataFrame, pk: str | None) -> DataFrame:
    """A5: last-write-wins per key ≙ keep one row per pk (deterministic:
    dropDuplicates keeps an arbitrary row, fine for identical replaces —
    the reference's dlt replace semantics)."""
    return df.dropDuplicates([pk]) if pk else df


def table_path(base_dir: str, table: str) -> str:
    return os.path.join(base_dir, table)


def write_table(
    df: DataFrame,
    base_dir: str,
    table: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> str:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; pick one of {sorted(FORMATS)}")
    path = table_path(base_dir, table)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "jsonl":
        writer.json(path)  # spark json sink IS line-delimited
    else:
        # csv cannot carry dates/arrays implicitly; header on like S8
        writer.option("header", True).csv(path)
    return path


def read_table(
    spark: SparkSession,
    base_dir: str,
    table: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """S11: schema-pinned read (inference only when no contract is known)."""
    path = table_path(base_dir, table)
    if schema is None:
        schema = schemas.TABLE_SCHEMAS.get(table)
    r = spark.read.schema(schema) if schema else spark.read
    if fmt == "parquet":
        return r.parquet(path)
    if fmt == "orc":
        return r.orc(path)
    if fmt == "jsonl":
        return r.json(path)
    r = r.option("header", True)
    return (r if schema else r.option("inferSchema", True)).csv(path)


def to_s3a_path(path: str) -> str:
    """Normalize an ``s3://`` URL (the reference's CLI form,
    ``docs/fetch-project-data-to-s3.md:17``) to Spark's ``s3a://`` scheme —
    the maintained Hadoop S3 connector; ``s3://``/``s3n://`` are legacy."""
    for legacy in ("s3://", "s3n://"):
        if path.startswith(legacy):
            return "s3a://" + path[len(legacy):]
    return path


def configure_s3a(
    spark: SparkSession,
    access_key: str | None = None,
    secret_key: str | None = None,
    region: str | None = None,
    endpoint: str | None = None,
    path_style_access: bool = False,
) -> None:
    """S9: object-store sink is CONFIGURATION, not a separate writer — the
    same division of labor as the reference, which swaps ``bucket_url`` +
    env credentials and keeps the pipeline unchanged
    (``docs/fetch-project-data-to-s3.md:6-17``).

    Credentials fall back to the standard ``AWS_ACCESS_KEY_ID`` /
    ``AWS_SECRET_ACCESS_KEY`` / ``AWS_DEFAULT_REGION`` env vars (what the
    reference's ``DESTINATION__FILESYSTEM__CREDENTIALS__*`` map onto);
    with none present the s3a default provider chain (instance profile,
    env, etc.) applies. ``endpoint`` + ``path_style_access`` cover
    S3-compatible stores (MinIO, Ceph). After this, every writer in this
    module takes an ``s3a://bucket/prefix`` path as-is.

    Requires hadoop-aws on the classpath (``--packages
    org.apache.hadoop:hadoop-aws:<hadoop version>``) — not bundled in
    this sandbox, so tests assert conf routing and the precise
    missing-connector failure, not a live write.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    region = region or os.environ.get("AWS_DEFAULT_REGION")
    if access_key and secret_key:
        hconf.set("fs.s3a.access.key", access_key)
        hconf.set("fs.s3a.secret.key", secret_key)
    if region:
        hconf.set("fs.s3a.endpoint.region", region)
    if endpoint:
        hconf.set("fs.s3a.endpoint", endpoint)
    if path_style_access:
        hconf.set("fs.s3a.path.style.access", "true")
    # committers: never rename-commit on an object store — magic committer
    # writes task output straight to the final location with an atomic
    # multipart completion (rename on S3 is a copy, and the v1 committer's
    # directory rename is O(data) + non-atomic)
    hconf.set("fs.s3a.committer.name", "magic")
    # NOTE: this is the raw Hadoop Configuration — the key must be the one
    # Hadoop reads directly (the "spark.hadoop." prefix is only stripped
    # when routed through SparkConf, so prefixing it here would set a key
    # nobody consults and silently fall back to the rename-based
    # FileOutputCommitter).
    hconf.set(
        "mapreduce.outputcommitter.factory.scheme.s3a",
        "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory",
    )
    # Spark SQL parquet writes go through their own commit protocol; bind
    # both to the PathOutputCommitProtocol so DataFrame writes also use the
    # S3A committer instead of the default rename-based protocol. These two
    # classes live in the spark-hadoop-cloud module (deployed alongside
    # hadoop-aws on a real cluster, absent in this sandbox) — setting them
    # when the class can't load would break EVERY later write in the
    # session with ClassNotFoundException, so probe first.
    # Probe through Spark's own loader chain: jars shipped via
    # --jars/--packages land in the MutableURLClassLoader (installed as the
    # thread context classloader), which java.lang.Class.forName from the
    # py4j entry point does NOT consult — a bare forName would false-
    # negative on exactly the clusters that deploy spark-hadoop-cloud.
    try:
        spark._jvm.java.lang.Thread.currentThread().getContextClassLoader().loadClass(
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        )
        cloud_committers_present = True
    except Exception:
        cloud_committers_present = False
    if cloud_committers_present:
        spark.conf.set(
            "spark.sql.sources.commitProtocolClass",
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
        )
        spark.conf.set(
            "spark.sql.parquet.output.committer.class",
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
        )


def write_duckdb(
    df: DataFrame,
    db_path: str,
    table: str,
    staging_dir: str | None = None,
    mode: str = "overwrite",
) -> None:
    """S10: DuckDB destination (a dlt-claimed target of the reference).

    Spark-first: land parquet (distributed write), then point DuckDB at
    it with a zero-copy ``CREATE TABLE … AS SELECT`` over the parquet
    glob — the driver never materializes the rows. ``staging_dir``
    defaults to ``{db_path}.staging/{table}``.
    """
    import duckdb

    staging = staging_dir or f"{db_path}.staging/{table}"
    df.write.mode(mode).parquet(staging)
    con = duckdb.connect(db_path)
    try:
        if mode == "overwrite":
            con.execute(f'DROP TABLE IF EXISTS "{table}"')
            con.execute(
                f'CREATE TABLE "{table}" AS SELECT * FROM read_parquet(?)',
                [f"{staging}/*.parquet"],
            )
        else:
            con.execute(
                f'INSERT INTO "{table}" SELECT * FROM read_parquet(?)',
                [f"{staging}/*.parquet"],
            )
    finally:
        con.close()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Land a table bucketed (hash-clustered) by a join key.

    Bucketing is the persisted form of co-location: two tables bucketed
    the same way join WITHOUT an exchange on either side — at 100 TB this
    converts every recurring fact⋈fact or fact⋈big-dim join from a full
    shuffle into a per-bucket local join (`tests/test_layout.py` asserts
    the exchange-free plan). Requires the session catalog (``saveAsTable``);
    ``sort_col`` additionally pre-sorts within buckets so sort-merge joins
    skip the sort too.
    """
    writer = df.write.mode(mode).format(fmt).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
) -> None:
    """S10: warehouse sinks. MySQL/Postgres/SQLite land through plain JDBC;
    both are configuration, not engine code."""
    df.write.mode(mode).jdbc(url, table, properties=properties or {})


def write_bigquery(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    temporary_gcs_bucket: str | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """S10: BigQuery sink via the spark-bigquery connector
    (``--packages com.google.cloud.spark:spark-bigquery-with-dependencies``).

    ``table`` is ``project.dataset.table``. The indirect write path stages
    through GCS (``temporary_gcs_bucket``); omit it to use the Storage
    Write API direct path. Raises a clear error when the connector jar is
    not on the classpath (it is not bundled here).
    """
    writer = df.write.format("bigquery").mode(mode)
    if temporary_gcs_bucket:
        writer = writer.option("temporaryGcsBucket", temporary_gcs_bucket)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    try:
        writer.save(table)
    except Exception as e:  # surface the missing-connector case precisely
        if "bigquery" in str(e).lower() and (
            "Failed to find" in str(e) or "ClassNotFound" in str(e)
        ):
            raise RuntimeError(
                "spark-bigquery connector not on the classpath; launch with "
                "--packages com.google.cloud.spark:"
                "spark-bigquery-with-dependencies_2.13:<version>"
            ) from e
        raise


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Rewrite a table directory into ~target-sized files; returns the new
    file count.

    The small-files problem is the silent killer of long-lived 100 TB
    tables: every incremental append lands a few KB-to-MB files, and a
    year later each scan pays one task + one open per shard. Compaction =
    measure on-disk bytes, ``coalesce`` (narrow — no shuffle: merging
    files needs no data movement, only fewer output tasks) to
    ``ceil(bytes / target)``, rewrite to a staging dir, atomically swap.
    The staging-then-rename keeps readers consistent on a local/HDFS-like
    FS; object stores swap via the table-format layer (Delta/Iceberg
    rewrite actions) instead.
    """
    import math
    import shutil

    if "://" in path:
        raise ValueError("compact_table handles local paths; use table-format "
                         "rewrite actions (OPTIMIZE) on object stores")
    n_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )
    n_files = max(1, math.ceil(n_bytes / target_file_bytes))
    df = read_table_path(spark, path, fmt)
    staging = path.rstrip("/") + ".__compact__"
    writer = df.coalesce(n_files).write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(staging)
    elif fmt == "orc":
        writer.orc(staging)
    elif fmt == "jsonl":
        writer.json(staging)
    else:
        writer.option("header", True).csv(staging)
    # old-aside swap: the unavailable window is two renames instead of a
    # full rewrite, and the old data stays recoverable in .__old__ — NOT a
    # true atomic swap: between the two renames the path briefly does not
    # exist, and a process crash in that window leaves the table stranded
    # under .__old__ (recovery: rename .__old__ back to the table path).
    # The except-clause rollback covers an OSError from the second rename
    # only. A true atomic exchange needs renameat2(RENAME_EXCHANGE), which
    # Python does not expose portably; still strictly better than
    # rmtree-then-rename, which destroyed the original before the
    # replacement existed.
    old = path.rstrip("/") + ".__old__"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(old, path)  # roll back: original table returns
        raise
    shutil.rmtree(old)
    return n_files


def read_table_path(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Format-dispatched read of a bare table directory (no registry)."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt == "jsonl":
        return spark.read.json(path)
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def read_with_lineage(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a table with per-row source lineage attached: the hidden
    ``_metadata`` struct every file source carries (file path, size,
    modification time) surfaced as ordinary columns.

    The audit columns a regulated pipeline needs on every landed row —
    "which file did this record come from, when" — with ZERO extra I/O:
    `_metadata` is constant-per-split metadata, not data; selecting it
    costs nothing and it prunes away when unused. At 100 TB this replaces
    the anti-pattern of globbing files in a driver loop to tag
    provenance.
    """
    df = read_table_path(spark, path, fmt)
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_source_file"),
        F.col("_metadata.file_size").alias("_source_bytes"),
        F.col("_metadata.file_modification_time").alias("_source_mtime"),
    )


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    staging_dir: str | None = None,
    mode: str = "overwrite",
    batch_rows: int = 10_000,
) -> int:
    """S10: SQLite destination (a dlt-claimed target of the reference,
    `/root/reference/README.md:3`) — stdlib-only, so it RUNS here, unlike
    the jar-bound JDBC path (write_jdbc is the cluster-grade route to
    MySQL/Postgres).

    Spark-first staging, bounded driver: land parquet (distributed
    write), then stream it into SQLite with pyarrow record batches +
    ``executemany`` — driver memory is O(batch_rows), never O(table).
    SQLite itself is single-writer single-file, so a driver-side funnel
    is the honest shape (the reference's dlt sqlite destination is the
    same); one transaction per file keeps the load atomic per shard.
    Returns the row count written.
    """
    import glob as _glob
    import json as _json
    import sqlite3

    import pyarrow.parquet as _pq

    staging = staging_dir or f"{db_path}.staging/{table}"
    df.write.mode("overwrite").parquet(staging)

    def _sql_type(t) -> str:
        import pyarrow as pa

        if pa.types.is_integer(t) or pa.types.is_boolean(t):
            return "INTEGER"
        if pa.types.is_floating(t):
            return "REAL"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "BLOB"
        return "TEXT"  # strings, timestamps, dates, nested (JSON text)

    files = sorted(_glob.glob(f"{staging}/part-*.parquet"))
    schema = _pq.read_schema(files[0])
    cols = ", ".join(f'"{f.name}" {_sql_type(f.type)}' for f in schema)
    placeholders = ", ".join("?" for _ in schema)
    con = sqlite3.connect(db_path)
    n = 0
    try:
        if mode == "overwrite":
            con.execute(f'DROP TABLE IF EXISTS "{table}"')
        con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({cols})')
        for path in files:
            pf = _pq.ParquetFile(path)
            with con:  # one transaction per staged file
                for batch in pf.iter_batches(batch_size=batch_rows):
                    rows = []
                    for row in batch.to_pylist():
                        rows.append(
                            tuple(
                                _json.dumps(v)
                                if isinstance(v, (list, dict))
                                else (v.isoformat() if hasattr(v, "isoformat") else v)
                                for v in (row[f.name] for f in schema)
                            )
                        )
                    con.executemany(
                        f'INSERT INTO "{table}" VALUES ({placeholders})', rows
                    )
                    n += len(rows)
    finally:
        con.close()
    return n
