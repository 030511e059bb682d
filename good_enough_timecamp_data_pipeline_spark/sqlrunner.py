"""Ad-hoc SQL surface: run Spark SQL over a landed table directory.

The reference pipeline's users consume their fetched data with plain SQL
in a warehouse (``docs/`` in the reference shows DuckDB/BigQuery queries
over the landed tables, and ``SAMPLE-REPORTS.md`` publishes two of
them). This module closes that loop on the Spark engine: point it at a
directory, every table found becomes a temp view, and the statement runs
through Catalyst — predicate pushdown, column pruning, AQE and all.

Two directory layouts are auto-detected:

- a **pipeline output dir** (`cli.py` / `sources/pipeline.py` layout):
  one subdirectory per dataset (``tasks/ users/ entries/ ...``),
  registered through the S11 schema-pinned reader;
- a **testdata dir** (driver layout): bare ``<name>.parquet`` files,
  registered via `plans/testdata.py::register_views` (which also
  normalizes the events timestamp vintage).

Usage::

    python -m good_enough_timecamp_data_pipeline_spark.sqlrunner \
        "SELECT user_id, SUM(duration_seconds) FROM entries GROUP BY 1" \
        --data ./timecamp_data --format parquet

    python -m good_enough_timecamp_data_pipeline_spark.sqlrunner \
        "SELECT COUNT(*) FROM lineitem" --data /root/testdata/sf0.01

Output: CSV on stdout (``--out json`` for JSON lines, ``--out parquet
--out-path DIR`` to land the result as a table). ``--explain`` prints
the formatted physical plan instead of running — the same artifact
`tools/plan_audit.py` commits for the catalog queries.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from .sources import io
from .sources.pipeline import DATASETS


def register_data_views(spark: SparkSession, data_dir: str, fmt: str = "parquet") -> list[str]:
    """Register every table under ``data_dir`` as a temp view; returns the
    registered names. Dispatches on layout (pipeline subdirs vs driver
    ``<name>.parquet`` files)."""
    names: list[str] = []
    if not os.path.isdir(data_dir):
        raise FileNotFoundError(data_dir)
    entries = sorted(os.listdir(data_dir))
    for e in entries:
        full = os.path.join(data_dir, e)
        if os.path.isdir(full) and not e.startswith(("_", ".")):
            name = e
            df = (
                io.read_table(spark, data_dir, name, fmt=fmt)
                if name in DATASETS
                else io.read_table_path(spark, full, fmt=fmt)
            )
        elif e.endswith(".parquet") and os.path.isfile(full):
            name = e[: -len(".parquet")]
            if name == "events":
                from .plans.testdata import ensure_events_read_conf, normalize_events_ts

                ensure_events_read_conf(spark)
                df = normalize_events_ts(spark.read.parquet(full))
            else:
                df = spark.read.parquet(full)
        else:
            continue
        df.createOrReplaceTempView(name)
        names.append(name)
    if not names:
        raise FileNotFoundError(f"no tables found under {data_dir}")
    # these may shadow testdata's table-named views; drop the memo so a
    # later plans.testdata.register_views() re-registers instead of
    # assuming its views are still in place
    from .plans import shared, testdata

    shared.forget(spark, testdata.VIEWS_KEY)
    return names


def run_sql(
    spark: SparkSession, statement: str, data_dir: str, fmt: str = "parquet"
) -> DataFrame:
    """Register views for ``data_dir`` and return the statement's frame."""
    register_data_views(spark, data_dir, fmt=fmt)
    return spark.sql(statement)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run Spark SQL over landed tables")
    p.add_argument("sql", help="the SQL statement (tables = dir contents)")
    p.add_argument("--data", required=True, help="table directory")
    p.add_argument("--format", default="parquet",
                   choices=("parquet", "csv", "jsonl", "orc"),
                   help="table storage format (pipeline layout). Default: parquet")
    p.add_argument("--out", default="csv", choices=("csv", "json", "parquet"),
                   help="result format. Default: csv on stdout")
    p.add_argument("--out-path", default=None,
                   help="result directory (required for --out parquet)")
    p.add_argument("--limit", type=int, default=1000,
                   help="max rows printed to stdout (landed output is never "
                        "limited). Default: 1000")
    p.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan, don't execute")
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("sqlrunner")
    df = run_sql(spark, args.sql, args.data, fmt=args.format)

    if args.explain:
        print(df._sc._jvm.PythonSQLUtils.explainString(  # same as .explain("formatted")
            df._jdf.queryExecution(), "formatted"))
        return 0
    if args.out == "parquet":
        if not args.out_path:
            print("error: --out parquet needs --out-path", file=sys.stderr)
            return 2
        df.write.mode("overwrite").parquet(args.out_path)
        print(f"wrote {args.out_path}")
        return 0
    rows = df.limit(args.limit).collect()
    if args.out == "json":
        import json

        for r in rows:
            print(json.dumps(r.asDict(recursive=True), default=str))
    else:
        import csv

        # csv.writer handles quoting/escaping — task names and free-text
        # fields routinely contain commas, quotes, and newlines
        w = csv.writer(sys.stdout, lineterminator="\n")
        cols = df.columns
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r[c] is None else str(r[c]) for c in cols])
    return 0


if __name__ == "__main__":
    sys.exit(main())
