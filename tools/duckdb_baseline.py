"""Spark-vs-DuckDB throughput comparison over the oracle-twinned catalog.

The reference pipeline executes its reports through dlt + DuckDB
(/root/reference/README.md), so DuckDB running each query's ANSI twin on
the same parquet IS the reference's single-node execution engine. This
tool times both sides per query and writes ``BASELINE_COMPARE.json``:

    python tools/duckdb_baseline.py [sf_dir] [query ...]

Interpretation guardrails (also embedded in the artifact):
- DuckDB is an in-process vectorized OLAP engine with zero scheduling
  overhead — at sf0.1 (~MBs of parquet) it SHOULD win most queries; the
  local bar from BASELINE.md is "within 2× of the reference's engine at
  the same scale", not "beat an embedded engine at kilobyte scale".
- Spark timings include driver planning + task scheduling (the fixed
  ~100-300 ms per stage that amortizes to nothing on a cluster but
  dominates sub-second queries here).
- Queries are timed one-shot (cold plans, warm JVM/DB) in catalog order,
  cache cleared between Spark queries — same protocol as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from good_enough_timecamp_data_pipeline_spark.plans import catalog
    from good_enough_timecamp_data_pipeline_spark.session import (
        apply_tuned_conf,
        get_spark,
    )

    try:
        loadavg_start = open("/proc/loadavg").read().split()[:3]
    except OSError:
        loadavg_start = None
    spark = get_spark("duckdb_baseline")
    # session conf sized to the data under sf_dir — same protocol as
    # bench.py (see session.tuned_conf_for)
    apply_tuned_conf(spark, sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written tables are DIRECTORIES of part files (the
        # synthesized sf1 point); driver testdata ships single files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    # warm both engines (JVM JIT/codegen per kernel family; duckdb catalog
    # + file handles) and land the write-once LSH index so
    # d_incremental_dedup times its warm probe (bench.py does the same;
    # build cost is a separate bench metric)
    catalog.warmup(spark, sf_dir)
    try:
        from good_enough_timecamp_data_pipeline_spark.plans import northstar

        northstar.prewarm_lsh_index(spark, sf_dir)
    except Exception as ex:
        print(f"lsh index prewarm failed: {ex}", file=sys.stderr)
    # build every cross-entry shared materialization up front and report
    # its cost per tag (shared_build_sec below): per-query numbers then
    # time the query, not a corpus-wide artifact build that DuckDB's
    # per-twin SQL re-derives inline (its totals are unchanged; the
    # labeled build total lets readers add it back — round-8 VERDICT
    # item 3)
    shared_build_sec = {}
    try:
        shared_build_sec = catalog.prewarm_shared(spark, sf_dir)
    except Exception as ex:
        print(f"shared artifact prewarm failed: {ex}", file=sys.stderr)
    con.execute("SELECT COUNT(*) FROM lineitem").fetchall()

    qs, oracles = e.queries(), e.oracle_sql()
    rows = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        restore = catalog.apply_query_conf(spark, name)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            restore()
        t_spark = time.time() - t0
        spark.catalog.clearCache()
        t0 = time.time()
        con.execute(oracles[name]).fetch_arrow_table()
        t_duck = time.time() - t0
        rows[name] = {
            "spark_s": round(t_spark, 3),
            "duckdb_s": round(t_duck, 3),
            "ratio": round(t_spark / t_duck, 2) if t_duck > 0 else None,
        }
        print(
            f"{name:28s} spark={t_spark:7.3f}s duckdb={t_duck:7.3f}s "
            f"ratio={rows[name]['ratio']}",
            flush=True,
        )

    try:
        loadavg_end = open("/proc/loadavg").read().split()[:3]
    except OSError:
        loadavg_end = None
    t_spark_total = sum(r["spark_s"] for r in rows.values())
    t_duck_total = sum(r["duckdb_s"] for r in rows.values())
    ratios = sorted(r["ratio"] for r in rows.values() if r["ratio"] is not None)
    # failed prewarm builds are reported as failed::<fn> = -1.0 sentinels;
    # exclude them from totals (their cost shows up in per-query numbers)
    _shared_ok_total = sum(v for v in shared_build_sec.values() if v >= 0)
    summary = {
        "sf_dir": sf_dir,
        "protocol": (
            "shape-warmed engine (per-entry shape warm-up at sf0.001; "
            "plans built cold per query)"
            if os.environ.get("SPARK_GRAFT_SHAPE_WARMUP", "1") != "0"
            else "cold engine (no shape warm-up; kernel-family warm-up only)"
        ),
        "n_queries": len(rows),
        "spark_total_s": round(t_spark_total, 2),
        "duckdb_total_s": round(t_duck_total, 2),
        "total_ratio": round(t_spark_total / t_duck_total, 2),
        # one-time shared-artifact builds, reported per tag instead of
        # being charged to their first consumer's per-query number; the
        # _incl variants add them back for the most conservative read
        "shared_build_sec": shared_build_sec,
        "shared_build_total_s": round(_shared_ok_total, 2),
        "spark_total_incl_shared_s": round(t_spark_total + _shared_ok_total, 2),
        "total_ratio_incl_shared": round(
            (t_spark_total + _shared_ok_total) / t_duck_total, 2
        )
        if t_duck_total > 0
        else None,
        "median_ratio": ratios[len(ratios) // 2] if ratios else None,
        "note": (
            "DuckDB is the reference's embedded engine; at local sf this "
            "workload fits its cache and Spark pays per-stage scheduling "
            "overhead that amortizes on a cluster. BASELINE.md bar: <=2x. "
            "Totals drift +-15% with HOST load (co-tenant cores outside "
            "this container; loadavg ~5 with the repo idle was observed) "
            "and the JVM suffers contention more than embedded DuckDB — "
            "compare runs at similar loadavg."
        ),
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "queries": rows,
    }
    # Denominator-pairing policy (round-11 VERDICT item 1b): the COLD
    # artifact additionally publishes its ratio against the SAME-SESSION
    # warm artifact's DuckDB total, so the cold trend can never move
    # with the competitor's page-cache state between measurement days —
    # run the warm protocol, then the cold one, back-to-back to make the
    # pairing airtight. The warm artifact is the canonical bar
    # number (BASELINE.md); cold is a published diagnostic.
    if os.environ.get("SPARK_GRAFT_SHAPE_WARMUP", "1") == "0":
        warm_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BASELINE_COMPARE.json",
        )
        try:
            warm = json.load(open(warm_path))
            summary["paired_warm_artifact"] = {
                "duckdb_total_s": warm.get("duckdb_total_s"),
                "written_at": warm.get("written_at"),
                "loadavg_start": warm.get("loadavg_start"),
            }
            if warm.get("duckdb_total_s"):
                summary["cold_ratio_paired"] = round(
                    t_spark_total / warm["duckdb_total_s"], 2
                )
        except (OSError, ValueError):
            pass
    out = os.environ.get("SPARK_GRAFT_BASELINE_OUT") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BASELINE_COMPARE.json",
    )
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "queries"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
