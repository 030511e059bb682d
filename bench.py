"""Benchmark harness — driver contract.

Runs every catalog query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints TWO
JSON lines:

1. a full detail line ``{"metric": "per_query_runtime", "unit": "sec",
   "queries": {name: sec}, "errors": {name: msg}}`` with every catalog
   entry (the 93-entry map overflowed the driver's tail buffer in r2, so
   it is not the parsed line);
2. the final, driver-parsed line ``{"metric": "catalog_total_runtime",
   "value": total_sec, "unit": "sec", "queries": {headline: sec},
   "n_ok": ..., "n_err": ..., "sf": ...}`` kept compact — the two
   flagship reports plus the five slowest queries of this run.

The full map is also written to ``bench_out/bench_detail.json`` (an
UNTRACKED dir — see .gitignore) as a durable side-channel (ADVICE r3: the
parsed line alone drops 86 of 93 timings). The tracked copy at the repo
root is refreshed only by ``tools/round_close.py``, so ad-hoc / driver
post-close bench runs no longer dirty the working tree (round-11 VERDICT
item 7: write-to-untracked-then-promote).

Every run self-documents its measurement conditions (round-11 VERDICT
item 2): 1-minute loadavg at start and end, uptime, and — when a
committed ``bench_detail.json`` exists — a re-probe of the 5 biggest
per-query movers vs that committed generation, so a uniform inflation
(co-tenant load) is distinguishable from real code movement without
cross-referencing PLANS.md and git history.

Failures are ISOLATED: one broken query records an error entry and the
rest still run (round 3 lost ALL numbers to a single events-schema crash).
A non-zero exit happens only if the harness itself breaks, never because a
query does.

Each query is materialized through the ``noop`` sink so the full plan
(including formatting columns) executes without collect() driver transfer.
A first warm-up run of the flagship amortizes JVM/codegen startup out of
the per-query numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from good_enough_timecamp_data_pipeline_spark.plans import catalog
from good_enough_timecamp_data_pipeline_spark.session import apply_tuned_conf, get_spark


def _conditions() -> dict:
    """Measurement-condition stamp (loadavg + uptime): the shared-tenancy
    host drifts ±25% in absolute seconds, so every artifact carries the
    conditions it ran under (round-11 VERDICT item 2)."""
    out: dict = {}
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/proc/uptime") as f:
            out["uptime_s"] = round(float(f.read().split()[0]), 1)
    except (OSError, ValueError):
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    cond_start = _conditions()

    spark = get_spark("bench")
    # size the session to the data under sf_dir (what spark-submit flags
    # do on a real cluster; see session.tuned_conf_for)
    apply_tuned_conf(spark, sf_dir)
    # warm-up: JVM JIT + codegen + parquet footers for each hot kernel
    # family, so per-query numbers reflect steady state instead of
    # whichever entry runs first absorbing the compile cost
    try:
        catalog.warmup(spark, sf_dir)
    except Exception as e:  # even a broken warm-up must not kill the bench
        print(f"warm-up failed: {e}", file=sys.stderr)
    # warm-up 2: land the write-once LSH index artifact so
    # d_incremental_dedup's per-query number times its actual claim (the
    # O(batch) warm probe), with the one-time corpus build cost reported
    # separately below (round-6 VERDICT item 4).
    lsh_build_sec = None
    try:
        from good_enough_timecamp_data_pipeline_spark.plans import northstar

        t0 = time.time()
        northstar.prewarm_lsh_index(spark, sf_dir)
        lsh_build_sec = round(time.time() - t0, 3)
    except Exception as e:
        print(f"lsh index prewarm failed: {e}", file=sys.stderr)
    # warm-up 3: the same discipline for every cross-entry shared
    # materialization (shingle/bucket/candidate tables, scored corpus,
    # bigram/DSIR tables, ...): build them ONCE here and report per-tag
    # build seconds, so each entry's number times the entry — not
    # whichever corpus-wide artifact it happened to consume first
    # (round-8 VERDICT item 3).
    shared_build_sec: dict[str, float] = {}
    try:
        shared_build_sec = catalog.prewarm_shared(spark, sf_dir)
    except Exception as e:
        print(f"shared artifact prewarm failed: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    job_counts: dict[str, int] = {}
    tracker = spark.sparkContext.statusTracker()
    for name, fn in catalog.queries().items():
        restore = catalog.apply_query_conf(spark, name)
        # a per-entry job group lets the status tracker attribute every
        # Spark job (driver-side probes, pinned-build actions, the final
        # noop write, AQE re-plans) to the entry — the job-FLOOR audit
        # column: entries whose time is mostly ~0.25 s/job scheduling
        # constant show up as high job_count with low per-job work
        spark.sparkContext.setJobGroup(f"bench:{name}", name)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            try:
                job_counts[name] = len(tracker.getJobIdsForGroup(f"bench:{name}"))
            except Exception:
                pass
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:500]
        finally:
            spark.sparkContext.setJobGroup("", "")
            restore()
            # operators pin reused intermediates (shingles, LSH buckets);
            # drop them so later queries aren't timed under cache pressure
            spark.catalog.clearCache()

    # pipeline-level number (round-8 VERDICT item 7): the composed
    # curate.py batch pipeline over sf_dir's documents — stages fused,
    # one LSH pass, per-stage counters riding the output write (the
    # deliverable a training-data team runs). Timed against a real
    # parquet sink because the observe-on-write counters ARE part of the
    # pipeline's contract; not part of catalog_total (it composes
    # catalog operators already timed above).
    curate_pipeline_sec = None
    try:
        import shutil
        import tempfile

        from good_enough_timecamp_data_pipeline_spark import curate as _cur

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        tmp = tempfile.mkdtemp(prefix="bench_curate_")
        try:
            t0 = time.time()
            out, obs = _cur.curate(spark, docs)
            out.write.mode("overwrite").parquet(os.path.join(tmp, "docs"))
            _ = {k: o.get["rows"] for k, o in obs.items()}
            curate_pipeline_sec = round(time.time() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.clearCache()
    except Exception as e:
        print(f"curate pipeline bench failed: {e}", file=sys.stderr)

    # P>1 trainer-path side metric (round-15 VERDICT item 5): the fused
    # single-partition branch fires on every local SF (one file → one
    # partition), so the per-iteration distributed loop — the path a
    # sharded 100 TB input takes — would otherwise have no tracked
    # number. Time one 15-iteration train over a 4-file copy of the
    # distant-supervision frame (temp dir, removed after). Not part of
    # catalog_total (t_train_classifier already times the declared
    # entry).
    trainer_p4_sec = None
    try:
        import shutil
        import tempfile

        from good_enough_timecamp_data_pipeline_spark.operators.classifier import (
            train_logreg_hashed,
        )
        from good_enough_timecamp_data_pipeline_spark.operators.text import tokenize
        from pyspark.sql import functions as F

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        labeled = docs.select(
            "text",
            F.array_contains(tokenize(F.col("text")), "customer")
            .cast("int")
            .alias("label"),
        )
        tmp = tempfile.mkdtemp(prefix="bench_trainer_p4_")
        try:
            labeled.repartition(4, "text").write.mode("overwrite").parquet(tmp)
            sharded = spark.read.parquet(tmp)
            spark.sparkContext.setJobGroup("bench:trainer_p4", "trainer P>1 probe")
            t0 = time.time()
            train_logreg_hashed(sharded, n_iter=15)
            trainer_p4_sec = round(time.time() - t0, 3)
        finally:
            spark.sparkContext.setJobGroup("", "")
            shutil.rmtree(tmp, ignore_errors=True)
        spark.catalog.clearCache()
    except Exception as e:
        print(f"trainer P>1 probe failed: {e}", file=sys.stderr)

    # re-probe EVERY mover past 0.8 s vs the COMMITTED bench_detail.json
    # (was top-5 — which left r12's s_stream_dedup +1.8 s regression with
    # no mover row, round-12 VERDICT item 1): a delta that does NOT
    # reproduce on the second in-session timing is tenancy/cache noise,
    # not code movement — BENCH_r11's 151 s vs the builder's 123.5 s pair
    # took a PLANS.md+git archaeology session to adjudicate; now the
    # artifact carries the evidence itself. A re-probe that CRASHES is
    # recorded, not swallowed (round-12 ADVICE): a query that regressed
    # into a crash since the committed generation is exactly the entry
    # movers exists to flag.
    movers: dict[str, dict] = {}
    committed_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    try:
        with open(committed_path) as f:
            committed = json.load(f).get("queries", {})
        deltas = sorted(
            (
                (abs(timings[k] - committed[k]), k)
                for k in timings
                if k in committed
            ),
            reverse=True,
        )
        chosen = [name for d, name in deltas[:5]] + [
            name for d, name in deltas[5:] if d > 0.8
        ]
        for name in chosen:
            restore = catalog.apply_query_conf(spark, name)
            t0 = time.time()
            entry = {"committed": committed[name], "run": timings[name]}
            try:
                catalog.queries()[name](spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                entry["reprobe"] = round(time.time() - t0, 3)
            except Exception as e:
                entry["reprobe_error"] = repr(e)
                print(f"movers re-probe failed for {name}: {e!r}", file=sys.stderr)
            finally:
                restore()
                spark.catalog.clearCache()
            movers[name] = entry
    except (OSError, ValueError, KeyError):
        pass

    cond_end = _conditions()
    detail = {
        "metric": "per_query_runtime",
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        # measurement conditions (round-11 VERDICT item 2)
        "conditions_start": cond_start,
        "conditions_end": cond_end,
        # biggest per-query deltas vs the committed generation, each
        # re-timed once in-session: run≈reprobe≫committed → real code
        # movement; run≫reprobe≈committed → first-execution/tenancy noise
        "movers_vs_committed": movers,
        # Spark jobs per entry (status-tracker job groups): the job-floor
        # audit — at sf0.1 each job costs ~0.1-0.3 s of pure scheduling,
        # so a cheap entry with many jobs is constant-bound, not
        # compute-bound (round-10 VERDICT item 7)
        "job_counts": job_counts,
        # one-time corpus index build (amortized across every later probe;
        # d_incremental_dedup's per-query line above is the warm probe)
        "lsh_index_build_sec": lsh_build_sec,
        # per-tag one-time builds of cross-entry shared materializations
        # (consumers above time their own work against the built artifact)
        "shared_build_sec": shared_build_sec,
        "shared_build_total_s": round(
            sum(v for v in shared_build_sec.values() if v >= 0), 3
        ),
        # composed curate.py batch pipeline over sf_dir documents (scrub →
        # exact → LSH near-dup → gates → split/shard, counters on the
        # write) — regression-tracked across rounds like per-query entries
        "curate_pipeline_sec": curate_pipeline_sec,
        # P>1 trainer path (15 per-iteration Arrow passes over a 4-file
        # shard copy) — the scale path the fused entry can't exercise
        "trainer_p4_sec": trainer_p4_sec,
    }
    print(json.dumps(detail))
    sys.stdout.flush()
    try:  # durable side-channel for per-query regression tracking —
        # written to the UNTRACKED bench_out/ dir (tmp-then-rename) so a
        # bench run never dirties the working tree; round_close promotes
        # it to the tracked root copy at commit time
        out_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_out"
        )
        os.makedirs(out_dir, exist_ok=True)
        out_path = os.path.join(out_dir, "bench_detail.json")
        tmp_path = out_path + f".tmp.{os.getpid()}"
        with open(tmp_path, "w") as f:
            json.dump({**detail, "sf": sf}, f, indent=1)
        os.replace(tmp_path, out_path)
    except OSError as e:
        print(f"bench_detail.json write failed: {e}", file=sys.stderr)

    # Final (parsed) line stays small: headline queries only — the two
    # flagship reports plus the five slowest of this run.
    headline = {
        k: timings[k]
        for k in ("report_task_budget", "report_project_budget")
        if k in timings
    }
    for k in sorted(timings, key=timings.get, reverse=True)[:5]:
        headline.setdefault(k, timings[k])
    print(
        json.dumps(
            {
                "metric": "catalog_total_runtime",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": headline,
                "n_ok": len(timings),
                "n_err": len(errors),
                "sf": sf,
                # write-once shared-artifact build seconds (priced OUTSIDE
                # the per-entry timings above — the established pricing
                # policy): surfaced on the PARSED line so the driver's
                # artifact tracks repricing drift round-over-round
                # (r15 VERDICT item 9; additive field, nothing removed)
                "shared_build_total_s": detail["shared_build_total_s"],
                # start/end 1-minute loadavg: the driver-recorded BENCH
                # artifact self-documents its tenancy conditions
                "load_1m": [
                    cond_start.get("loadavg_1m"),
                    cond_end.get("loadavg_1m"),
                ],
            }
        )
    )


if __name__ == "__main__":
    main()
