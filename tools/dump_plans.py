"""Dump ``.explain("formatted")`` for named catalog entries to text files.

The round-15 optimization evidence: for every query an optimization
touched, ``plans/r15/<query>_before.txt`` (generated from a worktree at
the pre-change commit) and ``..._after.txt`` (from HEAD) hold the full
formatted physical plan, so a reviewer can check the claimed plan diffs
(Exchange counts, join strategies, pushed filters) without running Spark.

Usage::

    python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]

Runs against $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) — the
bench scale, so tier switches (cost-switched entries) match the plans the
bench actually executes. Queries that build driver-side state (shared
artifacts, probes) run those builds as usual; only the plan text is
written.

Two dumps of the same entries give the same files, whatever
``PYTHONHASHSEED`` is: each dump runs under a private temp root that it
deletes, so the on-disk artifact caches under the temp dir (the
write-once LSH index of ``dedup.build_lsh_index_cached``) start cold
every time. A process that found the index warm ran fewer Spark jobs than
one that built it, which shifted the JVM's expression and RDD ids of every
later entry, and with them the order of ``Expand`` projections. `mask`
replaces the two labels that still vary between processes: the private
temp root's name, and the JVM call site a ``localCheckpoint`` scan prints
(``<unknown>:0`` in one process, ``NativeMethodAccessorImpl.java:0`` in
another).
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    try:
        jqe = df._jdf.queryExecution()
        jvm = df.sparkSession._jvm
        return jvm.PythonSQLUtils.explainString(jqe, "formatted")
    except Exception:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def mask(text: str) -> str:
    """Plan text with the per-process labels replaced by fixed ones."""
    text = re.sub(r"dump_plans_[^/\]\s]+", "dump_plans_X", text)
    return re.sub(r"(localCheckpoint at )\S+:\d+", r"\1<callsite>", text)


def main() -> int:
    tempfile.tempdir = tempfile.mkdtemp(prefix="dump_plans_")
    try:
        return dump(sys.argv[1], sys.argv[2], sys.argv[3:])
    finally:
        shutil.rmtree(tempfile.tempdir, ignore_errors=True)


def dump(out_dir: str, suffix: str, names: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from good_enough_timecamp_data_pipeline_spark.plans import catalog
    from good_enough_timecamp_data_pipeline_spark.session import (
        apply_tuned_conf,
        get_spark,
    )

    spark = get_spark("dump_plans")
    apply_tuned_conf(spark, sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    qs = catalog.queries()
    rc = 0
    for name in names:
        restore = catalog.apply_query_conf(spark, name)
        try:
            df = qs[name](spark, sf_dir)
            text = mask(plan_text(df))
        except Exception as exc:
            print(f"FAIL {name}: {exc!r}", file=sys.stderr)
            rc = 1
            continue
        finally:
            restore()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir} ({suffix})\n")
            f.write(text if text.endswith("\n") else text + "\n")
        print(f"wrote {path}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
