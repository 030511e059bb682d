"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload elt --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It starts ``perfbench/worker.py`` in a
new session (its own process group) with ``SPARK_GRAFT_CPUS`` pinned to
``ENGINE_CORES``, and with the working directory,
``TMPDIR``, ``SPARK_LOCAL_DIRS``, the warehouse and the Derby home all in
a scratch directory under ``.perfbench_runs/``. While the run lasts, a
sampler thread records every process of that session. When the worker
exits, any process of the session still alive after a grace period is
killed and counted in ``proc.survivors``, which fails the run. What the
run left in its scratch directory is measured (``tmp.leaked_bytes``,
``tmp.leaked_entries``) and the directory is deleted. After the measured
worker, ``SETUP_PROBES`` more workers, supervised the same way, only set
up and stop; ``setup_s`` is the median over all of them.

Output: one line holding the full artifact (``{"artifact": ...}``:
every metric, the load stamp, per-operation timings), then as the last
line ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer
metrics (``--trace 1``). The exit code is 0 only for a correct run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import procstat  # noqa: E402

PACKAGE = "good_enough_timecamp_data_pipeline_spark"
WORKER_TIMEOUT_S = 120.0
PROBE_TIMEOUT_S = 30.0
EXIT_GRACE_S = 5.0
DRIVER_MEM = "2g"
# One task thread. The inputs are small enough that a pass is bound by
# the per-job floor and compilation, not by task parallelism (on 4 cores
# a pass took as long on local[1] as on local[4]); with more task threads
# the run competed with the JVM's compiler and GC threads and with the
# host's other tenants, and a pass's time spread 0.2 between runs.
ENGINE_CORES = 1
SETUP_PROBES = 1


def reap(sid: int, seen: dict[int, int], grace: float) -> int:
    """Give the run's processes ``grace`` seconds to exit, then SIGKILL
    the rest; returns how many had to be killed."""
    left = procstat.wait_exit(sid, seen, grace)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    return len(left)


def supervise(cmd: list[str], cwd: str, env: dict, log_path: str,
              timeout: float) -> tuple[int | None, int]:
    """Run the worker as the leader of a new session and wait for it.
    Returns its exit code (None when it ran too long) and how many of
    its processes were still alive after it and had to be killed."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
    # every process of the run stays in the worker's session, including
    # the Python daemon that moves to a process group of its own
    sid, seen = proc.pid, {}
    sampler = procstat.Poller(lambda: seen.update(procstat.session_pids(sid)), 0.25)
    sampler.start()
    code = None
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # after a timeout or an interrupt the worker still runs: no grace
        sampler.stop()
        survivors = reap(sid, seen, EXIT_GRACE_S if code is not None else 0.0)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        reap(sid, seen, EXIT_GRACE_S)  # wait for the killed ones too
    return code, survivors


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"run.py: no {PACKAGE}/ under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"run.py: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    runs_dir = os.path.join(root, ".perfbench_runs")
    scratch = os.path.join(runs_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(scratch, k) for k in ("cwd", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(min(ENGINE_CORES, nproc)),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("SPARK_MASTER", None)
    cmd = [sys.executable, os.path.join(here, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", scratch]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        survivors, setups, walls = 0, [], []
        for i in range(1 + SETUP_PROBES):
            name = "result" if i == 0 else f"probe-{i}"
            log_path = os.path.join(scratch, f"{name}.log")
            extra = [] if i == 0 else ["--setup-only", "--result", f"{name}.json"]
            t0 = time.perf_counter()
            code, left = supervise(cmd + extra, dirs["cwd"], env, log_path,
                                   WORKER_TIMEOUT_S if i == 0 else PROBE_TIMEOUT_S)
            walls.append(time.perf_counter() - t0)
            survivors += left
            try:
                with open(os.path.join(scratch, f"{name}.json")) as f:
                    out = json.load(f)
            except (OSError, ValueError):
                out = {"crashed": f"no {name}.json"}
            if code is None or "crashed" in out:
                with open(log_path, errors="replace") as f:
                    sys.stderr.write(f.read()[-4000:])
                why = "timed out" if code is None else f"failed (exit {code})"
                print(f"run.py: {name} worker {why}", file=sys.stderr)
                return 1
            if i == 0:
                result = out
            else:
                result["per_layer"]["streaming.active_at_exit"] += \
                    out["per_layer"]["streaming.active_at_exit"]
            setups.append(out["end_to_end"]["setup_s"])
        leaked_bytes = leaked_entries = 0
        for key in ("cwd", "tmp", "local"):
            b, n = procstat.tree_size(dirs[key])
            leaked_bytes, leaked_entries = leaked_bytes + b, leaked_entries + n
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:
            pass

    result["end_to_end"]["setup_s"] = statistics.median(setups)
    result["setups_s"], result["workers_wall_s"] = setups, walls
    layer = result["per_layer"]
    layer.update({
        "proc.survivors": float(survivors),
        "tmp.leaked_bytes": float(leaked_bytes),
        "tmp.leaked_entries": float(leaked_entries),
    })
    failed = result["failed"] + (1 if survivors else 0)
    correct = failed == 0 and layer.get("streaming.active_at_exit", 0) == 0
    if args.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        source = layer
    else:
        names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        source = result["end_to_end"]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in names}
    print(json.dumps({"artifact": result}))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
