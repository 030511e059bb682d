"""One measured run, inside its own process (started by ``run.py``).

Phases, in order:

1. fixtures: the workload generates its seeded inputs (not timed);
2. set-up: ``session.get_spark`` and the workload's set-up, timed from
   process start minus the fixture time (``setup_s``);
3. timed region: one client runs passes of the workload's operations in
   a closed loop until ``--seconds`` have passed, with process-tree CPU
   read around each pass and host steal and load around the region;
4. checks: every result is compared with its oracle, outside the timed
   region; each mismatch counts as a failed operation;
5. teardown: stop active streams, ``spark.stop()``, close the gateway and
   wait for the JVM and every Python worker seen to exit.

With ``--setup-only`` the run stops after phase 2 and tears down; the
harness uses such runs to take ``setup_s`` several times. The run writes
all its metrics as JSON to ``<scratch>/<--result>``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import procstat  # noqa: E402
from spans import Tracer  # noqa: E402

STOP_GRACE_S = 20.0


class Run:
    """State shared by the harness and a workload: the session, the
    op log, the tracer and the scratch layout."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.seed = args.seed
        self.scratch = args.scratch
        self.data_dir = os.path.join(self.scratch, "data")
        self.out_dir = os.path.join(self.scratch, "out")
        self.eventlog_dir = os.path.join(self.scratch, "eventlog")
        for d in (self.data_dir, self.out_dir, self.eventlog_dir):
            os.makedirs(d, exist_ok=True)
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.jvm_pid: int | None = None
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.checks: dict[str, dict[str, int]] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.pass_no = 0
        self.first_pass = (0.0, 0.0)  # perf_counter bounds of the first pass

    # -- session ------------------------------------------------------------
    def start_spark(self):
        from good_enough_timecamp_data_pipeline_spark.session import get_spark

        cwd = os.getcwd()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(cwd, "spark-warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # the heap starts at its full size: G1's adaptive growth made
            # the GC time of a pass vary fourfold between runs
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={cwd} -Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-XX:-UsePerfData -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            ),
            # keep every job of the run in the status tracker
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.eventlog_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    # -- one operation --------------------------------------------------------
    def op(self, kind: str, build, action, family: str | None = None):
        """Time ``action(build())`` as one operation under its own job
        group and return the action's result (also kept for the check
        phase). ``build`` returns the DataFrame (plan-build time),
        ``action`` materializes it (write or collect)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.ops)}"
        sc.setJobGroup(group, kind)
        rec = {"kind": kind, "family": family or kind, "group": group, "ok": True,
               "pass": self.pass_no}
        result = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{rec['family']}"):
                with self.tracer.span("driver.plan_build"):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span("driver.action"):
                    result = action(df)
            t2 = time.perf_counter()
            rec["build_s"], rec["action_s"] = t1 - t0, t2 - t1
        except Exception as exc:
            t2 = time.perf_counter()
            rec["ok"] = False
            rec["build_s"], rec["action_s"] = t2 - t0, 0.0
            self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            sc.setJobGroup("", "")
        rec["s"] = t2 - t0
        rec["result"] = result
        self.ops.append(rec)
        return result

    def job_stats(self) -> None:
        """Jobs, stages and tasks of every op, from the status tracker
        (read after the timed region, once the listener bus caught up)."""
        tracker = self.spark.sparkContext.statusTracker()
        for rec in self.ops:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks + st.numFailedTasks
                        failed += st.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    # -- teardown -------------------------------------------------------------
    def stop(self) -> dict[str, float]:
        """Stop streams and the session, then wait for every process of
        the run but this one to exit; returns hygiene counters."""
        out = {"streaming.active_at_exit": 0.0}
        if self.spark is None:
            return out
        sid, me = os.getsid(0), os.getpid()
        seen = procstat.session_pids(sid)
        seen.pop(me, None)
        try:
            active = self.spark.streams.active
            out["streaming.active_at_exit"] = float(len(active))
            for q in active:
                q.stop()
        except Exception as exc:
            self.errors.append(f"stream stop: {exc!r}")
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        # the JVM exits when the gateway's stdin closes
        try:
            gateway.shutdown()
        except Exception as exc:
            self.errors.append(f"gateway shutdown: {exc!r}")
        try:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=STOP_GRACE_S)
        except Exception as exc:
            self.errors.append(f"jvm wait: {exc!r}")
        left = procstat.wait_exit(sid, seen, STOP_GRACE_S, skip=me)
        out["proc.left_at_stop"] = float(len(left))
        out["proc.seen"] = float(len(seen))
        return out


def event_log_metrics(eventlog_dir: str, t_lo_ms: float, t_hi_ms: float) -> dict[str, float]:
    """Executor totals of the tasks that finished inside the timed region,
    from Spark's event log."""
    keys = ("exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.shuffle_write_bytes",
            "exec.shuffle_read_bytes", "exec.input_bytes", "exec.output_bytes")
    out = dict.fromkeys(keys, 0.0)
    paths = [os.path.join(d, n) for d, _, names in os.walk(eventlog_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                fin = ev.get("Task Info", {}).get("Finish Time", 0)
                m = ev.get("Task Metrics")
                if not m or not (t_lo_ms <= fin <= t_hi_ms):
                    continue
                out["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {})
                out["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                out["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                   + sr.get("Local Bytes Read", 0))
                out["exec.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                out["exec.output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return out


def measure(run: Run, workload) -> dict:
    """Run the phases; end-to-end and per-layer metrics describe the first
    pass, which is cold. Passes repeat until ``--seconds`` have passed;
    later passes only add ``bench.warm_pass_s``."""
    args = run.args
    t_fix = time.perf_counter()
    with run.tracer.span("bench.fixtures"):
        workload.prepare(run)
    fixture_s = time.perf_counter() - t_fix

    run.start_spark()
    workload.setup(run)
    setup_s = time.perf_counter() - PROCESS_START - fixture_s
    if args.setup_only:
        return {"attempted": 0, "failed": 0, "end_to_end": {"setup_s": setup_s},
                "per_layer": run.stop(), "errors": run.errors}

    sid, me = os.getsid(0), os.getpid()
    calib_start = procstat.calibrate()
    load_start = procstat.load_1m()
    host0 = procstat.cpu_times()
    wall_lo_ms = time.time() * 1000
    rss_samples: list[float] = []
    rss = procstat.Poller(lambda: rss_samples.append(
        procstat.rss_mb(me) + procstat.rss_mb(run.jvm_pid)), 0.5)
    rss.start()
    passes: list[dict] = []
    t0 = time.perf_counter()
    try:
        while True:
            run.pass_no = len(passes)
            jvm0 = procstat.jvm_thread_cpu(run.jvm_pid)
            cpu0, p0 = procstat.tree_cpu(sid, me, run.jvm_pid), time.perf_counter()
            rows_per_s = workload.run_pass(run)
            cpu1, p1 = procstat.tree_cpu(sid, me, run.jvm_pid), time.perf_counter()
            jvm1 = procstat.jvm_thread_cpu(run.jvm_pid)
            passes.append({"s": p1 - p0, "rows_per_s": rows_per_s,
                           "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
                           "jvm_threads": {k: jvm1[k] - jvm0[k] for k in jvm0}})
            if run.pass_no == 0:
                run.first_pass = (p0, p1)
            if p1 - t0 >= args.seconds:
                break
    finally:
        rss.stop()
    timed_s = time.perf_counter() - t0
    wall_hi_ms = time.time() * 1000
    host1 = procstat.cpu_times()
    load_end = procstat.load_1m()
    calib_end = procstat.calibrate()
    peak_driver, peak_jvm = procstat.hwm_mb(me), procstat.hwm_mb(run.jvm_pid)
    run.tracer.unwrap_all()

    t_checks = time.perf_counter()
    time.sleep(0.5)  # let the listener bus publish the last job ends
    run.job_stats()
    with run.tracer.span("bench.checks"):
        workload.check(run)
    run.info["checks_s"] = time.perf_counter() - t_checks
    failed_ops = sum(not r["ok"] for r in run.ops)

    first, cpu = passes[0], passes[0]["cpu"]
    ops = [r for r in run.ops if r["pass"] == 0]
    jobs = sum(r.get("jobs", 0) for r in ops)
    dt_total, dt_steal = host1[0] - host0[0], host1[1] - host0[1]
    end_to_end = {
        "setup_s": setup_s,
        "pass_s": first["s"],
        "rows_per_s": first["rows_per_s"],
        "cpu_per_pass_s": sum(cpu.values()),
    }
    layer = dict(run.layer)
    layer.update({
        "bench.fixture_s": fixture_s,
        "bench.timed_s": timed_s,
        "bench.passes": float(len(passes)),
        "bench.warm_pass_s": statistics.median(p["s"] for p in passes[1:]) if passes[1:] else 0.0,
        "error_rate": failed_ops / max(1, len(run.ops)),
        "cpu_s": sum(cpu.values()),
        "cpu.driver_py_s": cpu["driver_py"],
        "cpu.jvm_s": cpu["jvm"],
        "cpu.pyworker_s": cpu["pyworker"],
        **{f"cpu.jvm_{k}_s": v for k, v in first["jvm_threads"].items()},
        "peak_rss_mb": peak_driver + peak_jvm,
        "mem.driver_peak_mb": peak_driver,
        "mem.jvm_peak_mb": peak_jvm,
        "rss_median_mb": statistics.median(rss_samples or [0.0]),
        "driver.plan_build_s": sum(r["build_s"] for r in ops),
        "driver.action_s": sum(r["action_s"] for r in ops),
        "spark.jobs": float(jobs),
        "spark.stages": float(sum(r.get("stages", 0) for r in ops)),
        "spark.tasks": float(sum(r.get("tasks", 0) for r in ops)),
        "spark.failed_tasks": float(sum(r.get("failed_tasks", 0) for r in ops)),
        "spark.jobs_per_request": jobs / max(1, len(ops)),
        "host.nproc": float(os.cpu_count() or 0),
        "host.spark_graft_cpus": float(os.environ.get("SPARK_GRAFT_CPUS", "0")),
        "host.load_1m_start": load_start,
        "host.load_1m_end": load_end,
        "host.steal_frac": dt_steal / dt_total if dt_total > 0 else 0.0,
        "host.calib_s": (calib_start + calib_end) / 2,
    })
    layer.update(workload.layer_metrics(run))

    t_stop = time.perf_counter()
    layer.update(run.stop())
    run.info["stop_s"] = time.perf_counter() - t_stop
    if args.trace:
        layer.update(event_log_metrics(run.eventlog_dir, wall_lo_ms, wall_hi_ms))
        for name, s in run.tracer.self_times().items():
            layer[f"trace.self_s.{name}"] = s
        layer["trace.spans"] = float(len(run.tracer.spans))
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": len(run.ops),
        "failed": failed_ops,
        "errors": run.errors[:50],
        "checks": run.checks,
        "end_to_end": end_to_end,
        "per_layer": layer,
        "passes": passes,
        "info": run.info,
        "spans": run.tracer.spans,
        "ops": [{k: r[k] for k in ("kind", "pass", "s", "build_s", "action_s", "ok", "jobs")
                 if k in r} for r in run.ops],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--scratch", required=True)
    p.add_argument("--result", default="result.json")
    p.add_argument("--setup-only", action="store_true")
    args = p.parse_args(argv)

    import workloads

    run = Run(args)
    try:
        result = measure(run, workloads.WORKLOADS[args.workload]())
    except Exception:
        traceback.print_exc()
        result = {"crashed": traceback.format_exc()[-2000:]}
        try:
            run.stop()
        except Exception:
            pass
    with open(os.path.join(args.scratch, args.result), "w") as f:
        json.dump(result, f, default=str)
    return 0 if "crashed" not in result else 1


if __name__ == "__main__":
    sys.exit(main())
