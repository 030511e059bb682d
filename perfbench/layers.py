"""Compare runs layer by layer.

Each input is the saved standard output of one ``run.py`` run; its
``{"artifact": ...}`` line holds every metric of the run.

    python3 perfbench/layers.py diff BEFORE.out AFTER.out
        per-layer metrics of two traced runs side by side: both values,
        the change and the ratio, largest time changes first, then the
        self time of every span name;

    python3 perfbench/layers.py overhead TRACED.out UNTRACED.out [...]
        tracing overhead: each end-to-end metric of a traced run against
        the median of the same workload's untraced runs.
"""

from __future__ import annotations

import json
import statistics
import sys


def artifact(path: str) -> dict:
    with open(path) as f:
        for line in f:
            if line.startswith('{"artifact"'):
                return json.loads(line)["artifact"]
    raise SystemExit(f"{path}: no artifact line")


def _row(name: str, a: float | None, b: float | None) -> str:
    fmt = lambda v: "-" if v is None else f"{v:.4g}"  # noqa: E731
    delta = "" if a is None or b is None else f"{b - a:+.4g}"
    ratio = "" if not a or b is None else f"{b / a:.3f}"
    return f"{name:<52} {fmt(a):>12} {fmt(b):>12} {delta:>12} {ratio:>8}"


def diff(path_a: str, path_b: str) -> None:
    a, b = artifact(path_a), artifact(path_b)
    if a["workload"] != b["workload"]:
        print(f"note: workloads differ ({a['workload']} vs {b['workload']})")
    la, lb = a["per_layer"], b["per_layer"]
    keys = sorted(set(la) | set(lb))
    # seconds first, ordered by the size of the change
    timed = [k for k in keys if (k.endswith("_s") and not k.endswith("_per_s"))
             or k.startswith("trace.self_s.")]
    rest = [k for k in keys if k not in timed]
    timed.sort(key=lambda k: -abs(lb.get(k, 0.0) - la.get(k, 0.0)))
    print(f"{'layer':<52} {'A':>12} {'B':>12} {'B-A':>12} {'B/A':>8}")
    for k in timed + rest:
        print(_row(k, la.get(k), lb.get(k)))
    print()
    for k in sorted(set(a["end_to_end"]) | set(b["end_to_end"])):
        print(_row(f"end_to_end.{k}", a["end_to_end"].get(k), b["end_to_end"].get(k)))


def overhead(traced_path: str, untraced_paths: list[str]) -> None:
    t = artifact(traced_path)
    base = [artifact(p) for p in untraced_paths]
    base = [u for u in base if u["workload"] == t["workload"] and not u["trace"]]
    if not t["trace"] or not base:
        raise SystemExit("need one traced run and untraced runs of the same workload")
    print(f"workload {t['workload']}: traced run vs median of {len(base)} untraced runs")
    for k, v in t["end_to_end"].items():
        med = statistics.median(u["end_to_end"][k] for u in base)
        print(_row(k, med, v))


def main(argv: list[str]) -> int:
    if len(argv) == 3 and argv[0] == "diff":
        diff(argv[1], argv[2])
    elif len(argv) >= 3 and argv[0] == "overhead":
        overhead(argv[1], argv[2:])
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
