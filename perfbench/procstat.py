"""Readers for ``/proc``: the processes of a session, their CPU by role
and resident memory, host load and steal time, and a polling thread.
Linux only; a reader degrades to zero when a process vanishes between
listing and reading."""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> dict[int, int]:
    """Live pids whose session id is ``sid`` → their start time (ticks since
    boot), which tells a pid apart from a later process reusing it."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[3]) == sid and st[0] != "Z":
                out[int(name)] = int(st[19])
    return out


def alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z" and int(st[19]) == start


def wait_exit(sid: int, seen: dict[int, int], grace: float, skip: int | None = None) -> list[int]:
    """Wait up to ``grace`` seconds until no process of session ``sid``,
    and none recorded in ``seen`` (pid → start time), is alive, adding
    newcomers to ``seen``; ``skip`` is left out (the caller itself).
    Returns the pids still alive."""
    deadline = time.monotonic() + grace
    while True:
        seen.update(session_pids(sid))
        seen.pop(skip, None)
        left = [p for p, s in seen.items() if alive(p, s)]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.1)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_cpu(sid: int, driver_pid: int, jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds by role for every live process of session ``sid``.

    Each process counts its own time plus that of its reaped children
    (``cutime``/``cstime``), so a Python worker that already exited is
    still counted, inside the daemon that reaped it. The driver counts
    only its own threads: its one child is the JVM, counted apart."""
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in session_pids(sid):
        st = _stat(pid)
        if st is None:
            continue
        own = int(st[11]) + int(st[12])
        reaped = int(st[13]) + int(st[14])
        if pid == driver_pid:
            out["driver_py"] += own / TICK
        elif pid == jvm_pid or "python" not in _cmdline(pid):
            out["jvm"] += (own + reaped) / TICK
        else:
            out["pyworker"] += (own + reaped) / TICK
    return out


# JVM thread names (``comm``, cut to 15 characters) → role
JVM_THREAD_ROLES = (("C1 CompilerThre", "jit"), ("C2 CompilerThre", "jit"),
                    ("GC Thread#", "gc"), ("G1 ", "gc"), ("Executor task l", "task"))


def jvm_thread_cpu(pid: int | None) -> dict[str, float]:
    """CPU seconds of the JVM's threads by role: the JIT compilers, the
    garbage collector, Spark's task threads, and the rest (``other``:
    the threads that serve the Python driver, where planning and
    whole-stage code generation run, and threads that already exited)."""
    out = dict.fromkeys(("jit", "gc", "task", "other"), 0.0)
    if pid is None:
        return out
    st = _stat(pid)
    if st is None:
        return out
    total = (int(st[11]) + int(st[12])) / TICK
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        tids = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        for prefix, role in JVM_THREAD_ROLES:
            if comm.startswith(prefix):
                out[role] += (int(fields[11]) + int(fields[12])) / TICK
                break
    out["other"] = max(0.0, total - out["jit"] - out["gc"] - out["task"])
    return out


def _status_mb(pid: int | None, field: str) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def hwm_mb(pid: int | None) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    return _status_mb(pid, "VmHWM:")


def rss_mb(pid: int | None) -> float:
    """VmRSS (current resident set) of ``pid`` in MiB."""
    return _status_mb(pid, "VmRSS:")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already inside user time
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def calibrate() -> float:
    """CPU seconds this thread spends on a fixed loop. It reads higher on
    a host whose cores are busy with other tenants' work even when the
    steal time reads 0, so a slow run shows in its load stamp."""
    t0 = time.thread_time()
    x = 0
    for i in range(4_000_000):
        x += i * i
    return time.thread_time() - t0


def load_1m() -> float:
    return os.getloadavg()[0]


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, entries) under ``path``, the root itself not counted."""
    total = entries = 0
    for root, dirs, files in os.walk(path):
        entries += len(dirs) + len(files)
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total, entries


class Poller(threading.Thread):
    """Calls ``fn`` every ``period`` seconds until ``stop``, which joins
    the thread."""

    def __init__(self, fn, period: float):
        super().__init__(daemon=True)
        self.fn = fn
        self.period = period
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.is_set():
            self.fn()
            self.halt.wait(self.period)

    def stop(self) -> None:
        self.halt.set()
        self.join()
