"""The session builder: the local JVM profile and the driver heap default,
as ``session_conf`` builds them and as the live session's JVM runs."""

import json
import os
import subprocess
import sys

import pytest

from good_enough_timecamp_data_pipeline_spark import session


def test_local_master_gets_the_jvm_profile(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    caller = {"spark.driver.extraJavaOptions": "-XX:-UsePerfData -Xms2g"}
    master, conf = session.session_conf(extra_conf=caller)
    assert master.startswith("local[")
    assert conf["spark.driver.defaultJavaOptions"] == session.LOCAL_JVM_PROFILE
    assert conf["spark.driver.extraJavaOptions"] == "-XX:-UsePerfData -Xms2g"


def test_cluster_master_keeps_jvm_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    master, conf = session.session_conf()
    assert master is None
    assert "spark.driver.defaultJavaOptions" not in conf


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session.session_conf()[1]["spark.driver.memory"]
    assert mem.endswith("m")
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) <= 16 * 1024
    assert int(mem[:-1]) * 2**20 * 2 <= physical
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.session_conf()[1]["spark.driver.memory"] == "3g"


def test_session_jvm_runs_the_profile_once(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    for flag in session.LOCAL_JVM_PROFILE.split():
        assert args.count(flag) == 1, (flag, args)


# pins itself to one core before the session module is imported
_CORES_PROBE = (
    "import json, os; os.sched_setaffinity(0, {{{core}}}); "
    "from good_enough_timecamp_data_pipeline_spark import session as s; "
    "print(json.dumps([s.DEFAULT_CPUS, s.session_conf()[0], s.tiny_partitions()]))"
)


@pytest.mark.parametrize("cpus_env", [None, "3"])
def test_default_cores_follow_the_host_unless_set(monkeypatch, cpus_env):
    """Unset, ``SPARK_GRAFT_CPUS`` defaults to the cores the process may
    run on (the child is pinned to one core, so that is 1, whatever the
    host has); set, it wins."""
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    if cpus_env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus_env)
    out = subprocess.run(
        [sys.executable, "-c", _CORES_PROBE.format(core=min(os.sched_getaffinity(0)))],
        capture_output=True, text=True, check=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    cores, master, tiny = json.loads(out.stdout.strip().splitlines()[-1])
    want = 1 if cpus_env is None else int(cpus_env)
    assert (cores, master, tiny) == (want, f"local[{want}]", 2)
