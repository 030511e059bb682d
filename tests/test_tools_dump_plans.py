"""tools/dump_plans.py is reproducible across processes without a pinned
PYTHONHASHSEED."""

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# d_incremental_dedup builds (or finds) the on-disk LSH index; the two
# entries after it carry the JVM's expression ids and Expand order
ENTRIES = ("d_incremental_dedup", "a_stats_minmax", "a_benford")


def _dump(out, seed, sf_dir, tmp):
    env = dict(os.environ, PYTHONHASHSEED=str(seed), SPARK_GRAFT_SF_DIR=sf_dir,
               TMPDIR=str(tmp), SPARK_GRAFT_CPUS="1",
               SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "dump_plans.py"), str(out), "p", *ENTRIES],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return {
        name: re.sub(r"dump_plans_[^/\]\s]+", "dump_plans_X",
                     (out / f"{name}_p.txt").read_text())
        for name in ENTRIES
    }


def test_dumps_match_under_two_hash_seeds(sf_dir, tmp_path, spare_jvm_memory):
    # one shared TMPDIR: the second dump would find the first one's LSH
    # index cache if the tool did not give each dump its own temp root
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    first = _dump(tmp_path / "a", 1, sf_dir, tmp)
    second = _dump(tmp_path / "b", 2, sf_dir, tmp)
    for name in ENTRIES:
        assert first[name] == second[name], name
    assert os.listdir(tmp) == []
