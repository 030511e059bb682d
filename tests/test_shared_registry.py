"""The per-session registry (plans/shared.py): prewarm builds exactly the
registered artifacts, and no staging dir survives ``invalidate`` or
process exit."""

import os
import subprocess
import sys
import threading

import pytest

from good_enough_timecamp_data_pipeline_spark.plans import catalog, shared, testdata
from good_enough_timecamp_data_pipeline_spark.streaming.stateful import _chunked_events_dir
from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
    _deadletter_feed_dir,
    _lsh_feed_dir,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREWARM_TAGS = {
    "bigram_counts", "cc_fingerprint_labels", "deadletter_feed_staging",
    "docs_alpha_toks", "docs_hash_scored", "docs_shingles_n5", "dsir_doc_sb_512",
    "inc_containment_corpus_arr", "inc_containment_corpus_df",
    "inc_containment_corpus_prefix_t09", "inc_containment_corpus_sh",
    "lsh_feed_staging", "neardup_bb_64x32", "neardup_cand_64x32",
    "neardup_shingles_n5", "neardup_truth_n5_t0.5", "part_supplier_edges",
    "pq_8x16_train", "stream_chunk_staging", "task_closure_unroll_d3",
    "tf_doc_tok_ws",
}
STAGING = (_chunked_events_dir, _lsh_feed_dir, _deadletter_feed_dir)


@pytest.fixture(scope="module")
def own_sf_dir(sf_dir, tmp_path_factory):
    """``sf_dir`` under a path no other test uses, so build_times() for it
    holds only what this module builds."""
    link = tmp_path_factory.mktemp("registry") / "sf"
    link.symlink_to(sf_dir)
    return str(link)


@pytest.fixture(scope="module")
def prewarm_times(spark, own_sf_dir):
    return catalog.prewarm_shared(spark, own_sf_dir)


def test_prewarm_builds_every_registered_tag(prewarm_times):
    assert set(prewarm_times) == PREWARM_TAGS
    assert all(sec >= 0 for sec in prewarm_times.values())


def test_invalidate_deletes_staging_dirs_and_rebuilds(spark, own_sf_dir, prewarm_times):
    before = [build(spark, own_sf_dir) for build in STAGING]  # memo hits
    assert all(os.listdir(d) for d in before)
    shared.invalidate(spark)
    assert not any(os.path.exists(d) for d in before)
    after = [build(spark, own_sf_dir) for build in STAGING]
    assert set(after).isdisjoint(before)
    assert all(os.listdir(d) for d in after)
    events = spark.read.parquet(f"{own_sf_dir}/events.parquet").count()
    assert spark.read.parquet(after[0]).count() == events
    shared.invalidate(spark)
    assert not any(os.path.exists(d) for d in after)


def test_register_views_follows_last_sf_dir(spark, sf_dir, own_sf_dir):
    def region_dir():
        (path,) = spark.table("region").inputFiles()
        return path

    for d in (sf_dir, own_sf_dir, sf_dir):
        testdata.register_views(spark, d)
        assert os.path.dirname(region_dir()).endswith(d)


def test_staging_dirs_do_not_survive_exit(sf_dir, tmp_path, spare_jvm_memory):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from good_enough_timecamp_data_pipeline_spark.session import get_spark
from good_enough_timecamp_data_pipeline_spark.streaming.stateful import _chunked_events_dir
from good_enough_timecamp_data_pipeline_spark.streaming.windows import (
    _deadletter_feed_dir, _lsh_feed_dir)
spark = get_spark("registry_exit", shuffle_partitions=2)
for build in (_chunked_events_dir, _lsh_feed_dir, _deadletter_feed_dir):
    print(build(spark, {sf_dir!r}))
"""
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                         text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    built = res.stdout.split()
    assert len(built) == 3 and all(p.startswith(str(tmp)) for p in built)
    prefixes = ("events_chunks_", "stream_lsh_feed_", "deadletter_feed_")
    assert [e for e in os.listdir(tmp) if e.startswith(prefixes)] == []


def test_store_and_dirs_under_thread_contention():
    """16 threads race builds and dir creation for one session: every
    caller gets a value one of the builds made, the store keeps one per
    key, and invalidate deletes every dir that was made."""

    class Session:  # the store needs only identity and a weak reference
        pass

    session, built, dirs, errors = Session(), [], [], []

    def build():
        value = object()
        built.append(value)
        return value

    def work():
        try:
            for j in range(40):
                assert shared.memo(session, "sf", f"k{j % 4}", build) in built
                dirs.append(shared.temp_dir("registry_stress_", session))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    assert errors == []
    stored = [shared.lookup(session, "sf", f"k{j}") for j in range(4)]
    assert all(v in built for v in stored) and len(set(map(id, stored))) == 4
    assert len(dirs) == 16 * 40 and all(os.path.isdir(d) for d in dirs)
    shared.invalidate(session)
    assert not any(os.path.exists(d) for d in dirs)
    assert all(shared.lookup(session, "sf", f"k{j}") is None for j in range(4))
