"""``testdata.load_table`` reads each table with the schema of its parquet
footer: the same schema Spark would infer, without the job that infers it."""

import os
import sys

import pytest

from good_enough_timecamp_data_pipeline_spark.plans import testdata


def _inferred_and_pinned(spark, sf_dir):
    for name in testdata.TABLES:
        path = f"{sf_dir}/{name}.parquet"
        pinned = testdata.footer_schema(path)
        assert pinned is not None, path
        yield name, spark.read.parquet(path).schema, spark.read.schema(pinned).parquet(path).schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_pinned_schema_equals_inferred(spark, sf_dir, sf):
    scale_dir = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(scale_dir):
        pytest.skip(f"no {scale_dir}")
    for name, inferred, pinned in _inferred_and_pinned(spark, scale_dir):
        assert pinned == inferred, name


def test_pinned_schema_equals_inferred_on_perfbench_star(spark, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    try:
        import datagen
    finally:
        sys.path.pop(0)
    datagen.write_star(str(tmp_path), seed=3, sf=0.001)
    for name, inferred, pinned in _inferred_and_pinned(spark, str(tmp_path)):
        assert pinned == inferred, name


def test_register_views_starts_no_job(spark, sf_dir, tmp_path):
    fresh = tmp_path / "sf"
    fresh.symlink_to(sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("register_views_jobs", "register_views")
    try:
        testdata.register_views(spark, str(fresh))
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("register_views_jobs") == []
    testdata.register_views(spark, sf_dir)
