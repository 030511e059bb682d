"""Round-7 entries: shredded VARIANT writes and the new window additions."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def test_variant_shredded_write_prunes_to_field(spark, sf_dir, tmp_path):
    """The 100×-scale payoff of shredded VARIANT parquet: a query that
    extracts one typed field scans ONLY that field's typed_value
    subcolumn — ReadSchema shows struct<v:struct<...bigint>>, not the
    full binary variant."""
    out = str(tmp_path / "shredded")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = events.select("event_id", F.parse_json(F.col("props")).alias("v"))
    key = "spark.sql.variant.forceShreddingSchemaForTest"
    prev = spark.conf.get(key, "")
    spark.conf.set(key, "k bigint")
    try:
        v.write.mode("overwrite").parquet(out)
    finally:
        spark.conf.set(key, prev)

    back = spark.read.parquet(out)
    q = back.select(F.expr("try_variant_get(v, '$.k', 'bigint')").alias("k")).filter(
        F.col("k").isNotNull()
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    i = plan.find("ReadSchema")
    assert i >= 0, plan
    read_schema = plan[i : i + 200]
    # pruned to a struct holding only the shredded bigint field — the
    # binary variant value/metadata columns are NOT read
    assert "struct<v:struct<" in read_schema and "bigint" in read_schema, read_schema
    assert "variant" not in read_schema, read_schema

    # and the values survive the shredded round-trip
    direct = events.select(
        F.get_json_object("props", "$.k").cast("long").alias("k")
    ).filter(F.col("k").isNotNull())
    assert sorted(r["k"] for r in q.collect()) == sorted(
        r["k"] for r in direct.collect()
    )


def test_variant_write_shred_entry_matches_read_path(spark, sf_dir):
    """The catalog entry's write→read→extract rollup equals the direct
    JSON-path rollup over the same events."""
    from good_enough_timecamp_data_pipeline_spark.plans.relational import (
        f_variant_write_shred,
    )

    got = {r["event_type"]: r.asDict() for r in f_variant_write_shred(spark, sf_dir).collect()}
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want_df = (
        events.select(
            "event_type", F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )
    want = {r["event_type"]: r.asDict() for r in want_df.collect()}
    assert got == want


def test_weighted_quantile_reference(spark, sf_dir):
    """a_weighted_quantile against a pure-Python weighted-quantile fold."""
    from good_enough_timecamp_data_pipeline_spark.plans.extensions import (
        a_weighted_quantile,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_extendedprice", "l_quantity")
        .collect()
    )
    hist: dict[float, float] = {}
    for r in rows:
        hist[r["l_extendedprice"]] = hist.get(r["l_extendedprice"], 0.0) + r["l_quantity"]
    total = 0.0
    cum = []
    for v in sorted(hist):
        total += hist[v]
        cum.append((v, total))

    def wq(q: float) -> float:
        for v, cw in cum:
            if cw >= q * total:
                return v
        return cum[-1][0]

    got = a_weighted_quantile(spark, sf_dir).head()
    assert got["p25_w"] == wq(0.25)
    assert got["p50_w"] == wq(0.50)
    assert got["p90_w"] == wq(0.90)
    assert abs(got["total_weight"] - round(total, 2)) < 1e-6


def test_calibration_bins_sane(spark, sf_dir):
    """Bins partition the corpus; rates are probabilities; bin ids valid."""
    from good_enough_timecamp_data_pipeline_spark.plans.curation import (
        t_calibration_bins,
    )

    rows = t_calibration_bins(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["pass_rate"] <= 1.0
        assert -1.0 <= r["mean_score"] <= 1.0
