"""Round-6 catalog entries: fixture contracts the oracle twins rely on."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_variant_shred_fixture_contract(spark, sf_dir):
    """f_variant_shred's Spark/DuckDB twins agree only when props.$.k is an
    integer or absent (try_variant_get(...,'bigint') truncates 1.5 → 1 and
    casts booleans; DuckDB's TRY_CAST(->>'k' AS BIGINT) yields NULL on
    both). Pin that contract on the shipped testdata: every present k is a
    bare JSON integer."""
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table

    events = load_table(spark, sf_dir, "events")
    k_str = events.select(
        F.expr("try_variant_get(parse_json(props), '$.k', 'string')").alias("k")
    ).filter(F.col("k").isNotNull())
    non_integral = k_str.filter(~F.col("k").rlike(r"^-?[0-9]+$")).count()
    assert non_integral == 0
    # and the contract is non-vacuous: k actually occurs in the fixture
    assert k_str.count() > 0


def test_variant_shred_matches_plain_json_path(spark, sf_dir):
    """The VARIANT extraction agrees with the classic get_json_object path
    on the integer fixture — the two schema-on-read tiers are one surface."""
    from good_enough_timecamp_data_pipeline_spark.plans.relational import f_variant_shred
    from good_enough_timecamp_data_pipeline_spark.plans.testdata import load_table

    events = load_table(spark, sf_dir, "events")
    classic = (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )
    got = {r["event_type"]: r.asDict() for r in f_variant_shred(spark, sf_dir).collect()}
    want = {r["event_type"]: r.asDict() for r in classic.collect()}
    assert got == want
