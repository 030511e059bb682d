"""Scalar function tests (SURVEY.md §2.8)."""

from pyspark.sql import functions as F

from good_enough_timecamp_data_pipeline_spark.functions import (
    add_prefix,
    format_duration,
    format_duration_signed,
    format_hours,
    parse_date_multi,
    string_fallback,
    strip_prefix,
)
from good_enough_timecamp_data_pipeline_spark.operators.canonicalize import (
    null_canonical,
)


def one(spark, col, value, schema="v long"):
    return spark.createDataFrame([(value,)], schema).select(col.alias("r")).first().r


def test_format_duration(spark):
    df = spark.createDataFrame(
        [(0,), (59,), (60,), (3599,), (3600,), (3660,), (86400,), (4980,)], "v long"
    )
    got = [r.r for r in df.select(format_duration("v").alias("r")).collect()]
    assert got == ["0h 00m", "0h 00m", "0h 01m", "0h 59m", "1h 00m", "1h 01m", "24h 00m", "1h 23m"]


def test_format_duration_signed(spark):
    assert one(spark, format_duration_signed(F.col("v")), -3660) == "-1h 01m"
    assert one(spark, format_duration_signed(F.col("v")), 3660) == "1h 01m"
    assert one(spark, format_duration_signed(F.col("v")), 0) == "0h 00m"


def test_format_hours(spark):
    assert one(spark, format_hours(F.col("v")), 3600) == "1.0000"
    assert one(spark, format_hours(F.col("v")), 5400) == "1.5000"
    assert one(spark, format_hours(F.col("v")), 1) == "0.0003"


def test_string_fallback(spark):
    df = spark.createDataFrame(
        [("  ", None, "app"), ("Full", "x", "y"), (None, " info ", "z")],
        "a string, b string, c string",
    )
    got = [r.r for r in df.select(string_fallback("a", "b", "c").alias("r")).collect()]
    assert got == ["app", "Full", "info"]


def test_prefix_ops(spark):
    df = spark.createDataFrame([("u123",), ("123",)], "v string")
    assert [r.r for r in df.select(strip_prefix("v", "u").alias("r")).collect()] == ["123", "123"]
    assert [r.r for r in df.select(add_prefix("v", "g").alias("r")).collect()] == [
        "gu123",
        "g123",
    ]


def test_parse_date_multi(spark):
    df = spark.createDataFrame(
        [("2024-03-05",), ("05/03/2024",), ("03-05-2024",), ("yesterday",), ("garbage",)],
        "v string",
    )
    got = [r.r for r in df.select(parse_date_multi("v").cast("string").alias("r")).collect()]
    assert got[0] == "2024-03-05"
    assert got[1] == "2024-03-05"  # day-first wins (reference format order)
    assert got[2] == "2024-05-03"  # dd-MM-yyyy tried before MM-dd-yyyy
    assert got[3] is not None  # yesterday resolves
    assert got[4] is None


def test_null_canonical(spark):
    df = spark.createDataFrame([("",), ("0",), ("5",), (None,)], "v string")
    got = [r.r for r in df.select(null_canonical("v").alias("r")).collect()]
    assert got == [None, None, "5", None]
