"""Unit tests for the column-expression kits (SURVEY.md §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kp_data_pipelines_spark.functions import (
    cascading_to_timestamp,
    coerce_long,
    coerce_numeric,
    collapse_whitespace,
    compact_month_end,
    conditional_update,
    fill_from,
    month_name,
    month_start,
    months_ago,
    normalize_key,
    null_count,
    scrub_control_chars,
    sentinel_to_null,
    strip_total_suffix,
)


def test_coerce_numeric(spark):
    df = spark.createDataFrame([("1.5",), ("abc",), (None,), ("42",)], ["x"])
    vals = [r[0] for r in df.select(coerce_numeric("x")).collect()]
    assert vals == [1.5, None, None, 42.0]


def test_coerce_long_float_formatted(spark):
    df = spark.createDataFrame([("47205.0",), ("7",), ("x",)], ["x"])
    vals = [r[0] for r in df.select(coerce_long("x")).collect()]
    assert vals == [47205, 7, None]


def test_sentinel_to_null(spark):
    df = spark.createDataFrame([("",), ("0",), ("ok",)], ["x"])
    vals = [r[0] for r in df.select(sentinel_to_null("x", ("", "0", 0))).collect()]
    assert vals == [None, None, "ok"]


def test_fill_from_cascade(spark):
    df = spark.createDataFrame([(None, "b", "c"), ("a", None, None), (None, None, "z")], ["x", "y", "z"])
    vals = [r[0] for r in df.select(fill_from("x", "y", "z")).collect()]
    assert vals == ["b", "a", "z"]


def test_conditional_update(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    out = df.select(
        "k", conditional_update("v", F.col("k") == 2, F.col("v") * 2).alias("v")
    )
    assert {r["k"]: r["v"] for r in out.collect()} == {1: 10.0, 2: 40.0}


def test_null_count(spark):
    df = spark.createDataFrame([(None, 1), ("a", None), (None, None)], ["x", "y"])
    assert null_count(df, "x", "y") == {"x": 2, "y": 2}


def test_cascading_to_timestamp_formats(spark):
    df = spark.createDataFrame(
        [("2024-03-01T10:20:30",), ("2024-03-01 10:20:30",), ("03/01/2024",), ("garbage",)],
        ["d"],
    )
    # the formats the reference tries in order (CTP Data Compare.ipynb:82-87)
    formats = ["yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "M/d/yyyy"]
    out = [r[0] for r in df.select(cascading_to_timestamp("d", formats).alias("t")).collect()]
    assert out[0] is not None and out[0].hour == 10
    assert out[1] is not None
    assert out[3] is None


def test_compact_month_end(spark):
    df = spark.createDataFrame([("0924",), ("0224",), ("xx",)], ["m"])
    vals = [r[0] for r in df.select(compact_month_end("m").alias("d")).collect()]
    assert str(vals[0]) == "2024-09-30"
    assert str(vals[1]) == "2024-02-29"  # leap year month-end
    assert vals[2] is None


def test_month_ops(spark):
    df = spark.createDataFrame([("2024-03-15",)], ["d"]).select(F.col("d").cast("date").alias("d"))
    row = df.select(
        month_start("d").alias("ms"),
        months_ago("d", 1).alias("prev"),
        month_name("d").alias("nm"),
    ).collect()[0]
    assert str(row["ms"]) == "2024-03-01"
    assert str(row["prev"]) == "2024-02-15"
    assert row["nm"] == "March"


def test_string_kit(spark):
    df = spark.createDataFrame([("  Foo   Bar  ",)], ["s"])
    row = df.select(
        collapse_whitespace("s").alias("cw"), normalize_key("s").alias("nk")
    ).collect()[0]
    assert row["cw"] == "foobar"
    assert row["nk"] == "foo bar"


def test_scrub_and_total_suffix(spark):
    df = spark.createDataFrame([("RNG123456 Total", "bad\x00\x1fchars")], ["a", "b"])
    row = df.select(
        strip_total_suffix("a").alias("a"), scrub_control_chars("b").alias("b")
    ).collect()[0]
    assert row["a"] == "RNG123456"
    assert row["b"] == "badchars"


def test_coerce_long_preserves_big_integers(spark):
    from kp_data_pipelines_spark.functions.cleaning import coerce_long

    df = spark.createDataFrame(
        [("9007199254740993",), ("47205.0",), ("junk",)], ["s"]
    )
    vals = [r["v"] for r in df.select(coerce_long("s").alias("v")).collect()]
    assert vals == [9007199254740993, 47205, None]  # no double round-trip loss


def test_sentinel_to_null_numeric_zero(spark):
    from kp_data_pipelines_spark.functions.cleaning import sentinel_to_null

    df = spark.createDataFrame([(0.0,), (1.5,)], ["v"])
    vals = [r["o"] for r in df.select(sentinel_to_null("v", ("", "0", 0)).alias("o")).collect()]
    assert vals == [None, 1.5]  # double 0.0 (string "0.0") still nulls


def test_token_counts_empty_text(spark):
    from kp_data_pipelines_spark.operators.textops import (
        avg_token_length,
        distinct_word_count,
        whitespace_token_count,
    )

    df = spark.createDataFrame([("",), ("   ",), ("a b",)], ["text"])
    rows = df.select(
        whitespace_token_count("text").alias("n"),
        distinct_word_count("text").alias("d"),
        avg_token_length("text").alias("avg"),
    ).collect()
    assert [(r["n"], r["d"]) for r in rows] == [(0, 0), (0, 0), (2, 2)]
    assert rows[0]["avg"] == 0.0


def test_row_fingerprint_no_separator_injection(spark):
    from kp_data_pipelines_spark.operators.dedup import row_fingerprint

    df = spark.createDataFrame([("a|b", "c"), ("a", "b|c")], ["x", "y"])
    vals = [r["row_hash"] for r in row_fingerprint(df).collect()]
    assert vals[0] != vals[1]


def test_registry_conform_try_cast(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from kp_data_pipelines_spark.sources.registry import SchemaRegistry

    reg = SchemaRegistry()
    reg.register("t", StructType([StructField("amount", LongType())]))
    df = spark.createDataFrame([("12",), ("N/A",)], ["amount"])
    vals = [r["amount"] for r in reg.conform(df, "t").collect()]
    assert vals == [12, None]  # ANSI cast would have thrown on 'N/A'


def test_pivot_sum_null_pivot_value(spark):
    from kp_data_pipelines_spark.operators.aggregates import pivot_sum

    df = spark.createDataFrame(
        [("g1", "x", 1.0), ("g1", None, 2.0)], "k string, p string, v double"
    )
    out = pivot_sum(df, "k", "p", "v", ["x", None])
    row = out.collect()[0]
    assert row["x"] == 1.0 and row["null"] == 2.0
