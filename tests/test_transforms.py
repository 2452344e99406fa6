"""Scalar transform parity tests (SURVEY.md §2.8, §7.4 hazards)."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from taico_data_integration_spark.ops.transforms import (
    SURROGATE_NULL,
    block_code_reformat,
    canonical_map,
    comma_decimal,
    dual_format_timestamp_sql,
    normalize_name,
    surrogate_key_sql,
)


def _one(spark, **cols):
    return spark.createDataFrame([Row(**cols)])


def test_comma_decimal_parses_and_nulls_garbage(spark):
    df = spark.createDataFrame([Row(s="12,34"), Row(s="5.5"), Row(s="n/a"), Row(s=None)])
    got = [r.v for r in df.select(comma_decimal("s").alias("v")).collect()]
    assert got == [12.34, 5.5, None, None]


def test_surrogate_key_matches_dbt_utils_semantics(spark):
    # dbt_utils 1.1.1: md5 of '-'-joined null-coalesced casts
    df = spark.createDataFrame([("x", None)], "a string, b string")
    got = df.selectExpr(f"{surrogate_key_sql('a', 'b')} AS k").collect()[0].k
    expected = hashlib.md5(f"x-{SURROGATE_NULL}".encode()).hexdigest()
    assert got == expected


def test_normalize_name_strips_non_alnum(spark):
    df = _one(spark, s="Sup.RTL - 2!")
    assert df.select(normalize_name("s").alias("v")).collect()[0].v == "suprtl2"


def test_canonical_map_replaces_only_mapped(spark):
    df = spark.createDataFrame([Row(m="RTL2"), Row(m="ARD")])
    got = [r.v for r in df.select(canonical_map("m", {"RTL2": "RTL II"}).alias("v")).collect()]
    assert got == ["RTL II", "ARD"]


def test_block_code_reformat(spark):
    df = _one(spark, b="12345678")
    assert df.select(block_code_reformat("b").alias("v")).collect()[0].v == "12-34-56-78"


def test_dual_format_timestamp_by_length(spark):
    df = spark.createDataFrame(
        [Row(s="12/25/1998 10:30"), Row(s="12/25/01 10:30"), Row(s="garbage")]
    )
    got = df.selectExpr(f"{dual_format_timestamp_sql('s')} AS v").collect()
    assert got[0].v.year == 1998
    assert got[1].v.year == 2001  # 'yy' pivots to 2000-2099
    assert got[2].v is None
