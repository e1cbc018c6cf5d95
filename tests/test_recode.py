"""Unit tests: Likert scoring, bucketing boundaries, zip recode.

Boundary values mirror transform_alchemer_data.py:153-196 and the
Likert map at utils.py:170-176.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ffi_etl_spark.functions.recode import (
    age_bucket,
    fill_unknown,
    income_bucket,
    likert_score,
    map_lookup,
    zip5,
)


def _eval(spark, col, rows, **kw):
    df = spark.createDataFrame(rows)
    return [r.out for r in df.select(col.alias("out")).collect()]


def test_likert_full_map(spark):
    rows = [
        Row(v="A lot better"), Row(v="A little better"), Row(v="No change"),
        Row(v="A little worse"), Row(v="A lot worse"), Row(v="unexpected"), Row(v=None),
    ]
    out = _eval(spark, likert_score("v"), rows)
    assert out == [2, 1, 0, -1, -2, 0, 0]  # default 0 incl. null (dict.get parity)


def test_map_lookup_default(spark):
    out = _eval(spark, map_lookup("v", {"x": 10}, -1), [Row(v="x"), Row(v="y")])
    assert out == [10, -1]


def test_map_lookup_literal_types(spark):
    # keys and values go into one SQL map literal: quotes, backslashes,
    # negative integers and booleans keep their F.lit types
    out = _eval(spark, map_lookup("v", {"it's": -1, "a\\b": 2}, 0), [Row(v="it's"), Row(v="a\\b")])
    assert out == [-1, 2]
    out = _eval(spark, map_lookup("v", {"y": True}, False), [Row(v="y"), Row(v="n")])
    assert out == [True, False]
    with pytest.raises(TypeError):
        map_lookup("v", {"x": 1.5}, 0)


def test_age_buckets_boundaries(spark):
    cases = {
        "0": "Unknown", "-3": "Unknown", "9": "Less than 10 years old",
        "10": "10 to 17 years old", "17": "10 to 17 years old",
        "18": "18 to 29 years old", "29": "18 to 29 years old",
        "30": "30 to 44 years old", "44": "30 to 44 years old",
        "45": "45 to 59 years old", "59": "45 to 59 years old",
        "60": "60 to 74 years old", "74": "60 to 74 years old",
        "75": "75 years and older", "119": "75 years and older",
        "120": "Unknown",  # >= 120 falls through every band
    }
    out = _eval(spark, age_bucket("v"), [Row(v=k) for k in cases])
    assert out == list(cases.values())


def test_income_bucket(spark):
    cases = [
        (None, "Unknown"),
        ("I prefer not to answer this question", "Unknown"),
        ("Less than $20,000", "Less than $50,000"),
        ("$20,000 to $49,999", "Less than $50,000"),
        ("$50,000 to $74,999", "$50,000 to $74,999"),  # passthrough
    ]
    out = _eval(spark, income_bucket("v"), [Row(v=k) for k, _ in cases])
    assert out == [v for _, v in cases]


def test_zip5_semantics(spark):
    cases = [
        (None, "Unknown"),
        ("00000-123", "Unknown"),   # first 5 digits cast to 0
        ("94110-1234", "94110"),    # truncate to 5
        ("94110", "94110"),
        ("abcde", "abcde"),         # non-numeric: cast NULL, ==0 null-false -> keeps value
    ]
    out = _eval(spark, zip5("v"), [Row(v=k) for k, _ in cases])
    assert out == [v for _, v in cases]


def test_fill_unknown(spark):
    col = fill_unknown("v", also=["I prefer not to answer"])
    rows = [Row(v=None), Row(v="  "), Row(v="I prefer not to answer"), Row(v="keep")]
    assert _eval(spark, col, rows) == ["Unknown", "Unknown", "Unknown", "keep"]
