"""Unit tests: cleaning expressions (mojibake, null phrases, nan, headers).

Mirrors reference semantics at utils.py:103-106,146-156,184-187 and
transform_alchemer_data.py:13-39 — including the fused-phrase quirk.
"""

import pytest
from pyspark.sql import Row

from ffi_etl_spark.functions.cleaning import (
    NULL_PHRASES,
    clean_headers,
    clean_strings,
    validate_renames,
)


def _clean_one(spark, text):
    df = spark.createDataFrame([Row(t=text)])
    return clean_strings(df, open_text_cols=["t"]).collect()[0].t


def test_mojibake_fixed(spark):
    assert _clean_one(spark, "donâ€™t") == "don't"
    assert _clean_one(spark, "cafÃ©") == "cafi©"  # Ã -> i, verbatim reference rule


def test_null_phrases_nulled(spark):
    assert _clean_one(spark, "N/A") is None
    assert _clean_one(spark, "  No Thanks!! ") is None
    assert _clean_one(spark, "none") is None


def test_fused_phrase_quirk(spark):
    # utils.py:105 missing comma: "not really" alone is NOT nulled...
    assert "not really" not in NULL_PHRASES
    assert _clean_one(spark, "not really") == "not really"
    # ...but the fused phrase IS
    assert _clean_one(spark, "nada mas que agregarnot really") is None


def test_nan_nulled_everywhere(spark):
    df = spark.createDataFrame([Row(a="nan", b="fine")])
    row = clean_strings(df).collect()[0]
    assert row.a is None and row.b == "fine"


def test_missing_open_text_column_tolerated(spark):
    df = spark.createDataFrame([Row(t="hello")])
    assert clean_strings(df, open_text_cols=["nope"]).collect()[0].t == "hello"


def test_non_string_columns_passthrough(spark):
    df = spark.createDataFrame([Row(n=7, t="x")])
    assert clean_strings(df).collect()[0].n == 7


def test_clean_headers(spark):
    df = spark.createDataFrame([Row(x=1)]).toDF(" What donâ€™t you like? ")
    assert clean_headers(df).columns == ["What don't you like?"]


def test_validate_renames_gate():
    validate_renames(["a", "b"], {"a": "A"})
    with pytest.raises(ValueError, match="not found"):
        validate_renames(["a"], {"missing": "x"})
    with pytest.raises(ValueError, match="too long"):
        validate_renames(["a"], {"a": "x" * 151})


def test_clean_strings_quotes_names_and_values(spark):
    # SQL text must quote a backtick in a name and a quote or backslash
    # in a value; the pass keeps column order and non-string columns
    df = spark.createDataFrame([Row(a="it's \\ nan", n=1)]).toDF("we`ird", "n")
    out = clean_strings(df, open_text_cols=["we`ird"])
    assert out.columns == ["we`ird", "n"]
    assert out.collect()[0] == ("it's \\ nan", 1)


def test_clean_strings_is_one_call_per_column(spark):
    """A wide cleaning pass costs about one py4j round trip per column,
    not one per function, literal and column reference (40 string
    columns made over 1,100 before the pass was SQL text)."""
    import py4j.clientserver

    df = spark.createDataFrame([tuple(f"v{i}" for i in range(40))], [f"c{i}" for i in range(40)])
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        calls.append(command)
        return send(self, command)

    py4j.clientserver.ClientServerConnection.send_command = counted
    try:
        clean_strings(df, open_text_cols=["c0", "c1"])
    finally:
        py4j.clientserver.ClientServerConnection.send_command = send
    assert len(calls) < 150
