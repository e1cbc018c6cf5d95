"""Recode expressions: Likert scoring, bucketing, unknown-filling.

The reference's only Python UDF (``map_likert_udf``, utils.py:159-181)
is replaced with a native literal-map lookup — it stays inside codegen
and saves the Python-worker round-trip for 15 columns × every row.
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ffi_etl_spark.functions import sqltext as sql

# utils.py:170-176
LIKERT_MAPPING = {
    "No change": 0,
    "A little better": 1,
    "A lot better": 2,
    "A little worse": -1,
    "A lot worse": -2,
}

# utils.py:65-89 — Likert question -> 5DW domain
LIKERT_COLUMNS_DICT = {
    "5DW Score: Safety": ["Safety: Impact my safety"],
    "5DW Score: Relevant Resources": [
        "Resources: Information and opportunities",
        "Resources: Food, sleep, housing",
        "Resources: Ability to pay my bills",
        "Resources: Ability to have fun",
    ],
    "5DW Score: Mastery": [
        "Mastery: Skill and confidence",
        "Mastery: Control and choice",
        "Mastery: Rights are protected",
    ],
    "5DW Score: Social Connectedness": [
        "Social: Feeling I belong here",
        "Social: Connect with people",
        "Social: Take care of people",
        "Social: Knowledge that I matter",
    ],
    "5DW Score: Stability": [
        "Stability: Stick to my routines",
        "Stability: Things are about to fall apart",
        "Stability: Deal with life hassles",
    ],
}

LIKERT_COLUMNS = [c for cols in LIKERT_COLUMNS_DICT.values() for c in cols]


def map_lookup(c: Column | str, mapping: dict, default) -> Column:
    """Native dict lookup: ``element_at(map(...), col)`` with a default —
    replaces utils.py:159-181's Python UDF. Unmatched AND null inputs
    both take the default (``dict.get`` semantics). The literal map is
    one SQL expression (see ``functions.sqltext``), so its keys and
    values must be strings, integers or booleans."""
    col = F.col(c) if isinstance(c, str) else c
    pairs = ", ".join(sql.literal(x) for x in chain.from_iterable(mapping.items()))
    return F.coalesce(F.element_at(F.expr(f"map({pairs})"), col), F.lit(default))


def likert_score(c: Column | str) -> Column:
    return map_lookup(c, LIKERT_MAPPING, 0).cast("int")


def score_likert_columns(df: DataFrame, domains: dict[str, list[str]] | None = None) -> DataFrame:
    """Score all Likert columns in place, then add per-domain means and
    the all-questions mean (transform_alchemer_data.py:62-75) in one pass.
    Each mean is one SQL expression (see ``functions.sqltext``)."""
    domains = domains or LIKERT_COLUMNS_DICT
    all_cols = [c for cols in domains.values() for c in cols]
    df = df.withColumns({c: likert_score(c) for c in all_cols if c in df.columns})

    def mean(cols: list[str]) -> Column:
        total = " + ".join(sql.ident(c) for c in cols)
        return F.expr(f"round(({total}) / {len(cols)}, 2)")

    means = {domain: mean(cols) for domain, cols in domains.items()}
    means["5DW Score: Everything"] = mean(all_cols)
    return df.withColumns(means)


def bucketize(c: Column | str, edges: list[tuple], otherwise) -> Column:
    """Ordered first-match-wins bucket chain (the Age/Income recodes,
    transform_alchemer_data.py:167-196). ``edges`` is a list of
    (condition, label) evaluated in order."""
    expr = None
    for cond, label in edges:
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(otherwise)


def age_bucket(c: Column | str) -> Column:
    """transform_alchemer_data.py:167-178 — string column compared
    numerically (implicit cast; non-ANSI)."""
    col = F.col(c) if isinstance(c, str) else c
    return bucketize(
        col,
        [
            (col <= 0, "Unknown"),
            (col < 10, "Less than 10 years old"),
            (col < 18, "10 to 17 years old"),
            (col < 30, "18 to 29 years old"),
            (col < 45, "30 to 44 years old"),
            (col < 60, "45 to 59 years old"),
            (col < 75, "60 to 74 years old"),
            (col < 120, "75 years and older"),
        ],
        "Unknown",
    )


def income_bucket(c: Column | str) -> Column:
    """transform_alchemer_data.py:183-196."""
    col = F.col(c) if isinstance(c, str) else c
    return bucketize(
        col,
        [
            (col.isNull() | (col == "I prefer not to answer this question"), "Unknown"),
            ((col == "Less than $20,000") | (col == "$20,000 to $49,999"), "Less than $50,000"),
        ],
        col,
    )


def fill_unknown(c: Column | str, also: Iterable[str] = ()) -> Column:
    """NULL/blank (and listed sentinel answers) -> 'Unknown'
    (transform_alchemer_data.py:112-148)."""
    col = F.col(c) if isinstance(c, str) else c
    cond = col.isNull() | (F.trim(col) == "")
    for v in also:
        cond = cond | (col == v)
    return F.when(cond, "Unknown").otherwise(col)


def zip5(c: Column | str) -> Column:
    """Zip recode (transform_alchemer_data.py:153-162): null or
    first-5-digits-cast-to-0 (incl. non-numeric -> NULL==0 is false ->
    wait: NULL cast compares null -> falls to otherwise) -> 'Unknown',
    else first 5 chars. Mirrors the reference exactly: a non-numeric
    zip casts to NULL, the ``== 0`` test is NULL, so the value keeps its
    first 5 characters."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(
        col.isNull() | (col.substr(1, 5).cast("int") == 0), "Unknown"
    ).otherwise(col.substr(1, 5))
