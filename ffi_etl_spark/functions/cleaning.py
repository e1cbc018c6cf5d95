"""Text/value cleaning expressions (SURVEY.md §2.2 P1/P6, §2.9 D2/D3).

All reference cleaning is re-expressed as native SQL expressions so
an entire cleaning pass is ONE ``select`` (the reference's per-column
``withColumn`` loops build O(cols) nested Project nodes —
transform_alchemer_data.py:28-39 — which Catalyst must then collapse).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from ffi_etl_spark.functions import sqltext as sql

# Phrases whose normalized form marks an open-text answer as null
# (utils.py:103-106). NOTE: the missing comma at utils.py:105 fuses
# "nada mas que agregar" + "not really" into ONE phrase — "not really"
# alone is NOT nulled. Preserved verbatim for hash parity.
NULL_PHRASES = [
    "na", "n/a", "not applicable", "no response", "does not apply",
    "no thank you", "no thanks", "no comment", "it dont", "none",
    "i have no idea", "no idea", "no time", "no realmente",
    "nada mas que agregar" "not really",  # noqa: ISC001 — intentional fusion
    "nothing", "-", "", "i not to say", "nope", "no", "no I do not",
    "nothings", "nan",
]

# The two known mojibake sequences and their repairs, applied in order
# (utils.py:146-152, transform_alchemer_data.py:20-23).
MOJIBAKE = [("â€™", "'"), ("Ã", "i")]

_PUNCTUATION = sql.string(r"[^\w\s]")


def fix_mojibake(expr: str) -> str:
    """Repair the two known mojibake sequences (utils.py:146-152,
    transform_alchemer_data.py:20-23) in the SQL expression ``expr``:
    ``â€™`` -> ``'`` and ``Ã`` -> ``i``.

    Literal ``replace``, not ``regexp_replace``: applied to every string
    column, the regex form's generated code overflowed whole-stage
    codegen's 64 KB method limit on the survey silver projection."""
    for bad, good in MOJIBAKE:
        expr = f"replace({expr}, {sql.string(bad)}, {sql.string(good)})"
    return expr


def fix_mojibake_name(name: str) -> str:
    """Same repair applied to a column NAME on the driver
    (transform_alchemer_data.py:13 calls the bare Python fn on headers)."""
    for bad, good in MOJIBAKE:
        name = name.replace(bad, good)
    return name


def replace_with_null(expr: str, phrases: list[str] = NULL_PHRASES) -> str:
    """Null out answers whose lower/punctuation-stripped/trimmed form is
    in the null-phrase list (utils.py:184-187); SQL text over ``expr``."""
    normalized = f"trim(regexp_replace(lower({expr}), {_PUNCTUATION}, ''))"
    listed = ", ".join(sql.string(p) for p in phrases)
    return f"CASE WHEN {normalized} IN ({listed}) THEN NULL ELSE {expr} END"


def null_nan(expr: str) -> str:
    """``"nan"`` sentinel string -> NULL (transform_alchemer_data.py:38-39);
    SQL text over ``expr``."""
    return f"CASE WHEN {expr} = 'nan' THEN NULL ELSE {expr} END"


def clean_strings(df: DataFrame, open_text_cols: Iterable[str] = ()) -> DataFrame:
    """One-select cleaning pass: mojibake-fix every string column, null
    out null-phrases in open-text columns, null ``"nan"`` everywhere.

    Order matters and mirrors the reference: mojibake fix
    (transform_alchemer_data.py:20-23) -> null phrases (28-33) ->
    nan-nulling (38-39). Missing open-text columns are tolerated
    (the reference's lenient loop, 29-33). Every column's expression is
    SQL text (see ``functions.sqltext``), so the pass costs a few dozen
    py4j round trips rather than one per function, literal and column.
    """
    open_set = {c for c in open_text_cols if c in df.columns}
    out = []
    for field in df.schema.fields:
        name = sql.ident(field.name)
        if isinstance(field.dataType, StringType):
            expr = fix_mojibake(name)
            if field.name in open_set:
                expr = replace_with_null(expr)
            out.append(f"{null_nan(expr)} AS {name}")
        else:
            out.append(name)
    return df.selectExpr(*out)


def clean_headers(df: DataFrame) -> DataFrame:
    """Strip + mojibake-fix column names (extract_alchemer_data.py:30,
    transform_alchemer_data.py:13-14)."""
    return df.toDF(*[fix_mojibake_name(c.strip()) for c in df.columns])


def validate_renames(columns: list[str], rename_map: dict[str, str], max_len: int = 150) -> None:
    """Rename-gate (extract_alchemer_data.py:35-41): every source column
    must exist; every target name must fit the length limit."""
    for src, dst in rename_map.items():
        if src not in columns:
            raise ValueError(f"Column `{src}` not found in the dataframe")
        if len(dst) > max_len:
            raise ValueError(
                f"Column rename `{dst}` is too long. Max length is {max_len} characters"
            )
