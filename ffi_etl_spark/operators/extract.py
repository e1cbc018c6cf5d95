"""Extract-stage operators (SURVEY.md §2.3 J1, §2.2 P8/P9).

The reference merges online + offline survey frames with a driver-side
pandas full-outer join on the intersection of their columns, after
casting every join key to ``str`` (extract_alchemer_data.py:19-24).
That cast turns pandas missing values into literal ``"nan"`` strings,
so two rows that are both missing a key MATCH — null-equals-null join
semantics, two stages before the globally applied nan→NULL cleanup
(transform_alchemer_data.py:38-39) undoes the sentinel.

The distributed re-expression: cast the common columns to string,
replace NULL with the ``"nan"`` sentinel (exactly what ``astype(str)``
did), then a Spark full-outer equi-join on those columns. The sentinel
— not ``eqNullSafe`` — is used deliberately: pandas also *outputs* the
``"nan"`` strings into the merged frame, and downstream recodes branch
on them until the global nulling, so value parity requires the
sentinel to exist in the data, not just in the join condition.

Scale: both survey files are modest, but the operator is written for
the general case — a plain equi-join Catalyst can broadcast or
sort-merge; no driver pandas anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffi_etl_spark.functions import sqltext as sql


def stringify_with_nan(df: DataFrame, cols: list[str]) -> DataFrame:
    """``astype(str)`` parity for the given columns: cast to string and
    encode NULL as the literal ``"nan"`` (extract_alchemer_data.py:20-21).
    The columns keep their places; each expression is SQL text (see
    ``functions.sqltext``), one py4j round trip per column."""
    wanted = set(cols)
    return df.selectExpr(
        *(
            f"coalesce(CAST({sql.ident(c)} AS STRING), 'nan') AS {sql.ident(c)}"
            if c in wanted
            else sql.ident(c)
            for c in df.columns
        )
    )


def prefix_key(df: DataFrame, key_col: str, prefix: str) -> DataFrame:
    """P8: namespace a key column, e.g. ``"Offline #" + Response ID``
    (extract_alchemer_data.py:14)."""
    return df.withColumn(
        key_col, F.concat(F.lit(prefix), F.col(f"`{key_col}`").cast("string"))
    )


def merge_online_offline(online: DataFrame, offline: DataFrame) -> DataFrame:
    """J1: full-outer join on the intersection of the two frames'
    columns with pandas ``astype(str)`` NaN-key parity
    (extract_alchemer_data.py:19-24).

    Column-set union output: common columns are coalesced by the join
    key list; each side's exclusive columns ride along (NULL on the
    other side — pandas fills NaN there, which the later global
    nan-nulling also erases, so NULL is value-correct)."""
    common = [c for c in online.columns if c in set(offline.columns)]
    on = stringify_with_nan(online, common)
    off = stringify_with_nan(offline, common)
    return on.join(off, on=common, how="full_outer")
