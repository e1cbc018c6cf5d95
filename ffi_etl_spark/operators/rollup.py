"""Demographic roll-up — counts + percent-of-total per category.

Reference semantics (`process_demographic`, utils.py:190-223, called
from rollup_alchemer_data.py:30-41):

  * group by the demographic column, count rows;
  * denominator = total count EXCLUDING the ``Unknown`` category (null
    categories are also excluded — ``col != 'Unknown'`` is null-false);
  * every category's percent (including ``Unknown``) uses that reduced
    denominator, formatted ``"%.2f%%"``;
  * ``Total Responses`` holds that same excl-unknown denominator as a
    string — blank ``""`` for the ``Unknown`` AND null categories
    (utils.py:216: the when condition is null for null categories, so
    they fall to the blank branch);
  * per-demographic frames are unioned and projected to a fixed column
    order (rollup_alchemer_data.py:94-98).

The reference computes the denominators with two eager ``collect()``
calls per demographic (utils.py:207,211 — 12 driver round-trips per
run). Here the denominator is a window aggregate partitioned by
demographic, so the whole roll-up (all demographics) is ONE lazy plan
and nothing touches the driver. At 100 TB the group-by keys are
low-cardinality demographic labels, so the partial (map-side)
aggregation reduces each partition to a handful of rows before the
shuffle — the window then runs over K rows (K = category count), which
is trivially cheap.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FINAL_COLUMNS = [
    "Demographic",
    "Category",
    "# of Survey Responses",
    "% of Survey Responses",
    "Total Responses",
]


def _rollup(df: DataFrame, demographics: list[tuple[str, str]]) -> DataFrame:
    """Count / percent / blank-total projection (utils.py:190-223) for
    every ``(column, name)`` in ``demographics``, in ONE scan: an
    explode to (Demographic, Category) pairs, ONE (Demographic,
    Category) aggregate (map-side combined to K rows) and ONE
    Demographic-partitioned window for the excl-Unknown denominator.

    The columns must share one dtype: the explode array would coerce
    them to a common type, which changes ``Category != 'Unknown'`` for
    non-string categories."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("Demographic"), F.col(col).alias("Category"))
                for col, name in demographics
            ]
        )
    ).alias("_dc")
    grouped = (
        df.select(pairs)
        .select("_dc.Demographic", "_dc.Category")
        .groupBy("Demographic", "Category")
        .agg(F.count(F.lit(1)).alias("# of Survey Responses"))
    )
    cnt = F.col("# of Survey Responses")
    known = F.col("Category") != "Unknown"
    total_excl_unknown = F.sum(F.when(known, cnt)).over(Window.partitionBy("Demographic"))
    return grouped.select(
        F.col("Demographic"),
        F.col("Category"),
        cnt,
        F.format_string("%.2f%%", cnt / total_excl_unknown * 100).alias(
            "% of Survey Responses"
        ),
        F.when(known, total_excl_unknown.cast("string"))
        .otherwise(F.lit(""))
        .alias("Total Responses"),
    )


def demographic_rollup(df: DataFrame, demographic_col: str, demographic_name: str) -> DataFrame:
    """Roll up one demographic column; collect-free port of
    utils.py:190-223, in the reference's presentation order
    (rollup_alchemer_data.py) — the sort costs one K-row pass."""
    return _rollup(df, [(demographic_col, demographic_name)]).orderBy(
        F.col("Category").desc()
    )


def rollup_all(df: DataFrame, demographics: list[tuple[str, str]]) -> DataFrame:
    """Union of per-demographic roll-ups (rollup_alchemer_data.py:87-98).

    When every demographic column has one dtype, all of them roll up in
    one pass (``_rollup``), so the pass count does not grow with the
    demographic list. Otherwise each column rolls up on its own and the
    frames are unioned, keeping each column's own comparison with
    ``'Unknown'``: for a bigint column it is null, so that column gets
    blank totals and no denominator. No presentation sort: row order is
    not part of any gate, and merge_census and the sinks are
    order-robust.

    The reference uses positional ``union``; all frames here share one
    builder so ``unionByName`` is both safe and order-robust.
    """
    dtypes = dict(df.dtypes)
    if len({dtypes[c] for c, _ in demographics}) == 1:
        return _rollup(df, demographics)
    return reduce(DataFrame.unionByName, [_rollup(df, [d]) for d in demographics])


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, "F.Column"]],
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe two-stage aggregation: pre-aggregate on (keys, salt)
    so a hot key's rows spread over ``n_salts`` reducers, then merge the
    partials on the bare keys (COUNT merges as SUM; SUM as SUM).

    ``aggs`` maps output name -> ("count" | "sum", expression). AQE's
    skew handling covers joins; this is the equivalent lever for
    aggregations whose key histogram is pathological (e.g. a null-heavy
    demographic), at the cost of one extra (tiny) shuffle stage.
    """
    salt = (F.spark_partition_id() * 31 + F.monotonically_increasing_id() % n_salts) % n_salts
    partial_exprs = []
    final_exprs = []
    for name, (kind, expr) in aggs.items():
        if kind == "count":
            partial_exprs.append(F.count(expr).alias(f"_p_{name}"))
        elif kind == "sum":
            partial_exprs.append(F.sum(expr).alias(f"_p_{name}"))
        else:
            raise ValueError(f"salted_agg supports count/sum, got {kind}")
        final_exprs.append(F.sum(f"_p_{name}").alias(name))
    return (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*partial_exprs)
        .groupBy(*keys)
        .agg(*final_exprs)
    )
