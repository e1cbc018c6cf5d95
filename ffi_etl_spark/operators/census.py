"""Census merge — representation-gap scoring (merge_census.py end-to-end).

Full-outer join of a census table (grain: Demographic × Category, with
``Census %`` percent strings and ``Display Order``) against the survey
roll-up, then:

  * backfill ``Total Responses`` for census-only rows from any rollup
    row of the same demographic (first ignorenulls window,
    merge_census.py:29-39);
  * zero-fill counts/percents for census-only rows (:36-37,:60-68 —
    note the ``"0 %"`` string variant when census data exists);
  * consolidate key columns two-sidedly (:38-39,:49-54);
  * percent strings -> numbers (:79-80), ``% Difference`` (:86-89);
  * ``Representation Status`` thresholds (:95-103, constants
    utils.py:31-32);
  * ``Additional Responses Needed`` = |diff|·total/100 rounded to the
    nearest 10 (:109-114);
  * re-format percents with 1 decimal + ``%`` (:120-123);
  * ``Data Last Updated`` = max submit date (:129-137) — the reference
    collects the scalar; here it is a broadcast 1-row cross join so the
    whole merge stays one lazy plan;
  * stable display ordering via row_number partitioned by Demographic
    ordered by ``Display Order`` nulls-last then Category (:144-153).

Scale note: both join sides are small — the census has hundreds of
rows and the rollup is already K rows post-aggregation — but a full
outer join cannot broadcast either side, so it is a shuffle join over
a few hundred rows. The max-date aggregate reduces map-side before its
1-row shuffle.

Deviation from the reference (documented): percent parsing casts to
double, not float (merge_census.py:79-80) — float32 formatting is JVM-
version-dependent; double keeps values exact and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# utils.py:31-32
REPRESENTATION_NEGATIVE_CONSTANT = -5
REPRESENTATION_POSITIVE_CONSTANT = 5


def representation_status(diff: Column, neg: int = REPRESENTATION_NEGATIVE_CONSTANT,
                          pos: int = REPRESENTATION_POSITIVE_CONSTANT) -> Column:
    """merge_census.py:95-103 — note a diff exactly at a threshold gets NULL."""
    return (
        F.when(diff < neg, "Under-Represented")
        .when(diff > pos, "Over-Represented")
        .when((diff > neg) & (diff < pos), "Looks Good")
        .otherwise(F.lit(None).cast("string"))
    )


def merge_census(
    census: DataFrame,
    rollup: DataFrame,
    stamped_from: DataFrame,
    date_col: str,
) -> DataFrame:
    """census: [Demographic, Category, Census %, Display Order];
    rollup: the 5-column roll-up gold table; stamped_from/date_col: the
    table whose max date becomes "Data Last Updated"."""
    census = census.withColumnsRenamed(
        {"Demographic": "Census_Demographic", "Category": "Census_Category"}
    )
    rollup = rollup.withColumnsRenamed(
        {"Demographic": "Rollup_Demographic", "Category": "Rollup_Category"}
    )
    joined = census.join(
        rollup,
        [
            census["Census_Demographic"] == rollup["Rollup_Demographic"],
            census["Census_Category"] == rollup["Rollup_Category"],
        ],
        how="outer",
    )
    # Collect-free replacement for merge_census.py:129-131's driver
    # scalar: broadcast 1-row max aggregate cross-joined into the plan.
    max_df = stamped_from.agg(F.max(date_col).alias("__max_date"))
    joined = joined.crossJoin(F.broadcast(max_df))
    max_date = F.col("__max_date")

    census_only = F.col("Rollup_Demographic").isNull() & F.col("Rollup_Category").isNull()
    # merge_census.py:29-39 — the reference's orderBy is the partition key
    # itself (a no-op); an explicit full frame keeps first() deterministic.
    w = (
        Window.partitionBy("Census_Demographic")
        .orderBy("Census_Demographic")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    joined = joined.withColumns(
        {
            "Total Responses": F.when(
                census_only, F.first("Total Responses", ignorenulls=True).over(w)
            ).otherwise(F.col("Total Responses")),
            "# of Survey Responses": F.when(census_only, 0).otherwise(
                F.col("# of Survey Responses")
            ),
            "% of Survey Responses": F.when(census_only, F.lit(0)).otherwise(
                F.col("% of Survey Responses")
            ),
            "Rollup_Demographic": F.coalesce("Rollup_Demographic", "Census_Demographic"),
            "Rollup_Category": F.coalesce("Rollup_Category", "Census_Category"),
        }
    )
    # merge_census.py:46-54
    joined = joined.withColumns(
        {
            "Census %": F.when(
                F.col("Census_Demographic").isNull() & F.col("Census_Category").isNull(),
                None,
            ).otherwise(F.col("Census %")),
            "Census_Demographic": F.coalesce("Census_Demographic", "Rollup_Demographic"),
            "Census_Category": F.coalesce("Census_Category", "Rollup_Category"),
        }
    )
    # merge_census.py:60-68 re-zero-fills rows with census data and no
    # rollup side, writing "0 %". It tests Rollup_* after :38-39 filled
    # them from Census_*, so it matches no row and is not reproduced.

    # merge_census.py:73-80
    joined = (
        joined.withColumnsRenamed(
            {"Census_Demographic": "Demographic", "Census_Category": "Category"}
        )
        .drop("Rollup_Demographic", "Rollup_Category")
        .withColumn("Census %", F.regexp_replace("Census %", "%", "").cast("double"))
        .withColumn(
            "% of Survey Responses",
            F.regexp_replace("% of Survey Responses", "%", "").cast("double"),
        )
    )
    # merge_census.py:86-114
    diff = F.col("% Difference")
    joined = (
        joined.withColumn(
            "% Difference",
            F.when(
                F.col("Census %").isNotNull() & F.col("% of Survey Responses").isNotNull(),
                F.col("% of Survey Responses") - F.col("Census %"),
            ).otherwise(F.lit(None)),
        )
        .withColumn("Representation Status", representation_status(diff))
        .withColumn(
            "Additional Responses Needed",
            F.when(
                F.col("Representation Status").isin("Under-Represented", "Over-Represented"),
                F.round(F.abs(diff * F.col("Total Responses") / 100)),
            ).otherwise(F.lit(None)),
        )
        .withColumn(
            "Additional Responses Needed",
            F.round(F.round(F.col("Additional Responses Needed") / 10) * 10),
        )
    )
    # merge_census.py:120-123 — percent restring (1 decimal + '%')
    joined = (
        joined.withColumn("Census %", F.concat(F.round(F.col("Census %"), 1), F.lit("%")))
        .withColumn(
            "% of Survey Responses",
            F.concat(F.round(F.col("% of Survey Responses"), 1), F.lit("%")),
        )
        .withColumn("% Difference", F.concat(F.round(diff, 1), F.lit("%")))
        .withColumnRenamed("Census %", "% of Population (Census)")
    )
    # merge_census.py:129-137 — "Data Last Updated" stamp
    joined = joined.withColumn(
        "Data Last Updated", F.date_format(max_date, "MM/dd/yyyy")
    ).drop("__max_date")

    # merge_census.py:144-153 — display ordering
    w2 = Window.partitionBy("Demographic").orderBy(
        F.col("Display Order").asc_nulls_last(), F.col("Category").asc()
    )
    return (
        joined.withColumn("row_num", F.row_number().over(w2))
        .orderBy("Demographic", "row_num")
        .drop("row_num", "Display Order")
    )
