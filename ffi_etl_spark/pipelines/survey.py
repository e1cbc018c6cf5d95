"""The survey medallion pipeline — the reference's full product surface
(extract → transform → roll_up → merge_census → write_to_volume,
README.py:8-11) on the engine's operator library.

A reference user points this at their online/offline survey extracts,
config sheets, and census table, and gets the same bronze/silver/gold
tables and exports. Differences are mechanical only (SURVEY.md §4): no
driver pandas, no mid-plan ``collect()``, one ``select`` per cleaning
pass instead of per-column ``withColumn`` loops, and the Likert map is
a native expression instead of a Python UDF.

Stage semantics cite the reference notebook lines they reproduce.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ffi_etl_spark.functions.cleaning import (
    clean_headers,
    clean_strings,
    validate_renames,
)
from ffi_etl_spark.functions.recode import (
    age_bucket,
    fill_unknown,
    income_bucket,
    score_likert_columns,
    zip5,
)
from ffi_etl_spark.operators.census import merge_census
from ffi_etl_spark.operators.extract import merge_online_offline, prefix_key
from ffi_etl_spark.operators.rollup import rollup_all
from ffi_etl_spark.operators.validity import split_valid, validity_cascade
from ffi_etl_spark.pipeline import Pipeline, run_concurrently
from ffi_etl_spark.sources.writers import single_file_csv, single_file_json

# utils.py:112-119 — demographic columns rolled up in gold
DEMOGRAPHICS: list[tuple[str, str]] = [
    ("Gender", "Gender"),
    ("Age", "Age"),
    ("Race/Ethnicity", "Race/Ethnicity"),
    ("Household Income", "Household Income"),
    ("Survey Language", "Language"),
    ("CM Name", "CM Name"),
]

# transform_alchemer_data.py:137 — 'I prefer not to answer' family
PREFER_NOT_TO_ANSWER_COLS = [
    "How many years lived in Kingston",
    "Why are you interested in this project?",
    "In a typical month, how difficult is it for your household to pay for usual household expenses?",
    "Hispanic or Latinx",
]

TS_FORMAT = "MM/dd/yyyy h:mm:ss a"  # transform_alchemer_data.py:49-50


def race_ethnicity_recode(race: Column, hispanic: Column) -> Column:
    """transform_alchemer_data.py:80-90 — a "Yes" Hispanic answer wins
    over every race branch."""
    return F.when(hispanic == "Yes", "Hispanic or Latinx").otherwise(
        F.when(race == "Some other race (please write it in here)", "Other race")
        .when(race == "I prefer not to answer this question", "Unknown")
        .when(race.isNull(), "Unknown")
        .otherwise(race)
    )


def gender_recode(g: Column) -> Column:
    """transform_alchemer_data.py:95-104."""
    return (
        F.when(g.isNull() | (g == "Prefer not to say"), "Unknown")
        .when(g == "Write In", "Other")
        .otherwise(g)
    )


def extract_bronze(
    online: DataFrame,
    offline: DataFrame,
    rename_map: dict[str, str] | None = None,
) -> DataFrame:
    """extract_alchemer_data.py:8-50 — prefix offline response keys,
    full-outer merge with pandas NaN-key parity, validate + apply
    renames."""
    online = clean_headers(online)
    offline = clean_headers(offline)
    offline = prefix_key(offline, "Response ID", "Offline #")
    bronze = merge_online_offline(online, offline)
    if rename_map:
        validate_renames(bronze.columns, rename_map)
        bronze = bronze.withColumnsRenamed(rename_map)
    return bronze


def transform_silver(
    bronze: DataFrame,
    open_text_cols: list[str],
    cols_to_delete: list[str],
) -> DataFrame:
    """transform_alchemer_data.py end-to-end, in the reference's order."""
    # :13-39 headers + mojibake + null phrases + nan-nulling (one select)
    silver = clean_strings(clean_headers(bronze), open_text_cols=open_text_cols)

    # :44-56 LEGACY timestamp parse + completion time
    started = F.to_timestamp(F.col("`Time Started`"), TS_FORMAT)
    submitted = F.to_timestamp(F.col("`Survey Date Submitted`"), TS_FORMAT)
    silver = silver.withColumns(
        {
            "Time Started": started,
            "Survey Date Submitted": submitted,
        }
    ).withColumn(
        "Time Difference",
        F.unix_timestamp(F.col("`Survey Date Submitted`")) - F.unix_timestamp(F.col("`Time Started`")),
    ).withColumn(
        "Time Difference (Minutes)", F.round(F.col("`Time Difference`") / 60)
    )

    # :60-75 Likert scoring + 5DW domain means (native map, no UDF)
    silver = score_likert_columns(silver)

    # :80-196 demographic recodes, reference order
    silver = silver.withColumns(
        {
            "Race/Ethnicity": race_ethnicity_recode(
                F.col("`Race/Ethnicity`"), F.col("`Hispanic or Latinx`")
            ),
            "Gender": gender_recode(F.col("Gender")),
            "CM Name": fill_unknown("CM Name"),
            "Current living situation": fill_unknown(
                "Current living situation", also=["Prefer not to say"]
            ),
        }
    )
    silver = silver.withColumns(
        {
            c: fill_unknown(c, also=["I prefer not to answer this question"])
            for c in PREFER_NOT_TO_ANSWER_COLS
            if c in silver.columns
        }
    )
    silver = silver.withColumns(
        {
            "IP Address - Zip Code": zip5("IP Address - Zip Code"),
            "Age": age_bucket("Age"),
            "Household Income": income_bucket("Household Income"),
        }
    )

    # :201-224 validity cascade
    silver = silver.withColumn(
        "Is_Invalid",
        validity_cascade(
            F.col("`Alchemer Admin Comments`"),
            F.col("`Survey Completed?`"),
            F.col("`Survey Link Used`"),
            F.col("`IP Address - Country`"),
        ),
    )

    # :229-230 config deletes + the intermediate duration column
    return silver.drop(*cols_to_delete, "Time Difference")


def build_survey_pipeline(
    warehouse: str,
    open_text_cols: list[str],
    cols_to_delete: list[str],
    rename_map: dict[str, str] | None = None,
) -> Pipeline:
    """The 5-stage workflow DAG (README.py:8-11) as a Pipeline.

    Expects ``inputs`` = {"online": df, "offline": df, "census": df}
    (census: [Demographic, Category, Census %, Display Order]).
    """
    pipe = Pipeline(warehouse)

    @pipe.stage("extract")
    def _extract(spark: SparkSession, t: dict[str, DataFrame]):
        return {"survey_bronze": extract_bronze(t["online"], t["offline"], rename_map)}

    @pipe.stage("transform")
    def _transform(spark: SparkSession, t: dict[str, DataFrame]):
        return {
            "survey_silver": transform_silver(
                t["survey_bronze"], open_text_cols, cols_to_delete
            )
        }

    @pipe.stage("roll_up")
    def _rollup(spark: SparkSession, t: dict[str, DataFrame]):
        valid, invalid = split_valid(t["survey_silver"])
        demos = [(c, n) for c, n in DEMOGRAPHICS if c in valid.columns]
        return {
            "valid_survey": valid,
            "invalid_survey": invalid,
            "roll_up": rollup_all(valid, demos),
        }

    @pipe.stage("merge_census")
    def _merge(spark: SparkSession, t: dict[str, DataFrame]):
        return {
            "census_merged_roll_up": merge_census(
                t["census"], t["roll_up"], t["survey_silver"], "Survey Date Submitted"
            )
        }

    @pipe.stage("write_to_volume", materialize=False)
    def _export(spark: SparkSession, t: dict[str, DataFrame]):
        # write_to_volume.py:7-16 — every gold table lands as one JSON
        # file + one header CSV under the volume dir. The reference
        # enumerates SHOW TABLES IN wiatt.gold filtered by city; here the
        # gold layer is the pipeline's own table namespace, so the list
        # is explicit (and session-global catalog state can't bleed in).
        # The four exports are independent and run at once. The writers
        # are looked up in this module when the stage runs, so a writer
        # replaced here around ``Pipeline.run`` is the one used.
        out = os.path.join(warehouse, "volume")
        run_concurrently(spark, [
            partial(write, t[name], os.path.join(out, f"{name}.{ext}"))
            for name in ("roll_up", "census_merged_roll_up")
            for write, ext in ((single_file_json, "json"), (single_file_csv, "csv"))
        ])
        return {}

    return pipe
