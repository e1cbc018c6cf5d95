"""End-to-end survey pipeline test (SURVEY.md §5 item 3).

Builds Fixture A/B/C-shaped inputs inline (column names verbatim,
including spaces and punctuation), runs the full 5-stage medallion
pipeline through a parquet warehouse, and asserts golden facts about
silver, the roll-up, and the census merge.
"""

import pytest
from pyspark.sql import Row

from ffi_etl_spark.operators.extract import merge_online_offline
from ffi_etl_spark.pipelines.survey import build_survey_pipeline
from ffi_etl_spark.sources.writers import single_file_csv, single_file_json

LIKERT_COLS = [
    "Safety: Impact my safety",
    "Resources: Information and opportunities",
    "Resources: Food, sleep, housing",
    "Resources: Ability to pay my bills",
    "Resources: Ability to have fun",
    "Mastery: Skill and confidence",
    "Mastery: Control and choice",
    "Mastery: Rights are protected",
    "Social: Feeling I belong here",
    "Social: Connect with people",
    "Social: Take care of people",
    "Social: Knowledge that I matter",
    "Stability: Stick to my routines",
    "Stability: Things are about to fall apart",
    "Stability: Deal with life hassles",
]


def _survey_df(spark, rows):
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(k, StringType()) for k in rows[0]])
    return spark.createDataFrame([tuple(r[k] for k in rows[0]) for r in rows], schema)


def _response(rid, **over):
    base = {
        "Response ID": rid,
        "Time Started": "03/15/2024 9:01:12 AM",
        "Survey Date Submitted": "03/15/2024 9:31:12 AM",
        "Hispanic or Latinx": "No",
        "Race/Ethnicity": "White",
        "Gender": "Woman",
        "CM Name": "Alice",
        "Current living situation": "Renting",
        "How many years lived in Kingston": "5",
        "Why are you interested in this project?": "community",
        "In a typical month, how difficult is it for your household to pay for usual household expenses?": "Somewhat",
        "IP Address - Zip Code": "12401-1234",
        "IP Address - Country": "United States",
        "Age": "29",
        "Household Income": "$50,000 to $74,999",
        "Survey Language": "English",
        "Alchemer Admin Comments": None,
        "Survey Completed?": "Complete",
        "Survey Link Used": "Email",
        "Anything else you want to tell us?": "real answer",
        "SessionID": "sess",
    }
    base.update({c: "No change" for c in LIKERT_COLS})
    base.update(over)
    return base


@pytest.fixture(scope="module")
def gold(spark, tmp_path_factory):
    online = _survey_df(
        spark,
        [
            _response("1", **{"Safety: Impact my safety": "A lot better",
                              "Stability: Deal with life hassles": "A little worse"}),
            _response("2", **{"Gender": "Write In", "Age": "75",
                              "Hispanic or Latinx": "Yes",
                              "Anything else you want to tell us?": "N/A"}),
            _response("3", **{"Survey Completed?": "Partial", "Gender": "Man"}),
            _response("4", **{"IP Address - Country": "Canada",
                              "Alchemer Admin Comments": "ok",
                              "Household Income": "Less than $20,000",
                              "Anything else you want to tell us?": "donâ€™t worry"}),
            _response("5", **{"Survey Link Used": "Test link",
                              "Race/Ethnicity": None, "Age": "0"}),
        ],
    )
    offline = _survey_df(
        spark,
        [
            _response("12", **{"Gender": "Prefer not to say", "Age": "44",
                               "Household Income": "$20,000 to $49,999",
                               "Survey Language": "Spanish",
                               "CM Name": "  "}),
        ],
    )
    census = spark.createDataFrame(
        [
            Row(**{"Demographic": "Gender", "Category": "Woman",
                   "Census %": "52.0%", "Display Order": 1}),
            Row(**{"Demographic": "Gender", "Category": "Man",
                   "Census %": "48.0%", "Display Order": 2}),
            # matched Age row: the backfill donor for the census-only row below
            Row(**{"Demographic": "Age", "Category": "18 to 29 years old",
                   "Census %": "15.0%", "Display Order": 3}),
            # census-only category: exercises the outer join + backfill
            Row(**{"Demographic": "Age", "Category": "60 to 74 years old",
                   "Census %": "20.0%", "Display Order": None}),
        ]
    )
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    pipe = build_survey_pipeline(
        warehouse=warehouse,
        open_text_cols=["Anything else you want to tell us?", "not a real column"],
        cols_to_delete=["SessionID"],
    )
    tables = pipe.run(spark, {"online": online, "offline": offline, "census": census})
    tables["__warehouse__"] = warehouse
    return tables


def test_bronze_merges_and_prefixes(gold):
    bronze = gold["survey_bronze"]
    ids = {r["Response ID"] for r in bronze.select("`Response ID`").collect()}
    assert ids == {"1", "2", "3", "4", "5", "Offline #12"}


def test_silver_recodes(gold):
    silver = gold["survey_silver"]
    rows = {r["Response ID"]: r for r in silver.collect()}
    assert "SessionID" not in silver.columns and "Time Difference" not in silver.columns
    # Likert scoring + domain means
    r1 = rows["1"]
    assert r1["Safety: Impact my safety"] == 2
    assert r1["5DW Score: Safety"] == 2.0
    assert r1["5DW Score: Stability"] == round(-1 / 3, 2)
    assert r1["Time Difference (Minutes)"] == 30.0
    # recodes
    assert rows["2"]["Race/Ethnicity"] == "Hispanic or Latinx"  # Hispanic wins
    assert rows["2"]["Gender"] == "Other"
    assert rows["2"]["Age"] == "75 years and older"
    assert rows["2"]["Anything else you want to tell us?"] is None  # null phrase
    assert rows["4"]["Anything else you want to tell us?"] == "don't worry"  # mojibake
    assert rows["4"]["Household Income"] == "Less than $50,000"
    assert rows["5"]["Race/Ethnicity"] == "Unknown"
    assert rows["5"]["Age"] == "Unknown"
    assert rows["Offline #12"]["Gender"] == "Unknown"
    assert rows["Offline #12"]["CM Name"] == "Unknown"
    assert rows["Offline #12"]["IP Address - Zip Code"] == "12401"


def test_validity_and_split(gold):
    silver = gold["survey_silver"]
    flags = {r["Response ID"]: r["Is_Invalid"] for r in silver.collect()}
    assert flags["1"] == "Valid"
    assert flags["3"] == "Survey status is partially completed"
    assert flags["4"] == "Valid"  # admin 'ok' overrides foreign IP
    assert flags["5"] == "Survey was submitted via test link"
    assert gold["valid_survey"].count() == 4
    assert gold["invalid_survey"].count() == 2


def test_rollup_golden(gold):
    rollup = gold["roll_up"]
    rows = {
        (r["Demographic"], r["Category"]): r for r in rollup.collect()
    }
    # 4 valid rows: Gender = Woman(2: ids 1,4), Other(1: id 2), Unknown(1: offline)
    assert rows[("Gender", "Woman")]["# of Survey Responses"] == 2
    assert rows[("Gender", "Woman")]["% of Survey Responses"] == "66.67%"  # /3 excl Unknown
    assert rows[("Gender", "Unknown")]["Total Responses"] == ""
    assert rows[("Language", "Spanish")]["# of Survey Responses"] == 1
    assert rows[("CM Name", "Alice")]["Total Responses"] == "3"


def test_census_merge_golden(gold):
    merged = gold["census_merged_roll_up"]
    rows = {(r["Demographic"], r["Category"]): r for r in merged.collect()}
    woman = rows[("Gender", "Woman")]
    assert woman["% of Population (Census)"] == "52.0%"
    assert woman["% Difference"] == "14.7%"  # 66.67 - 52.0 rounded 1dp
    assert woman["Representation Status"] == "Over-Represented"
    assert woman["Data Last Updated"] == "03/15/2024"
    # census-only row: zero-filled survey side, backfilled total
    c_only = rows[("Age", "60 to 74 years old")]
    assert c_only["# of Survey Responses"] == 0
    assert c_only["Total Responses"] == "4"  # backfilled from the Age rollup rows
    # rollup-only row: null census side
    r_only = rows[("Language", "Spanish")]
    assert r_only["% of Population (Census)"] is None


def test_exports(gold, tmp_path):
    out_json = str(tmp_path / "roll_up.json")
    out_csv = str(tmp_path / "roll_up.csv")
    single_file_json(gold["roll_up"], out_json)
    single_file_csv(gold["roll_up"], out_csv)
    import json, os
    assert os.path.isfile(out_json) and os.path.isfile(out_csv)
    with open(out_json) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    assert len(recs) == gold["roll_up"].count()
    with open(out_csv) as f:
        header = f.readline().strip().split(",")
    assert header[0] == "Demographic"


def test_write_to_volume_stage_exports_gold(gold):
    """Stage 5 (write_to_volume.py:7-16): the pipeline's own run must
    land each gold table as one JSON file + one header CSV under
    {warehouse}/volume — no separate export call."""
    import os

    vol = os.path.join(gold["__warehouse__"], "volume")
    for name in ("roll_up", "census_merged_roll_up"):
        assert os.path.isfile(os.path.join(vol, f"{name}.json")), name
        assert os.path.isfile(os.path.join(vol, f"{name}.csv")), name


def test_nan_key_parity(spark):
    """J1: both-sides-missing keys must MATCH (pandas astype(str) parity)."""
    a = spark.createDataFrame([Row(k=None, a="left")], "k string, a string")
    b = spark.createDataFrame([Row(k=None, b="right")], "k string, b string")
    out = merge_online_offline(a, b).collect()
    assert len(out) == 1  # one merged row, not two half-rows
    assert out[0].k == "nan" and out[0].a == "left" and out[0].b == "right"


def test_config_sheet_adapters(spark, tmp_path):
    """S2/S4: config sheets -> dict/list via the reader adapters."""
    import pandas as pd

    from ffi_etl_spark.sources.readers import config_list, config_map, lift_pandas, read_csv

    pdf = pd.DataFrame({"column_in_csv": ["a", "b"], "rename_to": ["A", "B"]})
    lifted = lift_pandas(spark, pdf)
    assert config_map(lifted, "column_in_csv", "rename_to") == {"a": "A", "b": "B"}

    p = tmp_path / "cfg.csv"
    pd.DataFrame({"open_text_columns": ["q1", "q2", None]}).to_csv(p, index=False)
    cfg = read_csv(spark, str(p))
    assert config_list(cfg, "open_text_columns") == ["q1", "q2"]


def test_pipeline_observe_metrics_ride_the_write(spark, tmp_path):
    """Run-ledger metrics (row counts + watched null counts) come from
    DataFrame.observe on the write job — values must match ground truth
    without any extra count() pass in the runner."""
    from pyspark.sql import functions as F

    from ffi_etl_spark.pipeline import Pipeline

    pipe = Pipeline(str(tmp_path / "wh"), watch_nulls={"out": ["v"]})

    @pipe.stage("s1")
    def _s1(spark_, t):
        df = spark_.range(100).select(
            "id", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v")
        )
        return {"out": df}

    tables = pipe.run(spark, {})
    assert tables["out"].count() == 100
    assert pipe.metrics["out"]["n_rows"] == 100
    assert pipe.metrics["out"]["nulls:v"] == 10


def test_pipeline_stage_runs_one_job_per_table(spark, tmp_path):
    """A stage with no shuffle runs exactly one job per output table:
    the write. Reading a table back takes the written frame's schema,
    so no job reads parquet footers."""
    from ffi_etl_spark.pipeline import Pipeline

    pipe = Pipeline(str(tmp_path / "wh"))

    @pipe.stage("s1")
    def _s1(spark_, t):
        return {"a": spark_.range(100), "b": spark_.range(10).selectExpr("id * 2 AS v")}

    sc = spark.sparkContext
    group = f"one-job-per-table-{tmp_path.name}"
    sc.setJobGroup(group, "pipeline stage job count")
    try:
        tables = pipe.run(spark, {})
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert tables["a"].count() == 100
    assert sorted(r.v for r in tables["b"].collect()) == list(range(0, 20, 2))


def test_transform_silver_compiles_within_codegen_limit(spark, tmp_path):
    """The silver projection over a 42-column bronze frame fits whole-
    stage codegen's 64 KB method limit: with the interpreted fallback
    switched off, an overflow would raise instead of being logged."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ffi_etl_spark.pipelines.survey import transform_silver

    row = _response("1")
    row.update({f"Extra question {i}": "x" for i in range(42 - len(row))})
    schema = StructType([StructField(k, StringType()) for k in row])
    # a parquet scan, not a local relation: Catalyst folds a projection
    # over local rows on the driver, where no code is generated
    spark.createDataFrame([tuple(row.values())], schema).write.parquet(str(tmp_path / "bronze"))
    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    assert len(bronze.columns) == 42
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        silver = transform_silver(bronze, ["Anything else you want to tell us?"], ["SessionID"])
        silver.write.parquet(str(tmp_path / "silver"))
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert spark.read.parquet(str(tmp_path / "silver")).count() == 1
