"""Drop-in replacement run for the reference workflow.

The reference user today runs five Databricks notebooks
(extract → transform → roll_up → merge_census → write_to_volume) over
Alchemer CSV exports + config sheets + a census CSV. This script is the
same run on this engine:

    python examples/run_survey_pipeline.py \
        --online online.csv --offline offline.csv --census census.csv \
        --renames renames.csv --deletes deletes.csv --open-text open_text.csv \
        --warehouse ./warehouse

The gold tables land as one JSON file + one header CSV each under
``{warehouse}/volume``.

With no arguments it generates a tiny demo input set and runs on that,
so the script doubles as a smoke example:

    python examples/run_survey_pipeline.py
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _demo_inputs(tmp: str) -> dict[str, str]:
    """Write a minimal Fixture-A/B/C-shaped input set."""
    import csv

    likert = [
        "Safety: Impact my safety", "Resources: Information and opportunities",
        "Resources: Food, sleep, housing", "Resources: Ability to pay my bills",
        "Resources: Ability to have fun", "Mastery: Skill and confidence",
        "Mastery: Control and choice", "Mastery: Rights are protected",
        "Social: Feeling I belong here", "Social: Connect with people",
        "Social: Take care of people", "Social: Knowledge that I matter",
        "Stability: Stick to my routines", "Stability: Things are about to fall apart",
        "Stability: Deal with life hassles",
    ]
    base_cols = [
        "Response ID", "Time Started", "Survey Date Submitted", "Hispanic or Latinx",
        "Race/Ethnicity", "Gender", "CM Name", "Current living situation",
        "How many years lived in Kingston", "Why are you interested in this project?",
        "In a typical month, how difficult is it for your household to pay for usual household expenses?",
        "IP Address - Zip Code", "IP Address - Country", "Age", "Household Income",
        "Survey Language", "Alchemer Admin Comments", "Survey Completed?",
        "Survey Link Used", "Anything else you want to tell us?", "SessionID",
    ] + likert

    def row(rid, **over):
        r = {c: "" for c in base_cols}
        r.update({
            "Response ID": rid, "Time Started": "03/15/2024 9:01:12 AM",
            "Survey Date Submitted": "03/15/2024 9:31:12 AM",
            "Hispanic or Latinx": "No", "Race/Ethnicity": "White", "Gender": "Woman",
            "CM Name": "Alice", "Current living situation": "Renting",
            "How many years lived in Kingston": "5",
            "Why are you interested in this project?": "community",
            "In a typical month, how difficult is it for your household to pay for usual household expenses?": "Somewhat",
            "IP Address - Zip Code": "12401-1234", "IP Address - Country": "United States",
            "Age": "29", "Household Income": "$50,000 to $74,999",
            "Survey Language": "English", "Survey Completed?": "Complete",
            "Survey Link Used": "Email", "Anything else you want to tell us?": "great survey",
            "SessionID": "s",
        })
        r.update({c: "No change" for c in likert})
        r.update(over)
        return r

    paths = {}

    def write(name, cols, rows):
        p = os.path.join(tmp, name)
        with open(p, "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=cols)
            w.writeheader()
            w.writerows(rows)
        paths[name.split(".")[0]] = p

    write("online.csv", base_cols, [
        row("1"), row("2", **{"Gender": "Man", "Age": "52"}),
        row("3", **{"Survey Completed?": "Partial"}),
        row("4", **{"Household Income": "Less than $20,000", "Survey Language": "Spanish"}),
    ])
    write("offline.csv", base_cols, [row("9", **{"Gender": "Prefer not to say", "Age": "71"})])
    write("census.csv", ["Demographic", "Category", "Census %", "Display Order"], [
        {"Demographic": "Gender", "Category": "Woman", "Census %": "52.0%", "Display Order": "1"},
        {"Demographic": "Gender", "Category": "Man", "Census %": "48.0%", "Display Order": "2"},
    ])
    write("open_text.csv", ["open_text_columns"],
          [{"open_text_columns": "Anything else you want to tell us?"}])
    write("deletes.csv", ["cols_delete"], [{"cols_delete": "SessionID"}])
    write("renames.csv", ["column_in_csv", "rename_to"], [])
    return paths


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--online"); ap.add_argument("--offline"); ap.add_argument("--census")
    ap.add_argument("--renames"); ap.add_argument("--deletes"); ap.add_argument("--open-text")
    ap.add_argument("--warehouse", default="./warehouse")
    args = ap.parse_args()

    from ffi_etl_spark.pipelines.survey import build_survey_pipeline
    from ffi_etl_spark.session import get_session
    from ffi_etl_spark.sources.readers import config_list, config_map, read_csv
    from ffi_etl_spark.catalog import DEFAULT_SF_DIR  # noqa: F401 (engine confs)

    spark = get_session("survey-pipeline")

    if not args.online:
        import tempfile

        print("# no inputs given — running the built-in demo set")
        paths = _demo_inputs(tempfile.mkdtemp(prefix="survey_demo_"))
        args.online, args.offline, args.census = paths["online"], paths["offline"], paths["census"]
        args.renames, args.deletes, args.open_text = paths["renames"], paths["deletes"], paths["open_text"]

    rename_map = config_map(read_csv(spark, args.renames), "column_in_csv", "rename_to") if args.renames else {}
    deletes = config_list(read_csv(spark, args.deletes), "cols_delete") if args.deletes else []
    open_text = config_list(read_csv(spark, args.open_text), "open_text_columns") if args.open_text else []

    pipe = build_survey_pipeline(
        warehouse=args.warehouse,
        open_text_cols=open_text,
        cols_to_delete=deletes,
        rename_map=rename_map or None,
    )
    tables = pipe.run(
        spark,
        {
            "online": read_csv(spark, args.online),
            "offline": read_csv(spark, args.offline),
            "census": read_csv(spark, args.census, schema=(
                "`Demographic` string, `Category` string, `Census %` string, `Display Order` int"
            )),
        },
    )
    for name in ("survey_bronze", "survey_silver", "valid_survey", "invalid_survey",
                 "roll_up", "census_merged_roll_up"):
        print(f"{name}: {tables[name].count()} rows")
    print(f"gold exports -> {os.path.join(args.warehouse, 'volume')}")
    tables["census_merged_roll_up"].show(truncate=False)


if __name__ == "__main__":
    main()
