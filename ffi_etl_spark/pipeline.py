"""Pipeline runner (SURVEY.md §3 EP1).

The reference sequences five notebooks through materialized Delta
layers (README.py:8-11: extract → transform → roll_up → merge_census →
write_to_volume). This runner generalizes that: named stages, each a
``fn(spark, tables) -> dict[str, DataFrame]`` producing layer tables,
materialized under a warehouse dir and re-read so every stage boundary
is a real storage boundary (same recovery/incrementality semantics as
the reference's workflow DAG).

Each stage is ONE lazy plan ending in its write — the reference's
mid-stage ``collect()`` scalars are gone (SURVEY.md §4). A stage runs
one write job per output table, plus the jobs AQE submits for the
shuffle stages of that write's plan; reading a table back runs no job,
because the read takes the schema of the frame just written.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ffi_etl_spark.sources.writers import write_table

StageFn = Callable[[SparkSession, dict[str, DataFrame]], dict[str, DataFrame]]


@dataclass
class Stage:
    name: str
    fn: StageFn
    materialize: bool = True


@dataclass
class Pipeline:
    """Sequences stages through a parquet-backed warehouse.

    ``metrics`` fills during ``run`` with per-table write observations
    (row count + per-requested-column null count), collected via
    ``DataFrame.observe`` — accumulator-backed, so the numbers ride the
    write job itself: NO second pass over the data, which is the only
    acceptable cost model for run-ledger metrics at 100 TB (a
    ``df.count()`` after every stage write would double each stage's
    scan). The reference prints nothing and swallows write errors
    (utils.py:140-142); a production ledger needs the counts."""

    warehouse: str
    stages: list[Stage] = field(default_factory=list)
    watch_nulls: dict[str, list[str]] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)

    def stage(self, name: str, materialize: bool = True):
        """Decorator: register a stage in declaration order."""

        def deco(fn: StageFn) -> StageFn:
            self.stages.append(Stage(name, fn, materialize))
            return fn

        return deco

    def run(self, spark: SparkSession, inputs: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
        """Run all stages; returns the accumulated table namespace.

        Materialized outputs are written once to ``{warehouse}/{table}``
        and read back once, so downstream stages consume the storage
        layer (scan pushdown applies) rather than a giant fused in-memory
        plan. The read-back passes the written frame's schema, so no
        job reads parquet footers to infer it.
        """
        tables: dict[str, DataFrame] = dict(inputs or {})
        for st in self.stages:
            outputs = st.fn(spark, tables)
            for tname, df in outputs.items():
                if st.materialize:
                    obs = Observation(f"{st.name}/{tname}")
                    aggs = [F.count(F.lit(1)).alias("n_rows")]
                    for c in self.watch_nulls.get(tname, []):
                        if c in df.columns:
                            aggs.append(
                                F.sum(F.col(f"`{c}`").isNull().cast("long")).alias(
                                    f"nulls:{c}"
                                )
                            )
                    df = df.observe(obs, *aggs)
                    path = os.path.join(self.warehouse, tname)
                    write_table(df, path)
                    self.metrics[tname] = obs.get
                    tables[tname] = spark.read.schema(df.schema).parquet(path)
                else:
                    tables[tname] = df
        return tables
