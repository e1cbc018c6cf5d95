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

A stage's output tables do not depend on each other, so their writes
run at once, one thread per table (``run_concurrently``): on a small
input each write is mostly fixed per-job latency, and the scheduler
fills idle cores with the other writes' tasks. Each thread inherits the
caller's Spark local properties, so its jobs land in the caller's job
group and carry its job tags.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ffi_etl_spark.sources.writers import write_table

StageFn = Callable[[SparkSession, dict[str, DataFrame]], dict[str, DataFrame]]


def run_concurrently(spark: SparkSession, calls: list[Callable[[], object]]) -> None:
    """Run each call on its own thread and wait for all of them.

    Each call is wrapped where it is submitted, so every thread gets its
    own copy of the caller's local properties (job group, job tags) and a
    job group set inside one call cannot leak into another. A failure is
    raised only once every call has finished, the first in ``calls``
    order, so no write is left running behind the error.
    """
    if not calls:
        return
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    errors = [e for e in (fut.exception() for fut in futures) if e is not None]
    if errors:
        raise errors[0]


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
        plan. A stage's writes run concurrently, one thread per table, in
        the caller's job group; the observations and read-backs follow
        once every write has finished, and a failed write raises after
        the others are complete. The read-back passes the written
        frame's schema, so no job reads parquet footers to infer it.
        """
        tables: dict[str, DataFrame] = dict(inputs or {})
        for st in self.stages:
            outputs = st.fn(spark, tables)
            if not st.materialize:
                tables.update(outputs)
                continue
            written: dict[str, tuple[DataFrame, Observation, str]] = {}
            for tname, df in outputs.items():
                obs = Observation(f"{st.name}/{tname}")
                aggs = [F.count(F.lit(1)).alias("n_rows")]
                for c in self.watch_nulls.get(tname, []):
                    if c in df.columns:
                        aggs.append(
                            F.sum(F.col(f"`{c}`").isNull().cast("long")).alias(f"nulls:{c}")
                        )
                written[tname] = (df.observe(obs, *aggs), obs, os.path.join(self.warehouse, tname))
            run_concurrently(
                spark, [partial(write_table, df, path) for df, _, path in written.values()]
            )
            for tname, (df, obs, path) in written.items():
                self.metrics[tname] = obs.get
                tables[tname] = spark.read.schema(df.schema).parquet(path)
        return tables
