"""The query registry: named (spark, sf_dir) -> DataFrame callables and
their DuckDB oracles.

This module imports nothing from the package, so any registration
module can be imported first. ``ffi_etl_spark/queries.py`` imports the
registration modules and fixes the registry order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} — a silent overwrite "
                "would shadow one implementation's gate with another's"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
