"""SparkSession factory with the engine's required configuration.

The reference sets only one session flag (LEGACY time parser,
transform_alchemer_data.py:44); everything else here is the engine's
scale posture: AQE with skew-join handling, Arrow for the few Pandas
boundaries, UTC session time (oracle parity with DuckDB), and shuffle
parallelism sized to the actual core count rather than the 200 default.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# Confs applied to every engine session. At cluster scale these are the
# same knobs; only master/memory change.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # reference requirement for `MM/dd/yyyy h:mm:ss a` parsing
    # (transform_alchemer_data.py:44,49-50)
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # the reference was written against non-ANSI Spark 3 semantics: lenient
    # casts (`'12a'`::int -> NULL) and implicit string/number comparisons
    # (transform_alchemer_data.py:157,169)
    "spark.sql.ansi.enabled": "false",
    # testdata events.parquet carries TIMESTAMP(NANOS): Spark 4.1 reads it
    # as TIMESTAMP_NTZ truncated to micros; catalog._normalize casts it to
    # the session-zoned TIMESTAMP (UTC) — no legacy conf needed
    "spark.ui.enabled": "false",
}


def get_session(app_name: str = "ffi_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so the
    same entry point works in tests, bench, and the driver harness.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    # local mode: the driver is the only JVM — give it headroom
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Runtime bloom-filter join pruning (a scale lever, not a default):
#: when a selective filter sits on the build side of a SHUFFLE join,
#: Catalyst injects a bloom_filter_agg subquery on the build side and a
#: might_contain pre-filter on the probe side's SCAN — at 100 TB this
#: drops most probe rows before the exchange, the same effect DPP has
#: for partition columns but on arbitrary join keys. Off by default in
#: this engine because the local bench's joins are broadcast (the
#: filter never fires); flip these on for fact-fact shuffle joins.
#: ``applicationSideScanSizeThreshold`` exists so tiny probes skip the
#: overhead — production keeps it at Spark's 10GB default; tests set 0
#: to force injection at test scale. Guarded by
#: test_skew.py::test_runtime_bloom_filter_prunes_probe_side.
BLOOM_JOIN_CONFS: dict[str, str] = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an externally-created session (driver harness).

    A conf that is fixed once the session has started (e.g.
    ``spark.ui.enabled``) is skipped and logged; any other failure to
    set a conf raises."""
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if e.getCondition() != "CANNOT_MODIFY_CONFIG":
                raise
            logger.info("configure: %s is fixed after session start; skipped", k)
    return spark
