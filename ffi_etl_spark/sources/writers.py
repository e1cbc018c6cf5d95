"""Sinks (SURVEY.md §2.1 S7-S9).

The reference's Delta ``saveAsTable(overwrite, overwriteSchema,
column-mapping-by-name)`` (utils.py:124-142) maps to a parquet
overwrite under the warehouse dir: same full-replace semantics, and
parquet field-ids tolerate the reference's space/``%``-laden column
names. ``Pipeline.run`` reads each table back by path. Single-file
exports reproduce utils.py:226-252's coalesce(1)-then-rename dance
with ``shutil`` in place of ``dbutils.fs``.

Error policy (SURVEY.md §2.11): the reference *prints* writer
exceptions and continues (utils.py:140-142). Here every writer raises:
a pipeline run that lost a layer table or an export fails instead of
reporting success.

Scale: table writes stay distributed (one file per partition);
``coalesce(1)`` is reserved for the final gold exports, which are
K-row aggregates by construction. ``single_file_csv`` never routes
through driver pandas (write_to_volume.py:15-16 does) — the export is
a Spark job either way, so the 100 TB failure mode (driver OOM) is
structurally absent.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S7: overwrite-save as a parquet-backed 'managed table'."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _single_file_export(df: DataFrame, fmt: str, final_path: str, **options) -> None:
    """coalesce(1) -> temp dir -> locate part file -> move to final path
    (utils.py:226-252 with shutil instead of dbutils.fs)."""
    tmp = final_path + ".__tmp__"
    try:
        writer = df.coalesce(1).write.mode("overwrite")
        for k, v in options.items():
            writer = writer.option(k, v)
        getattr(writer, fmt)(tmp)
        part = glob.glob(os.path.join(tmp, f"part-*"))
        if len(part) != 1:
            raise RuntimeError(f"expected exactly one part file in {tmp}, found {len(part)}")
        os.makedirs(os.path.dirname(final_path) or ".", exist_ok=True)
        if os.path.exists(final_path):
            os.remove(final_path)
        shutil.move(part[0], final_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def single_file_json(df: DataFrame, final_path: str) -> None:
    """S8: one-file JSON-lines export (utils.py:245-252)."""
    _single_file_export(df, "json", final_path)


def single_file_csv(df: DataFrame, final_path: str) -> None:
    """S9: one-file header CSV export (write_to_volume.py:15-16, minus
    the driver-pandas round-trip)."""
    _single_file_export(df, "csv", final_path, header=True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(total_bytes / target) files. The 100 TB housekeeping primitive —
    streaming sinks and fine-grained upserts accrete small files whose
    per-file open/footer cost eventually dominates scans.

    Returns the new file count. Rewrite goes through a temp dir then an
    atomic-ish swap so a crash never leaves the dataset half-written."""
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + ".__compact__"
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__old__"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return n_files
