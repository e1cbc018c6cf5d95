"""Export a training-ready sharded corpus from a documents parquet table.

The datamix composition, end to end — the write-side complement of
examples/build_pretraining_corpus.py:

  1. sample — temperature-flattened source mixture (α=0.5): keep each
              source at probability (min_n/n_s)^0.5, decided by a
              deterministic md5 draw (queries_pkg/datamix.py's
              mixture_temperature rule)
  2. shard  — deterministic md5-mod-N shard assignment (stable across
              runs, engines, and partitionings)
  3. order  — seeded per-shard training order (md5 permutation key +
              per-shard row_number; thousands of parallel sorts at
              scale, never one global sort)
  4. write  — ONE job: write.partitionBy("shard_id"), so the export
              lands as one directory per shard, readable shard-at-a-
              time by a data loader
  5. manifest — per-shard docs/chars/id-range written as JSON beside
              the data; a trainer validates this before reading

Run:

    python examples/export_training_shards.py \
        [--input /root/testdata/sf0.01/documents.parquet] \
        [--out ./shards_out] [--shards 8] [--seed seed1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the keep rule and md5 draw live in the library so the example, the
# gated queries, and their oracles can never silently diverge
from ffi_etl_spark.functions.hashing import md5_int32
from ffi_etl_spark.queries_pkg.datamix import temperature_sample


def export_shards(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    seed: str = "seed1",
) -> list[dict]:
    """Sample → shard → order → partitioned write → manifest.
    Returns the manifest rows (one dict per shard)."""
    kept = temperature_sample(docs)
    sharded = kept.withColumn("shard_id", md5_int32(F.col("doc_id").cast("string")) % n_shards)
    w = Window.partitionBy("shard_id").orderBy("draw", "doc_id")
    ordered = (
        sharded.withColumn(
            "draw", F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string")))
        )
        .withColumn("position", F.row_number().over(w).cast("long"))
        .drop("draw")
    )

    data_dir = os.path.join(out_dir, "data")
    ordered.write.mode("overwrite").partitionBy("shard_id").parquet(data_dir)

    # manifest from the written data (validates the files, not the plan)
    manifest = (
        spark.read.parquet(data_dir)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard_id")
    )
    rows = [r.asDict() for r in manifest.collect()]
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"n_shards": n_shards, "seed": seed, "shards": rows}, f, indent=2)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.01/documents.parquet")
    ap.add_argument("--out", default="./shards_out")
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--seed", default="seed1")
    args = ap.parse_args()

    from ffi_etl_spark.session import get_session

    spark = get_session("export-training-shards")
    docs = spark.read.parquet(args.input)
    rows = export_shards(spark, docs, args.out, n_shards=args.shards, seed=args.seed)
    total = sum(r["n_docs"] for r in rows)
    print(f"exported {total} docs into {len(rows)} shards under {args.out}")
    for r in rows:
        print(f"  shard {r['shard_id']}: {r['n_docs']} docs, {r['chars_total']} chars")


if __name__ == "__main__":
    main()
