"""Bucketed co-located join: the zero-shuffle path for repeated joins.

At 100 TB, fact-fact joins (lineitem ⋈ orders) dominate shuffle volume;
bucketing both tables on the join key at write time makes every later
join shuffle-free. This test proves the engine's write/read path
produces genuinely co-located scans: the join plan has NO Exchange.
"""

import pytest
from pyspark.sql import functions as F

from ffi_etl_spark.catalog import table


def _drop_table_and_location(spark, name: str) -> None:
    """DROP TABLE IF EXISTS plus the warehouse directory: a killed
    prior run can leave the table's directory behind with no catalog
    entry (the in-memory catalog dies with the process), and then
    DROP is a no-op while CREATE fails on the orphaned location
    (VERDICT r09 item 8)."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/{name}", ignore_errors=True)


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir):
    _drop_table_and_location(spark, "orders_b")
    _drop_table_and_location(spark, "lineitem_b")
    table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").saveAsTable("orders_b")
    table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("lineitem_b")
    yield spark.table("orders_b"), spark.table("lineitem_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    orders_b, lineitem_b = bucketed
    joined = lineitem_b.hint("merge").join(
        orders_b, F.col("l_orderkey") == F.col("o_orderkey")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # both sides pre-bucketed: zero shuffle
    assert "SelectedBucketsCount" in plan


def test_bucketed_join_correct(spark, sf_dir, bucketed):
    orders_b, lineitem_b = bucketed
    n = lineitem_b.join(orders_b, F.col("l_orderkey") == F.col("o_orderkey")).count()
    expected = (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .count()
    )
    assert n == expected > 0


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """S7 partition_by: a filter on the partition column prunes at the
    source (PartitionFilters), never scanning other partitions."""
    from ffi_etl_spark.sources.writers import write_table

    path = str(tmp_path / "events_by_type")
    write_table(table(spark, sf_dir, "events"), path, partition_by=["event_type"])
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    n_click = table(spark, sf_dir, "events").filter(F.col("event_type") == "click").count()
    assert df.count() == n_click > 0


def test_upsert_semantics(spark):
    from pyspark.sql import Row

    from ffi_etl_spark.operators.upsert import upsert

    target = spark.createDataFrame([Row(k=1, v="old"), Row(k=2, v="keep")])
    updates = spark.createDataFrame([Row(k=1, v="new"), Row(k=3, v="insert")])
    out = {r.k: r.v for r in upsert(target, updates, ["k"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "insert"}

    # versioned conflict resolution inside the updates batch
    versioned = spark.createDataFrame(
        [Row(k=1, v="v1", ver=1), Row(k=1, v="v2", ver=2)]
    )
    tgt = spark.createDataFrame([Row(k=1, v="old", ver=0)])
    out2 = {r.k: r.v for r in upsert(tgt, versioned, ["k"], version_col="ver").collect()}
    assert out2 == {1: "v2"}


def test_compact_parquet(spark, sf_dir, tmp_path):
    import glob

    from ffi_etl_spark.sources.writers import compact_parquet

    path = str(tmp_path / "fragmented")
    table(spark, sf_dir, "events").repartition(32).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 32
    before = spark.read.parquet(path).count()

    n = compact_parquet(spark, path, target_file_bytes=10 * 1024 * 1024)
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == n < 32
    assert spark.read.parquet(path).count() == before


def test_writer_raises_on_unwritable_target(spark):
    from pyspark.sql import Row

    from ffi_etl_spark.sources.writers import write_table

    df = spark.createDataFrame([Row(a=1)])
    # the reference prints and continues (utils.py:140-142); the engine raises
    with pytest.raises(Exception):
        write_table(df, "/proc/definitely/not/writable")


def test_versioned_tables(spark, sf_dir, tmp_path):
    from pyspark.sql import Row

    from ffi_etl_spark.sources.versioned import (
        latest_version,
        read_version,
        rollback,
        vacuum_versions,
        write_version,
    )

    path = str(tmp_path / "vt")
    df1 = spark.createDataFrame([Row(k=1, v="a")])
    df2 = spark.createDataFrame([Row(k=1, v="b"), Row(k=2, v="c")])
    assert write_version(df1, path) == 0
    assert write_version(df2, path) == 1
    assert latest_version(path) == 1
    assert read_version(spark, path).count() == 2      # latest
    assert read_version(spark, path, 0).count() == 1   # time travel

    rollback(path, 0)
    assert read_version(spark, path).count() == 1

    for i in range(4):
        write_version(df2, path)
    removed = vacuum_versions(path, keep=2)
    assert removed and 0 not in (latest_version(path),)
    assert read_version(spark, path).count() == 2
    with pytest.raises(FileNotFoundError):
        read_version(spark, path, 99)


def test_zorder_layout_shrinks_file_bboxes(spark, sf_dir, tmp_path):
    """Z-order clustering must give each parquet file a tight bounding
    box in BOTH clustered columns (the file-skipping condition), unlike
    a hash-shuffled layout where every file spans ~the full domain."""
    import glob

    from ffi_etl_spark.sources.layout import zorder_write

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")

    plain_path = str(tmp_path / "plain")
    li.repartition(8).write.mode("overwrite").parquet(plain_path)
    z_path = str(tmp_path / "zorder")
    zorder_write(li, z_path, ["l_partkey", "l_suppkey"], n_files=8)

    def avg_bbox_area(path):
        areas = []
        for f in glob.glob(path + "/part-*.parquet"):
            pdf = spark.read.parquet(f).agg(
                F.min("l_partkey"), F.max("l_partkey"),
                F.min("l_suppkey"), F.max("l_suppkey"),
            ).first()
            areas.append((pdf[1] - pdf[0] + 1) * (pdf[3] - pdf[2] + 1))
        return sum(areas) / len(areas)

    # rows survive intact
    assert spark.read.parquet(z_path).count() == li.count()
    # each z-file's 2-D bounding box must be far smaller than the
    # unclustered layout's (which spans ~the whole key domain per file)
    assert avg_bbox_area(z_path) < 0.5 * avg_bbox_area(plain_path)


def test_snapshot_diff_cdc(spark, tmp_path):
    from pyspark.sql import Row

    from ffi_etl_spark.sources.versioned import snapshot_diff, write_version

    path = str(tmp_path / "cdc")
    v0 = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    v1 = spark.createDataFrame(
        [Row(k=1, v="a"),        # unchanged -> absent from diff
         Row(k=2, v="B"),        # updated
         Row(k=4, v="d")]        # inserted  (k=3 deleted)
    )
    write_version(v0, path)
    write_version(v1, path)

    # keyed CDC: insert / delete / update classification
    keyed = {
        r.k: r._change
        for r in snapshot_diff(spark, path, 0, 1, key_cols=["k"]).collect()
    }
    assert keyed == {2: "update", 3: "delete", 4: "insert"}

    # row-level CDC: update shows as delete+insert
    rows = {
        (r.k, r.v, r._change)
        for r in snapshot_diff(spark, path, 0, 1).collect()
    }
    assert rows == {
        (2, "B", "insert"), (2, "b", "delete"),
        (3, "c", "delete"), (4, "d", "insert"),
    }
