"""Storage-layout scale properties, asserted on the physical plan:
bucketed joins run exchange-free; the partitioned pixel store prunes
partitions under bbox predicates."""

from __future__ import annotations

import pytest

from sids_data_pipeline_spark.sources import storage
from sids_data_pipeline_spark.sources.raster import synthetic_raster
from sids_data_pipeline_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{warehouse}'"
    )
    li = load_table(spark, "lineitem", sf_dir)
    storage.write_bucketed(
        li.select("l_orderkey", "l_quantity"),
        "bucketdb.li_a",
        ["l_orderkey"],
        num_buckets=8,
        sort_cols=["l_orderkey"],
    )
    storage.write_bucketed(
        li.select("l_orderkey", "l_extendedprice"),
        "bucketdb.li_b",
        ["l_orderkey"],
        num_buckets=8,
        sort_cols=["l_orderkey"],
    )
    yield "bucketdb.li_a", "bucketdb.li_b"
    spark.sql("DROP DATABASE bucketdb CASCADE")


@pytest.fixture()
def no_broadcast(spark):
    """Small test tables would broadcast; disable so the planner exercises
    the bucketed (exchange-free sort-merge) path large tables would take."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables, no_broadcast):
    a, b = bucketed_tables
    joined = spark.table(a).join(spark.table(b), "l_orderkey")
    plan = _plan(joined)
    assert "Exchange hashpartitioning" not in plan, (
        f"bucketed join still shuffles:\n{plan}"
    )
    assert "SortMergeJoin" in plan
    assert joined.count() > 0


def test_bucketed_agg_has_no_shuffle(spark, bucketed_tables, no_broadcast):
    a, _ = bucketed_tables
    agg = spark.table(a).groupBy("l_orderkey").count()
    assert "Exchange hashpartitioning" not in _plan(agg)


def test_pixel_store_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "pixels")
    px = synthetic_raster(spark, "rast_gradient")
    storage.write_pixels_partitioned(px, path, part_deg=2.0)

    back = storage.read_pixels(spark, path)
    assert back.count() == 64 * 64

    # bbox filter on the partition columns prunes directories
    q = back.filter("cell_x = 0 AND cell_y = 0")
    plan = _plan(q)
    assert "PartitionFilters: [" in plan
    assert q.count() == 400  # 20x20 pixels per 2-degree cell

    # a lon/lat range query still answers correctly from the pruned store
    sub = back.filter("lon < 2.0 AND lat < 2.0")
    assert sub.count() == 400


def test_events_loader_schema_adaptive(spark, tmp_path):
    """_load_events handles BOTH on-disk ts layouts: modern microsecond
    TIMESTAMP is read as-is; legacy TIMESTAMP(NANOS) (which Spark's
    reader rejects outright) goes through the nanosAsLong branch — and
    both yield identical instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sids_data_pipeline_spark.sources.tables import load_table

    us = [1_700_000_000_000_000, 1_700_000_123_456_789]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    for unit, scaled in (("us", us), ("ns", [v * 1000 for v in us])):
        d = tmp_path / unit
        d.mkdir()
        table = pa.table({**cols, "ts": pa.array(scaled, pa.timestamp(unit))})
        pq.write_table(table, str(d / "events.parquet"))
    got_us = load_table(spark, "events", str(tmp_path / "us")).orderBy("event_id")
    got_ns = load_table(spark, "events", str(tmp_path / "ns")).orderBy("event_id")
    from pyspark.sql import functions as F

    a = [r.us for r in got_us.select(F.unix_micros("ts").alias("us")).collect()]
    b = [r.us for r in got_ns.select(F.unix_micros("ts").alias("us")).collect()]
    assert a == b == us


def test_events_footer_probe_falls_back_on_unbuilt_scheme(monkeypatch):
    """A scheme pyarrow knows but was built without raises
    ArrowNotImplementedError; the footer probe assumes micros then."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from sids_data_pipeline_spark.sources.tables import _events_ts_is_nanos

    def unbuilt(path, format):
        raise pa.lib.ArrowNotImplementedError("Got GCS URI but Arrow compiled without GCS support")

    monkeypatch.setattr(ds, "dataset", unbuilt)
    assert _events_ts_is_nanos("gs://bucket/events") is False


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    from sids_data_pipeline_spark.sources.storage import compact_files

    path = str(tmp_path / "shredded")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS g")
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    report = compact_files(spark, path, target_mb=128)
    assert report["files_before"] == 64
    assert report["files_after"] == 1  # tiny data -> one target-size file
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert before == after


def test_compact_files_preserves_hive_partitions(spark, tmp_path):
    from sids_data_pipeline_spark.sources.storage import compact_files

    path = str(tmp_path / "parted")
    df = spark.range(5_000).selectExpr("id", "CAST(id % 3 AS INT) AS p")
    df.repartition(24).write.partitionBy("p").parquet(path)

    compact_files(spark, path, target_mb=128, preserve_partitions=("p",))
    import os

    parts = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert parts == ["p=0", "p=1", "p=2"]
    got = spark.read.parquet(path)
    assert got.count() == 5_000
    assert {r.p for r in got.select("p").distinct().collect()} == {0, 1, 2}


def test_write_bucketed_external_rerun(spark, sf_dir, tmp_path):
    """Re-running write_bucketed with the same path= must succeed: the
    dropped EXTERNAL table leaves files behind, and saveAsTable into a
    non-empty location is a CTAS Spark rejects unless the location is
    cleared first."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity"
    )
    path = str(tmp_path / "ext_li")
    for _ in range(2):
        storage.write_bucketed(
            li, "ext_li_t", ["l_orderkey"], num_buckets=4, path=path
        )
    assert spark.table("ext_li_t").count() == li.count()
    spark.sql("DROP TABLE ext_li_t")
