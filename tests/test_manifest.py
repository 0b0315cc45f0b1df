"""Manifest incrementality: pair generation, anti-join skip, ledger
append, and the idempotency property the reference's existence checks
provide (re-run after completion ⇒ zero pending work)."""

from __future__ import annotations

import pytest

from sids_data_pipeline_spark.operators import manifest


@pytest.fixture()
def vectors(spark):
    return spark.createDataFrame([("v1",), ("v2",)], "id string")


@pytest.fixture()
def rasters(spark):
    return spark.createDataFrame([("r1",), ("r2",), ("r3",)], "id string")


def test_work_pairs_cross_product(spark, vectors, rasters):
    pairs = manifest.work_pairs(vectors, rasters)
    got = {(r.v_id, r.r_id, r.pair_key) for r in pairs.collect()}
    assert len(got) == 6
    assert ("v1", "r2", "v1_r2") in got


def test_pending_pairs_anti_join(spark, vectors, rasters):
    pairs = manifest.work_pairs(vectors, rasters)
    done = spark.createDataFrame([("v1", "r1"), ("v2", "r3")], "v_id string, r_id string")
    pending = {(r.v_id, r.r_id) for r in manifest.pending_pairs(pairs, done).collect()}
    assert pending == {("v1", "r2"), ("v1", "r3"), ("v2", "r1"), ("v2", "r2")}


def test_gate_to_pending_semi_join(spark, vectors, rasters):
    pairs = manifest.work_pairs(vectors, rasters)
    pending = spark.createDataFrame([("v1", "r1")], "v_id string, r_id string")
    gated = manifest.gate_to_pending(pairs, pending)
    assert [(r.v_id, r.r_id) for r in gated.collect()] == [("v1", "r1")]


def test_rerun_idempotency(spark, vectors, rasters, tmp_path):
    """The reference's signature behavior (data.py:26-40): after a run
    completes and records its ledger, a re-run finds nothing to do."""
    ledger = str(tmp_path / "ledger")
    pairs = manifest.work_pairs(vectors, rasters)

    # run 1: nothing done yet → all 6 pairs pending → complete them all
    done0 = manifest.read_ledger(spark, ledger)
    pending1 = manifest.pending_pairs(pairs, done0)
    assert pending1.count() == 6
    manifest.record_done(spark, ledger, pending1)

    # run 2: ledger covers everything → zero pending
    done1 = manifest.read_ledger(spark, ledger)
    assert manifest.pending_pairs(pairs, done1).count() == 0

    # partial third vector appears → only its pairs are pending
    vectors3 = spark.createDataFrame([("v1",), ("v2",), ("v3",)], "id string")
    pairs3 = manifest.work_pairs(vectors3, rasters)
    pending3 = {(r.v_id, r.r_id) for r in manifest.pending_pairs(pairs3, done1).collect()}
    assert pending3 == {("v3", "r1"), ("v3", "r2"), ("v3", "r3")}


@pytest.mark.parametrize("layout", ["missing", "temporary_only"])
def test_first_run_ledger_reads_empty_without_a_job(spark, tmp_path, layout, monkeypatch):
    """No ledger yet, or one whose first append died before its commit
    (only ``_temporary``): the ledger reads as empty without a parquet
    read, and neither reading nor collecting it schedules a Spark job."""
    from pyspark.sql.readwriter import DataFrameReader

    ledger = tmp_path / "ledger"
    if layout == "temporary_only":
        (ledger / "_temporary" / "0").mkdir(parents=True)

    def no_read(self, *paths, **options):
        raise AssertionError(f"parquet read of {paths}")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    sc = spark.sparkContext
    group = f"first-run-ledger-{layout}"
    sc.setJobGroup(group, group)
    try:
        rows = manifest.read_ledger(spark, str(ledger)).collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows == []
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_ledger_read_surfaces_other_analysis_errors(spark, tmp_path):
    """A ledger that exists but lacks the requested columns is schema
    drift, not a first run."""
    from pyspark.errors import AnalysisException

    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([("r1",)], "id string").write.parquet(ledger)
    with pytest.raises(AnalysisException):
        manifest.read_ledger(spark, ledger)


def test_list_datasets_stems(spark, tmp_path):
    """S1: directory listing -> id DataFrame, stem projected, non-dataset
    files ignored, no content fetched."""
    from sids_data_pipeline_spark.sources.tables import list_datasets

    for name in ("alpha.tif", "beta.v2.tif", "zones.gpkg", "notes.txt"):
        (tmp_path / name).write_bytes(b"x")
    got = list_datasets(spark, str(tmp_path))
    assert [r.id for r in got.collect()] == ["alpha", "beta.v2", "zones"]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan  # listing only — column pruned


def test_list_datasets_empty_dir(spark, tmp_path):
    from sids_data_pipeline_spark.sources.tables import list_datasets

    empty = tmp_path / "nothing"
    empty.mkdir()
    assert list_datasets(spark, str(empty)).count() == 0
