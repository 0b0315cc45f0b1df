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
    drift, not a first run: the error names the ledger and the column."""
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([("r1",)], "id string").write.parquet(ledger)
    with pytest.raises(ValueError, match=f"ledger {ledger}: .* no column 'v_id'"):
        manifest.read_ledger(spark, ledger)


def _part_files(ledger):
    return sorted(p.name for p in ledger.iterdir())


def test_spark_appended_ledger_reads_as_the_same_set(spark, tmp_path):
    """A ledger written by Spark's parquet append, with its
    ``part-*.snappy.parquet`` parts, ``_SUCCESS``, ``.crc`` checksums and
    a ``_temporary/0`` directory left by a killed append, reads as the
    set of its rows; a later append of this module's adds to it."""
    ledger = tmp_path / "ledger"
    rows = [("v1", "r1"), ("v1", "r2"), ("v2", "r1")]
    for chunk in (rows[:2], rows[2:]):
        spark.createDataFrame(chunk, "v_id string, r_id string").write.mode(
            "append"
        ).option("compression", "snappy").parquet(str(ledger))
    (ledger / "_temporary" / "0").mkdir(parents=True)
    names = _part_files(ledger)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert any(n.startswith("part-") and n.endswith(".snappy.parquet") for n in names)

    assert manifest.read_done(str(ledger)) == set(rows)
    assert sorted(tuple(r) for r in manifest.read_ledger(spark, str(ledger)).collect()) == rows
    manifest.append_done(str(ledger), [("v2", "r2")])
    assert manifest.read_done(str(ledger)) == {*rows, ("v2", "r2")}


def test_appended_ledger_reads_back_through_spark_and_pyarrow(spark, tmp_path):
    """Each append is one ``part-<uuid>.parquet`` file and nothing else;
    Spark's parquet reader and pyarrow's dataset reader see the rows
    the ledger reader sees, duplicates included."""
    import pyarrow.parquet as pq

    ledger = tmp_path / "ledger"
    manifest.append_done(str(ledger), [("v1", "r1"), ("v1", "r2")])
    manifest.append_done(str(ledger), [])  # no rows, no file
    manifest.append_done(str(ledger), [("v2", "r1"), ("v1", "r1")])
    names = _part_files(ledger)
    assert len(names) == 2
    assert all(n.startswith("part-") and n.endswith(".parquet") for n in names)

    want = sorted([("v1", "r1"), ("v1", "r1"), ("v1", "r2"), ("v2", "r1")])
    via_spark = spark.read.parquet(str(ledger))
    assert via_spark.schema.simpleString() == "struct<v_id:string,r_id:string>"
    assert sorted(tuple(r) for r in via_spark.collect()) == want
    table = pq.read_table(str(ledger))
    assert sorted(zip(table.column("v_id").to_pylist(), table.column("r_id").to_pylist())) == want
    assert sorted(tuple(r) for r in manifest.read_ledger(spark, str(ledger)).collect()) == want
    assert manifest.read_done(str(ledger)) == set(want)


def test_hidden_temp_part_of_a_killed_append_is_ignored(spark, tmp_path):
    """A killed append leaves at most its hidden ``.part-*.tmp`` file,
    which is not a data part: the ledger reads without it, through this
    module and through Spark."""
    ledger = tmp_path / "ledger"
    manifest.append_done(str(ledger), [("r1",)], ("raster_id",))
    (ledger / ".part-0123abcd.parquet.4567.tmp").write_bytes(b"PAR1 torn")
    assert manifest.read_done(str(ledger), ("raster_id",)) == {("r1",)}
    assert [r.raster_id for r in spark.read.parquet(str(ledger)).collect()] == ["r1"]


def test_append_is_one_atomic_rename(tmp_path, monkeypatch):
    """An append that fails while its part is written leaves no part
    and no temp file behind, so the ledger reads as before."""
    import os

    ledger = tmp_path / "ledger"
    manifest.append_done(str(ledger), [("r1",)], ("raster_id",))
    before = _part_files(ledger)

    def fail(src, dst):
        raise OSError("injected failure at the rename")

    monkeypatch.setattr(os, "replace", fail)
    with pytest.raises(OSError, match="injected"):
        manifest.append_done(str(ledger), [("r2",)], ("raster_id",))
    monkeypatch.undo()
    assert _part_files(ledger) == before
    assert manifest.read_done(str(ledger), ("raster_id",)) == {("r1",)}


def test_unsupported_ledger_scheme_names_scheme_without_worker_advice():
    """A ledger URI pyarrow.fs cannot open fails with an error that
    names the scheme and fits a ledger read: no advice to read the
    ledger through Spark's binaryFile source."""
    with pytest.raises(NotImplementedError, match="'wasbs'") as err:
        manifest.read_done("wasbs://c@acct.blob.core.windows.net/ledger")
    assert "local path" in str(err.value)
    assert "binaryFile" not in str(err.value)


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
