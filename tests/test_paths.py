"""One path rule (sources/storage.local_path): a plain path, Hadoop's
qualified ``file:/abs`` (the form Spark prints) and ``file:///abs`` name
the same local file at every entry that reads, writes, probes or lists.

Each case runs from a fresh working directory and checks that no
relative ``file:`` tree appears in the working directory of the driver
or of the Python workers, where a path mistaken for a relative one
would land."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from sids_data_pipeline_spark.functions.geo import box_wkb
from sids_data_pipeline_spark.jobs.pipeline import run_pipeline
from sids_data_pipeline_spark.jobs.standardize import run_standardize_job
from sids_data_pipeline_spark.operators import manifest
from sids_data_pipeline_spark.sinks import tiles
from sids_data_pipeline_spark.sinks.tokenbin import write_token_shards
from sids_data_pipeline_spark.sources.geotiff import decode_geotiff, encode_geotiff
from sids_data_pipeline_spark.sources import storage
from sids_data_pipeline_spark.sources.shapefile import ingest_shapefile, write_shapefile

FORMS = {
    "plain": str,
    "file:/abs": lambda p: f"file:{p}",
    "file:///abs": lambda p: f"file://{p}",
}


@pytest.fixture(params=sorted(FORMS))
def form(request):
    return FORMS[request.param]


def _file_entries(d):
    return sorted(n for n in os.listdir(d) if n.startswith("file:"))


@pytest.fixture
def cwd(spark, tmp_path, monkeypatch):
    """Run from ``tmp_path``; fail if a ``file:`` entry appears in the
    driver's or the Python workers' working directory."""
    monkeypatch.chdir(tmp_path)
    worker = spark.sparkContext.parallelize([0], 1).map(lambda _: os.getcwd()).collect()
    dirs = {str(tmp_path), *worker}
    before = {d: _file_entries(d) for d in dirs}
    yield tmp_path
    assert {d: _file_entries(d) for d in dirs} == before


def test_local_path_classifies_every_form():
    assert storage.local_path("/a/b.tif") == "/a/b.tif"
    assert storage.local_path("rel/b.tif") == "rel/b.tif"
    assert storage.local_path("file:/a/b.tif") == "/a/b.tif"
    assert storage.local_path("file:///a/b.tif") == "/a/b.tif"
    assert storage.local_path("s3a://bucket/b.tif") is None
    assert storage.require_local_dir("file:///tmp/x") == "/tmp/x"
    with pytest.raises(ValueError, match="remote URIs"):
        storage.require_local_dir("wasbs://c@acct/x")


def test_standardize_job_path_forms(spark, cwd, form):
    src, out = cwd / "in", cwd / "out"
    src.mkdir()
    arr = np.arange(64, dtype="float64").reshape(8, 8)
    (src / "r1.tif").write_bytes(encode_geotiff(arr, origin_x=0.0, origin_y=0.8, pixel_deg=0.1))

    def run():
        return run_standardize_job(
            spark, form(f"{src}/*.tif"), form(str(out)), form(str(cwd / "ledger")),
            lon=(0.0, 0.45), lat=(0.0, 0.8),
        )

    assert run() == {"processed": ["r1"], "skipped": []}
    assert decode_geotiff((out / "r1.tif").read_bytes())[0].shape == (8, 5)
    assert os.listdir(out) == ["r1.tif"]
    # the ledger's one part lands in the local directory and the rerun reads it
    (part,) = os.listdir(cwd / "ledger")
    assert part.startswith("part-") and part.endswith(".parquet")
    assert run() == {"processed": [], "skipped": ["r1"]}


def test_standardize_uri_glob_refusals(spark, tmp_path):
    """Entry-2 lists with Entry-1's lister: URI alternation is refused,
    and a scheme pyarrow.fs cannot open fails at listing, on the
    driver."""
    out, ledger = str(tmp_path / "out"), str(tmp_path / "ledger")
    with pytest.raises(ValueError, match="alternation"):
        run_standardize_job(spark, f"file://{tmp_path}/{{a,b}}/*.tif", out, ledger)
    with pytest.raises(NotImplementedError, match="wasbs"):
        run_standardize_job(spark, "wasbs://c@acct/in/*.tif", out, ledger)
    assert not os.path.exists(out)


def test_pipeline_out_dir_path_forms(spark, cwd, form):
    out = cwd / "out"
    res = run_pipeline(spark, ["zones_grid"], ["rast_gradient"], form(str(out)))
    assert res == {"pending": 1, "outputs": ["zones_grid_rast_gradient"]}
    pair = out / "zones_grid_rast_gradient"
    assert len((pair / "export.geojsonl" / "part-00000.txt").read_text().splitlines()) == 4
    meta = json.loads((pair / "tiles" / "_tileset_metadata.json").read_text())
    assert meta["name"] == "zones_grid_rast_gradient"
    assert len(os.listdir(out / "_ledger")) == 1
    for other in FORMS.values():
        got = manifest.read_done(other(str(out / "_ledger")))
        assert got == {("zones_grid", "rast_gradient")}
    assert run_pipeline(spark, ["zones_grid"], ["rast_gradient"], form(str(out))) == {
        "pending": 0, "outputs": [],
    }


def test_tileset_markers_path_forms(cwd, form):
    for key in ("a_r", "b_r"):
        (cwd / "out" / key / "tiles").mkdir(parents=True)
    (cwd / "out" / "a_r" / "tiles" / "_tileset_metadata.json").write_text("{}")
    assert tiles.tileset_markers(form(str(cwd / "out"))) == {"a_r"}
    assert tiles.tileset_complete(form(str(cwd / "out" / "a_r" / "tiles")))
    assert not tiles.tileset_complete(form(str(cwd / "out" / "b_r" / "tiles")))


def test_write_tileset_marker_path_forms(spark, cwd, form):
    """The marker write_tileset drops is the one tileset_complete and
    tileset_markers find, in every local form."""
    path = form(str(cwd / "out" / "k" / "tiles"))
    enc = spark.createDataFrame([(0, 0, 0, b"\x01")], "z int, x int, y int, pbf binary")
    assert not tiles.tileset_complete(path)
    tiles.write_tileset(enc, path, name="k", max_zoom=0)
    assert tiles.tileset_complete(path)
    assert tiles.tileset_markers(form(str(cwd / "out"))) == {"k"}


def test_tileset_marker_write_and_probes_share_one_client(spark, tmp_path, monkeypatch):
    """On a remote URI the marker is written and probed through the same
    pyarrow.fs client; here a local subtree stands in for the bucket."""
    from types import SimpleNamespace

    from pyarrow import fs as pafs

    bucket = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    monkeypatch.setattr(storage, "_filesystem", lambda uri: (bucket, uri.split("://", 1)[1]))

    class _Writer:  # stands in for Spark's parquet write of the pyramid
        def mode(self, _):
            return self

        def partitionBy(self, *_):
            return self

        def parquet(self, path):
            os.makedirs(tmp_path / path.split("://", 1)[1])

    pyramid = SimpleNamespace(write=_Writer(), sparkSession=spark)
    tiles.write_tileset(pyramid, "mem://b/out/k/tiles", name="k", max_zoom=0)
    assert json.loads((tmp_path / "b/out/k/tiles/_tileset_metadata.json").read_text())["name"] == "k"
    assert tiles.tileset_complete("mem://b/out/k/tiles")
    assert not tiles.tileset_complete("mem://b/out/j/tiles")
    assert tiles.tileset_markers("mem://b/out") == {"k"}


def test_ingest_shapefile_path_forms(spark, cwd, form):
    path = str(cwd / "z.shp")
    write_shapefile([(0, "a", box_wkb(0, 0, 1, 1)), (1, "b", box_wkb(1, 0, 2, 1))], form(path))
    assert sorted(os.listdir(cwd)) == [f"z.{e}" for e in ("cpg", "dbf", "prj", "shp", "shx")]
    rows = ingest_shapefile(spark, form(path), vector_id="z").orderBy("fid").collect()
    assert [(r.vector_id, r.fid, r.name) for r in rows] == [("z", 0, "a"), ("z", 1, "b")]


def test_write_token_shards_path_forms(spark, cwd, form):
    packed = spark.createDataFrame(
        [(1, 0, [10, 20]), (2, 1, [30])], "doc_id long, shard_id long, tokens array<long>"
    )
    out = cwd / "shards"
    manifest = write_token_shards(packed, form(str(out))).orderBy("shard_id").collect()
    assert [r.path for r in manifest] == [
        form(f"{out}/shard-0000000{i}.bin") for i in (0, 1)
    ]
    assert sorted(os.listdir(out)) == ["shard-00000000.bin", "shard-00000001.bin"]
    raw = (out / "shard-00000000.bin").read_bytes()
    assert np.frombuffer(raw, dtype="<u4").tolist() == [10, 20]


def test_fs_text_round_trip_path_forms(spark, cwd, form):
    path = cwd / "ledger" / "state.json"
    storage.fs_write_text(spark, form(str(path)), '{"batch": 3}')
    assert path.read_text() == '{"batch": 3}'
    assert storage.fs_read_text(spark, form(str(path))) == '{"batch": 3}'
    assert storage.fs_read_text(spark, form(str(cwd / "missing.json"))) is None


def test_compact_files_path_forms(spark, cwd, form):
    path = str(cwd / "t")
    spark.range(100).repartition(4).write.parquet(path)
    report = storage.compact_files(spark, form(path), target_mb=128)
    assert (report["files_before"], report["files_after"]) == (4, 1)
    assert spark.read.parquet(path).count() == 100
