"""Entry-2 batch standardization job: end-to-end, idempotent, profile."""

from __future__ import annotations

import numpy as np
import pytest

from sids_data_pipeline_spark.jobs.standardize import run_standardize_job
from sids_data_pipeline_spark.sources.geotiff import (
    decode_geotiff,
    encode_geotiff,
    encode_pixels,
    standardize_geotiff,
)
from sids_data_pipeline_spark.sources.geotiff_datasource import register
from sids_data_pipeline_spark.sources.raster import clip_extent, select_band


def _write_fixture(path, stem, base=0.0):
    arr = (np.arange(64, dtype="float64") + base).reshape(8, 8)
    (path / f"{stem}.tif").write_bytes(
        encode_geotiff(arr, origin_x=0.0, origin_y=0.8, pixel_deg=0.1)
    )


def test_standardize_job_end_to_end_and_idempotent(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "r1", 0.0)
    _write_fixture(src, "r2", 100.0)
    out = tmp_path / "out"
    ledger = str(tmp_path / "ledger")

    res1 = run_standardize_job(
        spark, str(src / "*.tif"), str(out), ledger,
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res1 == {"processed": ["r1", "r2"], "skipped": []}
    # clipped to centers 0.05..0.45 inclusive → 5 columns x 8 rows
    vals, (ox, oy, sx, sy), nodata = decode_geotiff((out / "r1.tif").read_bytes())
    assert vals.shape == (8, 5)
    assert (ox, oy) == (0.0, 0.8)

    # second run: everything ledgered, nothing reprocessed
    res2 = run_standardize_job(
        spark, str(src / "*.tif"), str(out), ledger,
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res2 == {"processed": [], "skipped": ["r1", "r2"]}

    # a new raster appears: only it is processed
    _write_fixture(src, "r3", 500.0)
    res3 = run_standardize_job(
        spark, str(src / "*.tif"), str(out), ledger,
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res3["processed"] == ["r3"]
    assert sorted(res3["skipped"]) == ["r1", "r2"]
    assert (out / "r3.tif").exists()


def test_standardize_foreign_estate_mixed_profiles(spark, tmp_path):
    """The round-8 closure, end to end: a directory mixing every foreign
    profile a real estate delivers — LZW+predictor uint16 (NASA/USGS
    default), BigTIFF ZSTD, deflate-tiled, PackBits, 3-band planar with
    band selection — standardizes into ONE canonical store (ZSTD,
    128-tiles) in one run, and every output decodes to the source grid."""
    src = tmp_path / "in"
    src.mkdir()
    y, x = np.mgrid[0:8, 0:8]
    base = (x + 8.0 * y)
    (src / "lzw.tif").write_bytes(encode_geotiff(
        base, 0.0, 0.8, 0.1, compress="lzw", dtype="u2", predictor=2))
    (src / "big.tif").write_bytes(encode_geotiff(
        base + 100, 0.0, 0.8, 0.1, bigtiff=True, compress="zstd", tile=4))
    (src / "defl.tif").write_bytes(encode_geotiff(
        base + 200, 0.0, 0.8, 0.1, compress="deflate", tile=4))
    (src / "pack.tif").write_bytes(encode_geotiff(
        base + 300, 0.0, 0.8, 0.1, compress="packbits"))
    (src / "rgb.tif").write_bytes(encode_geotiff(
        np.stack([base + b * 1000 for b in (1, 2, 3)]),
        0.0, 0.8, 0.1, compress="deflate", planar=True))

    out = tmp_path / "out"
    res = run_standardize_job(
        spark, str(src / "*.tif"), str(out), str(tmp_path / "ledger"),
        band=1, lon=(0.0, 0.8), lat=(0.0, 0.8),
    )
    # band selection is uniform across the run (gdal_translate -b
    # parity: asking band 2 of a 1-band file is an error there too), so
    # the mixed estate standardizes on band 1; band 1 of the RGB planar
    # file is base+1000, which proves the plane decode + selection
    assert res["processed"] == ["big", "defl", "lzw", "pack", "rgb"]
    want = {
        "lzw": base, "big": base + 100, "defl": base + 200,
        "pack": base + 300, "rgb": base + 1000,
    }
    for stem, grid in want.items():
        vals, (ox, oy, sx, sy), _ = decode_geotiff(
            (out / f"{stem}.tif").read_bytes()
        )
        assert vals.shape == (8, 8), stem
        assert np.array_equal(vals, grid), stem
        # georef re-inferred from pixel centers: exact up to float eps
        assert np.allclose((ox, oy, sx, sy), (0.0, 0.8, 0.1, 0.1),
                           atol=1e-12), stem


def test_standardize_fully_clipped_raster_not_processed(spark, tmp_path):
    """A pending raster wholly outside the clip extent produces no output
    rows: it is not reported as processed, no file is written for it and
    the ledger gets no row for it, so a later run with a wider extent
    still picks it up."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "inside", 0.0)
    far = np.arange(64, dtype="float64").reshape(8, 8)
    (src / "far.tif").write_bytes(
        encode_geotiff(far, origin_x=50.0, origin_y=0.8, pixel_deg=0.1)
    )
    out = tmp_path / "out"
    ledger = str(tmp_path / "ledger")

    res = run_standardize_job(
        spark, str(src / "*.tif"), str(out), ledger,
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res == {"processed": ["inside"], "skipped": []}
    assert sorted(p.name for p in out.iterdir()) == ["inside.tif"]
    ids = [r.raster_id for r in spark.read.parquet(ledger).collect()]
    assert ids == ["inside"]

    # only the clipped raster is pending now, and it still yields nothing
    res2 = run_standardize_job(
        spark, str(src / "*.tif"), str(out), ledger,
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res2 == {"processed": [], "skipped": ["inside"]}
    assert not (out / "far.tif").exists()


# --- array form: parity with the pixel-row path -----------------------------

def _grid(h, w, base=0.0):
    return np.arange(h * w, dtype="float64").reshape(h, w) + base


def _nodata_grid():
    vals = _grid(6, 7)
    vals[1, 2] = vals[4, 0] = -1.0
    vals[2, 5] = np.nan
    return vals


# name -> (values, (origin_x, origin_y, pixel_deg), encode kwargs, band,
#          lon, lat, empty)
_PARITY = {
    # every clip bound sits exactly on a pixel centre (all binary
    # fractions, so the centres are exact): inclusive on all four edges
    "centres_on_every_edge": (
        _grid(8, 8), (0.0, 1.0, 0.125), {}, 1,
        (0.1875, 0.6875), (0.3125, 0.8125), False,
    ),
    "file_nodata_and_nan": (
        _nodata_grid(), (0.0, 0.6, 0.1), {"nodata": -1.0}, 1,
        (0.0, 0.55), (0.0, 0.6), False,
    ),
    "one_row": (_grid(1, 9), (0.0, 0.1, 0.1), {}, 1, (0.1, 0.7), (0.0, 1.0), False),
    "one_column": (
        _grid(9, 1), (0.3, 0.9, 0.1), {}, 1, (0.0, 1.0), (0.15, 0.75), False,
    ),
    "band2_of_3": (
        np.stack([_grid(5, 6, 100.0 * b) for b in (1, 2, 3)]),
        (0.0, 0.5, 0.1), {"compress": "deflate", "planar": True}, 2,
        (0.1, 0.45), (0.0, 0.35), False,
    ),
    "partly_outside": (
        _grid(10, 12), (-0.35, 0.65, 0.1), {"compress": "deflate", "tile": 4}, 1,
        (0.0, 0.5), (0.0, 0.45), False,
    ),
    "wholly_outside": (
        _grid(8, 8), (50.0, 0.8, 0.1), {}, 1, (0.0, 0.45), (0.0, 0.8), True,
    ),
}


@pytest.mark.parametrize("case", sorted(_PARITY))
def test_array_standardize_bytes_equal_pixel_row_encode(spark, tmp_path, case):
    """standardize_geotiff gives the bytes encode_pixels gives over the
    clip_extent(select_band(...)) pixel rows of the same file, and None
    where those rows are empty."""
    values, (ox, oy, px), kw, band, lon, lat, empty = _PARITY[case]
    path = tmp_path / f"{case}.tif"
    path.write_bytes(encode_geotiff(values, ox, oy, px, **kw))
    register(spark)
    rows = clip_extent(
        select_band(spark.read.format("geotiff").load(str(path)), band),
        lon=lon, lat=lat,
    ).toPandas()
    got = standardize_geotiff(path.read_bytes(), band, lon, lat, str(path))
    assert rows.empty == empty
    if empty:
        assert got is None
        return
    want = encode_pixels(
        rows["lon"].to_numpy(), rows["lat"].to_numpy(),
        rows["val"].to_numpy(dtype="float64"), compress="zstd", tile=128,
    )
    assert got == want


def test_array_standardize_refuses_zero_pixel_scale(tmp_path):
    """A zero ModelPixelScale stacks an axis's pixel centres on one point;
    the array path refuses the file as malformed, naming it."""
    data = encode_geotiff(_grid(4, 5), 0.2, 0.4, 0.0, pixel_deg_y=0.1)
    with pytest.raises(ValueError, match="flat.tif: .*zero ModelPixelScale"):
        standardize_geotiff(data, 1, (0.0, 0.5), (0.0, 0.3), "/in/flat.tif")


def test_standardize_packs_several_files_per_task(spark, tmp_path):
    """An estate with more files than defaultParallelism: no stage runs
    more than defaultParallelism tasks, so tasks hold several files, and
    every file is still written and reported."""
    sc = spark.sparkContext
    src = tmp_path / "in"
    src.mkdir()
    stems = [f"r{i:02d}" for i in range(3 * sc.defaultParallelism + 1)]
    for i, stem in enumerate(stems):
        _write_fixture(src, stem, 100.0 * i)
    out = tmp_path / "out"
    ledger = str(tmp_path / "ledger")

    sc.setJobGroup("standardize-packing", "standardize-packing")
    try:
        res = run_standardize_job(
            spark, str(src / "*.tif"), str(out), ledger,
            lon=(0.0, 0.45), lat=(0.0, 0.8),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup("standardize-packing")
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism < len(stems)
    assert res == {"processed": stems, "skipped": []}
    for i, stem in enumerate(stems):
        vals, _, _ = decode_geotiff((out / f"{stem}.tif").read_bytes())
        assert np.array_equal(vals, _grid(8, 8, 100.0 * i)[:, :5]), stem
    assert sorted(r.raster_id for r in spark.read.parquet(ledger).collect()) == stems


def test_standardize_file_names_with_glob_metacharacters(spark, tmp_path):
    """Every listed file is standardized under its own name, even when
    the name holds Hadoop glob metacharacters or spaces, or starts with
    ``_`` (which Spark's file sources treat as hidden)."""
    src = tmp_path / "in"
    src.mkdir()
    stems = ["_r1", "a b", "r[1]", "x{y}"]
    for stem in stems:
        _write_fixture(src, stem)
    out = tmp_path / "out"
    res = run_standardize_job(
        spark, str(src / "*.tif"), str(out), str(tmp_path / "ledger"),
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res == {"processed": stems, "skipped": []}
    assert sorted(p.name for p in out.iterdir()) == [f"{s}.tif" for s in stems]


# --- contracts ---------------------------------------------------------------

def test_standardize_ledger_without_raster_id_raises(spark, tmp_path):
    """A ledger that exists but has no raster_id column is an error, not
    an empty ledger that would reprocess every raster."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "r1")
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([("r1",)], "id string").write.parquet(ledger)
    with pytest.raises(ValueError, match=f"ledger {ledger}: .* no column 'raster_id'"):
        run_standardize_job(spark, str(src / "*.tif"), str(tmp_path / "out"), ledger)
    assert not (tmp_path / "out").exists()


def _spark_jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it scheduled)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setJobGroup(None, None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_standardize_schedules_one_job_and_a_noop_rerun_none(spark, tmp_path):
    """The decode-and-write kernel is the run's only Spark job: the
    ledger read and append run on the driver, so a first run schedules
    exactly one job and a no-op rerun none."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "r1")
    _write_fixture(src, "r2", 100.0)

    def run():
        return run_standardize_job(
            spark, str(src / "*.tif"), str(tmp_path / "out"), str(tmp_path / "ledger"),
            lon=(0.0, 0.45), lat=(0.0, 0.8),
        )

    assert _spark_jobs(spark, "standardize-first-run", run) == (
        {"processed": ["r1", "r2"], "skipped": []}, 1,
    )
    assert _spark_jobs(spark, "standardize-noop-rerun", run) == (
        {"processed": [], "skipped": ["r1", "r2"]}, 0,
    )
    (part,) = (tmp_path / "ledger").iterdir()  # one append, one file
    assert part.name.startswith("part-")


def test_standardize_ledger_without_data_file_reads_as_empty(spark, tmp_path):
    """A first ledger append killed before its commit leaves only Spark's
    ``_temporary`` directory; the rerun processes every raster."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "r1")
    ledger = tmp_path / "ledger"
    (ledger / "_temporary" / "0").mkdir(parents=True)
    res = run_standardize_job(
        spark, str(src / "*.tif"), str(tmp_path / "out"), str(ledger)
    )
    assert res == {"processed": ["r1"], "skipped": []}


def test_standardize_refuses_remote_out_dir_before_decode(spark, tmp_path):
    """A remote out_dir raises ValueError before any file is decoded (the
    undecodable input would otherwise fail the job differently), and
    nothing is written or ledgered."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "r1")
    (src / "junk.tif").write_bytes(b"not a tiff")
    with pytest.raises(ValueError, match="remote URIs"):
        run_standardize_job(
            spark, str(src / "*.tif"), "s3a://bucket/std", str(tmp_path / "ledger")
        )
    assert sorted(p.name for p in tmp_path.iterdir()) == ["in"]


def test_standardize_truncated_tiff_fails_naming_the_file(spark, tmp_path):
    """A truncated input fails the job with an error naming the file,
    and leaves no output or temp file for it and no ledger rows."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "good")
    data = encode_geotiff(_grid(8, 8), 0.0, 0.8, 0.1, compress="deflate")
    (src / "cut.tif").write_bytes(data[: len(data) // 2])
    out = tmp_path / "out"
    ledger = tmp_path / "ledger"
    with pytest.raises(Exception, match="cut.tif"):
        run_standardize_job(spark, str(src / "*.tif"), str(out), str(ledger))
    assert not list(out.glob("*cut.tif*"))
    assert not ledger.exists()


def test_read_bytes_accepts_hadoop_file_uris(tmp_path):
    """Spark's qualified ``file:/abs`` path form and ``file:///abs`` read
    the local file."""
    from sids_data_pipeline_spark.sources.storage import read_bytes

    p = tmp_path / "a b.tif"
    p.write_bytes(b"payload")
    for form in (str(p), f"file:{p}", f"file://{p}"):
        assert read_bytes(form) == b"payload", form


def test_standardize_file_uri_input_glob(spark, tmp_path):
    """A ``file://`` input glob lists through storage.list_files, whose
    local paths the kernel reads."""
    src = tmp_path / "in"
    src.mkdir()
    _write_fixture(src, "r1")
    out = tmp_path / "out"
    res = run_standardize_job(
        spark, f"file://{src}/*.tif", str(out), str(tmp_path / "ledger"),
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )
    assert res == {"processed": ["r1"], "skipped": []}
    assert (out / "r1.tif").exists()
