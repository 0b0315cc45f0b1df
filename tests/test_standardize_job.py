"""Entry-2 batch standardization job: end-to-end, idempotent, profile."""

from __future__ import annotations

import numpy as np

from sids_data_pipeline_spark.jobs.standardize import run_standardize_job
from sids_data_pipeline_spark.sources.geotiff import decode_geotiff, encode_geotiff


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
