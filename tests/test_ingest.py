"""Real ingest round-trips: GeoTIFF (pure-numpy codec, distributed via
binaryFile + mapInPandas) and GeoPackage (stdlib sqlite3) — the S5/S6
paths that previously required GDAL, now live for the engine's
standardised profiles. Ends with the full chain: write GeoTIFF + GPKG →
ingest both → zonal stats equals the fixture-path result."""

from __future__ import annotations

import numpy as np
import pytest

from sids_data_pipeline_spark.functions import geo
from sids_data_pipeline_spark.operators.zonal import zonal_stats
from sids_data_pipeline_spark.sources import geopackage, geotiff
from sids_data_pipeline_spark.sources.raster import GRID_N, PIXEL_DEG, synthetic_raster
from sids_data_pipeline_spark.sources.vector import FIXTURE_BUILDERS, fixture_zones


@pytest.fixture(scope="module")
def gradient_array():
    y, x = np.mgrid[0:GRID_N, 0:GRID_N]
    return (x + GRID_N * y).astype("float64")


def test_geotiff_codec_roundtrip(gradient_array):
    # origin = upper-left corner; fixture grid spans lat [0, 6.4] upward,
    # so the top row is lat 6.4
    data = geotiff.encode_geotiff(
        gradient_array[::-1], origin_x=0.0, origin_y=GRID_N * PIXEL_DEG,
        pixel_deg=PIXEL_DEG,
    )
    values, (ox, oy, sx, sy), nodata = geotiff.decode_geotiff(data)
    assert values.shape == (GRID_N, GRID_N)
    assert np.array_equal(values[::-1], gradient_array)
    assert (ox, oy) == (0.0, GRID_N * PIXEL_DEG)
    assert (sx, sy) == (PIXEL_DEG, PIXEL_DEG)
    assert nodata is None


@pytest.mark.parametrize("compress", [None, "deflate", "zstd"])
@pytest.mark.parametrize("tile", [128, 17])
def test_geotiff_tiled_roundtrip(gradient_array, compress, tile):
    """Tiled layout (the reference's TILED=YES BLOCKSIZE=128 profile,
    batch/processing/raster.py:7-8) round-trips bit-exactly, including a
    tile size that doesn't divide the 64-px grid (edge-tile padding)."""
    data = geotiff.encode_geotiff(
        gradient_array[::-1], origin_x=0.0, origin_y=GRID_N * PIXEL_DEG,
        pixel_deg=PIXEL_DEG, nodata=-9999.0, compress=compress, tile=tile,
    )
    values, (ox, oy, sx, sy), nodata = geotiff.decode_geotiff(data)
    assert values.shape == (GRID_N, GRID_N)
    assert np.array_equal(values[::-1], gradient_array)
    assert (ox, oy) == (0.0, GRID_N * PIXEL_DEG)
    assert (sx, sy) == (PIXEL_DEG, PIXEL_DEG)
    assert nodata == -9999.0


def test_geotiff_reference_profile_roundtrip(gradient_array):
    """The reference's exact standardized output profile — COMPRESS=ZSTD,
    TILED=YES, BLOCKXSIZE/BLOCKYSIZE=128 (batch/processing/raster.py:7-8)
    — encodes and decodes without GDAL."""
    data = geotiff.encode_geotiff(
        gradient_array, 0.0, 6.4, 0.1, nodata=-9999.0, compress="zstd", tile=128
    )
    values, _, nodata = geotiff.decode_geotiff(data)
    assert np.array_equal(values, gradient_array)
    assert nodata == -9999.0


def test_geotiff_zstd_strip_roundtrip(gradient_array):
    data = geotiff.encode_geotiff(gradient_array, 0.0, 6.4, 0.1, compress="zstd")
    values, _, _ = geotiff.decode_geotiff(data)
    assert np.array_equal(values, gradient_array)


def test_geotiff_tiled_multi_tile_grid(gradient_array):
    """128×128 on a 300×180 grid: 3×2 tile lattice with ragged edges."""
    y, x = np.mgrid[0:180, 0:300]
    arr = (x * 0.5 + y).astype("float64")
    data = geotiff.encode_geotiff(
        arr, origin_x=10.0, origin_y=20.0, pixel_deg=0.01,
        compress="deflate", tile=128,
    )
    values, _, _ = geotiff.decode_geotiff(data)
    assert values.shape == (180, 300)
    assert np.array_equal(values, arr)


def test_geotiff_tiled_ingest_distributed(spark, tmp_path):
    """Tiled files flow through the binaryFile + mapInPandas ingest path
    identically to strip files."""
    arr = np.arange(64.0 * 64.0).reshape(64, 64)
    strip = geotiff.encode_geotiff(arr, 0.0, 6.4, 0.1)
    tiled = geotiff.encode_geotiff(arr, 0.0, 6.4, 0.1, tile=128)
    (tmp_path / "a_strip.tif").write_bytes(strip)
    (tmp_path / "b_tiled.tif").write_bytes(tiled)
    pdf = (
        geotiff.ingest_geotiff(spark, str(tmp_path) + "/*.tif")
        .toPandas()
        .pivot_table(index=["y", "x"], columns="raster_id", values="val")
    )
    assert np.array_equal(pdf["a_strip"].to_numpy(), pdf["b_tiled"].to_numpy())


def test_geotiff_nodata_and_errors(gradient_array):
    data = geotiff.encode_geotiff(gradient_array, 0.0, 6.4, 0.1, nodata=-9999.0)
    _, _, nodata = geotiff.decode_geotiff(data)
    assert nodata == -9999.0
    with pytest.raises(ValueError):
        geotiff.decode_geotiff(b"PK\x03\x04 not a tiff")


def test_geotiff_ingest_matches_fixture(spark, tmp_path, gradient_array):
    """binaryFile + mapInPandas ingest reproduces the synthetic fixture
    exactly (same ids, coordinates, values)."""
    p = tmp_path / "rast_gradient.tif"
    p.write_bytes(
        geotiff.encode_geotiff(
            gradient_array[::-1], 0.0, GRID_N * PIXEL_DEG, PIXEL_DEG
        )
    )
    ingested = geotiff.ingest_geotiff(spark, str(p)).toPandas()
    fixture = synthetic_raster(spark, "rast_gradient").toPandas()
    # TIFF rows run north→south while the fixture's y grows northward —
    # same geography, different index convention, so compare on coords
    key = ["lat", "lon"]
    a = ingested.sort_values(key).reset_index(drop=True)
    b = fixture.sort_values(key).reset_index(drop=True)
    assert (a["raster_id"] == "rast_gradient").all()
    assert np.array_equal(a["val"], b["val"])
    assert np.allclose(a["lon"], b["lon"], atol=1e-12)
    assert np.allclose(a["lat"], b["lat"], atol=1e-12)


def test_geopackage_roundtrip(spark, tmp_path):
    path = str(tmp_path / "zones.gpkg")
    rows = FIXTURE_BUILDERS["zones_grid"]()
    geopackage.write_geopackage(rows, path)
    assert geopackage.list_feature_tables(path) == ["zones"]
    zones = geopackage.ingest_geopackage(spark, path, "zones_grid").toPandas()
    assert list(zones["fid"]) == [1, 2, 3, 4]
    assert list(zones["name"]) == [n for _, n, _ in rows]
    for (_, _, wkb), got in zip(rows, zones["geometry"]):
        want = geo.parse_wkb(wkb)
        have = geo.parse_wkb(bytes(got))
        assert len(want) == len(have)
        assert np.array_equal(want[0][0], have[0][0])


def test_export_geotiff_roundtrip(spark, gradient_array):
    """K5: pixels → GeoTIFF → decode reproduces values and georef."""
    pixels = synthetic_raster(spark, "rast_gradient")
    out = geotiff.export_geotiff(pixels).collect()
    assert len(out) == 1 and out[0].raster_id == "rast_gradient"
    values, (ox, oy, sx, sy), nodata = geotiff.decode_geotiff(bytes(out[0].tiff))
    assert values.shape == (GRID_N, GRID_N)
    # row 0 is the northern edge; flipping recovers the fixture layout
    assert np.array_equal(values[::-1], gradient_array)
    assert abs(ox) < 1e-12 and abs(oy - GRID_N * PIXEL_DEG) < 1e-12
    assert abs(sx - PIXEL_DEG) < 1e-12
    assert nodata == -9999.0


def test_export_geotiff_nodata(spark):
    """NULL pixels encode as the nodata sentinel and come back as NaN."""
    pixels = synthetic_raster(spark, "rast_nodata")
    out = geotiff.export_geotiff(pixels).collect()[0]
    values, _, nodata = geotiff.decode_geotiff(bytes(out.tiff))
    n_nodata = int((values == nodata).sum())
    n_null = synthetic_raster(spark, "rast_nodata").filter("val IS NULL").count()
    assert n_nodata == n_null > 0


def test_ingested_zonal_equals_fixture_zonal(spark, tmp_path, gradient_array):
    """Full S5+S6 chain: files → ingest → zonal == fixture-path zonal."""
    tif = tmp_path / "rast_gradient.tif"
    tif.write_bytes(
        geotiff.encode_geotiff(
            gradient_array[::-1], 0.0, GRID_N * PIXEL_DEG, PIXEL_DEG
        )
    )
    gpkg = str(tmp_path / "zones.gpkg")
    geopackage.write_geopackage(FIXTURE_BUILDERS["zones_grid"](), gpkg)

    pixels = geotiff.ingest_geotiff(spark, str(tif))
    zones = geopackage.ingest_geopackage(spark, gpkg, "zones_grid")
    got = (
        zonal_stats(zones, pixels, stats=("mean", "count"))
        .toPandas()
        .sort_values("fid")
        .reset_index(drop=True)
    )
    want = (
        zonal_stats(
            fixture_zones(spark, "zones_grid"),
            synthetic_raster(spark, "rast_gradient"),
            stats=("mean", "count"),
        )
        .toPandas()
        .sort_values("fid")
        .reset_index(drop=True)
    )
    assert got["count"].tolist() == want["count"].tolist()
    assert np.allclose(got["mean"], want["mean"], equal_nan=True)


def test_ingest_then_export_preserves_orientation(spark, tmp_path, gradient_array):
    """Regression: ingest_geotiff's y grows southward while the synthetic
    fixture's grows northward; export must place rows by LATITUDE, not by
    y-index convention, or ingested rasters come back vertically flipped."""
    tif = tmp_path / "rast_orient.tif"
    tif.write_bytes(
        geotiff.encode_geotiff(
            gradient_array[::-1], 0.0, GRID_N * PIXEL_DEG, PIXEL_DEG
        )
    )
    pixels = geotiff.ingest_geotiff(spark, str(tif))
    out = geotiff.export_geotiff(pixels).collect()[0]
    values, (ox, oy, sx, sy), _ = geotiff.decode_geotiff(bytes(out.tiff))
    assert np.array_equal(values, gradient_array[::-1])
    assert abs(ox) < 1e-9 and abs(oy - GRID_N * PIXEL_DEG) < 1e-9


def test_export_geotiff_non_square_pixels(spark):
    """sy != sx must be encoded in ModelPixelScale (not sx twice)."""
    rows = [
        ("r", 1, y, x, 0.05 + 0.1 * x, 0.1 + 0.2 * y, float(10 * y + x))
        for y in range(3)
        for x in range(4)
    ]
    pixels = spark.createDataFrame(
        rows,
        "raster_id string, band int, y int, x int, lon double, lat double, val double",
    )
    out = geotiff.export_geotiff(pixels).collect()[0]
    values, (ox, oy, sx, sy), _ = geotiff.decode_geotiff(bytes(out.tiff))
    assert abs(sx - 0.1) < 1e-12 and abs(sy - 0.2) < 1e-12
    assert abs(ox) < 1e-12 and abs(oy - 0.6) < 1e-12
    # row 0 = northernmost = fixture y=2
    assert values[0, 0] == 20.0 and values[2, 3] == 3.0


def test_geotiff_deflate_roundtrip(gradient_array):
    """Deflate (TIFF compression 8) strips decode to the same array and
    compress meaningfully; unknown codecs still raise."""
    raw = geotiff.encode_geotiff(gradient_array, 0.0, 6.4, 0.1, nodata=-9999.0)
    packed = geotiff.encode_geotiff(
        gradient_array, 0.0, 6.4, 0.1, nodata=-9999.0, compress="deflate"
    )
    assert len(packed) < len(raw)
    v1, georef1, nd1 = geotiff.decode_geotiff(raw)
    v2, georef2, nd2 = geotiff.decode_geotiff(packed)
    assert np.array_equal(v1, v2) and georef1 == georef2 and nd1 == nd2 == -9999.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        geotiff.encode_geotiff(gradient_array, 0.0, 6.4, 0.1, compress="jpeg")


def test_export_geotiff_reference_profile(spark, gradient_array):
    """K5 with the reference output profile (ZSTD + 128 tiles) decodes
    back to the same grid."""
    pixels = synthetic_raster(spark, "rast_gradient")
    out = geotiff.export_geotiff(pixels, compress="zstd", tile=128).collect()
    values, _, _ = geotiff.decode_geotiff(bytes(out[0].tiff))
    assert np.array_equal(values[::-1], gradient_array)


def test_geotiff_datasource_partitions_per_file(spark, tmp_path):
    """The registered format plans one partition per raster file and
    matches the mapInPandas ingest path row-for-row."""
    import numpy as np

    from sids_data_pipeline_spark.sources.geotiff import (
        encode_geotiff,
        ingest_geotiff,
    )
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    for stem, base in (("a", 0.0), ("b", 100.0)):
        arr = (np.arange(16, dtype="float64") + base).reshape(4, 4)
        (tmp_path / f"{stem}.tif").write_bytes(
            encode_geotiff(arr, origin_x=0.0, origin_y=0.4, pixel_deg=0.1)
        )
    register(spark)
    ds = spark.read.format("geotiff").load(str(tmp_path / "*.tif"))
    assert ds.rdd.getNumPartitions() == 2
    got = sorted(
        (r.raster_id, r.x, r.y, r.val) for r in ds.collect()
    )
    want = sorted(
        (r.raster_id, r.x, r.y, r.val)
        for r in ingest_geotiff(spark, str(tmp_path / "*.tif")).collect()
    )
    assert got == want

    import pytest as _pytest

    with _pytest.raises(Exception, match="no files match"):
        spark.read.format("geotiff").load(str(tmp_path / "nope-*.tif")).collect()


def test_geotiff_datasource_rejects_band_out_of_range(spark, tmp_path):
    """A band beyond the file's actual band count must refuse rather
    than mislabel pixels (validated at decode time per file)."""
    import numpy as np
    import pytest as _pytest

    from sids_data_pipeline_spark.sources.geotiff import encode_geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    (tmp_path / "one.tif").write_bytes(
        encode_geotiff(
            np.zeros((2, 2)), origin_x=0.0, origin_y=0.2, pixel_deg=0.1
        )
    )
    register(spark)
    with _pytest.raises(Exception, match="out of range"):
        spark.read.format("geotiff").option("band", "2").load(
            str(tmp_path / "*.tif")
        ).collect()


def _rgb_array():
    import numpy as np

    y, x = np.mgrid[0:5, 0:7]
    base = (x + 7.0 * y).astype("float64")
    return np.stack([b * 1000.0 + base for b in (1, 2, 3)])


@pytest.mark.parametrize(
    "kwargs",
    [
        {},  # chunky, one strip
        {"planar": True},  # plane-separated strips
        {"tile": 4},  # chunky tiles with edge padding
        {"compress": "deflate", "planar": True},
        {"compress": "zstd", "tile": 4},
    ],
)
def test_geotiff_multiband_roundtrip(kwargs):
    """3-band encode → decode_geotiff_bands is lossless for every
    supported layout (chunky/planar, strip/tile, raw/deflate/zstd)."""
    import numpy as np

    from sids_data_pipeline_spark.sources.geotiff import (
        decode_geotiff,
        decode_geotiff_bands,
        encode_geotiff,
    )

    arr = _rgb_array()
    data = encode_geotiff(
        arr, origin_x=0.0, origin_y=0.5, pixel_deg=0.1, nodata=-1.0, **kwargs
    )
    values, (ox, oy, sx, sy), nodata = decode_geotiff_bands(data)
    assert values.shape == arr.shape
    np.testing.assert_array_equal(values, arr)
    assert (ox, oy, sx, sy) == (0.0, 0.5, 0.1, 0.1) and nodata == -1.0
    # band selection via the 2-D wrapper (1-based, GDAL convention)
    band2, _, _ = decode_geotiff(data, band=2)
    np.testing.assert_array_equal(band2, arr[1])
    with pytest.raises(ValueError, match="multi-band"):
        decode_geotiff(data)
    with pytest.raises(ValueError, match="out of range"):
        decode_geotiff(data, band=4)


def test_geotiff_multiband_ingest(spark, tmp_path):
    """ingest_geotiff emits one row per (band, pixel) by default and
    selects a single band at decode time with band=k."""
    from sids_data_pipeline_spark.sources.geotiff import (
        encode_geotiff,
        ingest_geotiff,
    )

    arr = _rgb_array()
    (tmp_path / "rgb.tif").write_bytes(
        encode_geotiff(arr, origin_x=0.0, origin_y=0.5, pixel_deg=0.1,
                       planar=True, compress="deflate")
    )
    px = ingest_geotiff(spark, str(tmp_path / "*.tif")).toPandas()
    assert sorted(px["band"].unique()) == [1, 2, 3]
    assert len(px) == 3 * arr.shape[1] * arr.shape[2]
    b2 = ingest_geotiff(spark, str(tmp_path / "*.tif"), band=2).toPandas()
    assert sorted(b2["band"].unique()) == [2]
    got = b2.sort_values(["y", "x"])["val"].to_numpy().reshape(arr[1].shape)
    import numpy as np

    np.testing.assert_array_equal(got, arr[1])


def test_geotiff_datasource_multiband(spark, tmp_path):
    """The registered format reads every band without an option and one
    band with option('band', k)."""
    from sids_data_pipeline_spark.sources.geotiff import encode_geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    arr = _rgb_array()
    (tmp_path / "rgb.tif").write_bytes(
        encode_geotiff(arr, origin_x=0.0, origin_y=0.5, pixel_deg=0.1)
    )
    register(spark)
    all_bands = (
        spark.read.format("geotiff").load(str(tmp_path / "*.tif")).toPandas()
    )
    assert sorted(all_bands["band"].unique()) == [1, 2, 3]
    b3 = (
        spark.read.format("geotiff")
        .option("band", "3")
        .load(str(tmp_path / "*.tif"))
        .toPandas()
    )
    assert sorted(b3["band"].unique()) == [3]
    assert b3["val"].min() == 3000.0


def test_geotiff_datasource_write_roundtrip(spark, tmp_path):
    """df.write.format('geotiff') → spark.read.format('geotiff') is
    lossless for values and georeferencing."""
    import numpy as np

    from sids_data_pipeline_spark.sources.geotiff import encode_geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    register(spark)
    src = tmp_path / "src"
    src.mkdir()
    for stem, base in (("r1", 0.0), ("r2", 7.0)):
        arr = (np.arange(12, dtype="float64") + base).reshape(3, 4)
        (src / f"{stem}.tif").write_bytes(
            encode_geotiff(arr, origin_x=1.0, origin_y=0.3, pixel_deg=0.1)
        )
    px = spark.read.format("geotiff").load(str(src / "*.tif"))
    out = tmp_path / "out"
    px.repartition("raster_id").write.format("geotiff").option(
        "compress", "deflate"
    ).mode("overwrite").save(str(out))
    back = spark.read.format("geotiff").load(str(out / "*.tif"))
    a = sorted((r.raster_id, r.x, r.y, r.lon, r.lat, r.val) for r in px.collect())
    b = sorted((r.raster_id, r.x, r.y, r.lon, r.lat, r.val) for r in back.collect())
    assert a == b


def _writer_pixels(spark):
    """Two rasters of long-format PIXELS rows; ``r1`` has a NULL pixel
    and a dropped pixel (a gap the lattice inference must keep)."""
    from sids_data_pipeline_spark.schemas import PIXELS

    rows = []
    for stem, base in (("r1", 0.0), ("r2", 50.0)):
        for y in range(5):
            for x in range(6):
                if stem == "r1" and (y, x) == (4, 5):
                    continue
                val = None if stem == "r1" and (y, x) == (1, 2) else base + 6 * y + x
                rows.append((stem, 1, y, x, 1.0 + (x + 0.5) * 0.1,
                             0.5 - (y + 0.5) * 0.1, val))
    return spark.createDataFrame(rows, PIXELS)


def test_geotiff_writer_bytes_match_encode_pixel_group(spark, tmp_path):
    """The Arrow write path emits exactly the bytes encode_pixel_group
    gives for the same rows, and no file for the zero-row partitions a
    16-way repartition of two rasters leaves."""
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    register(spark)
    px = _writer_pixels(spark)
    out = tmp_path / "out"
    px.repartition(16, "raster_id").write.format("geotiff").option(
        "compress", "zstd"
    ).option("tile", "128").mode("overwrite").save(str(out))
    assert sorted(p.name for p in out.iterdir()) == ["r1.tif", "r2.tif"]
    pdf = px.toPandas()
    for stem, group in pdf.groupby("raster_id"):
        want = geotiff.encode_pixel_group(group, compress="zstd", tile=128)
        assert (out / f"{stem}.tif").read_bytes() == want, stem


def test_geotiff_writer_null_val_is_nodata(spark, tmp_path):
    """NULL val rows and missing pixels both decode as the nodata
    sentinel; every other cell keeps its value."""
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    register(spark)
    out = tmp_path / "out"
    _writer_pixels(spark).repartition("raster_id").write.format("geotiff").option(
        "nodata", "-1"
    ).mode("overwrite").save(str(out))
    values, _, nodata = geotiff.decode_geotiff((out / "r1.tif").read_bytes())
    assert nodata == -1.0 and values.shape == (5, 6)
    want = np.arange(30, dtype="float64").reshape(5, 6)
    want[1, 2] = want[4, 5] = -1.0
    assert np.array_equal(values, want)


def test_geotiff_writer_append_refuses_existing_file(spark, tmp_path):
    """mode('append') into a directory that already holds <stem>.tif
    raises FileExistsError and leaves that file as it was."""
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    register(spark)
    out = tmp_path / "out"
    out.mkdir()
    (out / "r1.tif").write_bytes(b"keep")
    with pytest.raises(Exception, match="FileExistsError"):
        _writer_pixels(spark).filter("raster_id = 'r1'").repartition(
            "raster_id"
        ).write.format("geotiff").mode("append").save(str(out))
    assert (out / "r1.tif").read_bytes() == b"keep"


def _arrow_pixels(stem="r1"):
    import pyarrow as pa

    y, x = np.mgrid[0:3, 0:4]
    return pa.RecordBatch.from_pydict({
        "raster_id": [stem] * 12,
        "band": pa.array([1] * 12, pa.int32()),
        "lon": (x.ravel() + 0.5) * 0.1,
        "lat": 0.3 - (y.ravel() + 0.5) * 0.1,
        "val": np.arange(12, dtype="float64"),
    })


def test_geotiff_writer_empty_partition_writes_nothing(tmp_path):
    """No batches, or only zero-row batches, write no file and make no
    directory."""
    from sids_data_pipeline_spark.sources.geotiff_datasource import GeoTiffWriter

    out = tmp_path / "out"
    writer = GeoTiffWriter({"path": str(out)}, overwrite=False)
    assert writer.write(iter([])).files == ()
    assert writer.write(iter([_arrow_pixels().slice(0, 0)])).files == ()
    assert not out.exists()


@pytest.mark.parametrize("stage", ["encode", "file_write"])
def test_geotiff_writer_failure_leaves_no_partial_file(tmp_path, monkeypatch, stage):
    """A write that fails while encoding, or part-way through writing the
    file, leaves the previous <stem>.tif intact (or none at all) and no
    temp file behind."""
    from sids_data_pipeline_spark.sources.geotiff_datasource import GeoTiffWriter

    out = tmp_path / "out"
    writer = GeoTiffWriter({"path": str(out)}, overwrite=True)
    writer.write(iter([_arrow_pixels("r1")]))
    before = (out / "r1.tif").read_bytes()

    class Unwritable:
        """Not a bytes-like object: the temp file is created, then
        ``f.write`` raises."""

    def failing_encode(*args, **kwargs):
        if stage == "encode":
            raise RuntimeError("encode failed")
        return Unwritable()

    monkeypatch.setattr(geotiff, "encode_pixels", failing_encode)
    for stem in ("r1", "r2"):
        with pytest.raises((RuntimeError, TypeError)):
            writer.write(iter([_arrow_pixels(stem)]))
    assert sorted(p.name for p in out.iterdir()) == ["r1.tif"]
    assert (out / "r1.tif").read_bytes() == before


def test_geopackage_nonstandard_pk_and_null_geometry(spark, tmp_path):
    """A spec-valid GPKG may use any INTEGER PRIMARY KEY name and may
    carry NULL-geometry rows; both must ingest, not crash."""
    import sqlite3

    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.sources.geopackage import (
        ingest_geopackage,
        write_geopackage,
    )

    # build a gpkg whose feature table uses pk 'OBJECTID' + one NULL geom
    path = str(tmp_path / "odd.gpkg")
    write_geopackage([(1, "a", geo.box_wkb(0, 0, 1, 1))], path, table="zones")
    con = sqlite3.connect(path)
    con.execute('ALTER TABLE "zones" RENAME TO "zones_old"')
    con.execute(
        'CREATE TABLE "zones" (OBJECTID INTEGER PRIMARY KEY, name TEXT, geom BLOB)'
    )
    con.execute(
        'INSERT INTO "zones" SELECT fid, name, geom FROM "zones_old"'
    )
    con.execute('INSERT INTO "zones" (OBJECTID, name, geom) VALUES (2, "empty", NULL)')
    con.execute('DROP TABLE "zones_old"')
    con.commit()
    con.close()

    rows = {r.fid: r for r in ingest_geopackage(spark, path, "v", table="zones").collect()}
    assert set(rows) == {1, 2}
    assert rows[1].geometry is not None
    assert rows[2].geometry is None


def test_write_geopackage_rejects_unregistered_srs(tmp_path):
    import pytest

    from sids_data_pipeline_spark.sources.geopackage import write_geopackage

    with pytest.raises(ValueError):
        write_geopackage([], str(tmp_path / "x.gpkg"), srs_id=2154)


# --- LZW / PackBits / horizontal predictor (round-8 foreign-codec set) ------
# The reference reads these through GDAL (batch/processing/raster.py:22-38);
# LZW(+predictor 2) is the NASA/USGS distribution default, so these are the
# first compressions a foreign raster brings in.


def test_packbits_spec_example():
    """TIFF 6.0 §9 worked example — known bytes in BOTH directions, an
    oracle independent of our own encoder."""
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    unpacked = bytes.fromhex(
        "AA" * 3 + "80002A" + "AA" * 4 + "80002A22" + "AA" * 10
    )
    assert geotiff._packbits_decode(packed) == unpacked
    assert geotiff._packbits_decode(geotiff._packbits_encode(unpacked)) == unpacked


def test_lzw_known_stream():
    """Hand-packed 9-bit MSB stream for b'77788776 6' per TIFF 6.0 §13:
    codes [Clear, 7, 258, 8, 8, 258, 6, 6, EOI] — verifies bit order,
    Clear/EOI handling, and table growth against spec semantics (not
    just our encoder's inverse)."""
    s = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    acc = nb = 0
    packed = bytearray()
    for c in codes:
        acc = (acc << 9) | c
        nb += 9
        while nb >= 8:
            nb -= 8
            packed.append((acc >> nb) & 0xFF)
    if nb:
        packed.append((acc << (8 - nb)) & 0xFF)
    assert geotiff._lzw_encode(s) == bytes(packed)
    assert geotiff._lzw_decode(bytes(packed)) == s


def test_lzw_roundtrip_crosses_width_boundaries():
    """100k random bytes force every code-width change (9→10→11→12) and
    the 12-bit table reset — the early-change off-by-one shows up here
    if encoder and decoder disagree by even one code."""
    rng = np.random.default_rng(42)
    for data in (
        bytes(rng.integers(0, 256, 100_000, dtype=np.uint8)),
        bytes(1000) + b"abc" * 5000
        + bytes(rng.integers(0, 4, 50_000, dtype=np.uint8)),
        b"",
        b"\x00",
    ):
        assert geotiff._lzw_decode(geotiff._lzw_encode(data)) == data


@pytest.mark.parametrize("compress", ["lzw", "packbits"])
@pytest.mark.parametrize("tile", [None, 16])
@pytest.mark.parametrize(
    "dtype,predictor",
    [("u2", 2), ("u2", 1), ("i4", 2), ("f8", 1), ("u1", 2)],
)
def test_geotiff_foreign_codec_roundtrip(compress, tile, dtype, predictor):
    y, x = np.mgrid[0:37, 0:53]
    base = (x + 53 * y).astype("float64")
    maxv = {"u1": 255, "u2": 4095, "i4": 10**6, "f8": 10**6}[dtype]
    vals = np.mod(base, maxv)
    data = geotiff.encode_geotiff(
        vals, 0.0, 3.7, 0.1, compress=compress, tile=tile,
        dtype=dtype, predictor=predictor,
    )
    out, (ox, oy, sx, sy), _ = geotiff.decode_geotiff(data)
    assert np.array_equal(out, vals)
    assert (ox, oy, sx, sy) == (0.0, 3.7, 0.1, 0.1)


def test_geotiff_multiband_planar_lzw_predictor():
    y, x = np.mgrid[0:37, 0:53]
    base = (x + 53 * y).astype("float64")
    mb = np.stack([np.mod(base + b * 7, 251) for b in range(3)])
    data = geotiff.encode_geotiff(
        mb, 0.0, 3.7, 0.1, compress="lzw", planar=True, dtype="u1",
        predictor=2,
    )
    bands, _, _ = geotiff.decode_geotiff_bands(data)
    assert np.array_equal(bands, mb)


def test_geotiff_predictor_guards():
    arr = np.zeros((4, 4))
    with pytest.raises(ValueError):
        geotiff.encode_geotiff(arr, 0.0, 0.4, 0.1, dtype="f8", predictor=2)
    with pytest.raises(ValueError):
        geotiff.encode_geotiff(arr, 0.0, 0.4, 0.1, dtype="x9")
    # decode-side: a float file claiming predictor 2 is malformed
    data = bytearray(geotiff.encode_geotiff(arr, 0.0, 0.4, 0.1, dtype="u2",
                                            predictor=2))
    # integer+predictor decodes fine
    geotiff.decode_geotiff(bytes(data))


def test_lzw_corrupt_first_code_raises_valueerror():
    """A corrupt stream whose FIRST code after Clear exceeds the table
    must raise the diagnostic ValueError, not a bare IndexError."""
    import struct

    # 9-bit codes: Clear(256) then 300 (> table size 258)
    acc = (256 << 9) | 300
    buf = struct.pack(">I", acc << (32 - 18))[:3]
    with pytest.raises(ValueError, match="corrupt LZW"):
        geotiff._lzw_decode(buf)


@pytest.mark.parametrize("compress", [None, "deflate", "lzw"])
@pytest.mark.parametrize("tile", [None, 16])
def test_bigtiff_roundtrip(compress, tile):
    """BigTIFF (version 43, 8-byte offsets): classic TIFF caps files at
    4 GiB, so >4 GiB rasters in a real estate ship as BigTIFF; the codec
    reads and writes the layout (and the writer auto-upgrades at the
    ceiling like GDAL)."""
    y, x = np.mgrid[0:37, 0:53]
    base = (x + 53 * y).astype("float64")
    data = geotiff.encode_geotiff(
        base, 0.0, 3.7, 0.1, compress=compress, tile=tile, bigtiff=True
    )
    assert data[2:4] == b"\x2b\x00"  # version 43, little-endian
    out, georef, _ = geotiff.decode_geotiff(data)
    assert np.array_equal(out, base)
    assert georef == (0.0, 3.7, 0.1, 0.1)


def test_bigtiff_multiband_planar_and_predictor():
    y, x = np.mgrid[0:37, 0:53]
    base = (x + 53 * y).astype("float64")
    mb = np.stack([base + b for b in range(3)])
    data = geotiff.encode_geotiff(
        mb, 0.0, 3.7, 0.1, planar=True, bigtiff=True, compress="deflate"
    )
    bands, _, _ = geotiff.decode_geotiff_bands(data)
    assert np.array_equal(bands, mb)
    d = geotiff.encode_geotiff(
        np.mod(base, 4096), 0.0, 3.7, 0.1, dtype="u2", predictor=2,
        compress="lzw", bigtiff=True, nodata=-1.0,
    )
    out, _, nd = geotiff.decode_geotiff(d)
    assert np.array_equal(out, np.mod(base, 4096)) and nd == -1.0


def test_decoder_fuzz_raises_cleanly():
    """Foreign-input robustness: corrupt/truncated/random TIFF bytes must
    raise a controlled error (ValueError / NotImplementedError /
    struct.error family), never hang or leak codec-internal exception
    types (zlib.error and raw-bytes tag values both did before round 8).
    Seeded subset of the 4000-trial fuzz run."""
    import random
    import struct as structmod

    rng = random.Random(1234)
    y, x = np.mgrid[0:9, 0:11]
    base = (x + 11.0 * y)
    sources = [
        geotiff.encode_geotiff(base, 0.0, 0.9, 0.1),
        geotiff.encode_geotiff(base, 0.0, 0.9, 0.1, compress="lzw",
                               dtype="u2", predictor=2),
        geotiff.encode_geotiff(base, 0.0, 0.9, 0.1, compress="deflate", tile=4),
        geotiff.encode_geotiff(base, 0.0, 0.9, 0.1, bigtiff=True,
                               compress="packbits"),
    ]
    accept = (ValueError, NotImplementedError, structmod.error, IndexError,
              MemoryError, OverflowError)
    for _ in range(600):
        data = bytearray(rng.choice(sources))
        kind = rng.random()
        if kind < 0.45:
            for _ in range(rng.randint(1, 8)):
                data[rng.randrange(len(data))] = rng.randrange(256)
        elif kind < 0.75:
            data = data[: rng.randrange(1, len(data))]
        elif kind < 0.9:
            data = data[:4] + bytes(
                rng.randrange(256) for _ in range(rng.randint(0, 200))
            )
        else:
            data = bytes(rng.randrange(256) for _ in range(rng.randint(0, 300)))
        try:
            geotiff.decode_geotiff_bands(bytes(data))
        except accept:
            pass


def test_big_endian_classic_tiff_decodes():
    """The decoder claims MM (big-endian) support; no writer here emits
    it, so build a minimal BE classic TIFF byte-by-byte — 4x3 uint16 raw
    strip with georef — and check values + georef land exactly."""
    import struct

    w, h = 4, 3
    vals = np.arange(12, dtype=">u2").reshape(h, w)
    pix = vals.tobytes()

    entries = []  # (tag, type, count, value-bytes-4)
    def e4(tag, typ, count, val4):
        entries.append(struct.pack(">HHI", tag, typ, count) + val4)

    # layout: header(8) + IFD(2 + 9*12 + 4) + ext: scale(24) + tiepoint(48) + pixels
    ifd_off = 8
    n_entries = 9
    ext0 = ifd_off + 2 + n_entries * 12 + 4
    scale_off, tie_off = ext0, ext0 + 24
    pix_off = tie_off + 48
    e4(256, 4, 1, struct.pack(">I", w))                       # width
    e4(257, 4, 1, struct.pack(">I", h))                       # length
    e4(258, 3, 1, struct.pack(">HH", 16, 0))                  # bits
    e4(259, 3, 1, struct.pack(">HH", 1, 0))                   # compression
    e4(273, 4, 1, struct.pack(">I", pix_off))                 # strip offset
    e4(278, 4, 1, struct.pack(">I", h))                       # rows/strip
    e4(279, 4, 1, struct.pack(">I", len(pix)))                # strip count
    e4(33550, 12, 3, struct.pack(">I", scale_off))            # pixel scale
    e4(33922, 12, 6, struct.pack(">I", tie_off))              # tiepoint
    data = (
        struct.pack(">2sHI", b"MM", 42, ifd_off)
        + struct.pack(">H", n_entries)
        + b"".join(entries)
        + struct.pack(">I", 0)
        + struct.pack(">3d", 0.5, 0.25, 0.0)
        + struct.pack(">6d", 0.0, 0.0, 0.0, 10.0, 20.0, 0.0)
        + pix
    )
    out, (ox, oy, sx, sy), nodata = geotiff.decode_geotiff(data)
    assert np.array_equal(out, vals.astype("float64"))
    assert (ox, oy, sx, sy) == (10.0, 20.0, 0.5, 0.25)
    assert nodata is None


def test_decode_budget_refuses_allocation_bomb():
    """Round-8 second-pass review exploit: a 16 KB file declaring a
    65536x65536 f8 tile passed the per-dimension caps and drove np.empty
    toward 32 GiB (OOM-killed under Linux overcommit). The decode budget
    bounds total samples x (itemsize + 8) BEFORE any allocation, while
    ultra-wide legitimate rasters (which the old 2^20/dim cap wrongly
    rejected) decode fine inside the budget."""
    import struct
    import zlib

    w = h = 65536
    entries = []

    def e4(tag, typ, count, val4):
        entries.append(struct.pack("<HHI", tag, typ, count) + val4)

    pay = zlib.compress(b"\0" * 1000, 9)
    n = 9
    pix_off = 8 + 2 + n * 12 + 4
    e4(256, 4, 1, struct.pack("<I", w))
    e4(257, 4, 1, struct.pack("<I", h))
    e4(258, 3, 1, struct.pack("<HH", 64, 0))
    e4(259, 3, 1, struct.pack("<HH", 8, 0))
    e4(322, 4, 1, struct.pack("<I", w))
    e4(323, 4, 1, struct.pack("<I", h))
    e4(324, 4, 1, struct.pack("<I", pix_off))
    e4(325, 4, 1, struct.pack("<I", len(pay)))
    e4(339, 3, 1, struct.pack("<HH", 3, 0))
    bomb = (
        struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", n)
        + b"".join(entries) + struct.pack("<I", 0) + pay
    )
    with pytest.raises(ValueError, match="budget"):
        geotiff.decode_geotiff_bands(bomb)

    # legit ultra-wide raster (beyond the old per-dimension cap) decodes
    wide = np.zeros((2, 1 << 21))
    out, _, _ = geotiff.decode_geotiff(
        geotiff.encode_geotiff(wide, 0.0, 0.2, 0.1, dtype="u1")
    )
    assert out.shape == (2, 1 << 21)


def test_truncated_deflate_chunk_diagnosed():
    y, x = np.mgrid[0:16, 0:16]
    data = geotiff.encode_geotiff((x + 16.0 * y), 0.0, 1.6, 0.1,
                                  compress="deflate")
    with pytest.raises(ValueError, match="deflate"):
        geotiff.decode_geotiff_bands(data[:-20])


def test_excess_strip_entries_refused():
    """Round-8 final review exploit: a tiny file declaring hundreds of
    strip entries (all pointing at one shared chunk) accumulated output
    linear in the DECLARED count, bypassing the decode budget on the
    strip path. The strip count must match strips_per_plane exactly,
    mirroring the tiled path's check."""
    import struct

    import sids_data_pipeline_spark.sources.geotiff as G

    y, x = np.mgrid[0:8, 0:8]
    data = bytearray(G.encode_geotiff((x + 8.0 * y), 0.0, 0.8, 0.1,
                                      compress="deflate"))
    orig = G._read_ifd

    def inflated(buf, bo, bigtiff=False):
        t = orig(buf, bo, bigtiff)
        if G._TAG_STRIP_OFFSETS in t:
            t[G._TAG_STRIP_OFFSETS] = t[G._TAG_STRIP_OFFSETS] * 200
            t[G._TAG_STRIP_COUNTS] = t[G._TAG_STRIP_COUNTS] * 200
        return t

    G._read_ifd = inflated
    try:
        with pytest.raises(ValueError, match="strips expected"):
            G.decode_geotiff_bands(bytes(data))
    finally:
        G._read_ifd = orig


def test_mosaic_last_wins_nodata_and_guard(spark):
    """gdal_merge semantics: later rasters paint over earlier; nodata is
    transparent; a raster_id missing from the order list raises in-plan."""
    import pytest
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.sources.raster import mosaic

    px = spark.createDataFrame(
        [
            ("a", 0.0, 0.0, 1.0),
            ("a", 1.0, 0.0, 2.0),
            ("b", 0.0, 0.0, -1.0),   # nodata: must NOT overpaint a
            ("b", 1.0, 0.0, 20.0),   # real: must overpaint a
            ("b", 2.0, 0.0, 30.0),   # b-only cell
        ],
        "raster_id string, lon double, lat double, val double",
    )
    rows = {
        (r.lon, r.lat): (r.val, r.raster_id)
        for r in mosaic(px, ["a", "b"], nodata=-1.0).collect()
    }
    assert rows[(0.0, 0.0)] == (1.0, "a")
    assert rows[(1.0, 0.0)] == (20.0, "b")
    assert rows[(2.0, 0.0)] == (30.0, "b")

    with pytest.raises(Exception, match="not in order list"):
        mosaic(px, ["a"]).collect()
    with pytest.raises(ValueError, match="duplicate"):
        mosaic(px, ["a", "a"])
    with pytest.raises(ValueError, match="at least one"):
        mosaic(px, [])
