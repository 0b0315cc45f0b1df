"""Grid warp (F8 gdalwarp parity): independent numpy oracle for nearest
and bilinear, nodata normalisation, edge omission, input guards.

The numpy twin below recomputes the warp driver-side from first
principles (inverse Mercator via math.*, explicit 4-corner loop) —
deliberately sharing no Spark code with the operator.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from sids_data_pipeline_spark.operators import zonal
from sids_data_pipeline_spark.sources.raster import (
    GRID_N,
    PIXEL_DEG,
    numpy_pixels,
    synthetic_raster,
    warp_to_grid,
)

R = 6378137.0
RES = 9000.0
W = H = 80


def _numpy_warp(raster_id: str, resampling: str) -> dict[tuple[int, int], float]:
    """Driver-side oracle: dict[(out_x, out_y)] -> val; omitted = nodata."""
    px = numpy_pixels(raster_id)
    grid = np.full((GRID_N, GRID_N), np.nan)
    grid[px["y"].to_numpy(), px["x"].to_numpy()] = px["val"].to_numpy()
    out: dict[tuple[int, int], float] = {}
    for oy in range(H):
        for ox in range(W):
            xd = (ox + 0.5) * RES
            yd = (oy + 0.5) * RES
            lon = math.degrees(xd / R)
            lat = math.degrees(2.0 * math.atan(math.exp(yd / R)) - math.pi / 2.0)
            fc = lon / PIXEL_DEG - 0.5
            fr = lat / PIXEL_DEG - 0.5
            if resampling == "nearest":
                i = math.floor(fc + 0.5)
                j = math.floor(fr + 0.5)
                if 0 <= i < GRID_N and 0 <= j < GRID_N and not np.isnan(grid[j, i]):
                    out[(ox, oy)] = float(grid[j, i])
                continue
            i0, j0 = math.floor(fc), math.floor(fr)
            fx, fy = fc - i0, fr - j0
            num = den = 0.0
            for (i, j, w) in (
                (i0, j0, (1 - fx) * (1 - fy)),
                (i0 + 1, j0, fx * (1 - fy)),
                (i0, j0 + 1, (1 - fx) * fy),
                (i0 + 1, j0 + 1, fx * fy),
            ):
                if w <= 0 or not (0 <= i < GRID_N and 0 <= j < GRID_N):
                    continue
                v = grid[j, i]
                if np.isnan(v):
                    continue
                num += w * v
                den += w
            if den > 0:
                out[(ox, oy)] = num / den
    return out


def _spark_warp(spark, raster_id: str, resampling: str):
    return warp_to_grid(
        synthetic_raster(spark, raster_id),
        src_epsg=4326,
        dst_epsg=3857,
        src_origin=(0.0, 0.0),
        src_res=(PIXEL_DEG, PIXEL_DEG),
        dst_origin=(0.0, 0.0),
        dst_res=(RES, RES),
        dst_size=(W, H),
        resampling=resampling,
    )


@pytest.mark.parametrize("resampling", ["nearest", "bilinear"])
@pytest.mark.parametrize("raster_id", ["rast_gradient", "rast_nodata"])
def test_warp_matches_numpy(spark, raster_id, resampling):
    got = {
        (r.out_x, r.out_y): r.val
        for r in _spark_warp(spark, raster_id, resampling).collect()
    }
    want = _numpy_warp(raster_id, resampling)
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9), k


def _numpy_warp_average(raster_id: str) -> dict[tuple[int, int], float]:
    """Forward-mapping oracle for the average kernel (same 3857 target)."""
    px = numpy_pixels(raster_id)
    sums: dict[tuple[int, int], list[float]] = {}
    for x, y, v in zip(px["x"], px["y"], px["val"]):
        if np.isnan(v):
            continue
        lon = (x + 0.5) * PIXEL_DEG
        lat = (y + 0.5) * PIXEL_DEG
        xd = math.radians(lon) * R
        yd = math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0)) * R
        ox = math.floor(xd / RES)
        oy = math.floor(yd / RES)
        if 0 <= ox < W and 0 <= oy < H:
            sums.setdefault((ox, oy), []).append(float(v))
    return {k: sum(v) / len(v) for k, v in sums.items()}


@pytest.mark.parametrize("raster_id", ["rast_gradient", "rast_nodata"])
def test_warp_average_matches_numpy(spark, raster_id):
    got = {
        (r.out_x, r.out_y): r.val
        for r in _spark_warp(spark, raster_id, "average").collect()
    }
    want = _numpy_warp_average(raster_id)
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9), k


def test_warp_identity_crs_aligned(spark):
    """Same CRS, same grid → the warp reproduces the source raster.

    Not bit-exact: the fixture's 0.1° resolution is not a dyadic double,
    so ``(x+0.5)*0.1 / 0.1`` reconstructs the pixel coordinate to ~1 ULP
    and a ~1e-15 weight bleeds to one neighbour — the same reason the
    catalog oracle rounds. Assert to 1e-9 (the bleed is ≤ 65·1e-15)."""
    px = synthetic_raster(spark, "rast_gradient")
    out = warp_to_grid(
        px,
        src_epsg=4326,
        dst_epsg=4326,
        src_origin=(0.0, 0.0),
        src_res=(PIXEL_DEG, PIXEL_DEG),
        dst_origin=(0.0, 0.0),
        dst_res=(PIXEL_DEG, PIXEL_DEG),
        dst_size=(GRID_N, GRID_N),
        resampling="bilinear",
    )
    rows = out.collect()
    assert len(rows) == GRID_N * GRID_N
    for r in rows:
        assert r.val == pytest.approx(
            float(r.out_x + GRID_N * r.out_y), abs=1e-9
        )


def test_warp_out_of_source_cells_omitted(spark):
    """A target grid entirely past the source extent yields zero rows
    (inner-join nodata contract) — for both kernels."""
    px = synthetic_raster(spark, "rast_gradient")
    for resampling in ("nearest", "bilinear"):
        out = warp_to_grid(
            px,
            src_epsg=4326,
            dst_epsg=4326,
            src_origin=(0.0, 0.0),
            src_res=(PIXEL_DEG, PIXEL_DEG),
            dst_origin=(100.0, 100.0),
            dst_res=(PIXEL_DEG, PIXEL_DEG),
            dst_size=(4, 4),
            resampling=resampling,
        )
        assert out.count() == 0


def test_warp_guards(spark):
    px = synthetic_raster(spark, "rast_gradient")

    def call(**kw):
        args = dict(
            src_epsg=4326,
            dst_epsg=4326,
            src_origin=(0.0, 0.0),
            src_res=(PIXEL_DEG, PIXEL_DEG),
            dst_origin=(0.0, 0.0),
            dst_res=(PIXEL_DEG, PIXEL_DEG),
            dst_size=(4, 4),
        )
        args.update(kw)
        return warp_to_grid(px, **args)

    with pytest.raises(ValueError, match="dst_size"):
        call(dst_size=(0, 4))
    with pytest.raises(ValueError, match="resolution"):
        call(src_res=(0.0, PIXEL_DEG))
    with pytest.raises(ValueError, match="resampling"):
        call(resampling="cubic")


# --- rasterize (gdal_rasterize parity) ------------------------------------------

from sids_data_pipeline_spark.functions.geo import box_wkb  # noqa: E402
from sids_data_pipeline_spark.schemas import ZONES  # noqa: E402
from sids_data_pipeline_spark.sources.raster import rasterize  # noqa: E402


def _zone_df(spark, rows):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in ZONES.fields]), ZONES
    )


def test_rasterize_burns_fids_center_rule(spark):
    """Two overlapping boxes on a 10×10 unit grid: cell centers at
    k + 0.5; expected burns are plain bbox arithmetic (max fid wins)."""
    zones = _zone_df(
        spark,
        [
            ("z", 1, "a", box_wkb(0.0, 0.0, 4.0, 4.0)),
            ("z", 2, "b", box_wkb(2.0, 2.0, 6.0, 6.0)),
        ],
    )
    got = {
        (r.x, r.y): r.burn
        for r in rasterize(
            zones, origin=(0.0, 0.0), res=(1.0, 1.0), size=(10, 10)
        ).collect()
    }
    want = {}
    for y in range(10):
        for x in range(10):
            cx, cy = x + 0.5, y + 0.5
            fid = None
            if 0.0 <= cx < 4.0 and 0.0 <= cy < 4.0:
                fid = 1
            if 2.0 <= cx < 6.0 and 2.0 <= cy < 6.0:
                fid = 2  # higher fid wins the overlap
            if fid is not None:
                want[(x, y)] = fid
    assert got == want


def test_rasterize_attribute_burn_and_grid_parity(spark, monkeypatch):
    zones = _zone_df(
        spark,
        [
            ("z", 1, "a", box_wkb(0.0, 0.0, 4.0, 4.0)),
            ("z", 2, "b", box_wkb(2.0, 2.0, 6.0, 6.0)),
        ],
    )
    named = rasterize(
        zones, origin=(0.0, 0.0), res=(1.0, 1.0), size=(10, 10),
        burn_col="name",
    ).collect()
    assert {r.burn for r in named} == {"a", "b"}
    # the spatial join's distributed branch (zone limit 0) computes the
    # identical raster
    bc = rasterize(zones, origin=(0.0, 0.0), res=(1.0, 1.0), size=(10, 10))
    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", 0)
    gr = rasterize(zones, origin=(0.0, 0.0), res=(1.0, 1.0), size=(10, 10))
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, gr.collect()))


def test_rasterize_empty_coverage_and_guards(spark):
    zones = _zone_df(spark, [("z", 1, "far", box_wkb(50.0, 50.0, 51.0, 51.0))])
    assert (
        rasterize(zones, origin=(0.0, 0.0), res=(1.0, 1.0), size=(4, 4)).count()
        == 0
    )
    with pytest.raises(ValueError, match="size"):
        rasterize(zones, origin=(0.0, 0.0), res=(1.0, 1.0), size=(0, 4))
    with pytest.raises(ValueError, match="resolution"):
        rasterize(zones, origin=(0.0, 0.0), res=(0.0, 1.0), size=(4, 4))


def test_warp_output_roundtrips_through_geotiff_writer(spark, tmp_path):
    """End-to-end file parity: warp → PIXELS shape → df.write.format
    ('geotiff') → re-ingest. Values survive; target cells the warp
    omitted (outside the source) come back as nodata (NULL)."""
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.sources.geotiff import ingest_geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    register(spark)
    out = _spark_warp(spark, "rast_gradient", "nearest")
    px = out.select(
        F.lit("warped").alias("raster_id"),
        F.lit(1).alias("band"),
        F.col("out_y").alias("y"),
        F.col("out_x").alias("x"),
        ((F.col("out_x") + F.lit(0.5)) * F.lit(RES)).alias("lon"),
        ((F.col("out_y") + F.lit(0.5)) * F.lit(RES)).alias("lat"),
        F.col("val"),
    )
    work = str(tmp_path / "tifs")
    (
        px.repartition("raster_id")
        .write.format("geotiff")
        .mode("overwrite")
        .save(work)
    )
    # GeoTIFF layout is north-up (file row 0 = TOP lat), so the y INDEX
    # flips on round-trip; lon/lat center coordinates are the invariant —
    # key the comparison on them
    back = {
        (round(r.lon, 3), round(r.lat, 3)): r.val
        for r in ingest_geotiff(spark, work + "/*.tif").collect()
    }
    want = {
        (round((r.out_x + 0.5) * RES, 3), round((r.out_y + 0.5) * RES, 3)): r.val
        for r in out.collect()
    }
    present = {k: v for k, v in back.items() if v is not None}
    assert present == want
    # the writer fills omitted cells with nodata; ingest surfaces NULL
    assert all(back[k] is None for k in set(back) - set(want))


def test_warp_negative_resolution_north_up(spark):
    """North-up target grids carry NEGATIVE dy (origin at the top edge,
    rows marching south). Bilinear with dst_res=(+RES, -RES) from a top
    origin must mirror the positive-res result row-for-row."""
    px = synthetic_raster(spark, "rast_gradient")
    up = warp_to_grid(
        px,
        src_epsg=4326,
        dst_epsg=3857,
        src_origin=(0.0, 0.0),
        src_res=(PIXEL_DEG, PIXEL_DEG),
        dst_origin=(0.0, 0.0),
        dst_res=(RES, RES),
        dst_size=(W, H),
        resampling="bilinear",
    )
    down = warp_to_grid(
        px,
        src_epsg=4326,
        dst_epsg=3857,
        src_origin=(0.0, 0.0),
        src_res=(PIXEL_DEG, PIXEL_DEG),
        dst_origin=(0.0, H * RES),  # top edge; rows march south
        dst_res=(RES, -RES),
        dst_size=(W, H),
        resampling="bilinear",
    )
    a = {(r.out_x, r.out_y): r.val for r in up.collect()}
    b = {(r.out_x, r.out_y): r.val for r in down.collect()}
    assert set(b) == {(x, H - 1 - y) for (x, y) in a}
    for (x, y), v in a.items():
        assert b[(x, H - 1 - y)] == pytest.approx(v, abs=1e-9)


def test_rasterize_grid_strategy_with_polygon_refine(spark, monkeypatch):
    """The distributed branch must agree with the broadcast branch on
    NON-RECT geometry too (the ray-cast refine path): the holed
    triangle."""
    from sids_data_pipeline_spark.sources.raster import GRID_N, PIXEL_DEG
    from sids_data_pipeline_spark.sources.vector import fixture_zones

    zones = fixture_zones(spark, "zones_overlap")
    kw = dict(
        origin=(0.0, 0.0), res=(PIXEL_DEG, PIXEL_DEG), size=(GRID_N, GRID_N)
    )
    bc = {(r.x, r.y): r.burn for r in rasterize(zones, **kw).collect()}
    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", 0)
    gr = {(r.x, r.y): r.burn for r in rasterize(zones, **kw).collect()}
    assert bc == gr
    assert 4 in set(bc.values())  # the holed triangle actually burned
