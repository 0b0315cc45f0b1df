"""Zonal statistics vs an independent numpy mask oracle (FIXTURES.md §C).

The oracle never touches Spark or the engine's geometry kernel beyond WKB
parsing: containment is recomputed with matplotlib-free pure numpy ray
casting on the driver, pixel values come from the numpy twin of the
fixture rasters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sids_data_pipeline_spark.functions import geo
from sids_data_pipeline_spark.operators import zonal
from sids_data_pipeline_spark.operators.zonal import spatial_join, zonal_stats
from sids_data_pipeline_spark.sources.raster import numpy_pixels, synthetic_raster
from sids_data_pipeline_spark.sources.vector import (
    fixture_zones,
    fixture_zones_pandas,
)

RASTERS = ["rast_gradient", "rast_checker", "rast_nodata"]
VECTORS = ["zones_grid", "zones_overlap"]

# spatial_join's two branches, chosen by the zone limit it reads while the
# plan is built: at the default these fixtures broadcast, at 0 the join
# runs distributed on the cell key
BRANCHES = pytest.mark.parametrize(
    "zone_limit", [zonal.BROADCAST_ZONE_LIMIT, 0], ids=["broadcast", "grid"]
)


def oracle_zonal(vector_id: str, raster_id: str) -> pd.DataFrame:
    pix = numpy_pixels(raster_id)
    zones = fixture_zones_pandas(vector_id)
    rows = []
    for _, z in zones.iterrows():
        polys = geo.parse_wkb(bytes(z.geometry))
        inside = geo.points_in_polygons(
            polys, pix.lon.to_numpy(), pix.lat.to_numpy()
        )
        vals = pix.val.to_numpy()[inside]
        vals = vals[~np.isnan(vals)]
        rows.append(
            {
                "vector_id": vector_id,
                "raster_id": raster_id,
                "fid": z.fid,
                "mean": float(vals.mean()) if vals.size else None,
                "count": int(vals.size),
            }
        )
    return pd.DataFrame(rows).sort_values("fid").reset_index(drop=True)


@pytest.mark.parametrize("vector_id", VECTORS)
@pytest.mark.parametrize("raster_id", RASTERS)
@BRANCHES
def test_zonal_matches_numpy_oracle(
    spark, monkeypatch, vector_id, raster_id, zone_limit
):
    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", zone_limit)
    zones = fixture_zones(spark, vector_id)
    pixels = synthetic_raster(spark, raster_id)
    got = (
        zonal_stats(zones, pixels, stats=("mean", "count"))
        .toPandas()
        .sort_values("fid")
        .reset_index(drop=True)
    )
    want = oracle_zonal(vector_id, raster_id)
    assert got.fid.tolist() == want.fid.tolist()
    assert got["count"].fillna(0).astype(int).tolist() == want["count"].tolist()
    for g, w in zip(got["mean"], want["mean"]):
        if w is None or (isinstance(w, float) and np.isnan(w)):
            assert g is None or np.isnan(g)
        else:
            assert g == pytest.approx(w, abs=1e-9)


def test_empty_zone_yields_null_mean(spark):
    """LEFT-join semantics (reference stats.py:11): offshore zone → NULL."""
    zones = fixture_zones(spark, "zones_grid")
    pixels = synthetic_raster(spark, "rast_gradient")
    out = zonal_stats(zones, pixels).toPandas().set_index("fid")
    assert pd.isna(out.loc[4, "mean"])
    assert not pd.isna(out.loc[1, "mean"])


def test_broadcast_and_grid_paths_agree_multi_raster(spark, monkeypatch):
    """Property: both branches of the spatial join (default zone limit
    and 0) are the same operator."""
    zones = fixture_zones(spark, "zones_overlap")
    pixels = synthetic_raster(spark, "rast_gradient").unionByName(
        synthetic_raster(spark, "rast_checker")
    )
    outs = []
    for zone_limit in (zonal.BROADCAST_ZONE_LIMIT, 0):
        monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", zone_limit)
        outs.append(
            zonal_stats(zones, pixels, stats=("mean", "count", "sum"))
            .toPandas()
            .sort_values(["vector_id", "raster_id", "fid"])
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_spatial_join_keeps_pixel_columns(spark):
    zones = fixture_zones(spark, "zones_grid")
    pixels = synthetic_raster(spark, "rast_gradient")
    joined = spatial_join(zones, pixels)
    for c in ["raster_id", "band", "y", "x", "lon", "lat", "val", "vector_id", "fid"]:
        assert c in joined.columns


@BRANCHES
def test_rect_fast_path_equals_kernel_path(spark, monkeypatch, zone_limit):
    """A rectangle zone (half-open fast path) and the same rectangle
    encoded with an extra collinear vertex (defeats geo.wkb_rect, forcing
    the Python kernel) must produce identical zonal stats — including
    pixels whose centers sit exactly on the box edges."""
    from sids_data_pipeline_spark.schemas import ZONES

    # grid pixel centers land on multiples of 0.05 at odd multiples;
    # choose box edges exactly on pixel-center coordinates: 0.25, 0.65
    box = (0.25, 0.25, 0.65, 0.65)
    rect_wkb = geo.box_wkb(*box)
    xmin, ymin, xmax, ymax = box
    collinear = geo.multipolygon_wkb(
        [[[(xmin, ymin), ((xmin + xmax) / 2, ymin), (xmax, ymin),
           (xmax, ymax), (xmin, ymax), (xmin, ymin)]]]
    )
    assert geo.wkb_rect(rect_wkb) == box and geo.wkb_rect(collinear) is None

    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", zone_limit)
    pixels = synthetic_raster(spark, "rast_gradient")
    outs = []
    for wkb in (rect_wkb, collinear):
        zones = spark.createDataFrame(
            pd.DataFrame(
                [("v", 1, "z", wkb)], columns=[f.name for f in ZONES.fields]
            ),
            ZONES,
        )
        outs.append(
            zonal_stats(zones, pixels, stats=("mean", "count", "sum"))
            .toPandas()
            .drop(columns=["vector_id"])
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])
    assert outs[0]["count"].iloc[0] > 0


def test_distributed_branch_runs_above_zone_limit(spark, monkeypatch, caplog):
    """Driver-OOM guard: a zone table above BROADCAST_ZONE_LIMIT takes the
    distributed branch, which matches the broadcast result (cap shrunk so
    the test stays small)."""
    import logging

    zones = fixture_zones(spark, "zones_grid")
    pixels = synthetic_raster(spark, "rast_gradient")
    broadcast = zonal_stats(zones, pixels, stats=("mean", "count")).toPandas()
    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", zones.count() - 1)
    with caplog.at_level(logging.INFO, logger=zonal.__name__):
        distributed = zonal_stats(zones, pixels, stats=("mean", "count")).toPandas()
    assert any("distributed branch" in m for m in caplog.messages)
    pd.testing.assert_frame_equal(
        broadcast.sort_values("fid").reset_index(drop=True),
        distributed.sort_values("fid").reset_index(drop=True),
    )


# --- broadcast branch: the match kernel ---------------------------------------

# Pixel centres sit on exact binary fractions ((x + 0.5) / 8), so zone
# vertices and bbox edges can lie exactly on them.
_PX = 0.125


def _edge_case_zones(spark):
    """A mixed rect + polygon zone set over the 8×8 grid of
    :func:`_edge_case_pixels`: a triangle whose vertices are pixel centres
    (so its bbox edges run through pixel centres), a rectangle with edges
    on pixel centres, a holed square overlapping both, and a triangle no
    pixel reaches."""
    from sids_data_pipeline_spark.schemas import ZONES

    c = lambda k: (k + 0.5) * _PX  # noqa: E731 — centre of pixel k
    rows = [
        (1, geo.multipolygon_wkb([[[(c(1), c(1)), (c(6), c(1)), (c(1), c(6)), (c(1), c(1))]]])),
        (2, geo.box_wkb(c(2), c(2), c(5), c(5))),
        (3, geo.multipolygon_wkb([[
            [(0.5, 0.5), (1.0, 0.5), (1.0, 1.0), (0.5, 1.0), (0.5, 0.5)],
            [(0.625, 0.625), (0.625, 0.875), (0.875, 0.875), (0.875, 0.625), (0.625, 0.625)],
        ]])),
        (4, geo.multipolygon_wkb([[[(20.0, 20.0), (21.0, 20.0), (20.0, 21.0), (20.0, 20.0)]]])),
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            [("v", fid, f"z{fid}", wkb) for fid, wkb in rows],
            columns=[f.name for f in ZONES.fields],
        ),
        ZONES,
    )


def _edge_case_pixels(spark):
    """(pandas, Spark) twins of one pixel frame. ``r_in``: the 8×8 grid
    over [0, 1]² with some NULL values and three rows with a NULL lon
    and/or lat; ``r_miss``: four pixels far from every zone; and one
    pixel inside zones 1 and 2 with a NULL raster_id."""
    from sids_data_pipeline_spark.schemas import PIXELS

    rows = []
    for y in range(8):
        for x in range(8):
            val = None if (x + y) % 7 == 3 else float(x + 8 * y)
            rows.append(("r_in", 1, y, x, (x + 0.5) * _PX, (y + 0.5) * _PX, val))
    rows += [
        ("r_in", 1, 9, 0, None, 0.3125, 5.0),
        ("r_in", 1, 9, 1, 0.3125, None, 6.0),
        ("r_in", 1, 9, 2, None, None, 7.0),
    ]
    rows += [("r_miss", 1, 0, x, 50.0 + x * _PX, 50.0, 1.0) for x in range(4)]
    rows.append((None, 1, 0, 0, 0.375, 0.375, 1.0))
    pdf = pd.DataFrame(rows, columns=[f.name for f in PIXELS.fields])
    return pdf, spark.createDataFrame(pdf, PIXELS)


def _stats_oracle(zones: pd.DataFrame, pix: pd.DataFrame) -> pd.DataFrame:
    """Every SUPPORTED_STATS per zone × raster from NumPy on the driver."""
    out = []
    for rid, rp in pix.groupby("raster_id"):
        ok = rp.lon.notna() & rp.lat.notna()
        lon = rp.lon[ok].to_numpy(dtype=float)
        lat = rp.lat[ok].to_numpy(dtype=float)
        val = rp.val[ok].to_numpy(dtype=float)
        for _, z in zones.iterrows():
            inside = geo.points_in_polygons(geo.parse_wkb(bytes(z.geometry)), lon, lat)
            v = val[inside]
            v = v[~np.isnan(v)]
            out.append({
                "vector_id": z.vector_id, "raster_id": rid, "fid": z.fid,
                "mean": v.mean() if v.size else None,
                "count": v.size,
                "sum": v.sum() if v.size else None,
                "min": v.min() if v.size else None,
                "max": v.max() if v.size else None,
                "stddev": v.std(ddof=1) if v.size > 1 else None,
                "median": float(np.median(v)) if v.size else None,
            })
    return pd.DataFrame(out).sort_values(["raster_id", "fid"]).reset_index(drop=True)


def test_kernel_matches_distributed_and_oracle_on_edge_cases(spark, monkeypatch):
    """The broadcast branch's match kernel equals the distributed branch
    (limit 0) and a NumPy oracle for every stat: pixel centres on a bbox
    edge and on a vertex, NULL lon/lat rows, a zone no pixel reaches, a
    raster that misses every zone, and a mixed rect + polygon zone set.
    A pixel with a NULL raster_id pairs with no (zone, raster) row in
    either branch."""
    zones = _edge_case_zones(spark)
    pdf, pixels = _edge_case_pixels(spark)
    outs = []
    for zone_limit in (zonal.BROADCAST_ZONE_LIMIT, 0):
        monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", zone_limit)
        outs.append(
            zonal_stats(zones, pixels, stats=zonal.SUPPORTED_STATS)
            .toPandas()
            .sort_values(["raster_id", "fid"])
            .reset_index(drop=True)
        )
    kernel, distributed = outs
    pd.testing.assert_frame_equal(kernel, distributed, check_exact=False, rtol=1e-12)
    assert kernel.loc[kernel.raster_id.isna(), "count"].tolist() == [0] * 4
    kernel = kernel[kernel.raster_id.notna()].reset_index(drop=True)

    want = _stats_oracle(zones.toPandas(), pdf)
    assert kernel[["raster_id", "fid"]].values.tolist() == want[["raster_id", "fid"]].values.tolist()
    assert kernel["count"].tolist() == want["count"].tolist()
    for s in ("mean", "sum", "min", "max", "stddev", "median"):
        for g, w in zip(kernel[s], want[s]):
            if pd.isna(w):
                assert pd.isna(g), s
            else:
                assert g == pytest.approx(w, rel=1e-12), s
    # the unreachable zone and the missing raster are rows with count 0
    assert kernel.loc[kernel.fid == 4, "count"].tolist() == [0, 0]
    assert kernel.loc[kernel.raster_id == "r_miss", "count"].tolist() == [0] * 4
    assert (kernel.loc[(kernel.raster_id == "r_in") & (kernel.fid < 4), "count"] > 0).all()


def test_kernel_join_matches_distributed_join(spark, monkeypatch):
    """spatial_join itself: the kernel returns exactly the distributed
    branch's (pixel, zone) rows, with the same columns."""
    zones = _edge_case_zones(spark)
    _, pixels = _edge_case_pixels(spark)
    outs = []
    for zone_limit in (zonal.BROADCAST_ZONE_LIMIT, 0):
        monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", zone_limit)
        joined = spatial_join(zones, pixels)
        assert joined.columns == [*pixels.columns, "vector_id", "fid"]
        outs.append(
            joined.toPandas().sort_values(["raster_id", "y", "x", "fid"]).reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])
    assert len(outs[0]) > 0


def test_kernel_path_reads_geotiff_scan_once(spark, tmp_path):
    """Over a format("geotiff") scan with non-rectangle zones, zonal_stats
    plans one scan of the files (no second decode for the raster list)
    and no per-row Python UDF."""
    from sids_data_pipeline_spark.sources import geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    arr = np.arange(64, dtype=np.float64).reshape(8, 8)
    for name in ("a", "b"):
        (tmp_path / f"{name}.tif").write_bytes(geotiff.encode_geotiff(arr, 0.0, 1.0, _PX))
    register(spark)
    pixels = spark.read.format("geotiff").load(f"{tmp_path}/*.tif")
    out = zonal_stats(_edge_case_zones(spark), pixels, stats=("mean", "count"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchScan geotiff") == 1, plan
    assert "ArrowEvalPython" not in plan and plan.count("MapInArrow") == 1
    got = out.toPandas()
    assert sorted(got.raster_id.unique()) == ["a", "b"] and len(got) == 8


def test_kernel_on_tasks_that_read_several_rasters(spark, tmp_path):
    """zonal_stats over a format("geotiff") scan with more files than
    task slots, where one task reads several rasters and one of them
    misses every zone, equals the NumPy oracle with exactly one row per
    zone × raster; the missing raster's rows have count 0 and NULL
    stats."""
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.sources import geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    slots = spark.sparkContext.defaultParallelism
    names = [f"r{i}" for i in range(slots)]
    for i, name in enumerate(names):
        arr = np.arange(64, dtype=np.float64).reshape(8, 8) + 100.0 * i
        (tmp_path / f"{name}.tif").write_bytes(geotiff.encode_geotiff(arr, 0.0, 1.0, _PX))
    # first in sorted order: slice_files deals it into a task with another raster
    (tmp_path / "miss.tif").write_bytes(geotiff.encode_geotiff(np.ones((2, 2)), 50.0, 51.0, _PX))
    register(spark)
    pixels = spark.read.format("geotiff").load(f"{tmp_path}/*.tif")
    per_task = {
        r.p: r.n
        for r in pixels.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.countDistinct("raster_id").alias("n"))
        .collect()
    }
    miss_task = pixels.filter("raster_id = 'miss'").select(F.spark_partition_id()).first()[0]
    assert len(per_task) == slots and per_task[miss_task] >= 2

    zones = _edge_case_zones(spark)
    got = (
        zonal_stats(zones, pixels, stats=zonal.SUPPORTED_STATS)
        .toPandas()
        .sort_values(["raster_id", "fid"])
        .reset_index(drop=True)
    )
    want = _stats_oracle(zones.toPandas(), pixels.toPandas())
    assert got[["raster_id", "fid"]].values.tolist() == want[["raster_id", "fid"]].values.tolist()
    assert len(got) == 4 * (slots + 1)
    assert got["count"].tolist() == want["count"].tolist()
    for s in ("mean", "sum", "min", "max", "stddev", "median"):
        for g, w in zip(got[s], want[s]):
            if pd.isna(w):
                assert pd.isna(g), s
            else:
                assert g == pytest.approx(w, rel=1e-12), s
    miss = got[got.raster_id == "miss"]
    assert miss["count"].tolist() == [0] * 4 and miss["mean"].isna().all()


def test_kernel_path_tracks_no_persist(spark):
    """The broadcast kernel builds the result universe in its own pass:
    no zone persist to release afterwards."""
    from sids_data_pipeline_spark import lifecycle

    before = list(lifecycle._TRACKED)
    zonal_stats(_edge_case_zones(spark), _edge_case_pixels(spark)[1]).collect()
    assert lifecycle._TRACKED == before


def test_weighted_rects_hand_computed(spark):
    """2x2 grid of unit-value pixels; a rect covering exactly one half
    of one pixel cell gets w_e6=500000 and the exact weighted mean."""
    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import zonal_weighted_rects

    # pixels: centers (0.05,0.05),(0.15,0.05),(0.05,0.15),(0.15,0.15),
    # vals 1..4 (cents 100..400)
    px = spark.createDataFrame(
        [(0.05, 0.05, 1.0), (0.15, 0.05, 2.0), (0.05, 0.15, 3.0), (0.15, 0.15, 4.0)],
        "lon double, lat double, val double",
    )
    # zone = left half of the grid: full pixels 1 and 3
    zones = spark.createDataFrame(
        [(1, geo.box_wkb(0.0, 0.0, 0.1, 0.2)),
         # half of every pixel (vertical middle band)
         (2, geo.box_wkb(0.05, 0.0, 0.15, 0.2)),
         (3, geo.box_wkb(0.5, 0.5, 0.7, 0.7))],  # disjoint
        "fid long, geometry binary",
    )
    got = {r.fid: r for r in zonal_weighted_rects(zones, px).collect()}
    assert got[1].w_e6_sum == 2_000_000
    assert got[1].wmean_cents == 200  # mean(1,3) = 2.00
    # zone 2: each of the 4 pixels half-covered → w=5e5 each, sum 2e6;
    # weighted mean = mean(1,2,3,4) = 2.5
    assert got[2].w_e6_sum == 2_000_000
    assert got[2].wmean_cents == 250
    assert got[3].w_e6_sum is None and got[3].wmean_cents is None


def test_weighted_rects_rejects_non_rect(spark):
    import pytest as _pytest

    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import zonal_weighted_rects

    tri = geo.polygon_wkb([[(0, 0), (1, 0), (0, 1), (0, 0)]])
    zones = spark.createDataFrame([(1, tri)], "fid long, geometry binary")
    px = spark.createDataFrame([(0.05, 0.05, 1.0)], "lon double, lat double, val double")
    with _pytest.raises(ValueError, match="not an.*rectangle|rectangle"):
        zonal_weighted_rects(zones, px)


def test_weighted_matches_clip_kernel_on_rects(spark):
    """The closed-form weights equal the Sutherland-Hodgman clip kernel
    on rectangles — the bridge to the general-polygon path."""
    from sids_data_pipeline_spark.functions import geo

    bounds = (0.13, 0.07, 0.52, 0.61)
    wkb = geo.box_wkb(*bounds)
    for cx in (0.0, 0.1, 0.4, 0.5):
        for cy in (0.0, 0.3, 0.6):
            x0, y0, x1, y1 = cx, cy, cx + 0.1, cy + 0.1
            wx = max(0.0, min(bounds[2], x1) - max(bounds[0], x0))
            wy = max(0.0, min(bounds[3], y1) - max(bounds[1], y0))
            clip = geo.wkb_clip_box_area2(wkb, x0, y0, x1, y1) / 2.0
            assert abs(clip - wx * wy) < 1e-12, (cx, cy)


def test_weighted_general_matches_rect_variant(spark):
    """On rectangle zones the clip-kernel path must equal the closed-form
    rect path row for row."""
    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import (
        zonal_weighted,
        zonal_weighted_rects,
    )
    from sids_data_pipeline_spark.sources.raster import synthetic_raster

    zones = spark.createDataFrame(
        [(1, geo.box_wkb(0.13, 0.07, 0.52, 0.61)),
         (2, geo.box_wkb(0.33, 0.42, 0.78, 0.79))],
        "fid long, geometry binary",
    )
    px = synthetic_raster(spark, "rast_gradient")
    a = [(r.fid, r.w_e6_sum, r.wmean_cents)
         for r in zonal_weighted_rects(zones, px).collect()]
    b = [(r.fid, r.w_e6_sum, r.wmean_cents)
         for r in zonal_weighted(zones, px).collect()]
    assert a == b


def test_weighted_triangle_area_conservation(spark):
    """Σ weights × cell area must equal the triangle's area (it lies
    fully inside the raster extent) — the property the pixel-center
    approximation does NOT satisfy."""
    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import zonal_weighted
    from sids_data_pipeline_spark.sources.raster import synthetic_raster

    tri = geo.polygon_wkb([[(0.1, 0.1), (1.3, 0.1), (0.1, 0.9), (0.1, 0.1)]])
    zones = spark.createDataFrame([(1, tri)], "fid long, geometry binary")
    px = synthetic_raster(spark, "rast_gradient")
    row = zonal_weighted(zones, px).collect()[0]
    # area = 0.5 * 1.2 * 0.8 = 0.48 deg²; cell = 0.01 deg² → Σw = 48 cells
    # → w_e6_sum = 48e6 (up to per-cell rounding: ≤ 0.5e-6 each over ~140
    # boundary cells)
    assert abs(row.w_e6_sum - 48_000_000) <= 200


def test_all_touched_superset_of_center_rule(spark):
    """all_touched must count at least as many pixels as the center rule,
    strictly more when a zone edge cuts through cells."""
    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import zonal_touched_rects
    from sids_data_pipeline_spark.sources.raster import synthetic_raster

    bounds = (0.13, 0.07, 0.52, 0.61)
    zones = spark.createDataFrame(
        [(1, geo.box_wkb(*bounds))], "fid long, geometry binary"
    )
    px = synthetic_raster(spark, "rast_gradient")
    touched = zonal_touched_rects(zones, px).collect()[0]
    # center rule: centers at 0.05+0.1i strictly inside (0.13,0.52)x(0.07,0.61)
    n_center = px.filter(
        (px.lon > bounds[0]) & (px.lon < bounds[2])
        & (px.lat > bounds[1]) & (px.lat < bounds[3])
    ).count()
    assert touched.n_pixels > n_center
    # touched cells: lon-h < 0.52 and lon+h > 0.13 → centers in (0.08, 0.57)
    # → i in {1..5} (0.15..0.55); lat centers in (0.02, 0.66) → j in {0..6}
    assert touched.n_pixels == 5 * 7


def test_zonal_weighted_handles_clockwise_zones(spark):
    """A clockwise-wound exterior ring (valid WKB, ESRI convention) must
    weight identically to its counter-clockwise twin, not NULL out."""
    import pandas as pd

    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import zonal_weighted
    from sids_data_pipeline_spark.sources.raster import synthetic_raster

    px = synthetic_raster(spark, "rast_gradient")
    ccw = geo.box_wkb(0.05, 0.05, 0.35, 0.35)
    # reverse the ring order → clockwise winding, same shape
    polys = geo.parse_wkb(ccw)
    import numpy as np

    cw_ring = np.ascontiguousarray(polys[0][0][::-1])
    cw = geo.rings_to_wkb([[cw_ring]]) if hasattr(geo, "rings_to_wkb") else None
    if cw is None:
        import struct

        # hand-build a single-ring polygon WKB with reversed vertices
        pts = cw_ring
        cw = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(pts)) + b"".join(
            struct.pack("<dd", float(x), float(y)) for x, y in pts
        )
    zones = spark.createDataFrame(
        pd.DataFrame({"fid": [1, 2], "geometry": [ccw, cw]})
    )
    got = {r.fid: (r.w_e6_sum, r.wmean_cents)
           for r in zonal_weighted(zones, px).collect()}
    assert got[1] == got[2]
    assert got[1][0] is not None


def test_weighted_distributed_path_matches_broadcast(spark, monkeypatch):
    """Above BROADCAST_ZONE_LIMIT the weighted kernel now runs the
    distributed grid path (shuffled cell-key equi-join, no driver
    collect) instead of raising — results must be identical."""
    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators import zonal
    from sids_data_pipeline_spark.sources.raster import synthetic_raster

    tri = geo.polygon_wkb([[(0.1, 0.1), (1.3, 0.1), (0.1, 0.9), (0.1, 0.1)]])
    zones = spark.createDataFrame(
        [(1, geo.box_wkb(0.13, 0.07, 0.52, 0.61)), (2, tri)],
        "fid long, geometry binary",
    )
    px = synthetic_raster(spark, "rast_gradient")
    want = [(r.fid, r.w_e6_sum, r.wmean_cents)
            for r in zonal.zonal_weighted(zones, px).collect()]
    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", 1)
    got = [(r.fid, r.w_e6_sum, r.wmean_cents)
           for r in zonal.zonal_weighted(zones, px).collect()]
    assert got == want
