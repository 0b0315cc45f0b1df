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
