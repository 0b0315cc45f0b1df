"""Sink round-trips: GeoJSONL (K1), CSV (S2/K6), tile pyramid (K2/O2/K3).

Tile assertions follow SURVEY.md §7: tile-key sets and decoded feature
content, never PBF byte-parity.
"""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from sids_data_pipeline_spark.operators.zonal import zonal_stats
from sids_data_pipeline_spark.sinks import csvio, geojsonl, tiles
from sids_data_pipeline_spark.sources.raster import synthetic_raster
from sids_data_pipeline_spark.sources.vector import fixture_zones


@pytest.fixture(scope="module")
def joined(spark):
    """The K1 export shape: stats re-joined to geometry (J2,
    reference vector.py:6-13)."""
    zones = fixture_zones(spark, "zones_grid")
    stats = zonal_stats(
        zones, synthetic_raster(spark, "rast_gradient"), stats=("mean",)
    )
    return stats.join(zones.select("fid", "name", "geometry"), "fid")


def test_geojsonl_round_trip(spark, joined, tmp_path):
    path = str(tmp_path / "export.geojsonl")
    geojsonl.write_geojsonl(joined, path, property_cols=("fid", "mean"))
    back = geojsonl.read_geojsonl(spark, path).collect()
    assert len(back) == 4  # one feature per zone
    props = sorted(json.loads(r.properties_json)["fid"] for r in back)
    assert props == [1, 2, 3, 4]
    geom = json.loads(back[0].geometry_json)
    assert geom["type"] == "MultiPolygon"
    # offshore zone (fid 4) exports mean = null, mirroring the LEFT join
    by_fid = {json.loads(r.properties_json)["fid"]: r for r in back}
    assert json.loads(by_fid[4].properties_json)["mean"] is None


def test_csv_round_trip(spark, tmp_path):
    path = str(tmp_path / "ledger.csv")
    df = spark.createDataFrame([("v1", "r1"), ("v2", "r2")], "v_id string, r_id string")
    csvio.write_csv(df, path)
    back = csvio.read_csv(spark, path, "v_id string, r_id string")
    assert {(r.v_id, r.r_id) for r in back.collect()} == {("v1", "r1"), ("v2", "r2")}


def test_orc_round_trip(spark, tmp_path):
    from sids_data_pipeline_spark.sinks import orcio

    path = str(tmp_path / "t.orc")
    schema = "k bigint, v double, s string, ts timestamp, b binary"
    df = spark.createDataFrame(
        [(1, 1.5, "a", None, b"\x00\xff"), (2, None, None, None, None)], schema
    )
    orcio.write_orc(df, path)
    back = orcio.read_orc(spark, path, schema)
    assert back.schema == df.schema
    rows = {r.k: r for r in back.collect()}
    assert rows[1].v == 1.5 and bytes(rows[1].b) == b"\x00\xff"
    assert rows[2].v is None and rows[2].s is None


def _slippy(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 2**z
    x = int((lon + 180.0) / 360.0 * n)
    lat_rad = math.radians(lat)
    y = int((1.0 - math.asinh(math.tan(lat_rad)) / math.pi) / 2.0 * n)
    return x, y


@pytest.fixture(scope="module")
def features(spark):
    # four point-ish features with bboxes, density ∝ 1/area
    rows = [
        (1, 10.0, 10.0, 12.0, 12.0),
        (2, 10.1, 10.1, 10.2, 10.2),
        (3, 10.15, 10.15, 10.16, 10.16),
        (4, -120.0, -30.0, -119.0, -29.0),
    ]
    return spark.createDataFrame(
        rows, "fid long, xmin double, ymin double, xmax double, ymax double"
    )


def test_assign_tiles_keys(spark, features):
    out = tiles.assign_tiles(features, max_zoom=3).collect()
    # every feature appears at z=0 tile (0,0)
    z0 = {(r.fid) for r in out if r.z == 0 and (r.x, r.y) == (0, 0)}
    assert z0 == {1, 2, 3, 4}
    # feature 4 at z=3 lands in the slippy tile of its corners
    want_x, want_y = _slippy(-120.0, -30.0, 3)
    got = {(r.x, r.y) for r in out if r.z == 3 and r.fid == 4}
    assert (want_x, want_y) in got


def test_drop_densest(spark, features):
    assigned = tiles.assign_tiles(features, max_zoom=2)
    kept = tiles.drop_densest(assigned, max_features_per_tile=2)
    # at z=2, features 1-3 share a tile; the two smallest-area (2, 3) drop
    # first, so the survivors per overfull tile are the largest bboxes
    z2 = [r for r in kept.collect() if r.z == 2]
    counts: dict[tuple[int, int], set] = {}
    for r in z2:
        counts.setdefault((r.x, r.y), set()).add(r.fid)
    for fids in counts.values():
        assert len(fids) <= 2
    shared = [f for f in counts.values() if 1 in f]
    assert all(3 not in f for f in shared)  # densest dropped


def test_tileset_write_read_complete(spark, features, tmp_path):
    path = str(tmp_path / "tileset")
    assigned = tiles.assign_tiles(features, max_zoom=2)
    encoded = tiles.encode_tiles(assigned, ["fid", "xmin", "ymin", "xmax", "ymax"])
    assert not tiles.tileset_complete(path)
    tiles.write_tileset(encoded, path, name="zones_grid_rast_gradient", max_zoom=2)
    assert tiles.tileset_complete(path)  # P6 marker exists
    back = tiles.read_tileset(spark, path)
    keys = {(r.z, r.x, r.y) for r in back.collect()}
    assert (0, 0, 0) in keys
    # decoded feature content, not bytes (SURVEY §7) — real MVT decode
    from sids_data_pipeline_spark.functions import mvt

    tile0 = mvt.decode_tile(bytes(back.filter("z = 0").first().pbf))
    layer = tile0["features"]
    assert layer["version"] == 2 and layer["extent"] == mvt.DEFAULT_EXTENT
    assert {f["props"]["fid"] for f in layer["features"]} == {1, 2, 3, 4}
    for f in layer["features"]:
        ring = f["rings"][0]
        assert ring[0] == ring[-1] and len(ring) == 5  # closed quad
        assert all(0 <= cx <= mvt.DEFAULT_EXTENT and 0 <= cy <= mvt.DEFAULT_EXTENT
                   for cx, cy in ring)


def test_mvt_codec_round_trip():
    """Encoder/decoder inverse pair on mixed property types and multiple
    features (keys/values interning, zigzag deltas, polygon closing)."""
    from sids_data_pipeline_spark.functions import mvt

    feats = [
        {"id": 1, "type": mvt.GEOM_POLYGON,
         "rings": [[(0, 0), (100, 0), (100, 80), (0, 80), (0, 0)]],
         "props": {"fid": 7, "name": "alpha", "area": 1.25, "ok": True}},
        {"id": 2, "type": mvt.GEOM_POLYGON,
         "rings": [[(50, 50), (60, 50), (60, 60), (50, 60), (50, 50)]],
         "props": {"fid": 8, "name": "beta", "area": 0.5, "ok": False}},
    ]
    data = mvt.encode_tile("layer0", feats, extent=512)
    out = mvt.decode_tile(data)
    layer = out["layer0"]
    assert layer["extent"] == 512 and layer["version"] == 2
    got = layer["features"]
    assert [f["id"] for f in got] == [1, 2]
    assert got[0]["props"] == {"fid": 7, "name": "alpha", "area": 1.25, "ok": True}
    assert got[1]["props"]["name"] == "beta" and got[1]["props"]["ok"] is False
    # implicit ring closing survives the trip
    assert got[0]["rings"][0][0] == got[0]["rings"][0][-1]
    assert got[1]["rings"][0] == feats[1]["rings"][0]


def test_mvt_negative_and_overflow_coords():
    """sint zigzag handles negative deltas and beyond-extent coords
    (features spilling past the tile edge, spec buffer semantics)."""
    from sids_data_pipeline_spark.functions import mvt

    ring = [(-64, -64), (5000, -64), (5000, 5000), (-64, 5000), (-64, -64)]
    data = mvt.encode_tile("l", [{"id": 1, "type": mvt.GEOM_POLYGON,
                                  "rings": [ring], "props": {}}])
    back = mvt.decode_tile(data)["l"]["features"][0]["rings"][0]
    assert back == ring


# --- true polygon rings in MVT tiles (K2 feature-content fidelity) ------------


def test_encode_tiles_true_rings_match_kernel(spark):
    """encode_tiles(geometry_col=...) emits each zone's actual clipped
    rings — decoded vertices equal geometry_tile_rings on the same WKB."""
    import numpy as np

    from sids_data_pipeline_spark.functions import geo, mvt
    from sids_data_pipeline_spark.sources.vector import FIXTURE_BUILDERS

    rows = [
        (fid, wkb) + geo.wkb_bbox(wkb)
        for fid, _name, wkb in FIXTURE_BUILDERS["zones_overlap"]()
    ]
    feats = spark.createDataFrame(
        rows, "fid long, geometry binary, xmin double, ymin double, "
              "xmax double, ymax double"
    )
    assigned = tiles.assign_tiles(feats, max_zoom=2)
    encoded = tiles.encode_tiles(
        assigned, ["fid", "geometry"], geometry_col="geometry", max_zoom=2
    ).collect()
    wkb_by_fid = {fid: wkb for fid, _n, wkb in FIXTURE_BUILDERS["zones_overlap"]()}
    checked = 0
    for row in encoded:
        layer = mvt.decode_tile(bytes(row.pbf))["features"]
        for feat in layer["features"]:
            tol = tiles.DEFAULT_SIMPLIFY_TOL if row.z < 2 else 0.0
            expect = tiles.geometry_tile_rings(
                wkb_by_fid[feat["props"]["fid"]], row.z, row.x, row.y,
                simplify_tol=tol,
            )
            assert feat["rings"] == expect
            checked += 1
            # exterior positive, holes negative (MVT spec §4.3.3.2)
            areas = [
                geo.ring_signed_area(np.asarray(r, dtype=float))
                for r in feat["rings"]
            ]
            assert areas[0] > 0 and all(a != 0 for a in areas)
    assert checked > 0
    # the triangle-with-hole zone must carry BOTH rings in its home tile
    tri = tiles.geometry_tile_rings(wkb_by_fid[4], 2, 2, 1)
    assert len(tri) == 2


def test_encode_tiles_zoom_simplification(spark):
    """Verdict r5 #4: at z < max_zoom rings are Douglas-Peucker
    simplified, so a dense ring decodes with far fewer vertices at z0
    than at max zoom."""
    import math as m

    from sids_data_pipeline_spark.functions import geo, mvt

    circle = [
        (90.0 + 30.0 * m.cos(t * 2 * m.pi / 240),
         10.0 + 30.0 * m.sin(t * 2 * m.pi / 240))
        for t in range(241)
    ]
    wkb = geo.multipolygon_wkb([[circle]])
    xmin, ymin, xmax, ymax = geo.wkb_bbox(wkb)
    feats = spark.createDataFrame(
        [(1, wkb, xmin, ymin, xmax, ymax)],
        "fid long, geometry binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    assigned = tiles.assign_tiles(feats, max_zoom=3)
    encoded = tiles.encode_tiles(
        assigned, ["fid", "geometry"], geometry_col="geometry", max_zoom=3
    ).collect()

    def verts_at(z):
        n = 0
        for row in encoded:
            if row.z != z:
                continue
            layer = mvt.decode_tile(bytes(row.pbf))["features"]
            n += sum(len(f["rings"][0]) for f in layer["features"])
        return n

    v0, vmax = verts_at(0), verts_at(3)
    assert v0 < vmax / 3  # low zoom is drastically lighter
    assert vmax >= 150  # max zoom keeps the detail (no simplification)


def test_encode_tiles_drops_feature_outside_polygon(spark):
    """A tile touched by the bbox but missed by the actual polygon gets
    no feature (the bbox-rectangle path would have emitted one)."""
    from sids_data_pipeline_spark.functions import geo, mvt

    # thin diagonal triangle: its bbox covers 4 tiles at z3 but the
    # geometry itself misses the north-east one
    tri = geo.multipolygon_wkb(
        [[[(1.0, 1.0), (88.0, 2.0), (2.0, 80.0), (1.0, 1.0)]]]
    )
    xmin, ymin, xmax, ymax = geo.wkb_bbox(tri)
    feats = spark.createDataFrame(
        [(7, tri, xmin, ymin, xmax, ymax)],
        "fid long, geometry binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    assigned = tiles.assign_tiles(feats, max_zoom=3)
    encoded = tiles.encode_tiles(
        assigned, ["fid", "geometry"], geometry_col="geometry", max_zoom=3
    ).collect()
    per_tile = {
        (r.z, r.x, r.y): len(mvt.decode_tile(bytes(r.pbf))["features"]["features"])
        for r in encoded
    }
    assigned_keys = {
        (r.z, r.x, r.y) for r in assigned.select("z", "x", "y").collect()
    }
    empty = [k for k, n in per_tile.items() if n == 0]
    assert len(per_tile) == len(assigned_keys)
    assert empty, "expected at least one bbox-only tile to encode empty"


def test_assign_tiles_clamps_to_valid_slippy_range(spark):
    """lon=180 must land in x = 2^z - 1, never the phantom x = 2^z."""
    from sids_data_pipeline_spark.sinks.tiles import assign_tiles

    feats = spark.createDataFrame(
        [(1, 179.0, -10.0, 180.0, 10.0)],
        "fid long, xmin double, ymin double, xmax double, ymax double",
    )
    rows = assign_tiles(feats, max_zoom=2).collect()
    for r in rows:
        assert 0 <= r.x <= 2 ** r.z - 1, (r.z, r.x)
        assert 0 <= r.y <= 2 ** r.z - 1, (r.z, r.y)
    # the antimeridian edge is still covered by the last valid column
    assert any(r.z == 2 and r.x == 3 for r in rows)


def test_polar_bbox_lands_in_southern_row(spark):
    """A bbox touching latitude -90 lands only in the southern tile row
    at each zoom, in the Spark and the NumPy tiling alike, and its rings
    project to finite tile coordinates (latitudes clamp to the Mercator
    limit instead of projecting to infinity)."""
    import numpy as np
    import pandas as pd

    from sids_data_pipeline_spark.functions import geo, mvt

    bbox = (10.0, -90.0, 11.0, -89.0)
    southern = {(z, 2 ** z - 1) for z in range(3)}
    feats = spark.createDataFrame(
        [(1, *bbox)],
        "fid long, xmin double, ymin double, xmax double, ymax double",
    )
    rows = tiles.assign_tiles(feats, max_zoom=2).collect()
    assert {(r.z, r.y) for r in rows} == southern
    wkb = geo.box_wkb(*bbox)
    got = tiles.tileset_rows(
        pd.DataFrame({"fid": [1], "geometry": [wkb]}), np.array([bbox]), 2, 64
    )
    assert {(z, y) for z, _, y, _ in got} == southern
    lo, hi = -tiles.DEFAULT_TILE_BUFFER, mvt.DEFAULT_EXTENT + tiles.DEFAULT_TILE_BUFFER
    crossing = geo.box_wkb(10.0, -90.0, 11.0, -80.0)  # spans the limit
    for z, x, y, _ in got:
        for g in (wkb, crossing):
            for ring in tiles.geometry_tile_rings(g, z, x, y):
                assert all(lo <= c <= hi for pt in ring for c in pt), (z, ring)
    assert tiles.geometry_tile_rings(crossing, 2, 2, 3)
    # the bbox-only encode path clamps the same way
    assert tiles._local_coords(2, 2, 3, *bbox, mvt.DEFAULT_EXTENT)[0] == (455, 4096)


def test_mvt_skips_degenerate_rings():
    """Empty and sub-3-point polygon rings (clip/simplify collapse) are
    skipped, not encoded as spec-invalid command streams."""
    from sids_data_pipeline_spark.functions import mvt

    good = [(0, 0), (10, 0), (10, 10), (0, 0)]
    feats = [{"id": 1, "type": mvt.GEOM_POLYGON,
              "rings": [[], [(5, 5), (5, 5)], good], "props": {"fid": 1}}]
    blob = mvt.encode_tile("layer", feats)
    decoded = mvt.decode_tile(blob)
    rings = decoded["layer"]["features"][0]["rings"]
    assert rings == [good]  # only the valid ring survives, closed form


def test_csv_roundtrip_preserves_empty_null_and_newlines(spark, tmp_path):
    """The pinned CSV conventions are lossless where Spark's defaults
    are not: empty string != NULL, embedded newlines survive."""
    from sids_data_pipeline_spark.sinks.csvio import read_csv, write_csv

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "a\nb"), (4, 'q"x')], "id long, s string"
    )
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = {r.id: r.s for r in read_csv(spark, path, "id long, s string").collect()}
    assert back == {1: "", 2: None, 3: "a\nb", 4: 'q"x'}


def test_tileset_marker_is_tippecanoe_compatible(spark, tmp_path):
    """The completion marker carries the metadata.json fields map
    clients read from tippecanoe output (reference data.py:33-35
    uploads that file verbatim): min/maxzoom, bounds CSV, center, and
    vector_layers introspection."""
    import json

    from sids_data_pipeline_spark.sinks import tiles

    df = spark.createDataFrame(
        [(0, 0, 0, bytearray(b"\x1a\x00"))], "z int, x int, y int, pbf binary"
    )
    out = str(tmp_path / "ts")
    tiles.write_tileset(
        df, out, name="demo", max_zoom=6,
        bounds=(-10.0, -5.0, 30.0, 25.0), fields={"fid": "Number"},
    )
    meta = json.loads(open(out + "/_tileset_metadata.json").read())
    assert meta["name"] == "demo" and meta["format"] == "pbf"
    assert meta["minzoom"] == "0" and meta["maxzoom"] == "6"
    assert meta["bounds"] == "-10.0,-5.0,30.0,25.0"
    assert meta["center"] == "10.0,10.0,0"
    layers = json.loads(meta["json"])["vector_layers"]
    assert layers[0]["id"] == "features"
    assert layers[0]["fields"] == {"fid": "Number"}
    assert tiles.tileset_complete(out)


def test_tileset_markers_glob_metachar_dir(tmp_path):
    """Finding from round-8 review: out_dir containing glob metachars
    must still discover markers (glob.escape on the literal prefix)."""
    import os

    from sids_data_pipeline_spark.sinks import tiles

    out = tmp_path / "run[2024]" / "out"
    pair = out / "zones_a_rast_b" / "tiles"
    os.makedirs(pair)
    (pair / "_tileset_metadata.json").write_text("{}")
    assert tiles.tileset_markers(str(out)) == {"zones_a_rast_b"}
