"""Vector-tile sink (K2/O2/K3 — SURVEY.md §2a).

The reference shells out to tippecanoe: GeoJSONL → ``{z}/{x}/{y}.pbf``
pyramid, zoom ≤ 10, layer per pair, ``--drop-densest-as-needed``, then
azcopy-uploads the directory and relies on ``metadata.json`` existing as
the pair's completion marker (reference ``pipeline/processing/tiles.py:
16-32``, ``pipeline/processing/data.py:26-40``).

Spark-first equivalents:

- **tiling math** (slippy z/x/y) is pure column arithmetic — JVM-side,
  codegen-friendly, no UDF;
- **feature→tile assignment** explodes each feature's bbox to the tiles
  it covers per zoom (bounded: a bbox covers few tiles at z ≤ 10);
- **density drop (O2)** is the window-ranked limit per tile that
  tippecanoe's ``--drop-densest-as-needed`` performs internally
  (``tiles.py:18``): smallest-area (densest) features drop first once a
  tile exceeds ``max_features_per_tile``;
- **PBF encode** runs per tile group in ``applyInPandas``, emitting REAL
  Mapbox Vector Tile (vector-tile-spec 2.1) protobuf bytes via the
  pure-Python codec in ``functions/mvt.py`` — no native libs needed on
  executors. Tests decode the bytes back and assert feature content;
  byte-parity with tippecanoe is not a goal (SURVEY.md §7).
- **upload (K3)** is the write itself: ``partitionBy(z, x)`` to any
  Hadoop-supported URI; ``metadata.json`` sidecar completes the P6 loop.
- **one tileset in memory** (:func:`tileset_rows`) runs the same three
  steps without Spark, for the Entry-1 pipeline's per-pair Arrow task.
"""

from __future__ import annotations

import json
import math
import os
import re as _re
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MAX_ZOOM = 10  # reference tippecanoe -z10 (tiles.py:22-24)
# tippecanoe's default --buffer=5 is 5/256 of the tile span; at the default
# 4096 extent that is 80 tile-local units of spill-over kept per edge
DEFAULT_TILE_BUFFER = 80
# one rendered pixel at a 256-px tile: extent / 256. Applied only below the
# max zoom (tippecanoe --simplify-only-low-zooms, reference tiles.py:23)
DEFAULT_SIMPLIFY_TOL = 16.0
# the Web Mercator latitude limit (tippecanoe's too): the poles project to
# infinity, so latitudes clamp here before the slippy y math
MAX_MERCATOR_LAT = 85.0511287798066


def _tile_x(lon, z):
    return F.floor((lon + 180.0) / 360.0 * F.lit(2.0) ** z).cast("int")


def _tile_y(lat, z):
    # asinh spelled as ln(t + sqrt(t² + 1)): portable across SQL engines
    # (the correctness oracle mirrors this exact expression)
    t = F.tan(F.radians(lat))
    asinh_t = F.log(t + F.sqrt(t * t + F.lit(1.0)))
    mercator = F.lit(1.0) - asinh_t / F.lit(math.pi)
    return F.floor(mercator / 2.0 * F.lit(2.0) ** z).cast("int")


def assign_tiles(
    features: DataFrame,
    max_zoom: int = MAX_ZOOM,
    bbox_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
) -> DataFrame:
    """Explode features to every (z, x, y) tile their bbox touches,
    z = 0..max_zoom. Pure column math: zoom explode → per-corner tile
    indices → x/y range explode. Bbox-sized features at z ≤ 10 cover few
    tiles, so the fan-out is bounded and shuffle-free until the caller
    groups by tile."""
    xmin, ymin, xmax, ymax = (F.col(c) for c in bbox_cols)
    z = F.explode(F.sequence(F.lit(0), F.lit(max_zoom))).alias("z")
    with_z = features.select("*", z)
    zc = F.col("z")
    # clamp to the valid slippy range [0, 2^z - 1]: lon = 180 (and lat
    # south of the mercator cutoff) would otherwise index the phantom
    # tile x = 2^z that no map client can fetch
    nmax = F.pow(F.lit(2.0), zc).cast("int") - F.lit(1)
    clamp = lambda v: F.least(F.greatest(v, F.lit(0)), nmax)  # noqa: E731
    x0, x1 = clamp(_tile_x(xmin, zc)), clamp(_tile_x(xmax, zc))
    # slippy y grows southward: ymax (north) maps to the smaller y index
    clamp_lat = lambda v: F.least(  # noqa: E731
        F.greatest(v, F.lit(-MAX_MERCATOR_LAT)), F.lit(MAX_MERCATOR_LAT)
    )
    y0 = clamp(_tile_y(clamp_lat(ymax), zc))
    y1 = clamp(_tile_y(clamp_lat(ymin), zc))
    return (
        with_z.withColumn("x", F.explode(F.sequence(x0, x1)))
        .withColumn("y", F.explode(F.sequence(y0, y1)))
    )


def drop_densest(
    tiles: DataFrame,
    max_features_per_tile: int,
    area_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    id_col: str = "fid",
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """O2: per-tile ranked limit — when a tile holds more than
    ``max_features_per_tile`` features, the smallest-bbox (densest)
    features drop first; ties break on the feature id so the result is
    total-order deterministic. ``extra_keys`` scope the per-tile cap to
    additional grouping columns (e.g. pair_key when many tilesets encode
    in one job)."""
    xmin, ymin, xmax, ymax = (F.col(c) for c in area_cols)
    area = (xmax - xmin) * (ymax - ymin)
    w = Window.partitionBy(*extra_keys, "z", "x", "y").orderBy(
        area.desc(), F.col(id_col).asc()
    )
    return (
        tiles.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= max_features_per_tile)
        .drop("_rank")
    )


def _local_coords(z: int, x: int, y: int, xmin, ymin, xmax, ymax, extent: int):
    """Project a lon/lat bbox into tile-local integer space [0, extent]
    (coords may exceed the range for features spilling past the tile edge
    — MVT geometry is sint, the spec allows buffer overflow)."""
    n = 2.0 ** z

    def lx(lon):
        return round(((lon + 180.0) / 360.0 * n - x) * extent)

    def ly(lat):
        t = math.tan(math.radians(min(max(lat, -MAX_MERCATOR_LAT), MAX_MERCATOR_LAT)))
        merc = (1.0 - math.log(t + math.sqrt(t * t + 1.0)) / math.pi) / 2.0
        return round((merc * n - y) * extent)

    # tile Y grows downward, so ymax (north) is the smaller local y;
    # ring is CW in screen space per spec §4.3.3.2 (exterior ring)
    x0, x1 = lx(xmin), lx(xmax)
    y0, y1 = ly(ymax), ly(ymin)
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]


def _mercator_y(lat: np.ndarray) -> np.ndarray:
    """Latitudes → Web Mercator y in [0, 1], 0 at the north limit: the
    NumPy form of :func:`_tile_y`'s math, latitudes clamped first."""
    t = np.tan(np.radians(np.clip(lat, -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT)))
    return (1.0 - np.log(t + np.sqrt(t * t + 1.0)) / math.pi) / 2.0


def _project_ring(z: int, x: int, y: int, ring: np.ndarray, extent: int) -> np.ndarray:
    """Vectorised lon/lat ring → tile-local float coordinates (same slippy
    math as :func:`_local_coords`, unrounded)."""
    n = 2.0 ** z
    return np.column_stack((
        ((ring[:, 0] + 180.0) / 360.0 * n - x) * extent,
        (_mercator_y(ring[:, 1]) * n - y) * extent,
    ))


def geometry_tile_rings(
    wkb: bytes,
    z: int,
    x: int,
    y: int,
    extent: int | None = None,
    buffer: int = DEFAULT_TILE_BUFFER,
    simplify_tol: float = 0.0,
) -> list[list[tuple[int, int]]]:
    """Project a WKB (Multi)Polygon's actual rings into one tile: per-vertex
    slippy projection → optional Douglas–Peucker simplification → clip to
    the tile + buffer → integer snap, with MVT winding enforced (exterior
    positive shoelace area, holes negative — spec §4.3.3.2). Returns closed
    rings; an empty list means the geometry misses this tile entirely.

    This is the per-tile geometry cut the reference delegates to tippecanoe
    (``pipeline/processing/tiles.py:16-29``). Shared by the executor-side
    encoder and the correctness oracle so both see identical vertices.
    """
    from sids_data_pipeline_spark.functions import geo, mvt

    ext = extent if extent is not None else mvt.DEFAULT_EXTENT
    lo, hi = -float(buffer), float(ext + buffer)
    out: list[list[tuple[int, int]]] = []
    for poly in geo.parse_wkb(bytes(wkb)):
        poly_rings: list[list[tuple[int, int]]] = []
        exterior_alive = False
        for ri, ring in enumerate(poly):
            pts = _project_ring(z, x, y, np.asarray(ring, dtype=np.float64), ext)
            if simplify_tol > 0.0:
                pts = geo.simplify_ring(pts, simplify_tol)
            pts = geo.clip_ring_rect(pts, lo, lo, hi, hi)
            if pts.shape[0] == 0:
                if ri == 0:
                    break  # exterior gone: holes alone are meaningless
                continue
            snapped = np.rint(pts).astype(np.int64)
            # drop consecutive duplicates the integer snap introduced
            dedup = snapped[
                np.concatenate(([True], np.any(snapped[1:] != snapped[:-1], axis=1)))
            ]
            if not np.array_equal(dedup[0], dedup[-1]):
                dedup = np.vstack([dedup, dedup[:1]])
            if dedup.shape[0] < 4:
                if ri == 0:
                    break
                continue
            area = geo.ring_signed_area(dedup.astype(np.float64))
            if area == 0.0:
                if ri == 0:
                    break
                continue
            want_positive = ri == 0
            if (area > 0.0) != want_positive:
                dedup = dedup[::-1]
            if ri == 0:
                exterior_alive = True
            poly_rings.append([(int(px), int(py)) for px, py in dedup])
        if exterior_alive:
            out.extend(poly_rings)
    return out


def _make_tile_encoder(
    geometry_col: str | None,
    max_zoom: int,
    buffer: int = DEFAULT_TILE_BUFFER,
    simplify_tol: float = DEFAULT_SIMPLIFY_TOL,
    extra_keys: tuple[str, ...] = (),
):
    """Build the applyInPandas tile encoder. With ``geometry_col`` the
    feature geometry is the WKB polygon's true rings (clipped, simplified
    below ``max_zoom``); without it the legacy bbox-rectangle path applies.
    ``extra_keys`` are additional group columns re-emitted verbatim (never
    encoded as feature properties)."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        from sids_data_pipeline_spark.functions import mvt

        z, x, y = int(pdf["z"].iloc[0]), int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0])
        feat_cols = [
            c for c in pdf.columns if c not in ("z", "x", "y", *extra_keys)
        ]
        bbox = ("xmin", "ymin", "xmax", "ymax")
        has_geom = geometry_col is not None and geometry_col in feat_cols
        has_bbox = not has_geom and all(c in feat_cols for c in bbox)
        prop_cols = [
            c for c in feat_cols
            if c != geometry_col and (has_geom or c not in bbox)
        ]
        # stable sort over EVERY property column: a single non-unique
        # key under pandas' default unstable quicksort would make
        # feature order (and the pbf bytes) shuffle-dependent
        sort_keys = prop_cols if prop_cols else feat_cols
        rows = (
            pdf[feat_cols]
            .sort_values(sort_keys, kind="mergesort")
            .to_dict("records")
        )
        tol = simplify_tol if z < max_zoom else 0.0
        features = []
        for r in rows:
            if has_geom:
                rings = geometry_tile_rings(
                    r[geometry_col], z, x, y,
                    buffer=buffer, simplify_tol=tol,
                )
                if not rings:
                    continue  # bbox touched the tile but the polygon doesn't
                gtype = mvt.GEOM_POLYGON
            elif has_bbox:
                rings = [
                    _local_coords(z, x, y, r["xmin"], r["ymin"], r["xmax"],
                                  r["ymax"], mvt.DEFAULT_EXTENT)
                ]
                gtype = mvt.GEOM_POLYGON
            else:
                rings = [[(mvt.DEFAULT_EXTENT // 2, mvt.DEFAULT_EXTENT // 2)]]
                gtype = mvt.GEOM_POINT
            features.append(
                {
                    "id": len(features) + 1,  # spec: nonzero unique-in-layer id
                    "type": gtype,
                    "rings": rings,
                    # geometry/bbox columns become the rings, not properties
                    # (tippecanoe likewise doesn't duplicate geometry as
                    # attrs, and drops null attributes entirely)
                    "props": {
                        k: (v.item() if hasattr(v, "item") else v)
                        for k, v in r.items()
                        if k in prop_cols
                        and v is not None
                        and not (isinstance(v, float) and math.isnan(v))
                    },
                }
            )
        payload = mvt.encode_tile("features", features)
        row = {k: pdf[k].iloc[0] for k in extra_keys}
        row.update({"z": z, "x": x, "y": y, "pbf": payload})
        return pd.DataFrame([row])

    return encode


def encode_tiles(
    tiles: DataFrame,
    feature_cols: Iterable[str],
    geometry_col: str | None = None,
    max_zoom: int = MAX_ZOOM,
    buffer: int = DEFAULT_TILE_BUFFER,
    simplify_tol: float = DEFAULT_SIMPLIFY_TOL,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Group by tile key and encode each group to one binary payload
    (K2). applyInPandas keeps encoding executor-side; the groupBy is the
    single shuffle of the tile pipeline. Pass ``geometry_col`` (a WKB
    column) to emit true clipped polygon rings; bbox columns remain as a
    fallback for rectangle-only feeds. ``extra_keys`` (string columns,
    e.g. pair_key) scope the grouping so MANY tilesets encode in ONE
    job; they re-emit in the output, never as feature properties."""
    cols = [*extra_keys, "z", "x", "y", *feature_cols]
    encoder = _make_tile_encoder(
        geometry_col, max_zoom=max_zoom, buffer=buffer,
        simplify_tol=simplify_tol, extra_keys=tuple(extra_keys),
    )
    schema = "".join(f"{k} string, " for k in extra_keys) + (
        "z int, x int, y int, pbf binary"
    )
    return (
        tiles.select(*cols)
        .groupBy(*extra_keys, "z", "x", "y")
        .applyInPandas(encoder, schema)
    )


def tileset_rows(
    features: pd.DataFrame,
    bbox: np.ndarray,
    max_zoom: int,
    max_features_per_tile: int,
) -> list[tuple[int, int, int, bytes]]:
    """``encode_tiles(drop_densest(assign_tiles(...)))`` for ONE tileset
    held in memory, as sorted (z, x, y, pbf) rows: the slippy ranges of
    :func:`_tile_x`/:func:`_tile_y` in NumPy, the same (area desc, fid
    asc) drop order and the same encoder. ``features`` holds the encoded
    feature columns in order, WKB in ``geometry``; ``bbox`` is their
    (n, 4) xmin, ymin, xmax, ymax."""
    encode = _make_tile_encoder("geometry", max_zoom)
    xmin, ymin, xmax, ymax = bbox.T
    rank = np.lexsort((features["fid"].to_numpy(), -(xmax - xmin) * (ymax - ymin)))

    out = []
    for z in range(max_zoom + 1):
        n = 2.0 ** z
        clamp = lambda v: np.clip(v, 0, n - 1).astype(np.int64)  # noqa: E731
        x0, x1 = (clamp(np.floor((v + 180.0) / 360.0 * n)) for v in (xmin, xmax))
        y0, y1 = (clamp(np.floor(_mercator_y(v) * n)) for v in (ymax, ymin))
        kept: dict[tuple[int, int], list[int]] = {}
        for i in rank:
            for x in range(x0[i], x1[i] + 1):
                for y in range(y0[i], y1[i] + 1):
                    members = kept.setdefault((x, y), [])
                    if len(members) < max_features_per_tile:
                        members.append(i)
        for (x, y), members in sorted(kept.items()):
            pdf = features.iloc[members].assign(z=z, x=x, y=y)
            out.append((z, x, y, encode(pdf)["pbf"].iloc[0]))
    return out


def tileset_metadata(
    name: str,
    max_zoom: int = MAX_ZOOM,
    min_zoom: int = 0,
    bounds: tuple[float, float, float, float] | None = None,
    layer: str = "features",
    fields: dict[str, str] | None = None,
) -> dict:
    """Tippecanoe-compatible ``metadata.json`` payload (the fields map
    clients/tile servers read from tippecanoe output — reference
    pipeline/processing/data.py:33-35 uploads that file verbatim):
    name/format/min-maxzoom, ``bounds`` as the CSV "w,s,e,n" string,
    ``center`` at the midpoint, and the ``json`` key holding
    ``vector_layers`` so downstream map clients can introspect the layer
    and its attribute types without decoding a tile."""
    meta: dict = {
        "name": name,
        "format": "pbf",
        "minzoom": str(min_zoom),
        "maxzoom": str(max_zoom),
        "type": "overlay",
    }
    if bounds is not None:
        w, s, e, n = bounds
        meta["bounds"] = f"{w},{s},{e},{n}"
        meta["center"] = f"{(w + e) / 2},{(s + n) / 2},{min_zoom}"
    meta["json"] = json.dumps(
        {
            "vector_layers": [
                {
                    "id": layer,
                    "minzoom": min_zoom,
                    "maxzoom": max_zoom,
                    "fields": fields or {},
                }
            ]
        },
        separators=(",", ":"),
    )
    return meta


def write_tileset(
    tiles: DataFrame,
    path: str,
    name: str,
    max_zoom: int = MAX_ZOOM,
    mode: str = "overwrite",
    min_zoom: int = 0,
    bounds: tuple[float, float, float, float] | None = None,
    fields: dict[str, str] | None = None,
) -> None:
    """Write the (z, x, y, pbf) table partitioned by z/x — the storage
    analogue of tippecanoe's directory pyramid — then drop the
    ``metadata.json`` completion marker the incremental skip (P6) probes,
    mirroring reference data.py:33-35. The marker carries the
    tippecanoe-compatible fields (:func:`tileset_metadata`) so map
    clients can consume the directory unchanged."""
    tiles.write.mode(mode).partitionBy("z", "x").parquet(path)
    meta = tileset_metadata(
        name, max_zoom=max_zoom, min_zoom=min_zoom, bounds=bounds,
        fields=fields,
    )
    from sids_data_pipeline_spark.sources.storage import fs_write_text

    # leading underscore: Spark data-source listings ignore _*/.* files,
    # so the marker coexists with the parquet parts (like _SUCCESS)
    fs_write_text(
        tiles.sparkSession,
        os.path.join(path, "_tileset_metadata.json"),
        json.dumps(meta, separators=(",", ":")),
    )


def read_tileset(spark: SparkSession, path: str) -> DataFrame:
    """Read a tileset back; partition pruning serves single-tile lookups
    (``WHERE z = .. AND x = ..`` touches one directory)."""
    return spark.read.parquet(path)


def tileset_markers(out_dir: str) -> set[str]:
    """Pair keys under ``out_dir`` whose tileset marker exists, from ONE
    listing — local glob or a single Hadoop ``globStatus`` call — instead
    of one existence probe per pair. The P6 lost-ledger heal scan stays
    O(1) filesystem round-trips no matter how many pairs the estate
    holds (reference data.py:26-40 probes per pair because its shell
    loop is already per-pair; at 10⁵ pairs one listing wins)."""
    from sids_data_pipeline_spark.sources.storage import hadoop_glob

    if "://" in out_dir:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("tileset_markers(URI) needs an active SparkSession")
        # Hadoop glob metachars in the literal prefix are escaped with
        # backslash (the Hadoop GlobPattern convention)
        prefix = _re.sub(r"([\[\]{}?*\\])", r"\\\1", out_dir)
    else:
        import glob as globmod

        spark = None
        prefix = globmod.escape(out_dir)
    pattern = os.path.join(prefix, "*", "tiles", "_tileset_metadata.json")
    paths = hadoop_glob(spark, pattern)
    return {
        os.path.basename(os.path.dirname(os.path.dirname(p))) for p in paths
    }


def tileset_complete(path: str) -> bool:
    """P6 existence probe (reference data.py:33-35) — Hadoop FS for
    remote URIs, os.path locally."""
    marker = os.path.join(path, "_tileset_metadata.json")
    if "://" in marker:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("tileset_complete(URI) needs an active SparkSession")
        hpath = spark._jvm.org.apache.hadoop.fs.Path(marker)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.exists(hpath)
    return os.path.exists(marker)
