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
- **PBF encode** is one per-tile encoder, :func:`encode_tile`: a tile's
  features in layer order → their true clipped polygon rings → REAL
  Mapbox Vector Tile (vector-tile-spec 2.1) protobuf bytes via the
  pure-Python codec in ``functions/mvt.py`` — no native libs needed on
  executors. :func:`encode_tiles` calls it per tile group in
  ``applyInPandas``. Tests decode the bytes back and assert feature
  content; byte-parity with tippecanoe is not a goal (SURVEY.md §7).
- **upload (K3)** is the write itself: ``partitionBy(z, x)`` to any
  Hadoop-supported URI; the ``_tileset_metadata.json`` sidecar
  (:func:`write_tileset_marker`) completes the P6 loop. It is written
  and probed through ``sources/storage`` (local disk or ``pyarrow.fs``),
  so its URI must be one pyarrow opens.
- **one tileset in memory** (:func:`tileset_rows`) runs the same three
  steps without Spark, for the Entry-1 pipeline's per-pair Arrow task:
  NumPy tile assignment and drop, then :func:`encode_tile` per tile.
"""

from __future__ import annotations

import glob
import json
import math
import os
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sids_data_pipeline_spark.sources.storage import exists, list_files, write_bytes

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
# a tileset directory's completion marker (P6)
MARKER = "_tileset_metadata.json"


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


def _mercator_y(lat: np.ndarray) -> np.ndarray:
    """Latitudes → Web Mercator y in [0, 1], 0 at the north limit: the
    NumPy form of :func:`_tile_y`'s math, latitudes clamped first."""
    t = np.tan(np.radians(np.clip(lat, -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT)))
    return (1.0 - np.log(t + np.sqrt(t * t + 1.0)) / math.pi) / 2.0


def _project_ring(z: int, x: int, y: int, ring: np.ndarray, extent: int) -> np.ndarray:
    """Vectorised lon/lat ring → tile-local float coordinates: the slippy
    math of :func:`_tile_x`/:func:`_tile_y`, unrounded."""
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


def _props(record: dict) -> dict:
    """A feature's MVT properties from its non-geometry columns: null
    and NaN values drop (tippecanoe drops null attributes entirely) and
    NumPy scalars unbox."""
    return {
        k: (v.item() if hasattr(v, "item") else v)
        for k, v in record.items()
        if v is not None and not (isinstance(v, float) and math.isnan(v))
    }


def encode_tile(
    z: int,
    x: int,
    y: int,
    features: Iterable[tuple[bytes, dict]],
    max_zoom: int = MAX_ZOOM,
    buffer: int = DEFAULT_TILE_BUFFER,
    simplify_tol: float = DEFAULT_SIMPLIFY_TOL,
) -> bytes:
    """One tile's MVT bytes from its ``(wkb, props)`` features in layer
    order: each polygon's true rings (:func:`geometry_tile_rings`,
    simplified only below ``max_zoom``), ids 1..n in that order. A
    feature whose polygon misses the tile (its bbox only touched it) is
    left out, so a tile every polygon misses encodes an empty layer."""
    from sids_data_pipeline_spark.functions import mvt

    tol = simplify_tol if z < max_zoom else 0.0
    layer = []
    for wkb, props in features:
        rings = geometry_tile_rings(wkb, z, x, y, buffer=buffer, simplify_tol=tol)
        if rings:
            # spec: nonzero unique-in-layer id
            layer.append({"id": len(layer) + 1, "type": mvt.GEOM_POLYGON,
                          "rings": rings, "props": props})
    return mvt.encode_tile("features", layer)


def encode_tiles(
    tiles: DataFrame,
    feature_cols: Iterable[str],
    geometry_col: str = "geometry",
    max_zoom: int = MAX_ZOOM,
    buffer: int = DEFAULT_TILE_BUFFER,
    simplify_tol: float = DEFAULT_SIMPLIFY_TOL,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Group by tile key and encode each group to one binary payload
    (K2) with :func:`encode_tile`. applyInPandas keeps encoding
    executor-side; the groupBy is the single shuffle of the tile
    pipeline. ``geometry_col`` (WKB, among ``feature_cols``) becomes the
    clipped polygon rings and every other feature column a property.
    ``extra_keys`` (string columns, e.g. pair_key) scope the grouping so
    MANY tilesets encode in ONE job; they re-emit in the output, never
    as feature properties."""
    extra_keys = tuple(extra_keys)

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = (int(pdf[k].iloc[0]) for k in ("z", "x", "y"))
        prop_cols = [
            c for c in pdf.columns
            if c not in (*extra_keys, "z", "x", "y", geometry_col)
        ]
        # stable sort over EVERY property column: a single non-unique
        # key under pandas' default unstable quicksort would make
        # feature order (and the pbf bytes) shuffle-dependent
        pdf = pdf.sort_values(prop_cols or [geometry_col], kind="mergesort")
        records = pdf[[*prop_cols, geometry_col]].to_dict("records")
        pbf = encode_tile(
            z, x, y, ((r.pop(geometry_col), _props(r)) for r in records),
            max_zoom, buffer, simplify_tol,
        )
        row = {k: pdf[k].iloc[0] for k in extra_keys}
        return pd.DataFrame([{**row, "z": z, "x": x, "y": y, "pbf": pbf}])

    schema = "".join(f"{k} string, " for k in extra_keys) + (
        "z int, x int, y int, pbf binary"
    )
    return (
        tiles.select(*extra_keys, "z", "x", "y", *feature_cols)
        .groupBy(*extra_keys, "z", "x", "y")
        .applyInPandas(encode, schema)
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
    asc) drop order and the same :func:`encode_tile`. ``features`` holds
    the encoded feature columns in order, WKB in ``geometry``; ``bbox``
    is their (n, 4) xmin, ymin, xmax, ymax."""
    attrs = features.drop(columns="geometry").reset_index(drop=True)
    wkbs = features["geometry"].tolist()
    props = [_props(r) for r in attrs.to_dict("records")]
    xmin, ymin, xmax, ymax = bbox.T
    rank = np.lexsort((attrs["fid"].to_numpy(), -(xmax - xmin) * (ymax - ymin)))
    # the layer order of every tile, fixed once: encode_tiles' stable
    # property sort of the rank-ordered rows, so a tile's members sorted
    # by it keep rank order among ties, NaN last
    layer = attrs.iloc[rank].sort_values(list(attrs.columns), kind="mergesort").index
    position = np.argsort(layer.to_numpy())  # row → its place in that order

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
            members.sort(key=position.__getitem__)
            out.append((z, x, y, encode_tile(
                z, x, y, ((wkbs[i], props[i]) for i in members), max_zoom
            )))
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


def write_tileset_marker(path: str, name: str, **metadata) -> None:
    """Write the tileset directory ``path``'s completion marker (P6):
    the tippecanoe-compatible :func:`tileset_metadata` of ``name`` and
    the ``metadata`` keywords. Its leading underscore keeps it out of Spark data-source
    listings (like _SUCCESS), so it coexists with the parquet parts; it
    goes through the storage client that :func:`tileset_complete` and
    :func:`tileset_markers` probe with."""
    meta = tileset_metadata(name, **metadata)
    write_bytes(
        os.path.join(path, MARKER),
        json.dumps(meta, separators=(",", ":")).encode("utf-8"),
    )


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
    write_tileset_marker(
        path, name, max_zoom=max_zoom, min_zoom=min_zoom, bounds=bounds,
        fields=fields,
    )


def read_tileset(spark: SparkSession, path: str) -> DataFrame:
    """Read a tileset back; partition pruning serves single-tile lookups
    (``WHERE z = .. AND x = ..`` touches one directory)."""
    return spark.read.parquet(path)


def tileset_markers(out_dir: str) -> set[str]:
    """Pair keys under ``out_dir`` whose tileset marker exists, from ONE
    :func:`storage.list_files` listing instead of one existence probe
    per pair. The P6 lost-ledger heal scan stays O(1) filesystem
    round-trips no matter how many pairs the estate holds (reference
    data.py:26-40 probes per pair because its shell loop is already
    per-pair; at 10⁵ pairs one listing wins)."""
    pattern = os.path.join(glob.escape(out_dir), "*", "tiles", MARKER)
    return {
        os.path.basename(os.path.dirname(os.path.dirname(p)))
        for p in list_files(pattern)
    }


def tileset_complete(path: str) -> bool:
    """P6 existence probe (reference data.py:33-35)."""
    return exists(os.path.join(path, MARKER))
