"""Zonal statistics — the engine's signature operator.

Re-expresses the reference's semantic core (reference
``pipeline/processing/stats.py:5-18``):

    SELECT a.fid, AVG(b.val) AS mean
    FROM {vector} a LEFT JOIN {raster} b ON ST_Intersects(a.geom, b.geom)
    GROUP BY a.fid ORDER BY a.fid

as a Spark plan: spatial filter-and-refine join → groupBy aggregation
over every zone × raster (NULL stats for zones with no pixels — LEFT-join
semantics of stats.py:11) → orderBy (stats.py:17).

One spatial join, whose branch follows from the zone count read by one
bounded collect (all branches property-tested equal):

- up to ``BROADCAST_ZONE_LIMIT`` zones — dimension-sized (admin
  boundaries; the reference broadcasts them implicitly by importing
  vectors once and streaming rasters past them,
  ``pipeline/processing/__main__.py:13-23``). Pixels never shuffle before
  the (tiny) per-fid aggregate.

  - When any zone is not a hole-free axis-aligned rectangle, one
    ``mapInArrow`` kernel runs over the pixel frame. The driver builds a
    zone index from the collected rows (parsed polygons, bboxes, rect
    flags and a (cx, cy) grid-cell → zones map) and broadcasts it; the
    kernel looks each pixel's cell up (O(candidates) per pixel, not
    O(zones)), applies the bbox prefilter and the NumPy ray-casting
    test, and emits the matches. For ``zonal_stats`` the same pass also
    emits the zone × raster universe as ``val = NULL`` rows, so every
    raster is decoded once and no join builds the universe.
  - When every zone is a rectangle, the zone-cell table broadcasts and
    pixels probe it with a BroadcastHashJoin on the cell key, refined by
    the half-open bbox test — all in whole-stage codegen, no Python
    worker.

- above it — the 100 TB path where zones are also large. Each zone
  explodes to the cells its bbox covers on the executors, and the join on
  the cell key runs as a shuffled hash join with AQE skew splitting — the
  Spark analogue of the reference's GIST index probe
  (``pipeline/processing/inputs.py:16``). Aggregation is two-level
  (partial per cell, final per fid) and pixels shuffle once.

Semantics (SURVEY.md §7): pixel-weighted statistics with the pixel-center
containment convention (rasterstats/GDAL standard), diverging deliberately
from the reference's ST_DumpAsPolygons region weighting; NULL pixels
(nodata) are ignored by the aggregates, zones intersecting nothing keep a
NULL stat.
"""

from __future__ import annotations

import logging
from typing import NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType
from pyspark.storagelevel import StorageLevel

from sids_data_pipeline_spark.lifecycle import track

from sids_data_pipeline_spark.functions import geo

_LOG = logging.getLogger(__name__)

# Max zone rows spatial_join collects to the driver for its broadcast
# branch; above it the join runs distributed. 10⁵ admin-boundary
# geometries ≈ low hundreds of MB — safely inside driver memory; anything
# bigger is not a dimension table.
BROADCAST_ZONE_LIMIT = 100_000

SUPPORTED_STATS = ("mean", "count", "sum", "min", "max", "stddev", "median")

_STAT_EXPRS = {
    "mean": lambda: F.avg("val"),
    "count": lambda: F.count("val"),
    "sum": lambda: F.sum("val"),
    "min": lambda: F.min("val"),
    "max": lambda: F.max("val"),
    "stddev": lambda: F.stddev("val"),
    # exact interpolated median (sort-based → partitioning-independent)
    "median": lambda: F.expr("percentile(val, 0.5)"),
}


@F.pandas_udf(BooleanType())
def _contains_udf(wkb: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Exact point-in-polygon refinement, vectorised per distinct geometry.

    Each Arrow batch typically holds few distinct zones × many pixels, so
    we parse every WKB once and run the numpy ray-casting kernel on the
    contiguous slice of pixels that carries it — the Spark equivalent of
    PostGIS evaluating ST_Intersects inside an index nested loop.
    """
    out = np.zeros(len(wkb), dtype=bool)
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    codes, uniques = pd.factorize(wkb)
    for gi, gwkb in enumerate(uniques):
        mask = codes == gi
        polys = geo.parse_wkb(bytes(gwkb))
        out[mask] = geo.points_in_polygons(polys, lon_v[mask], lat_v[mask])
    return pd.Series(out)


def _zone_bboxes(zones: DataFrame) -> DataFrame:
    """Attach bbox + rectangle-flag columns to zones (computed once,
    distributed). ``_is_rect`` marks hole-free axis-aligned rectangles,
    whose containment is a pure-column half-open bbox test (geo.wkb_rect)."""

    @F.pandas_udf(
        "xmin double, ymin double, xmax double, ymax double, is_rect boolean"
    )
    def bbox_udf(wkb: pd.Series) -> pd.DataFrame:
        rows = []
        for b in wkb:
            polys = geo.parse_wkb(bytes(b))  # parse once: bbox + rect flag
            rows.append(geo.polys_bbox(polys) + (geo.polys_rect(polys) is not None,))
        return pd.DataFrame(
            rows, columns=["xmin", "ymin", "xmax", "ymax", "is_rect"]
        )

    return (
        zones.withColumn("bbox", bbox_udf("geometry"))
        .select("*", "bbox.*")
        .drop("bbox")
        .withColumnRenamed("is_rect", "_is_rect")
    )


def _pixel_cells(pixels: DataFrame, cell: float) -> DataFrame:
    """Attach the coarse grid-cell key each pixel CENTER falls in — the
    probe side of every zonal equi-join (one key per pixel, so a
    (pixel, zone) pair can join at most once: no dedup needed)."""
    return pixels.withColumn(
        "_cx", F.floor(F.col("lon") / cell).cast("long")
    ).withColumn("_cy", F.floor(F.col("lat") / cell).cast("long"))


def _explode_bbox_cells(df: DataFrame, cell: float, pad: float) -> DataFrame:
    """Explode each zone bbox (columns xmin/ymin/xmax/ymax) to the grid
    cells it covers, padded by ``pad`` (the pixel half-width) so that any
    pixel whose CELL — not just its center — can overlap the zone lands
    in a covered grid cell. floor() is monotone, so lon ∈ [xmin-pad,
    xmax+pad] ⇒ floor(lon/cell) ∈ [floor((xmin-pad)/cell),
    floor((xmax+pad)/cell)]: the candidate set is a superset of every
    pair with nonzero overlap, and the weight/bbox refinement discards
    the rest exactly as the old cross-join formulation did."""
    return df.withColumn(
        "_cx",
        F.explode(
            F.sequence(
                F.floor((F.col("xmin") - pad) / cell).cast("long"),
                F.floor((F.col("xmax") + pad) / cell).cast("long"),
            )
        ),
    ).withColumn(
        "_cy",
        F.explode(
            F.sequence(
                F.floor((F.col("ymin") - pad) / cell).cast("long"),
                F.floor((F.col("ymax") + pad) / cell).cast("long"),
            )
        ),
    )


def _in_rect() -> Column:
    """Half-open pixel-center-in-bbox test. For a hole-free axis-aligned
    rectangle (geo.wkb_rect) it is exactly the ray-casting kernel's
    answer, evaluated in whole-stage codegen."""
    return (
        (F.col("lon") >= F.col("xmin"))
        & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin"))
        & (F.col("lat") < F.col("ymax"))
    )


def _in_bbox() -> Column:
    """Closed bbox prefilter ahead of the exact containment kernel."""
    return (
        F.col("lon").between(F.col("xmin"), F.col("xmax"))
        & F.col("lat").between(F.col("ymin"), F.col("ymax"))
    )


class _ZoneIndex(NamedTuple):
    """The collected zones of the broadcast branch: per zone its keys,
    parsed polygons, bbox and rect flag, and the (cx, cy) grid cells
    every zone bbox covers → the indices of those zones."""

    vector_id: list
    fid: list
    polys: list
    bbox: np.ndarray  # (n, 4) xmin, ymin, xmax, ymax
    rect: np.ndarray  # (n,) bool: hole-free axis-aligned rectangle
    cells: dict


def _zone_index(zones: DataFrame, cell: float) -> _ZoneIndex | None:
    """The bounded zone collect: the index of at most
    BROADCAST_ZONE_LIMIT zones (broadcast branch), or None above it
    (distributed branch). The limit caps driver memory AND is the
    zone-count probe — no separate count job."""
    rows = (
        zones.select("vector_id", "fid", "geometry")
        .limit(BROADCAST_ZONE_LIMIT + 1)
        .collect()
    )
    if len(rows) > BROADCAST_ZONE_LIMIT:
        _LOG.info(
            "spatial_join: more than %d zones, distributed branch",
            BROADCAST_ZONE_LIMIT,
        )
        return None
    _LOG.info("spatial_join: %d zones, broadcast branch", len(rows))
    polys, bbox, rect, cells = [], [], [], {}
    for z, r in enumerate(rows):
        p = geo.parse_wkb(bytes(r.geometry))  # parse once: bbox + rect flag
        xmin, ymin, xmax, ymax = geo.polys_bbox(p)
        polys.append(p)
        bbox.append((xmin, ymin, xmax, ymax))
        rect.append(geo.polys_rect(p) is not None)
        # the same floor(coord / cell) rule as _pixel_cells
        for cx in range(int(np.floor(xmin / cell)), int(np.floor(xmax / cell)) + 1):
            for cy in range(int(np.floor(ymin / cell)), int(np.floor(ymax / cell)) + 1):
                cells.setdefault((cx, cy), []).append(z)
    return _ZoneIndex(
        [r.vector_id for r in rows],
        [r.fid for r in rows],
        polys,
        np.array(bbox, dtype=np.float64).reshape(-1, 4),
        np.array(rect, dtype=bool),
        cells,
    )


def _rect_spatial_join(index: _ZoneIndex, pixels: DataFrame, cell: float) -> DataFrame:
    """Broadcast branch for all-rectangle zones: the zone-cell table
    broadcasts, pixels probe it with a BroadcastHashJoin on the cell key
    and the half-open bbox test refines — the whole join stays in
    whole-stage codegen, with no Arrow transfer and no Python worker."""
    zc = pixels.sparkSession.createDataFrame(
        pd.DataFrame(
            [
                (index.vector_id[z], index.fid[z], cx, cy, *index.bbox[z])
                for (cx, cy), zs in index.cells.items()
                for z in zs
            ],
            columns=["vector_id", "fid", "_cx", "_cy", "xmin", "ymin", "xmax", "ymax"],
        ),
        "vector_id string, fid long, _cx long, _cy long, "
        "xmin double, ymin double, xmax double, ymax double",
    ).coalesce(1)
    return (
        _pixel_cells(pixels, cell)
        .join(F.broadcast(zc), ["_cx", "_cy"], "inner")
        .filter(_in_rect())
        .drop("xmin", "ymin", "xmax", "ymax", "_cx", "_cy")
    )


def _match_points(
    index: _ZoneIndex, lon: np.ndarray, lat: np.ndarray, cell: float
) -> tuple[np.ndarray, np.ndarray]:
    """(row, zone) index pairs of the points whose coordinates fall
    inside a zone, ordered by row. Candidates come from each point's
    ``floor(coord / cell)`` key in ``index.cells``, so the cost per point
    is O(candidates), not O(zones); a rectangle zone refines with the
    half-open rule of :func:`_in_rect`, any other with the closed bbox
    prefilter and the ray-casting kernel. Rows with a NULL (NaN) or
    infinite coordinate match nothing."""
    ok = np.flatnonzero(np.isfinite(lon) & np.isfinite(lat))
    x, y = lon[ok], lat[ok]
    cx = np.floor(x / cell).astype(np.int64)
    cy = np.floor(y / cell).astype(np.int64)
    order = np.lexsort((cy, cx))  # stable: rows ascend within a cell
    scx, scy = cx[order], cy[order]
    brk = np.flatnonzero((scx[1:] != scx[:-1]) | (scy[1:] != scy[:-1])) + 1
    by_zone: dict[int, list] = {}
    for s, e in zip(np.r_[0, brk], np.r_[brk, len(order)]):
        if s == e:
            continue
        for z in index.cells.get((int(scx[s]), int(scy[s])), ()):
            by_zone.setdefault(z, []).append(order[s:e])
    rows, zs = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for z, parts in by_zone.items():
        p = np.concatenate(parts)
        px, py = x[p], y[p]
        x0, y0, x1, y1 = index.bbox[z]
        if index.rect[z]:
            hit = (px >= x0) & (px < x1) & (py >= y0) & (py < y1)
        else:
            hit = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            hit[hit] = geo.points_in_polygons(index.polys[z], px[hit], py[hit])
        rows.append(ok[p[hit]])
        zs.append(np.full(int(hit.sum()), z, dtype=np.int64))
    rows, zs = np.concatenate(rows), np.concatenate(zs)
    o = np.argsort(rows, kind="stable")
    return rows[o], zs[o]


def _kernel_spatial_join(
    index: _ZoneIndex, zones: DataFrame, pixels: DataFrame, cell: float,
    universe: bool = False,
) -> DataFrame:
    """Broadcast branch with any non-rectangle zone: one mapInArrow
    kernel over the pixel frame, with the zone index shipped as a
    broadcast variable. Each batch yields its matched rows (the pixel
    columns plus the zone's vector_id, fid) in input order. With
    ``universe``, each task ends with one row per zone × raster_id it
    saw, NULL in every other pixel column."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    spark = pixels.sparkSession
    out = StructType(
        [StructField(f.name, f.dataType, f.nullable or universe) for f in pixels.schema]
        + [
            StructField("vector_id", zones.schema["vector_id"].dataType),
            StructField("fid", zones.schema["fid"].dataType),
        ]
    )
    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes", "false")
    schema = to_arrow_schema(out, prefers_large_types=large.lower() == "true")
    index_bc = spark.sparkContext.broadcast(index)

    def kernel(batches):
        import pyarrow as pa

        idx = index_bc.value
        vid = pa.array(idx.vector_id, schema.field("vector_id").type)
        fid = pa.array(idx.fid, schema.field("fid").type)
        seen: dict = {}
        for batch in batches:
            lon = np.asarray(batch.column("lon").to_numpy(zero_copy_only=False), np.float64)
            if universe:
                rid = batch.column("raster_id")
                seen.update(dict.fromkeys(rid.unique().to_pylist()))
                if rid.null_count:
                    # as in the universe join, a NULL raster_id meets no
                    # (zone, raster) row: its zones keep NULL stats
                    lon = np.where(rid.is_null().to_numpy(zero_copy_only=False), np.nan, lon)
            rows, zs = _match_points(
                idx,
                lon,
                np.asarray(batch.column("lat").to_numpy(zero_copy_only=False), np.float64),
                cell,
            )
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    [*batch.take(pa.array(rows)).columns, vid.take(zs), fid.take(zs)],
                    schema=schema,
                )
        n = len(vid)
        for rid in seen:
            cols = {
                "raster_id": pa.repeat(pa.scalar(rid, schema.field("raster_id").type), n),
                "vector_id": vid,
                "fid": fid,
            }
            yield pa.RecordBatch.from_arrays(
                [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in schema],
                schema=schema,
            )

    return pixels.mapInArrow(kernel, out)


def _distributed_spatial_join(
    zones: DataFrame, pixels: DataFrame, cell: float
) -> DataFrame:
    """Distributed branch: zone bboxes are computed on the executors, the
    exploded zone-cell table joins the pixel cell keys in a shuffled hash
    join (AQE splits skewed cells), and nothing is collected."""
    joined = _pixel_cells(pixels, cell).join(
        _explode_bbox_cells(_zone_bboxes(zones), cell, pad=0.0),
        ["_cx", "_cy"],
        "inner",
    )
    # Drop the zone payload (name + the heavy WKB blob) so downstream
    # plans don't carry geometry bytes through shuffles.
    drop_cols = (
        "xmin", "ymin", "xmax", "ymax", "_cx", "_cy", "_is_rect",
        "name", "geometry",
    )
    # Rectangle zones refine with the half-open bbox predicate inside
    # whole-stage codegen; only non-rectangle candidates pay the Arrow
    # transfer of (geometry, lon, lat) into the Python kernel. The two
    # branches share the same shuffle exchanges (ReusedExchange), so
    # pixels still shuffle once.
    rect = joined.filter(F.col("_is_rect") & _in_rect()).drop(*drop_cols)
    poly = (
        joined.filter(~F.col("_is_rect") & _in_bbox())
        .filter(_contains_udf("geometry", "lon", "lat"))
        .drop(*drop_cols)
    )
    return rect.unionByName(poly)


def spatial_join(
    zones: DataFrame,
    pixels: DataFrame,
    cell_deg: float = 0.5,
) -> DataFrame:
    """Inner spatial join: pixel rows × zone keys where the pixel center
    falls inside the zone geometry (J1 filter-and-refine). Returns the
    pixel columns plus (vector_id, fid).

    Candidates come from a grid-cell key (never a nested loop over
    zones): each pixel's ``floor(coord / cell_deg)`` cell meets the cells
    a zone's bbox covers, and a bbox test plus the exact containment test
    refine them. The branch follows from the zone count, read by one
    bounded collect while the plan is built:

    - up to BROADCAST_ZONE_LIMIT zones, pixels never shuffle. When every
      zone is an axis-aligned rectangle, pixels probe the broadcast
      zone-cell table in a BroadcastHashJoin refined by the half-open
      bbox test, all in codegen. Otherwise one mapInArrow kernel over the
      pixel frame looks the cell up in a broadcast (cx, cy) → zones map
      and refines in NumPy.
    - above it, both sides shuffle on the cell key, with zones
      distributed.
    """
    cell = float(cell_deg)
    index = _zone_index(zones, cell)
    if index is None:
        return _distributed_spatial_join(zones, pixels, cell)
    if index.rect.all():
        return _rect_spatial_join(index, pixels, cell)
    return _kernel_spatial_join(index, zones, pixels, cell)


def zonal_stats(
    zones: DataFrame,
    pixels: DataFrame,
    stats: Sequence[str] = ("mean",),
    cell_deg: float = 0.5,
) -> DataFrame:
    """Zonal statistics per (vector_id, raster_id, fid).

    Natural superset of the reference (which computes only AVG,
    stats.py:14): any subset of SUPPORTED_STATS, ordered by key
    (stats.py:17 ORDER BY). Every zone × every raster_id of ``pixels``
    is a row (LEFT-join semantics, stats.py:11): a zone no pixel centre
    falls in gets NULL stats and ``count`` 0 (rasterstats/GDAL).

    With any non-rectangle zone at or under BROADCAST_ZONE_LIMIT, that
    universe comes from the match kernel itself: each task also emits a
    ``val = NULL`` row per zone × raster_id it saw, which every
    aggregate ignores, so the pixel frame is read once and nothing is
    persisted. Otherwise the matches are left-joined to the cross
    product of the zone keys and the distinct raster_ids.
    """
    for s in stats:
        if s not in _STAT_EXPRS:
            raise ValueError(f"unsupported stat {s!r}; choose from {SUPPORTED_STATS}")
    aggs: list[Column] = [_STAT_EXPRS[s]().alias(s) for s in stats]
    keys = ["vector_id", "raster_id", "fid"]
    cell = float(cell_deg)
    index = _zone_index(zones, cell)
    if index is None:
        # zones feed the join and the universe: persist so an expensive
        # zone source materializes once per job
        zones = track(zones.persist(StorageLevel.MEMORY_AND_DISK))
        matched = _distributed_spatial_join(zones, pixels, cell)
        zone_keys = zones.select("vector_id", "fid")
    elif index.rect.all():
        matched = _rect_spatial_join(index, pixels, cell)
        # the zone keys are on the driver already
        zone_keys = pixels.sparkSession.createDataFrame(
            pd.DataFrame({"vector_id": index.vector_id, "fid": index.fid}),
            zones.select("vector_id", "fid").schema,
        )
    else:
        matched = _kernel_spatial_join(
            index, zones, pixels.select("raster_id", "lon", "lat", "val"), cell,
            universe=True,
        )
        return matched.groupBy(*keys).agg(*aggs).orderBy(*keys)
    per_zone = matched.groupBy(*keys).agg(*aggs)
    # Re-attach to the full zone x raster universe (J2 equi left join,
    # reference vector.py:9-12) so zones with no intersecting pixels
    # surface with NULLs. raster list is tiny → broadcast cross join.
    rasters = pixels.select("raster_id").distinct()
    out = zone_keys.crossJoin(F.broadcast(rasters)).join(per_zone, keys, "left")
    if "count" in stats:
        out = out.withColumn("count", F.coalesce(F.col("count"), F.lit(0)))
    return out.orderBy(*keys)


def _collect_rects(zones: DataFrame, op_name: str):
    """Driver-side rect extraction shared by the weighted/touched rect
    operators (dimension-sized zones, same contract as spatial_join's
    broadcast branch): (fid, xmin, ymin, xmax, ymax) rows, raising on any
    non-rectangle geometry. Bounded collect (BROADCAST_ZONE_LIMIT) —
    larger zone tables belong to the distributed clip-kernel path
    (:func:`zonal_weighted`), which never collects."""
    rows = (
        zones.select("fid", "geometry")
        .limit(BROADCAST_ZONE_LIMIT + 1)
        .collect()
    )
    if len(rows) > BROADCAST_ZONE_LIMIT:
        raise ValueError(
            f"{op_name}: > {BROADCAST_ZONE_LIMIT} zones; use "
            "zonal_weighted (distributed grid path, no driver collect)"
        )
    rects = []
    for r in rows:
        rect = geo.wkb_rect(bytes(r.geometry))
        if rect is None:
            raise ValueError(
                f"{op_name}: zone fid={r.fid} is not an axis-aligned "
                "rectangle; use the clip kernel path (zonal_weighted)"
            )
        rects.append((r.fid, *[float(v) for v in rect]))
    return zones.sparkSession.createDataFrame(
        rects, "fid long, xmin double, ymin double, xmax double, ymax double"
    )


def _overlap_w_e6(pixel_deg: float) -> Column:
    """Closed-form pixel-cell ∩ rect overlap weight in integer ppm of a
    cell — THE weight expression of the rect zonal family (weighted
    aggregate, all_touched predicate, and both generated SQL oracles
    mirror it term for term)."""
    h = pixel_deg / 2.0
    inv = 1e6 / (pixel_deg * pixel_deg)
    wx = F.greatest(
        F.lit(0.0),
        F.least(F.col("xmax"), F.col("lon") + h)
        - F.greatest(F.col("xmin"), F.col("lon") - h),
    )
    wy = F.greatest(
        F.lit(0.0),
        F.least(F.col("ymax"), F.col("lat") + h)
        - F.greatest(F.col("ymin"), F.col("lat") - h),
    )
    return F.round(wx * wy * F.lit(inv), 0).cast("long")


def zonal_weighted_rects(
    zones: DataFrame,
    pixels: DataFrame,
    pixel_deg: float = 0.1,
    cell_deg: float = 0.5,
) -> DataFrame:
    """REGION-WEIGHTED zonal mean for axis-aligned rectangle zones — the
    reference's ST_DumpAsPolygons area-weighting semantics (reference
    pipeline/processing/stats.py:8-16), which the pixel-center
    :func:`zonal_stats` deliberately approximates (SURVEY.md §7). For
    rectangles the pixel-cell ∩ zone overlap is the closed-form interval
    product, so the ENTIRE weighted aggregate stays in whole-stage
    codegen — no Python kernel at all.

    Exactness: per-pixel weight rounds to integer ppm-of-a-cell
    (``w_e6`` ∈ [0, 1e6]) and the value to cents BEFORE the weighted
    sum, so numerator and denominator are exact BIGINTs and the final
    mean is ONE deterministic double division (plans/base.py policy).
    int64 bound: w_e6·val_cents ≤ 1e6·|val|·100 — fine through ~9e10
    cents; at larger magnitudes move the products to DECIMAL(38,0).

    Scale shape: zones are dimension-sized (same contract as
    spatial_join's broadcast branch) → the rects explode to padded grid cells and
    pixels probe them with a Broadcast HASH join on the cell key (the
    same shape as that branch — per-pixel cost is
    O(1), not O(|zones|) as the former cross-join-with-filter BNLJ
    was); pixels never shuffle; the aggregate is map-side combined on
    the tiny fid key.

    Output: (fid, w_e6_sum, wmean_cents) — empty zones keep NULLs.
    """
    rect_df = _collect_rects(zones, "zonal_weighted_rects")
    h = pixel_deg / 2.0
    rc = _explode_bbox_cells(rect_df, float(cell_deg), h)
    w_e6 = _overlap_w_e6(pixel_deg)
    val_cents = F.round(F.col("val") * 100, 0).cast("long")
    weighted = (
        _pixel_cells(pixels, float(cell_deg))
        .join(F.broadcast(rc), ["_cx", "_cy"], "inner")
        .withColumn("_w", w_e6)
        .filter(F.col("_w") > 0)
        .withColumn("_vc", val_cents)
    )
    agg = weighted.groupBy("fid").agg(
        F.sum("_w").alias("w_e6_sum"),
        F.round(
            F.sum(F.col("_w") * F.col("_vc")).cast("double") / F.sum("_w"), 0
        )
        .cast("long")
        .alias("wmean_cents"),
    )
    return (
        rect_df.select("fid")
        .join(agg, "fid", "left")
        .orderBy("fid")
    )


def zonal_weighted(
    zones: DataFrame,
    pixels: DataFrame,
    pixel_deg: float = 0.1,
    cell_deg: float = 0.5,
) -> DataFrame:
    """Region-weighted zonal mean for ARBITRARY (Multi)Polygon zones:
    per-pixel weight = area(cell ∩ zone) / cell area via the
    Sutherland–Hodgman clip kernel (geo.clip_ring_box_area2). Same
    output contract as :func:`zonal_weighted_rects` — (fid, w_e6_sum,
    wmean_cents) — and identical results on rectangle zones
    (property-tested), where the rect variant should be preferred for
    its zero-Python plan.

    Scale shape: zone bboxes are computed DISTRIBUTED (no driver
    collect), each zone explodes to the padded grid cells its bbox
    covers, and pixels probe on the cell key — a BroadcastHashJoin for
    dimension-sized zone tables (bounded probe decides), a shuffled
    hash equi-join with AQE skew splitting above BROADCAST_ZONE_LIMIT
    (the same grid economics as spatial_join's distributed branch / the
    reference's GIST probe, pipeline/processing/inputs.py:16). Either
    way per-pixel cost is O(1) in the zone count, never the O(|zones|)
    nested loop of the former cross-join formulation. A JVM bbox
    refinement then discards most candidates before the Arrow-batched
    kernel sees them, so Python touches only cells near each zone's
    bbox — O(zone area / cell area) per zone.
    """
    h = pixel_deg / 2.0
    inv = 1e6 / (pixel_deg * pixel_deg)
    cell = float(cell_deg)
    # zones feed three subtrees (bbox explode, geometry re-attach, result
    # universe): persist so an expensive zone ingest materializes once
    zones = track(zones.persist(StorageLevel.MEMORY_AND_DISK))
    zb = _zone_bboxes(zones.select("fid", "geometry")).drop("_is_rect")
    # The exploded cell table carries ONLY (fid, bbox, cell key) — never
    # the WKB blob, which would otherwise duplicate once per covered
    # cell (a continent-bbox MultiPolygon at cell_deg=0.5 is thousands
    # of cells) and blow the broadcast far past what the zone COUNT
    # probe bounds. Geometry re-attaches per zone AFTER the bbox
    # refinement, one copy per zone in its own (broadcast) join.
    zc = _explode_bbox_cells(zb.drop("geometry"), cell, h)
    geom = zones.select("fid", "geometry")
    # Bounded probe: dimension-sized zone tables broadcast their exploded
    # cell rows (zero pixel shuffle); larger ones stay distributed and
    # the join shuffles both sides on the cell key.
    n_probe = zones.select("fid").limit(BROADCAST_ZONE_LIMIT + 1).count()
    if n_probe <= BROADCAST_ZONE_LIMIT:
        zc, geom = F.broadcast(zc), F.broadcast(geom)
    cand = (
        _pixel_cells(pixels, cell)
        .join(zc, ["_cx", "_cy"], "inner")
        .filter(
            (F.col("lon") + h > F.col("xmin"))
            & (F.col("lon") - h < F.col("xmax"))
            & (F.col("lat") + h > F.col("ymin"))
            & (F.col("lat") - h < F.col("ymax"))
        )
        .join(geom, "fid", "inner")
    )

    @F.pandas_udf("long")
    def w_e6_udf(geom: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(geom), dtype=np.int64)
        cache: dict[bytes, object] = {}
        for i, (g, x, y) in enumerate(zip(geom, lon, lat)):
            key = bytes(g)
            cached = cache.get(key)
            if cached is None:
                polys = geo.parse_wkb(key)
                # normalize winding per polygon: the clip area is SIGNED
                # by ring direction, so a clockwise exterior (valid WKB,
                # ESRI-convention exports) would make every weight
                # negative and silently NULL the zone; flipping by the
                # exterior ring's own orientation keeps hole subtraction
                # (opposite-wound inner rings) intact. Rings cache as
                # OPEN tuple lists (geo.ring_open_tuples) so the clip
                # kernel skips the O(vertices) conversion per pixel.
                cached = [
                    (
                        [geo.ring_open_tuples(ring) for ring in poly],
                        1.0
                        if geo.ring_signed_area(np.asarray(poly[0])) >= 0
                        else -1.0,
                    )
                    for poly in polys
                ]
                cache[key] = cached
            a2 = sum(
                sgn * geo.clip_ring_box_area2(ring, x - h, y - h, x + h, y + h)
                for rings, sgn in cached
                for ring in rings
            )
            w = a2 / 2.0 * inv
            out[i] = int(np.sign(w) * np.floor(abs(w) + 0.5))
        return pd.Series(out)

    weighted = (
        cand.withColumn("_w", w_e6_udf("geometry", "lon", "lat"))
        .filter(F.col("_w") > 0)
        .withColumn("_vc", F.round(F.col("val") * 100, 0).cast("long"))
    )
    agg = weighted.groupBy("fid").agg(
        F.sum("_w").alias("w_e6_sum"),
        F.round(
            F.sum(F.col("_w") * F.col("_vc")).cast("double") / F.sum("_w"), 0
        )
        .cast("long")
        .alias("wmean_cents"),
    )
    return zones.select("fid").join(agg, "fid", "left").orderBy("fid")


def zonal_touched_rects(
    zones: DataFrame,
    pixels: DataFrame,
    pixel_deg: float = 0.1,
    cell_deg: float = 0.5,
) -> DataFrame:
    """``all_touched`` zonal statistics for rectangle zones: a pixel
    counts when its CELL overlaps the zone by at least 0.5 ppm of the
    cell area (PostGIS/GDAL ``all_touched`` inclusivity — SURVEY §7's
    promised option), not merely when its center falls inside.

    The threshold is the SAME rounded integer-ppm weight the weighted
    variant computes, not a raw ``> 0`` on the float overlap: a
    zero-measure boundary touch evaluates to ±1-ulp-of-zero differently
    across engines (Spark doubles vs DECIMAL literal arithmetic), while
    the ppm rounding collapses both to 0 — determinism policy applied
    to a predicate. Pure codegen, probing the exploded rect-cell table
    with a BroadcastHashJoin on the pixel's grid-cell key (same shape
    as zonal_weighted_rects — never a nested loop over zones).
    Output: (fid, n_pixels, mean_cents).
    General polygons: filter ``zonal_weighted`` on ``_w > 0`` — same
    kernel, unweighted aggregate."""
    rect_df = _collect_rects(zones, "zonal_touched_rects")
    rc = _explode_bbox_cells(rect_df, float(cell_deg), pixel_deg / 2.0)
    touched = (
        _pixel_cells(pixels, float(cell_deg))
        .join(F.broadcast(rc), ["_cx", "_cy"], "inner")
        .filter(_overlap_w_e6(pixel_deg) > 0)
    )
    agg = touched.groupBy("fid").agg(
        F.count(F.lit(1)).alias("n_pixels"),
        F.round(
            F.sum(F.round(F.col("val") * 100, 0).cast("long")).cast("double")
            / F.count(F.lit(1)),
            0,
        )
        .cast("long")
        .alias("mean_cents"),
    )
    return (
        rect_df.select("fid")
        .join(agg, "fid", "left")
        .withColumn("n_pixels", F.coalesce("n_pixels", F.lit(0)))
        .orderBy("fid")
    )
