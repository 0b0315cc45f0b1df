"""Zonal statistics — the engine's signature operator.

Re-expresses the reference's semantic core (reference
``pipeline/processing/stats.py:5-18``):

    SELECT a.fid, AVG(b.val) AS mean
    FROM {vector} a LEFT JOIN {raster} b ON ST_Intersects(a.geom, b.geom)
    GROUP BY a.fid ORDER BY a.fid

as a Spark plan: spatial filter-and-refine join → groupBy aggregation →
left join back to zones (NULL mean for zones with no pixels — LEFT-join
semantics of stats.py:11) → orderBy (stats.py:17).

One spatial join, whose branch follows from the zone count (both
property-tested equal):

- up to ``BROADCAST_ZONE_LIMIT`` zones — dimension-sized (admin
  boundaries; the reference broadcasts them implicitly by importing
  vectors once and streaming rasters past them,
  ``pipeline/processing/__main__.py:13-23``). The exploded zone-cell table
  broadcasts and pixels probe it with a BroadcastHashJoin on the cell key
  (hash probe, not a nested loop over zones), then an Arrow-batched numpy
  point-in-polygon kernel refines. No shuffle of the pixel table at all
  until the (tiny) per-fid aggregate.

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
from typing import Iterable, Sequence

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


def _broadcast_spatial_join(rows: list, pixels: DataFrame, cell: float) -> DataFrame:
    """Broadcast branch: ``rows`` are the collected (vector_id, fid,
    geometry) zone rows. Bboxes and cell keys are computed driver-side,
    and two things broadcast: (a) the exploded cell table for the hash
    join and (b) a (vector_id, fid) → WKB map for refinement. Pixels then
    carry only two small key columns into the join — no per-row WKB
    bytes cross the Arrow boundary, and each Python worker parses each
    geometry once (cached).
    """
    cell_rows = []
    geo_map = {}
    all_rect = True
    for r in rows:
        wkb = bytes(r.geometry)
        geo_map[(r.vector_id, r.fid)] = wkb
        polys = geo.parse_wkb(wkb)  # parse once: bbox + rect flag
        all_rect = all_rect and geo.polys_rect(polys) is not None
        xmin, ymin, xmax, ymax = geo.polys_bbox(polys)
        for cx in range(int(np.floor(xmin / cell)), int(np.floor(xmax / cell)) + 1):
            for cy in range(int(np.floor(ymin / cell)), int(np.floor(ymax / cell)) + 1):
                cell_rows.append((r.vector_id, r.fid, cx, cy, xmin, ymin, xmax, ymax))
    spark = pixels.sparkSession
    zc = spark.createDataFrame(
        pd.DataFrame(
            cell_rows,
            columns=["vector_id", "fid", "_cx", "_cy", "xmin", "ymin", "xmax", "ymax"],
        ),
        "vector_id string, fid long, _cx long, _cy long, "
        "xmin double, ymin double, xmax double, ymax double",
    ).coalesce(1)
    joined = _pixel_cells(pixels, cell).join(F.broadcast(zc), ["_cx", "_cy"], "inner")

    if all_rect:
        # Rectangle fast path: the whole join stays in whole-stage
        # codegen — no Arrow transfer, no Python workers.
        joined = joined.filter(_in_rect())
        return joined.drop("xmin", "ymin", "xmax", "ymax", "_cx", "_cy")

    geo_bc = spark.sparkContext.broadcast(geo_map)

    @F.pandas_udf(BooleanType())
    def contains_bc(vid: pd.Series, fid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        cache: dict = {}
        out = np.zeros(len(vid), dtype=bool)
        lon_v = lon.to_numpy(dtype=np.float64)
        lat_v = lat.to_numpy(dtype=np.float64)
        keys = pd.Series(list(zip(vid, fid)))
        codes, uniques = pd.factorize(keys)
        for gi, key in enumerate(uniques):
            polys = cache.get(key)
            if polys is None:
                polys = cache[key] = geo.parse_wkb(geo_bc.value[key])
            mask = codes == gi
            out[mask] = geo.points_in_polygons(polys, lon_v[mask], lat_v[mask])
        return pd.Series(out)

    refined = joined.filter(_in_bbox()).filter(
        contains_bc("vector_id", "fid", "lon", "lat")
    )
    return refined.drop("xmin", "ymin", "xmax", "ymax", "_cx", "_cy")


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

    A grid-cell EQUI-join (hash-joinable — never a nested loop over
    zones): pixels get a cell key from their coordinates, zones explode
    to the cells their bbox covers, and a bbox filter plus the exact
    containment test refine the candidates. Where the join runs follows
    from the zone count, read by one bounded collect while the plan is
    built: up to BROADCAST_ZONE_LIMIT zones broadcast to every pixel
    partition (zero pixel shuffle, a BroadcastHashJoin probe per pixel);
    above it both sides shuffle on the cell key, with zones distributed.
    """
    cell = float(cell_deg)
    # The limit caps driver memory AND is the zone-count probe — no
    # separate count job.
    rows = (
        zones.select("vector_id", "fid", "geometry")
        .limit(BROADCAST_ZONE_LIMIT + 1)
        .collect()
    )
    if len(rows) <= BROADCAST_ZONE_LIMIT:
        _LOG.info("spatial_join: %d zones, broadcast branch", len(rows))
        return _broadcast_spatial_join(rows, pixels, cell)
    _LOG.info(
        "spatial_join: more than %d zones, distributed branch",
        BROADCAST_ZONE_LIMIT,
    )
    return _distributed_spatial_join(zones, pixels, cell)


def zonal_stats(
    zones: DataFrame,
    pixels: DataFrame,
    stats: Sequence[str] = ("mean",),
    cell_deg: float = 0.5,
    keep_attrs: Iterable[str] = (),
) -> DataFrame:
    """Zonal statistics per (vector_id, raster_id, fid).

    Natural superset of the reference (which computes only AVG,
    stats.py:14): any subset of SUPPORTED_STATS. Output is left-joined back
    to the zone list so empty zones appear with NULL stats, ordered by key
    (stats.py:17 ORDER BY).
    """
    for s in stats:
        if s not in _STAT_EXPRS:
            raise ValueError(f"unsupported stat {s!r}; choose from {SUPPORTED_STATS}")

    # Zones are the dimension side and feed two subtrees (the spatial join
    # and the result universe): persist so the source — which may be an
    # expensive ingest — materializes once per job.
    zones = track(zones.persist(StorageLevel.MEMORY_AND_DISK))
    matched = spatial_join(zones, pixels, cell_deg=cell_deg)
    aggs: list[Column] = [_STAT_EXPRS[s]().alias(s) for s in stats]
    per_zone = matched.groupBy("vector_id", "raster_id", "fid").agg(*aggs)

    # Re-attach to the full zone x raster universe (J2 equi left join,
    # reference vector.py:9-12) so zones with no intersecting pixels
    # surface with NULLs. raster list is tiny → broadcast cross join.
    rasters = pixels.select("raster_id").distinct()
    universe = zones.select("vector_id", "fid", *keep_attrs).crossJoin(
        F.broadcast(rasters)
    )
    out = universe.join(per_zone, ["vector_id", "raster_id", "fid"], "left")
    if "count" in stats:
        # rasterstats/GDAL convention: zones with no pixels report count=0,
        # not NULL (mean/sum/min/max keep NULL).
        out = out.withColumn("count", F.coalesce(F.col("count"), F.lit(0)))
    return out.orderBy("vector_id", "raster_id", "fid")


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
