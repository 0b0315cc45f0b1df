"""Raster source: GeoTIFF → long-format pixel DataFrame.

The reference ingests rasters with ``raster2pgsql -t 128x128`` into PostGIS
(``pipeline/processing/inputs.py:23-43``) after standardising them with
gdalwarp/gdal_translate (``batch/processing/raster.py:20-38``). The engine's
canonical raster form is a Parquet pixel table (schemas.PIXELS) partitioned
by ``raster_id``; at 100 TB the table additionally partitions on a coarse
lat/lon grid so spatial predicates prune whole files.

GeoTIFF files decode in sources/geotiff.py; ``synthetic_raster``
provides the deterministic fixtures from FIXTURES.md §B1 used by tests
and queries.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark.schemas import PIXELS

# Reference working extent: lon [-180, 180], lat [-35, 35]
# (batch/processing/config.py:12-15, README.md:30).
CLIP_LON = (-180.0, 180.0)
CLIP_LAT = (-35.0, 35.0)

# Fixture grid (FIXTURES.md §B1): 64x64 pixels over lon/lat [0, 6.4],
# 0.1 deg/pixel, centers at 0.05 + 0.1*i.
GRID_N = 64
PIXEL_DEG = 0.1


def synthetic_raster(spark: SparkSession, raster_id: str) -> DataFrame:
    """Deterministic fixture rasters, generated distributed via spark.range
    (never driver-side materialised — the same code path scales to any N).

    - ``rast_gradient``: val = x + 64*y (all-distinct values)
    - ``rast_checker``:  val = (x+y) % 2 (large equal-valued regions)
    - ``rast_nodata``:   gradient with NULL where (x*y) % 7 == 0
    """
    n = GRID_N
    # 8 partitions: fixture-sized inputs don't amortize a 32-way Python
    # worker pool; real ingests choose partitioning by data volume.
    df = (
        spark.range(0, n * n, 1, 8)
        .select(
            F.lit(raster_id).alias("raster_id"),
            F.lit(1).alias("band"),
            (F.col("id") / n).cast("int").alias("y"),
            (F.col("id") % n).cast("int").alias("x"),
        )
        .withColumn("lon", (F.col("x") + F.lit(0.5)) * PIXEL_DEG)
        .withColumn("lat", (F.col("y") + F.lit(0.5)) * PIXEL_DEG)
    )
    if raster_id == "rast_gradient":
        val = (F.col("x") + n * F.col("y")).cast("double")
    elif raster_id == "rast_checker":
        val = ((F.col("x") + F.col("y")) % 2).cast("double")
    elif raster_id == "rast_nodata":
        val = F.when(
            (F.col("x") * F.col("y")) % 7 == 0, F.lit(None).cast("double")
        ).otherwise((F.col("x") + n * F.col("y")).cast("double"))
    else:
        raise KeyError(f"unknown fixture raster {raster_id!r}")
    return df.withColumn("val", val).select([f.name for f in PIXELS.fields])


def synthetic_raster_scaled(
    spark: SparkSession, n: int, partitions: int = 32
) -> DataFrame:
    """Benchmark-scale gradient raster: n×n pixels, val = x + n·y = i.

    Same generation idiom as the fixtures (distributed spark.range, never
    driver-materialised) at arbitrary size — the bench uses n=1024 (1M
    pixels) so the zonal timing measures kernel throughput, not overhead.
    """
    df = (
        spark.range(0, n * n, 1, partitions)
        .select(
            F.lit(f"rast_gradient_{n}").alias("raster_id"),
            F.lit(1).alias("band"),
            (F.col("id") / n).cast("int").alias("y"),
            (F.col("id") % n).cast("int").alias("x"),
        )
        .withColumn("lon", (F.col("x") + F.lit(0.5)) * PIXEL_DEG)
        .withColumn("lat", (F.col("y") + F.lit(0.5)) * PIXEL_DEG)
        .withColumn("val", (F.col("x") + F.lit(n) * F.col("y")).cast("double"))
    )
    return df.select([f.name for f in PIXELS.fields])


def clip_extent(
    pixels: DataFrame,
    lon: tuple[float, float] = CLIP_LON,
    lat: tuple[float, float] = CLIP_LAT,
) -> DataFrame:
    """Spatial clip (reference P5: gdal -projwin / gdalwarp -te,
    batch/processing/raster.py:27,36). A plain filter: Catalyst pushes it
    into the Parquet scan (min/max pruning on lon/lat row groups)."""
    return pixels.filter(
        F.col("lon").between(*lon) & F.col("lat").between(*lat)
    )


def select_band(pixels: DataFrame, band: int) -> DataFrame:
    """Band selection (reference P4: gdal_translate -b,
    batch/processing/raster.py:34) — pushed-down filter on the band column."""
    return pixels.filter(F.col("band") == band)


def standardize_pixels(pixels: DataFrame, band: int = 1) -> DataFrame:
    """The batch module's standardisation pass (reference
    batch/processing/raster.py:20-38) as a declarative plan: band select +
    extent clip. Compression/tiling are storage-layer (ZSTD Parquet,
    session.py) rather than per-file gdal flags."""
    return clip_extent(select_band(pixels, band))


def numpy_pixels(raster_id: str) -> pd.DataFrame:
    """Driver-side numpy twin of synthetic_raster — the independent oracle
    for zonal tests (FIXTURES.md §C), deliberately not sharing Spark code."""
    n = GRID_N
    y, x = np.mgrid[0:n, 0:n]
    y, x = y.ravel(), x.ravel()
    if raster_id == "rast_gradient":
        val = (x + n * y).astype("float64")
    elif raster_id == "rast_checker":
        val = ((x + y) % 2).astype("float64")
    elif raster_id == "rast_nodata":
        val = (x + n * y).astype("float64")
        val[(x * y) % 7 == 0] = np.nan
    else:
        raise KeyError(raster_id)
    return pd.DataFrame(
        {
            "raster_id": raster_id,
            "band": 1,
            "y": y.astype("int32"),
            "x": x.astype("int32"),
            "lon": (x + 0.5) * PIXEL_DEG,
            "lat": (y + 0.5) * PIXEL_DEG,
            "val": val,
        }
    )


def warp_to_grid(
    pixels: DataFrame,
    *,
    src_epsg: int,
    dst_epsg: int,
    src_origin: tuple[float, float],
    src_res: tuple[float, float],
    dst_origin: tuple[float, float],
    dst_res: tuple[float, float],
    dst_size: tuple[int, int],
    resampling: str = "bilinear",
    val_col: str = "val",
) -> DataFrame:
    """F8 grid warp — ``gdalwarp -t_srs ... -tr ... -r nearest|bilinear``
    (reference batch/processing/raster.py:22-29) as a declarative plan.

    ``reproject_pixels`` moves cell CENTERS between CRSs (a point
    transform); this operator resamples onto a REGULAR target grid, which
    is what gdalwarp actually emits. Shape, scale-first:

    1. the target lattice is generated distributed (``spark.range`` over
       ``dst_size`` cells — never driver-materialised),
    2. each target center inverse-projects dst→src via the same
       closed-form column math as :func:`reproject_pixels` (any pair that
       function supports works here, both directions),
    3. the fractional source pixel coordinate selects contributor pixels,
       and the lookup is a pure **integer (x, y) equi-join** against the
       source pixel table — shuffled hash join on uniform keys, no
       geometry predicate, no Python. Bilinear explodes each target cell
       onto its ≤4 corner keys with weights and re-aggregates, so the
       whole warp is two shuffles (join + groupBy) regardless of raster
       size; nearest is one.

    Grid convention (both grids): pixel ``(ix, iy)`` center =
    ``origin + (i + 0.5) * res`` — matching the fixture lattice
    (``lon = (x + 0.5) * PIXEL_DEG`` is origin 0, res 0.1).

    Semantics, pinned for the oracle:
    - **nearest**: round-half-up to the nearest source center
      (``floor(f + 0.5)``); target cells mapping outside the source are
      OMITTED (inner-join contract, gdalwarp leaves them nodata).
    - **bilinear**: weight the ≤4 surrounding centers by
      ``(1-|dx|)·(1-|dy|)`` and NORMALIZE by the weight-sum of the
      corners that exist and hold non-NULL values — edge cells and
      nodata neighbours degrade gracefully instead of going NULL
      (gdalwarp's valid-contributor normalisation); zero-weight corners
      are pruned before the join so an aligned warp costs 1 key/cell,
      not 4.
    - **average**: FORWARD-map each source center into the target grid
      and mean all non-NULL contributors per cell — the downsampling
      kernel (``gdalwarp -r average``); no join at all, one map-side-
      combined groupBy over the source table, target cells receiving no
      source pixel are omitted.

    Caller scopes ``pixels`` to ONE (raster_id, band) — the join keys are
    the bare integer pixel indices.

    Output: (out_x, out_y, val), target-lattice indexed.
    """
    sx0, sy0 = src_origin
    sdx, sdy = src_res
    w, h = dst_size
    if w <= 0 or h <= 0:
        raise ValueError(f"dst_size must be positive, got {dst_size}")
    if sdx == 0 or sdy == 0 or dst_res[0] == 0 or dst_res[1] == 0:
        raise ValueError("grid resolution components must be non-zero")
    if resampling not in ("nearest", "bilinear", "average"):
        raise ValueError(
            f"resampling={resampling!r}: 'nearest', 'bilinear', or "
            "'average' (gdalwarp's other kernels — cubic, lanczos — are "
            "wider-footprint variants of the same corner-join shape, "
            "not implemented)"
        )
    from sids_data_pipeline_spark.functions.crs import reproject_pixels

    if resampling == "average":
        # Downsampling kernel: FORWARD-map every source center into the
        # target grid and average all non-NULL pixels landing in a cell
        # (gdalwarp -r average's all-contributors mean). No target
        # lattice at all — one groupBy shuffle over the source table,
        # map-side combined, which is the right direction when the
        # target is coarser than the source (the inverse-mapping kernels
        # above would sample 1-of-N source pixels per cell).
        fwd = pixels.filter(F.col(val_col).isNotNull()).withColumns(
            {
                "_wx": F.lit(sx0) + (F.col("x") + F.lit(0.5)) * F.lit(sdx),
                "_wy": F.lit(sy0) + (F.col("y") + F.lit(0.5)) * F.lit(sdy),
            }
        )
        fwd = reproject_pixels(
            fwd, src_epsg=src_epsg, dst_epsg=dst_epsg, x_col="_wx", y_col="_wy"
        )
        ox = F.floor((F.col("_wx") - F.lit(dst_origin[0])) / F.lit(dst_res[0]))
        oy = F.floor((F.col("_wy") - F.lit(dst_origin[1])) / F.lit(dst_res[1]))
        return (
            fwd.select(
                ox.cast("int").alias("out_x"),
                oy.cast("int").alias("out_y"),
                F.col(val_col).alias("_val"),
            )
            .filter(
                F.col("out_x").between(0, w - 1)
                & F.col("out_y").between(0, h - 1)
            )
            .groupBy("out_x", "out_y")
            .agg(F.avg("_val").alias("val"))
        )

    spark = pixels.sparkSession
    tgt = spark.range(0, w * h).select(
        (F.col("id") % w).cast("int").alias("out_x"),
        (F.col("id") / w).cast("int").alias("out_y"),
    )
    tgt = tgt.withColumns(
        {
            "_wx": F.lit(dst_origin[0]) + (F.col("out_x") + F.lit(0.5)) * F.lit(dst_res[0]),
            "_wy": F.lit(dst_origin[1]) + (F.col("out_y") + F.lit(0.5)) * F.lit(dst_res[1]),
        }
    )
    # dst → src: the inverse leg of the closed-form registry
    tgt = reproject_pixels(tgt, src_epsg=dst_epsg, dst_epsg=src_epsg, x_col="_wx", y_col="_wy")
    fc = (F.col("_wx") - F.lit(sx0)) / F.lit(sdx) - F.lit(0.5)
    fr = (F.col("_wy") - F.lit(sy0)) / F.lit(sdy) - F.lit(0.5)
    src = pixels.filter(F.col(val_col).isNotNull()).select(
        "x", "y", F.col(val_col).alias("_val")
    )
    if resampling == "nearest":
        keyed = tgt.select(
            "out_x",
            "out_y",
            F.floor(fc + F.lit(0.5)).cast("int").alias("x"),
            F.floor(fr + F.lit(0.5)).cast("int").alias("y"),
        )
        return keyed.join(src, ["x", "y"]).select(
            "out_x", "out_y", F.col("_val").alias("val")
        )
    i0 = F.floor(fc).cast("int")
    j0 = F.floor(fr).cast("int")
    fx = fc - F.floor(fc)
    fy = fr - F.floor(fr)
    corner = "named_struct('x', {x}, 'y', {y}, 'w', {wt})"
    corners = F.expr(
        "filter(array("
        + ", ".join(
            corner.format(x=x, y=y, wt=wt)
            for x, y, wt in (
                ("_i0", "_j0", "(1.0D - _fx) * (1.0D - _fy)"),
                ("_i0 + 1", "_j0", "_fx * (1.0D - _fy)"),
                ("_i0", "_j0 + 1", "(1.0D - _fx) * _fy"),
                ("_i0 + 1", "_j0 + 1", "_fx * _fy"),
            )
        )
        + "), c -> c.w > 0D)"
    )
    exploded = (
        tgt.withColumns({"_i0": i0, "_j0": j0, "_fx": fx, "_fy": fy})
        .select("out_x", "out_y", F.explode(corners).alias("_c"))
        .select(
            "out_x",
            "out_y",
            F.col("_c.x").alias("x"),
            F.col("_c.y").alias("y"),
            F.col("_c.w").alias("_w"),
        )
    )
    return (
        exploded.join(src, ["x", "y"])
        .groupBy("out_x", "out_y")
        .agg(
            (F.sum(F.col("_w") * F.col("_val")) / F.sum("_w")).alias("val")
        )
    )


def rasterize(
    zones: DataFrame,
    *,
    origin: tuple[float, float],
    res: tuple[float, float],
    size: tuple[int, int],
    burn_col: str | None = None,
    cell_deg: float = 0.5,
) -> DataFrame:
    """gdal_rasterize parity (center rule): burn vector features onto a
    regular grid — the inverse of the zonal direction, built on the SAME
    filter-and-refine spatial join (operators/zonal.spatial_join), so the
    100 TB shape is the verified one: grid-cell equi-join candidates,
    bbox prefilter in codegen, ray-cast refine for non-rect geometry.

    The target lattice generates distributed (``spark.range`` over
    ``size`` cells); each cell center gets (lon, lat) from the grid spec
    and joins the zone table. Where features overlap, the HIGHEST fid
    wins — the deterministic stand-in for gdal_rasterize's last-feature-
    in-layer-order rule (fid order IS layer order for ingested layers).
    Cells covered by no feature are omitted (nodata, like warp).

    ``burn_col=None`` burns the winning fid itself (gdal's -burn with a
    per-feature value); naming a zone column (gdal's ``-a attribute``)
    re-attaches that attribute of the winning feature via one broadcast
    join against the (dimension-sized) zone table.

    Caller scopes ``zones`` to ONE layer (vector_id) — fids are the
    overlap tie-break and the attribute key, and they are only unique
    within a layer (same single-input contract as the pixel operators).

    Output: (x, y, burn).
    """
    from sids_data_pipeline_spark.operators.zonal import spatial_join

    w, h = size
    if w <= 0 or h <= 0:
        raise ValueError(f"size must be positive, got {size}")
    if res[0] == 0 or res[1] == 0:
        raise ValueError("grid resolution components must be non-zero")
    spark = zones.sparkSession
    tgt = spark.range(0, w * h).select(
        (F.col("id") % w).cast("int").alias("x"),
        (F.col("id") / w).cast("int").alias("y"),
    )
    tgt = tgt.withColumns(
        {
            "lon": F.lit(origin[0]) + (F.col("x") + F.lit(0.5)) * F.lit(res[0]),
            "lat": F.lit(origin[1]) + (F.col("y") + F.lit(0.5)) * F.lit(res[1]),
        }
    )
    hit = spatial_join(zones, tgt, cell_deg=cell_deg)
    won = hit.groupBy("x", "y").agg(F.max("fid").alias("fid"))
    if burn_col is None:
        return won.select("x", "y", F.col("fid").alias("burn"))
    attr = zones.select("fid", F.col(burn_col).alias("burn"))
    return won.join(F.broadcast(attr), "fid").select("x", "y", "burn")


def mosaic(
    pixels: DataFrame,
    order: list[str],
    nodata: float | None = None,
) -> DataFrame:
    """gdal_merge.py parity: composite overlapping rasters onto one grid
    with LAST-WINS semantics — later entries in ``order`` paint over
    earlier ones, gdal_merge's file-argument rule. ``nodata`` pixels are
    transparent: they never overpaint a real value (gdal_merge -n).

    Spark-first shape: ONE shuffle — ``max_by(val, priority)`` per
    (lon, lat) cell after mapping each raster_id to its paint priority
    via a literal CASE (the raster list is an argument, not data, so no
    join is spent on it). Rasters absent from ``order`` are rejected
    in-plan (raise_error woven into the priority expression, surviving
    column pruning), because silently dropping a raster from a mosaic is
    the compositor's classic wrong answer.

    Output: (lon, lat, val, source raster_id) — one row per cell of the
    union extent that received at least one real value; cells whose
    every covering raster is nodata/NULL emit no row at all (gdal_merge
    would write the output nodata there — a pixel table has no row to
    hold it).
    """
    if not order:
        raise ValueError("order must name at least one raster")
    if len(set(order)) != len(order):
        raise ValueError(f"duplicate raster ids in order: {order}")
    prio = F.when(F.col("raster_id") == order[0], F.lit(0))
    for i, rid in enumerate(order[1:], start=1):
        prio = prio.when(F.col("raster_id") == rid, F.lit(i))
    prio = prio.otherwise(
        F.raise_error(
            F.concat(
                F.lit("mosaic: raster_id not in order list: "),
                F.col("raster_id"),
            )
        ).cast("int")
    )
    src = pixels
    if nodata is not None:
        src = src.filter(F.col("val") != F.lit(float(nodata)))
    src = src.filter(F.col("val").isNotNull()).withColumn("_prio", prio)
    return (
        src.groupBy("lon", "lat")
        .agg(
            F.max_by("val", F.col("_prio")).alias("val"),
            F.max_by("raster_id", F.col("_prio")).alias("raster_id"),
        )
        .select("lon", "lat", "val", "raster_id")
    )
