"""Terrain-products job: derived rasters for a whole estate, ONE pass.

The reference materializes derived products per input file through GDAL
subprocess chains (batch/processing/raster.py:20-40 — one gdal_* run per
raster, sequential); here the WHOLE estate derives in two shuffles:
hillshade and overview pyramids both take ``group_cols=("raster_id",
"band")``, so every raster's windows/blocks aggregate inside one shared
shuffle each — no per-raster loop, no per-raster job.

Idempotency follows the standardize job's ledger pattern (reference
``utils.py:31-38``): the driver reads the parquet ledger of finished
raster ids (operators/manifest) and drops them from the input's ids
BEFORE any derivation work is scheduled; re-running after completion
does zero work, and the ledger append is the last action so a crash
mid-write re-processes instead of skipping unfinished rasters.

Output layout: ``out_dir/product=hillshade|overviews/`` parquet,
partitioned by raster_id — downstream scans prune to one raster (or one
product) without touching the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_terrain_job(
    spark: SparkSession,
    pixels: DataFrame,
    out_dir: str,
    ledger_path: str,
    cellsize: float = 30.0,
    levels: int = 3,
) -> dict:
    """Derive hillshade + overview pyramids for every not-yet-done raster
    in ``pixels`` (a PIXELS table: raster_id, band, y, x, lon, lat, val)
    and append their ids to the ledger. Returns
    {"processed": [...], "skipped": [...]}.

    Scale shape: the pending ids are the collected distinct ids minus
    the ledger set (both manifest-sized), each product is ONE
    group_cols shuffle over the pending estate, and each product writes
    ONCE, partitioned by raster_id — job count is constant in the
    raster count.
    """
    import os

    from sids_data_pipeline_spark.operators import manifest
    from sids_data_pipeline_spark.operators.terrain import (
        build_overviews,
        hillshade,
    )

    ids = {r.raster_id for r in pixels.select("raster_id").distinct().collect()}
    done = {r for (r,) in manifest.read_done(ledger_path, ("raster_id",))}
    pending, skipped = sorted(ids - done), sorted(ids & done)
    if not pending:
        return {"processed": [], "skipped": skipped}

    # prune BEFORE any derivation work is scheduled; isin on a
    # manifest-sized list pushes into the scan
    px = pixels.filter(F.col("raster_id").isin(pending))
    group = ("raster_id", "band")
    hs = hillshade(px, cellsize=cellsize, group_cols=group)
    ov = build_overviews(px, levels=levels, group_cols=group)
    # DYNAMIC partition overwrite: replace only the raster_id partitions
    # present in this run's data — a replay of raster X overwrites X's
    # partition (idempotent), while rasters ledgered in EARLIER runs keep
    # their partitions (a static overwrite would wipe the whole product
    # directory on every incremental append)
    for df, product in ((hs, "hillshade"), (ov, "overviews")):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("raster_id")
            .parquet(os.path.join(out_dir, f"product={product}"))
        )
    # ledger append LAST: a crash above re-processes (overwrite), never
    # records unfinished rasters as done
    manifest.append_done(ledger_path, [(r,) for r in pending], ("raster_id",))
    return {"processed": pending, "skipped": skipped}
