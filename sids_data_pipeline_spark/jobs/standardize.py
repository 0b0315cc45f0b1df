"""Entry-2 (batch module) as ONE data-parallel Spark job: raster
standardization with an idempotent completion ledger.

Reference: ``batch/processing/__main__.py`` + ``raster.py:20-40`` — per
file, gdal_translate band-select → gdalwarp clip to the SIDS window →
ZSTD/128×128 tiled output, then an SQLite ``INSERT`` marks the raster
done, and already-recorded rasters are skipped on re-run
(``utils.py:31-38``, ``data.py``). Here the whole batch reads its
pixels once, in one Spark write:

- Pruning is a driver-side listing: the input files whose stems are in
  the Parquet ledger are dropped BEFORE any decode work is scheduled.
- The registered ``geotiff`` format scans the pending files as pixel
  rows (one partition per file); band select + extent clip are plain
  filters.
- The same format's Arrow write path emits one ZSTD, 128-tiled file per
  raster. The written raster ids are an observed metric of that write
  (``DataFrame.observe``), so the pixels are read once, nothing is
  cached, and no extra Spark job collects the ids.
- The ledger append is the final action, so a crash mid-write
  re-processes (idempotent overwrite) rather than skipping unfinished
  rasters.

At 100 TB: inputs parallelize per file, the clip filter prunes pixels
before the (per-raster) repartition, and the only driver-side state is
the pending-raster id list (manifest-sized).
"""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark.sources.geotiff_datasource import register
from sids_data_pipeline_spark.sources.raster import CLIP_LAT, CLIP_LON


def run_standardize_job(
    spark: SparkSession,
    input_glob: str,
    out_dir: str,
    ledger_path: str,
    band: int = 1,
    lon: tuple[float, float] = CLIP_LON,
    lat: tuple[float, float] = CLIP_LAT,
) -> dict:
    """Standardize every not-yet-done raster under ``input_glob`` into
    ``out_dir`` (ZSTD, 128×128 tiles) and append their ids to the
    ledger. Returns {"processed": [...], "skipped": [...]} — ``skipped``
    is the input rasters the ledger pruned (not the whole ledger, which
    may span other input directories). ``lon``/``lat`` ARE the clip
    extent (they can widen past the defaults, not just narrow).

    Remote estates: ``input_glob`` may be a remote URI — listing goes
    through Hadoop globStatus (driver-side) and executor decode reads
    bytes via ``pyarrow.fs`` (s3/gs/hdfs where pyarrow supports the
    scheme; see ``geotiff_datasource._read_bytes``). ``out_dir`` must be
    LOCAL/shared-posix — the geotiff writer refuses remote save paths
    (executor workers have no JVM gateway to the Hadoop FS for writes).
    The ``ledger_path`` is plain Spark parquet and may live anywhere.
    """
    import os

    from pyspark.errors import AnalysisException

    from sids_data_pipeline_spark.sources.raster import clip_extent, select_band

    register(spark)

    try:
        done = spark.read.parquet(ledger_path).select("raster_id")
    except AnalysisException:
        # first run: the ledger doesn't exist yet (local or remote URI)
        done = spark.createDataFrame([], "raster_id string")
    done_ids = {r.raster_id for r in done.distinct().collect()}

    # Prune BEFORE decode: raster_id is the filename stem the reader
    # derives, so a driver-side LISTING decides pending-ness without
    # scheduling any decode work — local paths via glob, remote URIs via
    # Hadoop FileSystem.globStatus (metadata only; decoding the whole
    # estate just to learn its stems would keep every re-run
    # proportional to the ledger, not the pending set). `skipped` is the
    # ledger ∩ THIS input's rasters (the docstring contract) — the
    # ledger may span other input directories.
    from sids_data_pipeline_spark.sources.storage import hadoop_glob

    files = hadoop_glob(spark, input_glob)
    stems = {os.path.splitext(os.path.basename(f))[0]: f for f in files}
    skipped = sorted(s for s in stems if s in done_ids)
    pending_files = [f for s, f in stems.items() if s not in done_ids]
    if not pending_files:
        return {"processed": [], "skipped": skipped}
    pending = (
        spark.read.format("geotiff")
        .option("band", str(band))
        .option("files", ",".join(pending_files))
        .load(input_glob)
    )
    std = clip_extent(select_band(pending, band), lon=lon, lat=lat)

    # the ids ride on the write as an observed metric: one pass over the
    # pixels, no cache, no separate collect job
    written = Observation("standardize")
    (
        std.observe(written, F.collect_set("raster_id").alias("ids"))
        .repartition("raster_id")
        .write.format("geotiff")
        .option("compress", "zstd")
        .option("tile", "128")
        .mode("overwrite")
        .save(out_dir)
    )
    processed = sorted(written.get["ids"])
    if processed:
        spark.createDataFrame(
            [(r,) for r in processed], "raster_id string"
        ).write.mode("append").parquet(ledger_path)
    return {"processed": processed, "skipped": skipped}
