"""Entry-2 (batch module) as ONE data-parallel Spark job: raster
standardization with an idempotent completion ledger.

Reference: ``batch/processing/__main__.py`` + ``raster.py:20-40`` — per
file, gdal_translate band-select → gdalwarp clip to the SIDS window →
ZSTD/128×128 tiled output, then an SQLite ``INSERT`` marks the raster
done, and already-recorded rasters are skipped on re-run
(``utils.py:31-38``, ``data.py``). Here each file stays a NumPy array
from decode to write:

- Pruning is a driver-side listing: the input files whose stems are in
  the Parquet ledger are dropped BEFORE any decode work is scheduled.
- The driver's pending path list is split into
  ``min(len(pending), defaultParallelism)`` contiguous slices, one task
  each; the JVM reads no bytes and every listed file reaches a task.
- One ``mapInArrow`` kernel standardizes every file of its task
  (:func:`geotiff.standardize_geotiff`: decode, band select, clip as a
  row/column slice, ZSTD 128-tiled encode) and writes it through a temp
  file + ``os.replace``. It yields the raster ids it wrote; no pixel row
  is built and nothing is shuffled or cached.
- The ledger append is the final action, so a crash mid-write
  re-processes (idempotent overwrite) rather than skipping unfinished
  rasters.

At 100 TB: inputs parallelize per file, each task holds one decoded
raster at a time, and the only driver-side state is the pending-raster
id list (manifest-sized).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from sids_data_pipeline_spark.sources.raster import CLIP_LAT, CLIP_LON


def _ledgered_ids(spark: SparkSession, ledger_path: str) -> set[str]:
    """The raster ids in the ledger; empty on a first run. Only a
    missing ledger, or one holding no data file yet (a first append
    killed before its commit), reads as empty: a ledger that exists but
    lacks ``raster_id`` raises rather than silently reprocessing every
    raster."""
    from pyspark.errors import AnalysisException

    try:
        ledger = spark.read.parquet(ledger_path)
    except AnalysisException as ex:
        if ex.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return set()
    return {r.raster_id for r in ledger.select("raster_id").distinct().collect()}


def _standardize_kernel(out_dir, band, lon, lat):
    """mapInArrow kernel: ``path`` batches → the ``raster_id`` of every
    file it wrote. A file whose pixels the extent clips away entirely is
    neither written nor reported."""

    def kernel(batches):
        import pyarrow as pa

        from sids_data_pipeline_spark.sources.geotiff import standardize_geotiff
        from sids_data_pipeline_spark.sources.geotiff_datasource import (
            _read_bytes,
            _replace_with,
        )

        for batch in batches:
            written = []
            for path in batch.column("path").to_pylist():
                data = standardize_geotiff(_read_bytes(path), band, lon, lat, path)
                if data is None:
                    continue
                stem = os.path.splitext(os.path.basename(path))[0]
                _replace_with(os.path.join(out_dir, f"{stem}.tif"), data)
                written.append(stem)
            yield pa.RecordBatch.from_pydict(
                {"raster_id": pa.array(written, pa.string())}
            )

    return kernel


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
    extent (they can widen past the defaults, not just narrow); a
    raster with no pixel centre inside it is neither written nor
    processed, so a later run with a wider extent still picks it up.

    Remote estates: ``input_glob`` may be a remote URI — listing goes
    through Hadoop globStatus (driver-side) and executor decode reads
    bytes via ``pyarrow.fs`` (s3/gs/hdfs where pyarrow supports the
    scheme; see ``geotiff_datasource._read_bytes``). ``out_dir`` must be
    LOCAL/shared-posix and a remote one raises ``ValueError`` before any
    work (executor workers have no JVM gateway to the Hadoop FS for
    writes). The ``ledger_path`` is plain Spark parquet and may live
    anywhere.
    """
    from sids_data_pipeline_spark.sources.geotiff_datasource import require_local_dir
    from sids_data_pipeline_spark.sources.storage import hadoop_glob

    require_local_dir(out_dir)
    done_ids = _ledgered_ids(spark, ledger_path)

    # Prune BEFORE decode: raster_id is the filename stem, so a
    # driver-side LISTING decides pending-ness without scheduling any
    # decode work — local paths via glob, remote URIs via Hadoop
    # FileSystem.globStatus (metadata only). `skipped` is the ledger ∩
    # THIS input's rasters (the docstring contract) — the ledger may
    # span other input directories.
    files = hadoop_glob(spark, input_glob)
    stems = {os.path.splitext(os.path.basename(f))[0]: f for f in files}
    skipped = sorted(s for s in stems if s in done_ids)
    pending_files = [f for s, f in stems.items() if s not in done_ids]
    if not pending_files:
        return {"processed": [], "skipped": skipped}

    sc = spark.sparkContext
    paths = sc.parallelize(
        [(f,) for f in pending_files], min(len(pending_files), sc.defaultParallelism)
    )
    written = (
        spark.createDataFrame(paths, "path string")
        .mapInArrow(_standardize_kernel(out_dir, band, lon, lat), "raster_id string")
        .collect()
    )
    processed = sorted(r.raster_id for r in written)
    if processed:
        spark.createDataFrame(
            [(r,) for r in processed], "raster_id string"
        ).write.mode("append").parquet(ledger_path)
    return {"processed": processed, "skipped": skipped}
