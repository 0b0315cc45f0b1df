"""GeoTIFF as a first-class Spark data source (Spark 4 Python
DataSource API): ``spark.read.format("geotiff").load(glob)``.

This is the idiomatic-Spark face of S5 (SURVEY.md §2a) for local and
``pyarrow.fs`` paths; :func:`geotiff.ingest_geotiff` (binaryFile →
mapInArrow) is the route for any Hadoop filesystem (wasbs/abfs) and for
streaming. Both build their rows with :func:`geotiff.pixel_batches`.
Here the codec plugs into the planner itself — the source reports its
schema, plans one input partition per raster file at the driver (a
listing, no decode), and each executor partition decodes only its own
file via the pure-numpy codec and streams Arrow batches back.
Registration is per-session::

    from sids_data_pipeline_spark.sources.geotiff_datasource import register
    register(spark)
    px = spark.read.format("geotiff").option("band", "1").load("/data/*.tif")

Scale shape: partition planning is O(files) driver-side metadata; decode
is executor-side and embarrassingly parallel per file (the reference's
per-file multiprocessing Pool, utils.py:47-57, recast as source
partitions). Sub-file (tile-strip) partitions are the natural extension
for multi-GB rasters — the planner hook is already per-partition.

Matches reference ``batch/processing/raster.py:22-38`` (per-file GDAL
standardization) as a declarative scan.
"""

from __future__ import annotations

import glob as _glob
import itertools
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from sids_data_pipeline_spark.schemas import PIXELS


class _FilePartition(InputPartition):
    def __init__(self, path: str, band: int | None):
        self.path = path
        self.band = band


def _read_bytes(path: str) -> bytes:
    """Read a whole file from local disk or a remote URI.

    ``read()`` runs in executor Python workers, which have NO JVM
    gateway — the Hadoop FileSystem is unreachable there (the reason
    :class:`GeoTiffWriter` refuses remote save paths). Remote READS go
    through ``pyarrow.fs`` instead, which opens s3:// (and gs://,
    hdfs:// where libhdfs is present) natively from Python; Hadoop's
    s3a/s3n scheme aliases map to pyarrow's s3. Unsupported schemes
    raise a clear error instead of executor-side FileNotFoundError.
    """
    if path.startswith("file:"):
        # Hadoop's qualified local form is file:/abs (what globStatus
        # returns for a file: pattern); file:///abs also occurs
        path = "/" + path[len("file:"):].lstrip("/")
    if "://" not in path:
        with open(path, "rb") as f:
            return f.read()
    uri = path
    scheme, rest = uri.split("://", 1)
    if scheme in ("s3a", "s3n"):
        uri = f"s3://{rest}"
    try:
        from pyarrow import fs as pafs

        filesystem, fs_path = pafs.FileSystem.from_uri(uri)
    except Exception as ex:
        raise NotImplementedError(
            f"geotiff source: remote scheme {scheme!r} is not readable "
            "from executor Python workers (no JVM gateway; pyarrow.fs "
            f"rejected {uri!r}: {ex}) — copy to local/s3 storage or "
            "ingest via binaryFile + ingest_geotiff instead"
        ) from ex
    with filesystem.open_input_stream(fs_path) as f:
        return f.read()


class GeoTiffReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = options.get("path")
        # explicit pre-pruned file list (comma-joined) — lets callers
        # that already know the pending subset skip scheduling decode
        # work for the rest
        self._files = options.get("files")
        if not self._path and not self._files:
            raise ValueError("geotiff source requires a load(path) glob")
        # band selection (1-based, gdal_translate -b convention): absent
        # → every band of each file; k → just that band, validated
        # against the file's actual band count at decode time
        self._band = int(options["band"]) if "band" in options else None
        if self._band is not None and self._band < 1:
            raise ValueError(f"band must be >= 1, got {self._band}")

    def partitions(self) -> Sequence[InputPartition]:
        if self._files:
            paths = sorted(p for p in self._files.split(",") if p)
        elif "://" in self._path:
            # planning runs on the DRIVER, where the JVM gateway exists:
            # remote globs expand in one Hadoop globStatus round-trip
            # (executor-side decode then reads bytes via pyarrow.fs)
            from pyspark.sql import SparkSession

            from sids_data_pipeline_spark.sources.storage import hadoop_glob

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "geotiff source: remote glob planning needs an active "
                    "SparkSession"
                )
            paths = hadoop_glob(spark, self._path)
        else:
            paths = sorted(_glob.glob(self._path))
        if not paths:
            raise FileNotFoundError(f"geotiff: no files match {self._path!r}")
        return [_FilePartition(p, self._band) for p in paths]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        from sids_data_pipeline_spark.sources.geotiff import pixel_batches

        yield from pixel_batches(
            _read_bytes(partition.path), partition.band, partition.path
        )


class GeoTiffDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "geotiff"

    def schema(self):
        return PIXELS

    def reader(self, schema) -> GeoTiffReader:
        return GeoTiffReader(self.options)

    def writer(self, schema, overwrite: bool):
        return GeoTiffWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent per-session registration of the ``geotiff`` format."""
    spark.dataSource.register(GeoTiffDataSource)


class _WrittenFiles(WriterCommitMessage):
    def __init__(self, files: tuple):
        self.files = files


def require_local_dir(path: str) -> None:
    """Refuse a remote output directory. The GeoTIFF writer, the
    standardize job and the pipeline's sinks write their files from
    executor Python workers, which have no JVM gateway: files written
    with os/open there would land on executor-local disks and silently
    vanish from a remote URI estate."""
    if "://" in path:
        raise ValueError(
            "output files are written with os/open from executor Python "
            f"workers; remote URIs ({path!r}) are not supported — write to "
            "a local or shared POSIX directory and upload it from there"
        )


def _replace_with(path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` through a hidden sibling temp file and
    ``os.replace``: readers see either the old file or the whole new
    one, and a failed write leaves neither a partial target nor the
    temp file."""
    import uuid

    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise


class GeoTiffWriter(DataSourceArrowWriter):
    """Write path of the registered format:
    ``df.write.format("geotiff").mode(...).save(dir)`` emits one
    ``<raster_id>.tif`` per raster from long-format pixel rows.

    The rows arrive as Arrow record batches; each raster's ``lon``,
    ``lat`` and ``val`` columns go to :func:`geotiff.encode_pixels` as
    NumPy arrays, so no Python object is built per pixel. Each file is
    written to a hidden sibling temp file and renamed into place, so a
    task that dies mid-write leaves no truncated ``.tif`` behind.

    CONTRACT: one raster must not span partitions — callers
    ``repartition("raster_id")`` first (the format is one-file-per-
    raster, so a split raster cannot be encoded partition-locally; the
    writer raises if a target file already exists rather than silently
    clobbering a sibling partition's output). Options: ``nodata``,
    ``compress`` (zstd/deflate), ``tile``.
    """

    def __init__(self, options: dict, overwrite: bool):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("geotiff writer requires a save(path) directory")
        require_local_dir(self._path)
        self._nodata = float(options.get("nodata", -9999.0))
        self._compress = options.get("compress")
        self._tile = int(options["tile"]) if "tile" in options else None
        self._overwrite = overwrite

    def write(self, iterator) -> _WrittenFiles:
        import pyarrow as pa
        import pyarrow.compute as pc

        from sids_data_pipeline_spark.sources import geotiff

        batches = iter(iterator)
        first = next(batches, None)
        if first is None:
            return _WrittenFiles(())
        table = pa.Table.from_batches(itertools.chain((first,), batches))
        ids = table.column("raster_id")
        written = []
        for rid in pc.unique(ids).drop_null().to_pylist():
            out = os.path.join(self._path, f"{rid}.tif")
            if os.path.exists(out) and not self._overwrite:
                raise FileExistsError(
                    f"geotiff writer: {out} exists (raster split across "
                    "partitions, or append to a populated dir) — "
                    "repartition('raster_id') and use mode('overwrite')"
                )
            group = table.filter(pc.equal(ids, rid))
            if "band" in group.column_names:
                bands = pc.unique(group.column("band")).drop_null().to_pylist()
                if len(bands) > 1:
                    raise ValueError(
                        f"geotiff writer: {rid} holds bands {sorted(bands)}; "
                        "files are single-band, split by band first"
                    )
            data = geotiff.encode_pixels(
                group.column("lon").to_numpy(),
                group.column("lat").to_numpy(),
                group.column("val").to_numpy().astype("float64", copy=False),
                nodata=self._nodata,
                compress=self._compress,
                tile=self._tile,
            )
            _replace_with(out, data)
            written.append(out)
        return _WrittenFiles(tuple(written))

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None
