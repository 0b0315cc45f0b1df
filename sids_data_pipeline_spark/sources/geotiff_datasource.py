"""GeoTIFF as a first-class Spark data source (Spark 4 Python
DataSource API): ``spark.read.format("geotiff").load(glob)``.

This is the idiomatic-Spark face of S5 (SURVEY.md §2a) for local and
``pyarrow.fs`` paths; :func:`geotiff.ingest_geotiff` (binaryFile →
mapInArrow) is the route for any Hadoop filesystem (wasbs/abfs) and for
streaming. Both build their rows with :func:`geotiff.pixel_batches`.
Here the codec plugs into the planner itself: the source reports its
schema, lists the files (no decode) and slices them into input
partitions; each partition decodes its files one after another with the
pure-numpy codec and streams Arrow batches back.
Registration is per-session::

    from sids_data_pipeline_spark.sources.geotiff_datasource import register
    register(spark)
    px = spark.read.format("geotiff").option("band", "1").load("/data/*.tif")

Planning, reading and writing run in Python workers, which have no
SparkSession and no JVM gateway, so every path goes through
:mod:`storage`: :func:`storage.list_files` lists the glob (the
standardize job's lister too), :func:`storage.read_bytes` reads each
file and :func:`storage.write_bytes` writes each output. Because the
planner cannot ask the session, :func:`register` hands its task slots
to the reader. The files are sliced by :func:`slice_files`, the rule
Entry-2's standardize job also uses: at most one partition per task
slot, since each Python task costs a fixed fraction of a second before
it decodes a byte. Where the slot count is not known at planning time
(a cluster manager without ``spark.default.parallelism``), each file
keeps a partition of its own, the reference's per-file multiprocessing
Pool (utils.py:47-57) recast as source partitions. Sub-file (tile-strip)
partitions are the natural extension for multi-GB rasters.

Matches reference ``batch/processing/raster.py:22-38`` (per-file GDAL
standardization) as a declarative scan.
"""

from __future__ import annotations

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
from sids_data_pipeline_spark.sources.storage import (
    list_files,
    read_bytes,
    require_local_dir,
    write_bytes,
)


class _FilesPartition(InputPartition):
    def __init__(self, paths: list[str], band: int | None):
        self.paths = paths
        self.band = band


def slice_files(paths: list[str], slots: int) -> list[list[str]]:
    """Split ``paths`` into ``min(len(paths), slots)`` slices, one task
    each, dealing the sorted paths round-robin so that neighbouring
    files, which often differ little in size, land in different tasks.
    The one task-slicing rule for raster files: the geotiff scan and the
    standardize job both use it."""
    n = min(len(paths), slots)
    ordered = sorted(paths)
    return [ordered[i::n] for i in range(n)]


class GeoTiffReader(DataSourceReader):
    def __init__(self, options: dict, slots: int | None):
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
        self._slots = slots

    def partitions(self) -> Sequence[InputPartition]:
        if self._files:
            paths = [p for p in self._files.split(",") if p]
        else:
            paths = list_files(self._path)
        if not paths:
            raise FileNotFoundError(f"geotiff: no files match {self._path!r}")
        return [
            _FilesPartition(s, self._band)
            for s in slice_files(paths, self._slots or len(paths))
        ]

    def read(self, partition: _FilesPartition) -> Iterator[tuple]:
        from sids_data_pipeline_spark.sources.geotiff import pixel_batches

        for path in partition.paths:
            yield from pixel_batches(read_bytes(path), partition.band, path)


class GeoTiffDataSource(DataSource):
    # the task slots of the session the format is registered in, or None
    # (one partition per file); register() sets it
    slots: int | None = None

    @classmethod
    def name(cls) -> str:
        return "geotiff"

    def schema(self):
        return PIXELS

    def reader(self, schema) -> GeoTiffReader:
        return GeoTiffReader(self.options, self.slots)

    def writer(self, schema, overwrite: bool):
        return GeoTiffWriter(self.options, overwrite)


def planned_slots(sc) -> int | None:
    """The task slots a scan can plan for, fixed for the life of the
    SparkContext ``sc``, or None where no such number exists. In local
    mode and wherever ``spark.default.parallelism`` is set,
    ``defaultParallelism`` is fixed at start. Under a cluster manager it
    otherwise counts the executor cores registered so far (at least 2),
    which grow after start and under dynamic allocation."""
    if sc.master.startswith("local") or sc.getConf().contains("spark.default.parallelism"):
        return sc.defaultParallelism
    return None


def register(spark) -> None:
    """Idempotent per-session registration of the ``geotiff`` format.

    Planning runs in a Python worker that cannot ask the session, so the
    registered class carries :func:`planned_slots`; cloudpickle ships a
    class defined in a function by value."""

    class SessionGeoTiffDataSource(GeoTiffDataSource):
        slots = planned_slots(spark.sparkContext)

    spark.dataSource.register(SessionGeoTiffDataSource)


class _WrittenFiles(WriterCommitMessage):
    def __init__(self, files: tuple):
        self.files = files


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
        if not options.get("path"):
            raise ValueError("geotiff writer requires a save(path) directory")
        self._path = require_local_dir(options["path"])
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
            write_bytes(out, data)
            written.append(out)
        return _WrittenFiles(tuple(written))

    def commit(self, messages):
        return None

    def abort(self, messages):
        return None
