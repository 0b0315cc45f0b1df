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

Planning runs in a Python planner worker, which has no SparkSession and
no JVM gateway: plain paths are listed with Python glob, URIs (``file:``
included) one path component at a time through ``pyarrow.fs``, and
:func:`register` hands the session's task slots to the reader. The
files are sliced by :func:`slice_files`, the rule Entry-2's standardize
job also uses: at most one partition per task slot, since each Python
task costs a fixed fraction of a second before it decodes a byte. Where
the slot count is not known at planning time (a cluster manager without
``spark.default.parallelism``), each file keeps a partition of its own,
the reference's per-file multiprocessing Pool (utils.py:47-57) recast
as source partitions. Sub-file (tile-strip) partitions are the natural
extension for multi-GB rasters.

Matches reference ``batch/processing/raster.py:22-38`` (per-file GDAL
standardization) as a declarative scan.
"""

from __future__ import annotations

import fnmatch
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


def _local(path: str) -> str:
    """Hadoop's qualified local form is file:/abs (what globStatus
    returns for a file: pattern); file:///abs also occurs."""
    return "/" + path[len("file:"):].lstrip("/") if path.startswith("file:") else path


def _filesystem(uri: str):
    """``(pyarrow filesystem, path within it)`` for a remote URI; Hadoop's
    s3a/s3n scheme aliases map to pyarrow's s3. Unsupported schemes
    raise a clear error instead of executor-side FileNotFoundError."""
    scheme, rest = uri.split("://", 1)
    if scheme in ("s3a", "s3n"):
        uri = f"s3://{rest}"
    try:
        from pyarrow import fs as pafs

        return pafs.FileSystem.from_uri(uri)
    except Exception as ex:
        raise NotImplementedError(
            f"geotiff source: remote scheme {scheme!r} is not readable "
            "from executor Python workers (no JVM gateway; pyarrow.fs "
            f"rejected {uri!r}: {ex}) — copy to local/s3 storage or "
            "ingest via binaryFile + ingest_geotiff instead"
        ) from ex


def _read_bytes(path: str) -> bytes:
    """Read a whole file from local disk or a remote URI.

    ``read()`` runs in executor Python workers, which have NO JVM
    gateway — the Hadoop FileSystem is unreachable there (the reason
    :class:`GeoTiffWriter` refuses remote save paths). Remote READS go
    through ``pyarrow.fs`` instead, which opens s3:// (and gs://,
    hdfs:// where libhdfs is present) natively from Python.
    """
    path = _local(path)
    if "://" not in path:
        with open(path, "rb") as f:
            return f.read()
    filesystem, fs_path = _filesystem(path)
    with filesystem.open_input_stream(fs_path) as f:
        return f.read()


def _glob_remote(filesystem, base: str, root: str, pattern: str) -> list[str]:
    """``root/rel`` for each file under ``base`` in ``filesystem`` whose
    path ``rel`` below ``base`` matches the glob ``pattern``. The walk
    goes one pattern component per level, as Hadoop's ``globStatus``
    does: a wildcard component lists its directories (not recursively),
    a literal one is looked up; every component but the last must name
    a directory and the last a file. A component matches as in
    ``globStatus``: ``*`` stops at ``/`` and also matches names that
    start with ``.``, and ``[^...]`` negates."""
    from pyarrow import fs as pafs

    level = [("", base)]
    parts = pattern.split("/")
    for depth, part in enumerate(parts):
        want = pafs.FileType.File if depth == len(parts) - 1 else pafs.FileType.Directory
        part = part.replace("[^", "[!")
        wild = any(ch in part for ch in "*?[")
        found = []
        for rel, path in level:
            if wild:
                infos = filesystem.get_file_info(
                    pafs.FileSelector(path, allow_not_found=True)
                )
            else:
                infos = [filesystem.get_file_info(f"{path.rstrip('/')}/{part}")]
            found += [
                (f"{rel}/{info.base_name}", info.path)
                for info in infos
                if info.type == want and fnmatch.fnmatchcase(info.base_name, part)
            ]
        level = found
    return sorted(root + rel for rel, _ in level)


def _list_files(pattern: str) -> list[str]:
    """Every FILE matching the glob ``pattern``, sorted. Runs where
    planning runs, in a Python worker without a JVM gateway, so Hadoop's
    ``globStatus`` is out of reach; for a plain path or a
    ``scheme://`` URI it selects what :func:`storage.hadoop_glob` (the
    standardize job's lister) selects. Plain paths go through Python
    glob, as there; URIs, ``file:`` included, through
    :func:`_glob_remote`. Hadoop's
    ``{a,b}`` alternation and ``\\`` escapes are refused rather than
    matched differently."""
    if "://" not in pattern and not pattern.startswith("file:"):
        return sorted(p for p in _glob.glob(pattern) if os.path.isfile(p))
    if "{" in pattern or "\\" in pattern:
        raise ValueError(
            f"geotiff: {pattern!r} uses glob alternation or escapes, which "
            "the source does not expand; list the files with a plain glob "
            "or pass them through the `files` option"
        )
    local = pattern.startswith("file:")
    if local:
        pattern = _local(pattern)
    wild = next((i for i, ch in enumerate(pattern) if ch in "*?["), len(pattern))
    cut = pattern.rfind("/", 0, wild)
    root, rest = pattern[:cut], pattern[cut + 1:]
    if local:
        from pyarrow import fs as pafs

        return _glob_remote(pafs.LocalFileSystem(), root or "/", root, rest)
    if "://" not in root:
        raise ValueError(f"geotiff: glob in the host or bucket of {pattern!r}")
    filesystem, base = _filesystem(root)
    return _glob_remote(filesystem, base, root, rest)


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
            paths = _list_files(self._path)
        if not paths:
            raise FileNotFoundError(f"geotiff: no files match {self._path!r}")
        return [
            _FilesPartition(s, self._band)
            for s in slice_files(paths, self._slots or len(paths))
        ]

    def read(self, partition: _FilesPartition) -> Iterator[tuple]:
        from sids_data_pipeline_spark.sources.geotiff import pixel_batches

        for path in partition.paths:
            yield from pixel_batches(_read_bytes(path), partition.band, path)


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
