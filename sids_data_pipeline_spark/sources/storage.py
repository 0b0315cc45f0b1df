"""Where a path points, how Python reads and writes it, and the storage
layouts for 100 TB scale.

**Paths.** This module is the one place that decides what a path string
names and how Python opens it; every Python-side read, write, existence
probe and listing in the package goes through it:

- :func:`local_path` classifies a path. A plain path, Hadoop's qualified
  ``file:/abs`` (the form Spark prints) and ``file:///abs`` name a local
  file; any other ``scheme://`` is remote.
- :func:`read_bytes`, :func:`write_bytes`, :func:`exists` and
  :func:`list_files` serve executor Python workers, which have no JVM
  gateway: local paths go through ``os`` and Python glob, remote URIs
  through ``pyarrow.fs`` (Hadoop's s3a/s3n alias to s3).
- :func:`require_local_dir` guards the output directories that
  executors fill with ``os``/``open``.
- The driver-side ``fs_*`` helpers keep the Hadoop ``FileSystem`` for
  remote URIs, so the curation and CDC ledgers land wherever Spark
  writes data. The Entry-1/Entry-2 completion ledger
  (operators/manifest) is read and appended with the helpers above.

Spark-side reads and writes (bucketed tables, the pixel store) resolve
through Hadoop and are not routed here.

**Layouts.** Two layouts the engine standardises (SURVEY.md §7
"hardening"):

- :func:`write_bucketed` / :func:`bucketed_join_ready` — hash-bucketed
  tables: two tables bucketed by the same key into the same bucket count
  join WITHOUT an exchange (Catalyst sees the co-located distribution).
  At fact-fact scale this converts every recurring join on the bucket
  key from a full shuffle into a local zip — the single biggest shuffle
  saving available to a recurring pipeline. Buckets are the Spark
  analogue of the reference's fixed 128×128 raster chunking
  (``pipeline/processing/inputs.py:27``): a fixed physical unit chosen
  once so every later operation can rely on it.

- :func:`write_pixels_partitioned` — the canonical pixel store: Parquet
  partitioned by (raster_id, coarse grid cell), rows sorted by (lat,
  lon) within files. Spatial predicates prune whole directories
  (partition pruning) and then whole row groups (min/max stats on the
  sorted columns) — a bbox query touches only the files it overlaps.
"""

from __future__ import annotations

import fnmatch
import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32
PIXEL_PART_DEG = 10.0  # coarse partition-cell size (degrees)


def local_path(path: str) -> str | None:
    """The local filesystem path ``path`` names, or None for a remote
    URI. A plain path is returned as is; ``file:/abs`` and
    ``file:///abs`` both give ``/abs``."""
    if path.startswith("file:"):
        return "/" + path[len("file:"):].lstrip("/")
    return None if "://" in path else path


def _filesystem(uri: str):
    """``(pyarrow filesystem, path within it)`` for a remote URI; Hadoop's
    s3a/s3n scheme aliases map to pyarrow's s3. A scheme pyarrow cannot
    open raises a clear error instead of a later FileNotFoundError."""
    from pyarrow import fs as pafs

    scheme, rest = uri.split("://", 1)
    if scheme in ("s3a", "s3n"):
        uri = f"s3://{rest}"
    try:
        return pafs.FileSystem.from_uri(uri)
    except Exception as ex:
        raise NotImplementedError(
            f"storage scheme {scheme!r} is not supported: pyarrow.fs "
            f"rejected {uri!r} ({ex}); use a local path or a scheme "
            "pyarrow.fs opens"
        ) from ex


def read_bytes(path: str) -> bytes:
    """The whole file at ``path``: local disk, or a remote URI through
    ``pyarrow.fs`` (s3, and gs/hdfs where pyarrow supports them)."""
    local = local_path(path)
    if local is not None:
        with open(local, "rb") as f:
            return f.read()
    filesystem, fs_path = _filesystem(path)
    with filesystem.open_input_stream(fs_path) as f:
        return f.read()


def write_bytes(path: str, data: bytes) -> None:
    """Write ``data`` to ``path``. Locally it goes through a hidden
    sibling temp file and ``os.replace`` (parent directories created):
    readers see either the old file or the whole new one, and a failed
    write leaves neither a partial target nor the temp file. A remote
    URI is written as one ``pyarrow.fs`` output stream."""
    local = local_path(path)
    if local is None:
        filesystem, fs_path = _filesystem(path)
        with filesystem.open_output_stream(fs_path) as f:
            f.write(data)
        return
    d, name = os.path.split(local)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, local)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise


def exists(path: str) -> bool:
    """Whether a file or directory exists at ``path``."""
    local = local_path(path)
    if local is not None:
        return os.path.exists(local)
    from pyarrow import fs as pafs

    filesystem, fs_path = _filesystem(path)
    return filesystem.get_file_info(fs_path).type != pafs.FileType.NotFound


def _glob_walk(filesystem, base: str, root: str, pattern: str) -> list[str]:
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


def list_files(pattern: str) -> list[str]:
    """Every FILE matching the glob ``pattern``, sorted: the one lister
    of the package. It runs where Hadoop's ``globStatus`` is out of
    reach (the geotiff source plans in a Python worker) and on the
    driver alike, so every entry selects the same files from one glob.
    A plain path goes through Python glob. A URI, ``file:`` included,
    is walked by :func:`_glob_walk`; a ``file:`` URI yields local
    paths. Hadoop's ``{a,b}`` alternation and ``\\`` escapes are
    refused in a URI rather than matched differently."""
    local = local_path(pattern)
    if local == pattern:  # a plain path
        return sorted(p for p in glob.glob(pattern) if os.path.isfile(p))
    if "{" in pattern or "\\" in pattern:
        raise ValueError(
            f"{pattern!r} uses glob alternation or escapes, which URI "
            "listing does not expand; list the files with a plain glob"
        )
    if local is not None:
        pattern = local
    wild = next((i for i, ch in enumerate(pattern) if ch in "*?["), len(pattern))
    cut = pattern.rfind("/", 0, wild)
    root, rest = pattern[:cut], pattern[cut + 1:]
    if local is not None:
        from pyarrow import fs as pafs

        return _glob_walk(pafs.LocalFileSystem(), root or "/", root, rest)
    if "://" not in root:
        raise ValueError(f"glob in the host or bucket of {pattern!r}")
    filesystem, base = _filesystem(root)
    return _glob_walk(filesystem, base, root, rest)


def require_local_dir(path: str) -> str:
    """The local directory ``path`` names; a remote one is refused. The
    GeoTIFF writer, the standardize job and the pipeline's sinks write
    their files with os/open from executor Python workers, which have no
    JVM gateway: files written there for a remote URI would land on
    executor-local disks and vanish from the estate."""
    local = local_path(path)
    if local is None:
        raise ValueError(
            "output files are written with os/open from executor Python "
            f"workers; remote URIs ({path!r}) are not supported — write to "
            "a local or shared POSIX directory and upload it from there"
        )
    return local


def _hadoop_fs(spark: SparkSession, path: str):
    """``(Hadoop FileSystem, Path)`` for a remote URI, from the driver."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file (marker/ledger) that works on ANY
    Hadoop-supported URI, not just the driver's local disk: local paths
    use plain open(); remote URIs go through the Hadoop FileSystem API,
    so a job whose data writes land on s3a://... can close its
    completion loop there too."""
    local = local_path(path)
    if local is None:
        fs, hpath = _hadoop_fs(spark, path)
        out = fs.create(hpath, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
    else:
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        with open(local, "w") as fh:
            fh.write(content)


def hadoop_glob(spark: SparkSession, pattern: str) -> list[str]:
    """:func:`list_files` under the name of the former Hadoop
    ``globStatus`` lister, which perfbench's standardize probe still
    imports; ``spark`` is unused."""
    return list_files(pattern)


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete a file/directory on any Hadoop-supported URI;
    returns True when something was removed. Local paths use shutil."""
    local = local_path(path)
    if local is None:
        fs, hpath = _hadoop_fs(spark, path)
        if fs.exists(hpath):
            return bool(fs.delete(hpath, True))
        return False
    if os.path.isdir(local):
        shutil.rmtree(local)
        return True
    if os.path.exists(local):
        os.remove(local)
        return True
    return False


def fs_listdir(spark: SparkSession, path: str) -> list[str]:
    """Child entry NAMES of a directory on any Hadoop-supported URI
    (empty list when the directory does not exist)."""
    local = local_path(path)
    if local is None:
        fs, hpath = _hadoop_fs(spark, path)
        if not fs.exists(hpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(hpath)]
    if not os.path.isdir(local):
        return []
    return os.listdir(local)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Metadata-only move of a file/directory on any Hadoop-supported
    URI (parent dirs created). The fan-out primitive for single-write
    jobs: one partitioned Spark write, then per-partition renames that
    cost no Spark jobs."""
    lsrc, ldst = local_path(src), local_path(dst)
    if lsrc is None or ldst is None:
        fs, hsrc = _hadoop_fs(spark, src)
        hdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
        fs.mkdirs(hdst.getParent())
        # Hadoop rename refuses an existing destination (unlike POSIX
        # os.rename, which atomically replaces) — clear it first. Remote
        # replace is therefore not atomic; callers needing crash safety
        # write dst-name.tmp then rename, so a torn state leaves the tmp
        # file, never a corrupt dst.
        if fs.exists(hdst):
            fs.delete(hdst, True)
        if not fs.rename(hsrc, hdst):
            raise IOError(f"rename failed: {src} -> {dst}")
    else:
        os.makedirs(os.path.dirname(ldst) or ".", exist_ok=True)
        os.rename(lsrc, ldst)


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file from any Hadoop-supported URI; None when it
    does not exist (the probe half of :func:`fs_write_text`)."""
    local = local_path(path)
    if local is None:
        fs, hpath = _hadoop_fs(spark, path)
        if not fs.exists(hpath):
            return None
        jvm = spark._jvm
        stream = fs.open(hpath)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()
    if not os.path.exists(local):
        return None
    with open(local) as fh:
        return fh.read()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = DEFAULT_BUCKETS,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) managed table — THE
    single implementation; ``operators.layout.write_bucketed`` delegates
    here with join-tuned defaults.

    Joins/aggregations on ``bucket_cols`` against any table bucketed the
    same way run exchange-free; sorting within buckets additionally lets
    sort-merge joins skip their sort. ``path`` makes it an external
    table. The pre-drop guards against a stale table with a DIFFERENT
    bucket spec: overwrite alone keeps the old spec and would silently
    re-introduce exchanges.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is not None:
        # Dropping an EXTERNAL table leaves its files behind, and
        # saveAsTable into a non-empty location is a CTAS Spark >= 3.2
        # rejects (allowNonEmptyLocationInCTAS=false) — so a re-run with
        # the same path would fail. Clear the old location first. NOT
        # fs_delete(): a table location without a scheme resolves
        # against fs.defaultFS (HDFS on a real cluster), which only the
        # Hadoop FileSystem API honors — fs_delete's scheme-less branch
        # assumes driver-local disk, correct for markers but not here.
        fs, hpath = _hadoop_fs(spark, path)
        if fs.exists(hpath):
            fs.delete(hpath, True)
    writer = (
        df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join_ready(spark: SparkSession, left: str, right: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planner emits
    no Exchange (asserted in tests/test_storage.py)."""
    return spark.table(left).join(spark.table(right), "l_orderkey")


def write_pixels_partitioned(
    pixels: DataFrame, path: str, part_deg: float = PIXEL_PART_DEG
) -> None:
    """Canonical pixel store layout (S5's destination): directory
    partitions on (raster_id, cell_x, cell_y), files internally sorted by
    (lat, lon) so parquet row-group min/max stats are tight."""
    out = (
        pixels.withColumn(
            "cell_x", F.floor(F.col("lon") / part_deg).cast("int")
        )
        .withColumn("cell_y", F.floor(F.col("lat") / part_deg).cast("int"))
        .repartition("raster_id", "cell_x", "cell_y")
        .sortWithinPartitions("lat", "lon")
    )
    out.write.mode("overwrite").partitionBy("raster_id", "cell_x", "cell_y").parquet(
        path
    )


def read_pixels(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned pixel store; bbox filters prune partitions
    via cell_x/cell_y and row groups via the sorted lat/lon stats."""
    return spark.read.parquet(path)


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    preserve_partitions: tuple[str, ...] = (),
) -> dict:
    """Small-files compaction: rewrite a parquet location so each output
    file approaches ``target_mb`` (the small-files problem is the #1
    silent killer of 100 TB scans — every file costs a task, a footer
    read, and a scheduler round trip).

    File count is computed from the ACTUAL on-disk bytes (driver-side
    listing, metadata only — no data read), not a row-count guess, so
    compressed/skewed files size correctly. With ``preserve_partitions``
    the rewrite keeps hive partitioning and coalesces within partitions
    via one ``repartition(n, keys)`` shuffle; without, a plain
    ``repartition(n)`` round-robin balances bytes evenly.

    Writes to ``path + '.compact'`` then atomically renames over the
    original (the original is moved aside and deleted on success), so a
    concurrent reader sees either the old or the new layout, never a
    partial mix. Returns {files_before, files_after, bytes}. The
    listing and the renames run on the driver with ``os``, so ``path``
    must name a local or shared-POSIX directory.
    """
    local = require_local_dir(path).rstrip("/")
    total = 0
    files_before = 0
    for root, _dirs, names in os.walk(local):
        for n in names:
            if n.endswith(".parquet"):
                files_before += 1
                total += os.path.getsize(os.path.join(root, n))
    n_files = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact"
    if preserve_partitions:
        (
            df.repartition(int(n_files), *preserve_partitions)
            .write.mode("overwrite")
            .partitionBy(*preserve_partitions)
            .parquet(tmp)
        )
    else:
        df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    os.rename(local, local + ".old")
    os.rename(local + ".compact", local)
    shutil.rmtree(local + ".old")
    files_after = sum(
        1
        for root, _d, names in os.walk(local)
        for n in names
        if n.endswith(".parquet")
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
    }
