"""Storage layouts for 100 TB scale: bucketed tables and spatially
partitioned pixel stores.

Two layouts the engine standardises (SURVEY.md §7 "hardening"):

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32
PIXEL_PART_DEG = 10.0  # coarse partition-cell size (degrees)


def fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file (marker/ledger) that works on ANY
    Hadoop-supported URI, not just the driver's local disk: local paths
    use plain open(); remote URIs go through the Hadoop FileSystem API,
    so a job whose data writes land on s3a://... can close its
    completion loop there too."""
    if "://" in path:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out = fs.create(hpath, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
    else:
        import os

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            fh.write(content)


def hadoop_glob(spark: SparkSession, pattern: str) -> list[str]:
    """Expand a glob PATTERN on any Hadoop-supported URI in ONE
    ``globStatus`` round-trip, returning the matching FILE paths sorted.
    Local (no-scheme) patterns use Python glob. The shared driver-side
    listing (standardize input scan, tileset-marker heal), so
    scheme/metachar semantics cannot drift between those call sites.
    The geotiff source plans in a Python worker without the JVM and
    lists URIs through ``pyarrow.fs``
    (``geotiff_datasource._list_files``), one component per level with
    the same matching, except that it refuses ``{a,b}`` alternation and
    ``\\`` escapes, which only this lister expands."""
    if "://" not in pattern:
        import glob as globmod
        import os

        return sorted(p for p in globmod.glob(pattern) if os.path.isfile(p))
    jvm = spark._jvm
    hglob = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = hglob.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(hglob)
    return sorted(
        str(st.getPath()) for st in (statuses or []) if st.isFile()
    )


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursively delete a file/directory on any Hadoop-supported URI;
    returns True when something was removed. Local paths use shutil."""
    if "://" in path:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            return bool(fs.delete(hpath, True))
        return False
    import os
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
        return True
    if os.path.exists(path):
        os.remove(path)
        return True
    return False


def fs_listdir(spark: SparkSession, path: str) -> list[str]:
    """Child entry NAMES of a directory on any Hadoop-supported URI
    (empty list when the directory does not exist)."""
    if "://" in path:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return []
        return [st.getPath().getName() for st in fs.listStatus(hpath)]
    import os

    if not os.path.isdir(path):
        return []
    return os.listdir(path)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Metadata-only move of a file/directory on any Hadoop-supported
    URI (parent dirs created). The fan-out primitive for single-write
    jobs: one partitioned Spark write, then per-partition renames that
    cost no Spark jobs."""
    if "://" in src or "://" in dst:
        jvm = spark._jvm
        hsrc = jvm.org.apache.hadoop.fs.Path(src)
        hdst = jvm.org.apache.hadoop.fs.Path(dst)
        fs = hsrc.getFileSystem(spark._jsc.hadoopConfiguration())
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
        import os

        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        os.rename(src, dst)


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file from any Hadoop-supported URI; None when it
    does not exist (the probe half of :func:`fs_write_text`)."""
    if "://" in path:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return None
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
    import os

    if not os.path.exists(path):
        return None
    with open(path) as fh:
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
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
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
    partial mix. Returns {files_before, files_after, bytes}.
    """
    import os
    import shutil

    total = 0
    files_before = 0
    for root, _dirs, names in os.walk(path):
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
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after = sum(
        1
        for root, _d, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
    }
