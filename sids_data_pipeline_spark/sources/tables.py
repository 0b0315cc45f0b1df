"""Parquet sources for the engine's relational tables.

Spark-side replacement for the reference's source layer: blob listing +
azcopy staging + CSV manifest reads (reference
``pipeline/processing/data.py:9-12``, ``batch/processing/utils.py:16-18``,
``pipeline/processing/utils.py:26-29``). Spark reads the storage URI
directly (local path here, ``abfss://``/``s3a://`` on a cluster), so the
staging step disappears; explicit schemas keep scans inference-free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from sids_data_pipeline_spark.schemas import TABLE_NAMES, TABLE_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one canonical table as a DataFrame with its declared schema."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    # .schema() on parquet pins column types without disabling predicate
    # pushdown; mismatches fail loudly instead of silently casting.
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Schema-adaptive events loader.

    ``events.parquet`` has shipped with ``ts`` as either TIMESTAMP(NANOS)
    (which Spark's parquet reader rejects outright) or a plain microsecond
    TIMESTAMP. Probe the parquet footer (one driver-side metadata read, no
    data IO) and branch:

    * micros/millis timestamp → read with the declared schema as-is;
    * nanos → read the raw int64 (``nanosAsLong``) and truncate to a
      microsecond TimestampType, matching how DuckDB casts TIMESTAMP_NS to
      its native microsecond TIMESTAMP so both engines see identical
      instants.
    """
    from pyspark.sql import functions as F

    if _events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.schema(TABLE_SCHEMAS["events"]).parquet(path)


def _events_ts_is_nanos(path: str) -> bool:
    """True when the parquet footer declares ``ts`` as nanosecond
    precision. Footer-only read; when the footer cannot be probed (a
    missing or non-parquet path, a scheme pyarrow does not know or was
    built without, no ``ts`` column) assume the modern micros layout: the plain read then fails
    loudly if that's wrong."""
    import pyarrow.dataset as ds
    import pyarrow.types as pat

    try:
        field = ds.dataset(path, format="parquet").schema.field("ts")
    except (OSError, ValueError, KeyError, NotImplementedError):
        return False
    return pat.is_timestamp(field.type) and field.type.unit == "ns"


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every canonical table; also registers each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def list_datasets(
    spark: SparkSession,
    path: str,
    suffixes: tuple[str, ...] = (".parquet", ".tif", ".gpkg"),
) -> DataFrame:
    """S1 listing scan (reference ``pipeline/processing/data.py:9-12``):
    enumerate dataset files under ``path`` and project the stem as ``id``
    — the DataFrame the work-pair crossJoin (J3) consumes.

    Uses Spark's ``binaryFile`` source so listing runs through the same
    Hadoop FileSystem layer as the reads (local dir here, ``abfss://``/
    ``s3a://`` container on a cluster — the reference's list_blobs
    equivalent), without fetching file contents (column pruning drops
    ``content``; only ``path`` is read)."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    try:
        files = spark.read.format("binaryFile").load(os.path.join(path, "*"))
    except AnalysisException:
        # empty container (nothing matched the glob): a normal first-run
        # state for the listing — zero pending datasets, not an error
        return spark.createDataFrame([], "id string")
    stem = F.regexp_extract(F.col("path"), r"([^/]+?)(\.[^./]+)?$", 1)
    ext = F.regexp_extract(F.col("path"), r"([^/]+?)(\.[^./]+)$", 2)
    return (
        files.select(stem.alias("id"), ext.alias("_ext"))
        .filter(F.col("_ext").isin(*suffixes))
        .drop("_ext")
        .orderBy("id")
    )
