"""Manifest incrementality — the reference's signature operational
behavior, as declarative Spark plans (P6/P8/J3/X3/S7 in SURVEY.md §2a).

The reference enumerates (vector, raster) work pairs with a Python double
loop (reference ``pipeline/processing/data.py:30-39``) and skips a pair
when its output marker blob ``{v}_{r}/metadata.json`` exists
(``data.py:26-40``); completions are recorded in a SQLite ledger
(``batch/processing/raster.py:40``, ``batch/processing/utils.py:31-38``)
exported as CSV (``batch/processing/upload.py:35-44``).

Here the same semantics are three one-liners over DataFrames — the shapes
Catalyst already optimizes:

- pair generation  = crossJoin (J3); both sides are manifests (tiny), so
  the cross product is broadcast and never shuffles the cluster.
- incremental skip = left ANTI join against the completion ledger (P6).
- pending gate     = left SEMI join (P8).
- completion       = append to a Parquet ledger (X3/S7) — job-atomic, and
  re-running the pipeline after a completed run yields an empty pending
  set (idempotency, proven in tests/test_manifest.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAIR_COLS = ("v_id", "r_id")


def work_pairs(vectors: DataFrame, rasters: DataFrame) -> DataFrame:
    """J3: every (vector, raster) combination, with the reference's
    ``{v}_{r}`` composite pair key (data.py:33; F2 concat)."""
    pairs = vectors.select(F.col("id").alias("v_id")).crossJoin(
        F.broadcast(rasters.select(F.col("id").alias("r_id")))
    )
    return pairs.withColumn("pair_key", F.concat_ws("_", "v_id", "r_id"))


def pending_pairs(pairs: DataFrame, done: DataFrame) -> DataFrame:
    """P6: drop pairs already completed (left anti join on the pair key).

    ``done`` needs only (v_id, r_id); extra ledger columns are ignored.
    """
    return pairs.join(done.select(*PAIR_COLS), list(PAIR_COLS), "left_anti")


def gate_to_pending(df: DataFrame, pending: DataFrame) -> DataFrame:
    """P8: keep only rows whose (v_id, r_id) is still pending
    (left semi join — the reference's ``if pair_key in r_v_data`` gate,
    stats.py:25 / vector.py:22 / tiles.py:11)."""
    return df.join(pending.select(*PAIR_COLS), list(PAIR_COLS), "left_semi")


def record_done(
    spark: SparkSession, ledger_path: str, completed: DataFrame
) -> None:
    """X3: append completed pairs to the Parquet ledger (the reference's
    SQLite INSERT, batch/processing/raster.py:40). Parquet append is
    job-atomic per directory; concurrent pipelines each add their files."""
    completed.select(*PAIR_COLS).write.mode("append").parquet(ledger_path)


def read_ledger(
    spark: SparkSession, ledger_path: str, cols: tuple[str, ...] = PAIR_COLS
) -> DataFrame:
    """S7: the ``cols`` of the completion ledger as a DataFrame.

    A driver-side Hadoop FileSystem listing decides first: a missing
    ledger, or one holding no entry Spark would read (only ``_temporary``
    from a first append killed before its commit), is an empty local
    relation, built without any read, so collecting it runs no Spark
    job. Any read failure after that (corrupt footer, permissions)
    surfaces, and a ledger that lacks one of ``cols`` is schema drift and
    raises — an empty fallback there would silently disable
    incrementality and re-run ALL completed work. No os.path fast path:
    scheme-less paths resolve against Hadoop defaultFS, not the driver's
    local disk.
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path(ledger_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath) or all(
        st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(hpath)
    ):
        nulls = ", ".join(f"CAST(NULL AS STRING) AS `{c}`" for c in cols)
        return spark.sql(f"SELECT {nulls} WHERE FALSE")
    return spark.read.parquet(ledger_path).select(*cols)
