"""Manifest incrementality — the reference's signature operational
behavior, as declarative Spark plans (P6/P8/J3/X3/S7 in SURVEY.md §2a).

The reference enumerates (vector, raster) work pairs with a Python double
loop (reference ``pipeline/processing/data.py:30-39``) and skips a pair
when its output marker blob ``{v}_{r}/metadata.json`` exists
(``data.py:26-40``); completions are recorded in a SQLite ledger
(``batch/processing/raster.py:40``, ``batch/processing/utils.py:31-38``)
exported as CSV (``batch/processing/upload.py:35-44``).

Here the pair semantics are three one-liners over DataFrames — the
shapes Catalyst already optimizes:

- pair generation  = crossJoin (J3); both sides are manifests (tiny), so
  the cross product is broadcast and never shuffles the cluster.
- incremental skip = left ANTI join against the completion ledger (P6).
- pending gate     = left SEMI join (P8).

The completion ledger (X3/S7) is driver-sized, so the driver reads and
writes it as plain files with no Spark job: a directory of parquet
parts with string columns. :func:`append_done` adds ONE atomic part
file per append, :func:`read_done` reads every part back as a Python
set, and re-running a job after a completed run yields an empty
pending set (idempotency, proven in tests/test_manifest.py). Both go
through ``sources/storage``, so the ledger path follows the package's
one path rule: a plain path, ``file:/abs`` or ``file:///abs`` is local
disk, any other ``scheme://`` is opened with ``pyarrow.fs``. Spark and
pyarrow's dataset reader read the same directory as a parquet table.
"""

from __future__ import annotations

import glob
import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark.sources.storage import list_files, read_bytes, write_bytes

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


def _ledger_rows(ledger_path: str, cols: tuple[str, ...]) -> list[tuple]:
    """The ``cols`` tuples of every row in the completion ledger, read on
    the driver with pyarrow and no Spark job.

    The ledger's data parts are the files directly under ``ledger_path``
    whose names start with neither ``_`` nor ``.`` — the rule Spark's
    own parquet reader applies, so ``_SUCCESS``, ``.crc`` checksums, a
    ``_temporary`` directory left by a killed Spark append and the
    hidden temp file of a killed :func:`append_done` are all skipped. A
    missing ledger has no rows. A part that lacks one of ``cols`` is
    schema drift and raises ``ValueError``: an empty fallback there
    would silently disable incrementality and re-run ALL completed work.
    Any other read failure (corrupt footer, permissions) surfaces too.
    """
    rows = []
    for part in list_files(glob.escape(ledger_path.rstrip("/")) + "/*"):
        if os.path.basename(part).startswith(("_", ".")):
            continue
        table = pq.read_table(pa.BufferReader(read_bytes(part)))
        for c in cols:
            if c not in table.column_names:
                raise ValueError(f"ledger {ledger_path}: {part} has no column {c!r}")
        rows += zip(*(table.column(c).to_pylist() for c in cols))
    return rows


def read_done(ledger_path: str, cols: tuple[str, ...] = PAIR_COLS) -> set[tuple]:
    """S7: the set of ``cols`` tuples the completion ledger records."""
    return set(_ledger_rows(ledger_path, cols))


def append_done(ledger_path: str, rows: list[tuple], cols: tuple[str, ...] = PAIR_COLS) -> None:
    """X3: append ``rows`` (tuples of ``cols``, all strings) to the
    ledger as ONE new ``part-<uuid>.parquet`` file — the reference's
    SQLite INSERT (batch/processing/raster.py:40). :func:`write_bytes`
    writes a local part through a hidden temp file and ``os.replace``,
    so an append is atomic: a reader sees all of its rows or none.
    Concurrent writers each add their own part. No rows, no file."""
    if not rows:
        return
    table = pa.table({c: pa.array(v, pa.string()) for c, v in zip(cols, zip(*rows))})
    sink = pa.BufferOutputStream()
    # the parquet schema already types every string column; the Arrow
    # schema blob would only grow a small part by more than half
    pq.write_table(table, sink, store_schema=False)
    part = f"{ledger_path.rstrip('/')}/part-{uuid.uuid4().hex}.parquet"
    write_bytes(part, sink.getvalue().to_pybytes())


def record_done(spark: SparkSession, ledger_path: str, completed: DataFrame) -> None:
    """:func:`append_done` of the ``PAIR_COLS`` of ``completed``."""
    append_done(ledger_path, completed.select(*PAIR_COLS).collect())


def read_ledger(
    spark: SparkSession, ledger_path: str, cols: tuple[str, ...] = PAIR_COLS
) -> DataFrame:
    """The ledger's rows as a DataFrame of string ``cols``, one row per
    recorded row (duplicates kept). The driver-side reader of
    :func:`read_done` reads them, so the path follows the
    ``sources/storage`` rule, not Hadoop's ``defaultFS``. A non-empty
    ledger is a local relation built from pandas and an empty one a
    relation built without any read; collecting either runs no Spark
    job."""
    rows = _ledger_rows(ledger_path, cols)
    if rows:
        schema = ", ".join(f"`{c}` string" for c in cols)
        return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)), schema)
    nulls = ", ".join(f"CAST(NULL AS STRING) AS `{c}`" for c in cols)
    return spark.sql(f"SELECT {nulls} WHERE FALSE")
