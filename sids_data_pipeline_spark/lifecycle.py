"""Resource lifecycle helpers (X4 — SURVEY.md §2a).

The reference spends ~40 LoC dropping Postgres tables/views and unlinking
temp files as soon as each stage finishes (reference
``pipeline/processing/cleanup.py:11-58``, ``inputs.py:18-20``,
``vector.py:14-16``). Spark pipelines operators without materialising, so
most of that surface vanishes; what remains is cache and temp-view
hygiene — persisted DataFrames pin executor memory/disk until released,
and temp views pin analyzer state per session.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

# Operator-internal persists, registered via track(). STRONG references
# on purpose: the tracked DataFrame is usually an operator-LOCAL
# variable that CPython refcount-frees the moment the operator returns,
# while its cached blocks live on in the JVM CacheManager — a WeakSet
# entry would auto-discard right then and release_tracked() would
# iterate an empty set, leaking every operator cache for the whole
# session (the Python wrapper is tiny; the JVM blocks are what matter).
_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-persisted DataFrame so a later
    :func:`release_tracked` can unpin it. Operators cannot unpersist
    eagerly themselves — the caller consumes the returned plan after the
    operator returns — so they record the cache here and the driving
    loop (catalog gate, bench, jobs) releases between queries."""
    _TRACKED.append(df)
    return df


def release_tracked() -> None:
    """Unpersist every tracked DataFrame (async, non-blocking). Safe to
    call at any point: unpersisting only drops cached blocks; any plan
    still referencing them recomputes correctly."""
    for df in _TRACKED:
        df.unpersist()
    _TRACKED.clear()


def release(*dfs: DataFrame) -> None:
    """Unpersist DataFrames cached by operators (blocking=False: eviction
    proceeds asynchronously, callers never wait on cleanup)."""
    for df in dfs:
        df.unpersist()
        try:
            _TRACKED.remove(df)
        except ValueError:
            pass


def drop_views(spark: SparkSession, *names: str) -> None:
    """Drop temp views by name, ignoring absent ones (the reference's
    ``DROP ... IF EXISTS`` idiom, cleanup.py:29,39)."""
    for name in names:
        spark.catalog.dropTempView(name)


@contextmanager
def temp_views(spark: SparkSession, **dfs: DataFrame) -> Iterator[None]:
    """Register DataFrames as temp views for a scoped block, dropping
    them on exit — the view lifecycle of the reference's per-pair SQL
    (stats.py:5-18 creates, cleanup.py drops) without manual bookkeeping.

        with temp_views(spark, zones=zones_df, pixels=px_df):
            spark.sql("SELECT ... FROM zones JOIN pixels ...")
    """
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    try:
        yield
    finally:
        drop_views(spark, *dfs)
