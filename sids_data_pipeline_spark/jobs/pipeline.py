"""The end-to-end pipeline job — the reference's Entry-1 lifecycle
(SURVEY.md §3) as one Spark program.

Reference flow (``pipeline/processing/__main__.py:19-26``): enumerate
blobs → prune done pairs → per-raster loop {import, per-vector SQL stats,
GeoJSONL export, tippecanoe tiles, upload, ledger}. The per-dataset
*task* parallelism (multiprocessing.Pool, ``utils.py:47-57``) becomes
*data* parallelism here: ONE zonal-stats job computes every pending
(vector, raster) pair at once — zones and pixels each union into a single
DataFrame keyed by vector_id/raster_id, and the spatial join handles all
pairs in one pass.

The sinks run in the same job: the stats rows, joined to their zone
geometry, are split by pair into ``min(pairs, defaultParallelism)``
tasks, and one ``mapInArrow`` kernel writes each pair where its rows
are — ``{pair}/export.geojsonl``, the ``{pair}/tiles`` pyramid and,
last, the tippecanoe-compatible marker (output tilesets are per-pair
directories, exactly like the reference's blob layout). Like the
reference, which writes locally and then uploads
(``pipeline/processing/utils.py:26-34``), ``out_dir`` must be local or
shared POSIX storage.

Idempotency is the reference's signature behavior (``data.py:26-40``):
pending = crossJoin − ledger; a re-run after completion does zero work
(proven in tests/test_pipeline_job.py).
"""

from __future__ import annotations

import itertools
import os
import shutil
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark import lifecycle
from sids_data_pipeline_spark.operators import manifest
from sids_data_pipeline_spark.operators.zonal import zonal_stats
from sids_data_pipeline_spark.sinks import geojsonl, tiles
from sids_data_pipeline_spark.sources.storage import local_path, require_local_dir, write_bytes
from sids_data_pipeline_spark.sources.raster import synthetic_raster, standardize_pixels
from sids_data_pipeline_spark.sources.vector import fixture_zones


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _pair_runs(batches):
    """(pair_key, pyarrow.Table) for each run of one key in batches
    sorted by ``pair_key``; a run may span batches, and only one pair's
    rows are held at a time."""
    import pyarrow as pa

    key, parts = None, []
    for batch in batches:
        start = 0
        for k, run in itertools.groupby(batch.column("pair_key").to_pylist()):
            n = sum(1 for _ in run)
            if parts and k != key:
                yield key, pa.Table.from_batches(parts)
                parts = []
            key = k
            parts.append(batch.slice(start, n))
            start += n
    if parts:
        yield key, pa.Table.from_batches(parts)


def _write_pair_data(out_dir, key, feats, stats, max_zoom, max_features_per_tile):
    """Clear and rewrite one pair's ``export.geojsonl`` (one part file)
    and ``tiles`` pyramid (one ``z=Z/x=X`` parquet file per column of
    tiles) from its ``feats`` rows, None meaning none. Returns the
    pair's bounds (w, s, e, n), or None without rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sids_data_pipeline_spark.functions import geo

    pair = local_path(os.path.join(out_dir, key))  # cleared with os/shutil
    for d in (os.path.join(pair, "export.geojsonl"), os.path.join(pair, "tiles")):
        if os.path.isdir(d):
            shutil.rmtree(d)
        os.makedirs(d)
    if feats is None:
        return None
    feats = feats.sort_by("fid")
    lines = geojsonl.arrow_feature_lines(feats, ("fid", *stats))
    write_bytes(
        os.path.join(pair, "export.geojsonl", "part-00000.txt"),
        "".join(f"{line}\n" for line in lines).encode("utf-8"),
    )
    bbox = np.array([geo.wkb_bbox(b) for b in feats.column("geometry").to_pylist()])
    rows = tiles.tileset_rows(
        feats.select(["fid", *stats, "geometry"]).to_pandas(), bbox,
        max_zoom, max_features_per_tile,
    )
    for (z, x), group in itertools.groupby(rows, key=lambda r: r[:2]):
        _, _, ys, pbfs = zip(*group)
        buf = pa.BufferOutputStream()
        # min/max statistics of ``pbf`` would store every tile twice more
        pq.write_table(
            pa.table({"y": pa.array(ys, pa.int32()), "pbf": pa.array(pbfs, pa.binary())}),
            buf, compression="zstd", write_statistics=["y"], store_schema=False,
        )
        write_bytes(
            os.path.join(pair, "tiles", f"z={z}", f"x={x}", "part-00000.parquet"),
            buf.getvalue().to_pybytes(),
        )
    return tuple(float(v) for v in (*bbox[:, :2].min(axis=0), *bbox[:, 2:].max(axis=0)))


def _write_pair_marker(out_dir, key, bounds, max_zoom, stats):
    """The pair's tippecanoe-compatible completion marker (P6), written
    after all of its data."""
    tiles.write_tileset_marker(
        os.path.join(out_dir, key, "tiles"), key, max_zoom=max_zoom,
        bounds=bounds, fields={"fid": "Number", **{s: "Number" for s in stats}},
    )


def _sink_kernel(out_dir, stats, max_zoom, max_features_per_tile):
    """mapInArrow kernel: rows sorted by ``pair_key`` → each pair's
    files, marker last; yields the keys it wrote."""

    def kernel(batches):
        import pyarrow as pa

        for key, feats in _pair_runs(batches):
            bounds = _write_pair_data(
                out_dir, key, feats, stats, max_zoom, max_features_per_tile
            )
            _write_pair_marker(out_dir, key, bounds, max_zoom, stats)
            yield pa.RecordBatch.from_pydict({"pair_key": pa.array([key], pa.string())})

    return kernel


def run_pipeline(
    spark: SparkSession,
    vector_ids: list[str],
    raster_ids: list[str],
    out_dir: str,
    stats: tuple[str, ...] = ("mean",),
    max_zoom: int = 6,
    max_features_per_tile: int = 64,
    zones_df: DataFrame | None = None,
    pixels_df: DataFrame | None = None,
) -> dict:
    """Run zonal stats + exports for every pending (vector, raster) pair.

    Returns {"pending": n_pairs_processed, "outputs": [pair keys]}.
    By default sources are the fixture generators; a production
    deployment passes ``zones_df`` (ZONES schema, all listed vector ids)
    and/or ``pixels_df`` (PIXELS schema, all listed raster ids — e.g. the
    standardize job's canonical store read back via
    ``spark.read.format("geotiff")``) and the plan shape is identical.
    Externally supplied frames are filtered to the PENDING ids, so the
    incremental skip prunes their scan too. A remote ``out_dir`` raises
    ``ValueError`` before any Spark job: the sinks write from executor
    Python workers.
    """
    from collections import namedtuple

    require_local_dir(out_dir)
    ledger_path = os.path.join(out_dir, "_ledger")

    # The manifest is driver-sized BY CONSTRUCTION — ids arrive as Python
    # lists and the pending set was always collect()ed below — so the
    # cross product and the ledger anti-set run in plain Python (the
    # reference's own double loop, data.py:30-39) instead of a crossJoin
    # job + an anti-join job per run (r15, guide §1: two scheduler round
    # trips per invocation for frames of a few rows; the distributed
    # shapes stay available as operators/manifest.work_pairs /
    # pending_pairs for estate-scale manifests).
    Pair = namedtuple("Pair", ("v_id", "r_id", "pair_key"))
    all_pairs = [
        Pair(v, r, f"{v}_{r}") for v in vector_ids for r in raster_ids
    ]
    # the reference's {v}_{r} key format (data.py:33) is ambiguous when
    # ids themselves contain underscores — detect a collision up front
    # rather than letting two pairs overwrite one output directory
    keys = [p.pair_key for p in all_pairs]
    if len(set(keys)) != len(keys):
        dupes = sorted({k for k in keys if keys.count(k) > 1})
        raise ValueError(
            f"ambiguous pair keys {dupes}: underscore-joined ids collide "
            "(reference data.py:33 key format); rename the inputs"
        )
    # the ledger itself is completed-pair-sized (same magnitude): a
    # driver-side read of its part files, never a Spark job
    done_set = manifest.read_done(ledger_path)
    # second P6 guard, the reference's own probe (data.py:33-35): a pair
    # whose tileset marker exists is complete even if the ledger was
    # lost. ONE recursive marker listing replaces the former per-pair
    # existence probe — constant filesystem round-trips vs pair count.
    all_pending = [p for p in all_pairs if (p.v_id, p.r_id) not in done_set]
    # nothing pending → skip even the single listing
    complete_keys = tiles.tileset_markers(out_dir) if all_pending else set()
    pending_rows, marker_done = [], []
    for r in all_pending:
        if r.pair_key in complete_keys:
            marker_done.append(r)
        else:
            pending_rows.append(r)
    if marker_done:
        # heal the ledger: marker-complete pairs re-enter it so future
        # runs skip them via the ledger set instead of re-probing
        # the filesystem for every lost-ledger pair forever
        manifest.append_done(ledger_path, [(p.v_id, p.r_id) for p in marker_done])
    if not pending_rows:
        return {"pending": 0, "outputs": []}
    # rebuild the pending manifest from the surviving rows so the compute
    # gate and the ledger record exactly what gets written; each pair's
    # _slot is the sink task that writes it. Driver-built frames come
    # from pandas: a LocalTableScan, where a Python list would be an RDD
    # scan that starts a Python worker for every job reading it
    outputs = [r.pair_key for r in pending_rows]
    n_tasks = min(len(outputs), spark.sparkContext.defaultParallelism)
    pending = spark.createDataFrame(
        pd.DataFrame(pending_rows, columns=Pair._fields).assign(
            _slot=[i % n_tasks for i in range(len(pending_rows))]
        ),
        "v_id string, r_id string, pair_key string, _slot int",
    )

    pend_v = sorted({r.v_id for r in pending_rows})
    pend_r = sorted({r.r_id for r in pending_rows})

    # ONE job for all pairs: union the pending dimensions and let the
    # spatial join's key columns (vector_id, raster_id) fan the work out.
    if zones_df is not None:
        zones = zones_df.filter(F.col("vector_id").isin(pend_v))
    else:
        zones = _union([fixture_zones(spark, v) for v in pend_v])
    if pixels_df is not None:
        pixels = standardize_pixels(
            pixels_df.filter(F.col("raster_id").isin(pend_r))
        )
    else:
        pixels = standardize_pixels(
            _union([synthetic_raster(spark, r) for r in pend_r])
        )
    all_stats = zonal_stats(zones, pixels, stats=stats)
    # P8 gate: only pending pairs get written (a completed pair's stats
    # may coexist in the frame when its raster is shared with a pending
    # one); the inner join with the one-row-per-pair manifest also brings
    # each row's pair_key and _slot
    gated = all_stats.withColumnsRenamed(
        {"vector_id": "v_id", "raster_id": "r_id"}
    ).join(pending, ["v_id", "r_id"])
    # the WKB geometry rides along so the tile encoder cuts TRUE polygon
    # rings per tile (the reference's tippecanoe geometry, tiles.py:16-29)
    feats = gated.join(
        zones.withColumnsRenamed({"vector_id": "v_id"}).select("v_id", "fid", "geometry"),
        ["v_id", "fid"],
    ).select("_slot", "pair_key", "fid", "geometry", *stats)
    # repartitionById places each pair on its own slot's task: hash
    # partitioning could stack pairs on one task, and a post-shuffle
    # groupBy would be coalesced by AQE into a single task
    written = {
        r.pair_key
        for r in feats.repartitionById(n_tasks, "_slot")
        .sortWithinPartitions("pair_key")
        .mapInArrow(
            _sink_kernel(out_dir, stats, max_zoom, max_features_per_tile),
            "pair_key string",
        )
        .collect()
    }
    # a pair without stats rows still gets its (empty) outputs and marker
    for key in outputs:
        if key not in written:
            _write_pair_data(out_dir, key, None, stats, max_zoom, max_features_per_tile)
            _write_pair_marker(out_dir, key, None, max_zoom, stats)

    manifest.append_done(ledger_path, [(p.v_id, p.r_id) for p in pending_rows])
    # release the operator-internal persists (zonal_stats pins the zone
    # table above BROADCAST_ZONE_LIMIT) — repeated invocations in one
    # session must not accumulate dead caches
    lifecycle.release_tracked()
    return {"pending": len(pending_rows), "outputs": outputs}
