"""The end-to-end pipeline job — the reference's Entry-1 lifecycle
(SURVEY.md §3) as one Spark program.

Reference flow (``pipeline/processing/__main__.py:19-26``): enumerate
blobs → prune done pairs → per-raster loop {import, per-vector SQL stats,
GeoJSONL export, tippecanoe tiles, upload, ledger}. The per-dataset
*task* parallelism (multiprocessing.Pool, ``utils.py:47-57``) becomes
*data* parallelism here: ONE zonal-stats job computes every pending
(vector, raster) pair at once — zones and pixels each union into a single
DataFrame keyed by vector_id/raster_id, the spatial join handles all
pairs in one pass, and only the per-pair sink writes loop on the driver
(output tilesets are per-pair directories, exactly like the reference's
blob layout).

Idempotency is the reference's signature behavior (``data.py:26-40``):
pending = crossJoin − ledger; a re-run after completion does zero work
(proven in tests/test_pipeline_job.py).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark import lifecycle
from sids_data_pipeline_spark.operators import manifest
from sids_data_pipeline_spark.operators.zonal import zonal_stats
from sids_data_pipeline_spark.sinks import geojsonl, tiles
from sids_data_pipeline_spark.sources.raster import synthetic_raster, standardize_pixels
from sids_data_pipeline_spark.sources.vector import fixture_zones


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _fanout_partition_dirs(
    spark: SparkSession, stage_dir: str, pair_keys: list[str], dest
) -> None:
    """Move each pair's partition directory of a partitioned write to
    its per-pair destination ``dest(K)`` (metadata-only renames — no
    Spark jobs); pairs with no rows (no partition directory) get an
    empty destination directory so every pending pair materializes
    output.

    The stage is LISTED rather than probed by constructed name: Spark
    Hive-escapes special characters in partition directory names (an id
    containing ':' lands as ``pair_key=...%3A...``), so building the
    expected path from the raw key would miss the data and silently
    delete it with the stage. Unescaping is the %XX decode
    (urllib.unquote — Hive's escapePathName inverse); an unexpected
    partition aborts the fan-out instead of being dropped."""
    import os as _os
    from urllib.parse import unquote

    from sids_data_pipeline_spark.sources.storage import (
        fs_delete,
        fs_listdir,
        fs_mkdirs,
        fs_rename,
    )

    expected = set(pair_keys)
    found: dict[str, str] = {}
    for name in fs_listdir(spark, stage_dir):
        if not name.startswith("pair_key="):
            continue  # _SUCCESS and friends
        key = unquote(name[len("pair_key="):])
        if key not in expected:
            raise ValueError(
                f"unexpected partition {name!r} in {stage_dir}; refusing "
                "to fan out (would drop data)"
            )
        found[key] = stage_dir.rstrip("/") + "/" + name
    for key in pair_keys:
        dst = dest(key)
        fs_delete(spark, dst)
        if key in found:
            fs_rename(spark, found[key], dst)
        else:
            fs_mkdirs(spark, dst)
    fs_delete(spark, stage_dir)


def _write_pair_geojsonl(
    spark: SparkSession,
    stats_with_geom: DataFrame,
    out_dir: str,
    pair_keys: list[str],
    property_cols: tuple[str, ...],
) -> None:
    """K1 for every pair in ONE job: feature lines keyed by pair_key,
    one partitioned text write, then per-pair renames to the reference's
    ``{pair}/export.geojsonl`` layout."""
    stage = os.path.join(out_dir, "_geojsonl_stage")
    lines = geojsonl.to_geojsonl(
        stats_with_geom, property_cols=property_cols, keep_cols=("pair_key",)
    )
    lines.write.mode("overwrite").partitionBy("pair_key").text(stage)
    _fanout_partition_dirs(
        spark, stage, pair_keys,
        lambda k: os.path.join(out_dir, k, "export.geojsonl"),
    )


def _write_pair_tilesets(
    spark: SparkSession,
    encoded: DataFrame,
    out_dir: str,
    pair_keys: list[str],
    max_zoom: int,
    bounds: dict[str, tuple] | None = None,
    fields: dict[str, str] | None = None,
) -> None:
    """K2 for every pair in ONE job: the (pair_key, z, x, y, pbf) table
    writes once partitioned by (pair_key, z, x); renames restore the
    per-pair ``{pair}/tiles`` pyramids and the tippecanoe-compatible
    completion markers (P6) fan out from the manifest — plain filesystem
    ops, zero extra jobs."""
    import json as _json

    from sids_data_pipeline_spark.sinks.tiles import _write_marker, tileset_metadata

    stage = os.path.join(out_dir, "_tiles_stage")
    encoded.write.mode("overwrite").partitionBy("pair_key", "z", "x").parquet(stage)
    _fanout_partition_dirs(
        spark, stage, pair_keys, lambda k: os.path.join(out_dir, k, "tiles")
    )
    for key in pair_keys:
        meta = tileset_metadata(
            key, max_zoom=max_zoom,
            bounds=(bounds or {}).get(key), fields=fields,
        )
        _write_marker(
            spark,
            os.path.join(out_dir, key, "tiles", "_tileset_metadata.json"),
            _json.dumps(meta, separators=(",", ":")),
        )


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
    incremental skip prunes their scan too.
    """
    from collections import namedtuple

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
    # the ledger itself is completed-pair-sized (same magnitude): one
    # small read when it exists, no job at all on a fresh estate
    done_set = {
        (r.v_id, r.r_id)
        for r in manifest.read_ledger(spark, ledger_path).collect()
    }
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
        # runs skip them via the cheap anti-join instead of re-probing
        # the filesystem for every lost-ledger pair forever
        manifest.record_done(
            spark,
            ledger_path,
            spark.createDataFrame(
                [(r.v_id, r.r_id, r.pair_key) for r in marker_done],
                "v_id string, r_id string, pair_key string",
            ),
        )
    if not pending_rows:
        return {"pending": 0, "outputs": []}
    # rebuild the pending manifest from the surviving rows so the compute
    # gate and the ledger record exactly what gets written
    pending = spark.createDataFrame(
        [(r.v_id, r.r_id, r.pair_key) for r in pending_rows],
        "v_id string, r_id string, pair_key string",
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
    # may coexist in the frame when its raster is shared with a pending one)
    gated = all_stats.withColumnsRenamed(
        {"vector_id": "v_id", "raster_id": "r_id"}
    ).join(pending.select("v_id", "r_id"), ["v_id", "r_id"], "left_semi")
    from sids_data_pipeline_spark.operators.zonal import _zone_bboxes

    # bbox columns feed tile assignment/density-drop; the WKB geometry
    # rides along so the tile encoder cuts TRUE polygon rings per tile
    # (the reference's tippecanoe geometry, tiles.py:16-29) instead of
    # bbox rectangles.
    stats_with_geom = _zone_bboxes(
        gated.join(
            zones.withColumnsRenamed({"vector_id": "v_id"}).select(
                "v_id", "fid", "geometry"
            ),
            ["v_id", "fid"],
        )
    )
    # pair_key joins the frame so BOTH sinks write every pair in ONE
    # partitioned job each (constant Spark-job count vs pair count — a
    # 1000-pair estate is 2 writes, not 2000 sequential actions); the
    # reference's per-pair blob layout is restored by metadata-only
    # renames of the partition directories.
    stats_with_geom = stats_with_geom.withColumn(
        "pair_key", F.concat_ws("_", "v_id", "r_id")
    )
    # Persist ONCE above the two sink actions: without this the spatial
    # join + aggregate lineage would execute once per write.
    stats_with_geom = lifecycle.track(stats_with_geom.persist())

    outputs = [r.pair_key for r in pending_rows]
    _write_pair_geojsonl(
        spark, stats_with_geom, out_dir, outputs, property_cols=("fid", *stats)
    )
    feats = stats_with_geom.select(
        "pair_key", "fid", "geometry", *stats, "xmin", "ymin", "xmax", "ymax"
    )
    tiled = tiles.drop_densest(
        tiles.assign_tiles(feats, max_zoom=max_zoom),
        max_features_per_tile,
        extra_keys=("pair_key",),
    )
    encoded = tiles.encode_tiles(
        tiled, ["fid", *stats, "geometry"], geometry_col="geometry",
        max_zoom=max_zoom, extra_keys=("pair_key",),
    )
    # per-pair extent for the tippecanoe-compatible markers: one tiny
    # aggregate over the persisted frame (constant job count)
    pair_bounds = {
        r.pair_key: (r.w, r.s, r.e, r.n)
        for r in stats_with_geom.groupBy("pair_key").agg(
            F.min("xmin").alias("w"), F.min("ymin").alias("s"),
            F.max("xmax").alias("e"), F.max("ymax").alias("n"),
        ).collect()
    }
    _write_pair_tilesets(
        spark, encoded, out_dir, outputs, max_zoom=max_zoom,
        bounds=pair_bounds,
        fields={"fid": "Number", **{s: "Number" for s in stats}},
    )

    manifest.record_done(spark, ledger_path, pending)
    # release the top-level persist AND the operator-internal ones
    # (zonal_stats pins the zone table) — repeated invocations in one
    # session must not accumulate dead caches
    lifecycle.release(stats_with_geom)
    lifecycle.release_tracked()
    return {"pending": len(pending_rows), "outputs": outputs}
