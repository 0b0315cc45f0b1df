"""End-to-end pipeline lifecycle: one data-parallel run over all pending
pairs, per-pair exports, ledger append, idempotent re-run."""

from __future__ import annotations

import json
import os

from sids_data_pipeline_spark.jobs.pipeline import run_pipeline
from sids_data_pipeline_spark.sinks import tiles


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    vectors = ["zones_grid", "zones_overlap"]
    rasters = ["rast_gradient", "rast_checker"]

    r1 = run_pipeline(spark, vectors, rasters, out, stats=("mean", "count"))
    assert r1["pending"] == 4
    assert sorted(r1["outputs"]) == [
        "zones_grid_rast_checker",
        "zones_grid_rast_gradient",
        "zones_overlap_rast_checker",
        "zones_overlap_rast_gradient",
    ]

    # per-pair outputs exist and decode
    pair = os.path.join(out, "zones_grid_rast_gradient")
    lines = spark.read.text(os.path.join(pair, "export.geojsonl")).collect()
    assert len(lines) == 4  # one feature per zone
    feat = json.loads(lines[0].value)
    assert feat["type"] == "Feature" and "mean" in feat["properties"]
    assert tiles.tileset_complete(os.path.join(pair, "tiles"))

    # signature behavior: a re-run finds nothing to do
    r2 = run_pipeline(spark, vectors, rasters, out, stats=("mean", "count"))
    assert r2 == {"pending": 0, "outputs": []}

    # adding a raster only processes the new pairs
    r3 = run_pipeline(
        spark, vectors, rasters + ["rast_nodata"], out, stats=("mean", "count")
    )
    assert r3["pending"] == 2
    assert all(k.endswith("rast_nodata") for k in r3["outputs"])


def test_curation_job_end_to_end(spark, tmp_path):
    """Full corpus-prep lifecycle: scrub → curate → split → shard →
    partitioned parquet, with zero-work idempotent re-run."""
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.jobs.curation import run_curation_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus")
    m1 = run_curation_job(spark, docs, out, shard_tokens=2000)
    assert m1["skipped"] is False
    assert m1["n_input"] == docs.count()
    assert 0 < m1["n_curated"] <= m1["n_input"]
    assert set(m1["splits"]) <= {"train", "val", "test"}
    total_docs = sum(v["docs"] for v in m1["splits"].values())
    assert total_docs == m1["n_curated"]
    # materialized layout is partitioned by (split, shard_id)
    written = spark.read.parquet(out + "/data")
    assert {"split", "shard_id"} <= set(written.columns)
    # shard budget respected up to the one-doc overshoot rule
    worst = (
        written.groupBy("split", "shard_id")
        .agg(F.sum("n_words").alias("w"), F.max("n_words").alias("m"))
        .selectExpr("max(w - m) AS slack")
        .collect()[0]
        .slack
    )
    assert worst <= 2000
    # idempotent re-run: same config short-circuits
    m2 = run_curation_job(spark, docs, out, shard_tokens=2000)
    assert m2["skipped"] is True and m2["n_curated"] == m1["n_curated"]
    # changed config re-runs
    m3 = run_curation_job(spark, docs, out, shard_tokens=500)
    assert m3["skipped"] is False


def test_pipeline_tiles_carry_true_rings(spark, tmp_path):
    """The written tileset's features are the zones' actual polygons cut
    per tile (verdict r5 #1), not bbox rectangles, with stats as props."""
    import numpy as np

    from sids_data_pipeline_spark.functions import geo, mvt
    from sids_data_pipeline_spark.sources.vector import FIXTURE_BUILDERS

    out = str(tmp_path / "out")
    run_pipeline(
        spark, ["zones_overlap"], ["rast_checker"], out, stats=("mean",),
        max_zoom=4,
    )
    back = tiles.read_tileset(
        spark, os.path.join(out, "zones_overlap_rast_checker", "tiles")
    ).collect()
    wkb_by_fid = {f: w for f, _n, w in FIXTURE_BUILDERS["zones_overlap"]()}
    seen_hole = False
    for row in back:
        layer = mvt.decode_tile(bytes(row.pbf))["features"]
        for feat in layer["features"]:
            fid = feat["props"]["fid"]
            tol = tiles.DEFAULT_SIMPLIFY_TOL if row.z < 4 else 0.0
            expect = tiles.geometry_tile_rings(
                wkb_by_fid[fid], row.z, row.x, row.y, simplify_tol=tol
            )
            assert feat["rings"] == expect
            if fid == 4 and len(feat["rings"]) == 2:
                seen_hole = True
                areas = [
                    geo.ring_signed_area(np.asarray(r, dtype=float))
                    for r in feat["rings"]
                ]
                assert areas[0] > 0 > areas[1]
            # zonal stat rides along as a property; NULL stats (the
            # sub-pixel zone 3, the holed-triangle 4 on the checker) drop
            if fid in (1, 2):
                assert "mean" in feat["props"]
    assert seen_hole, "triangle-with-hole zone never decoded with its hole"


def _stage_infos(spark, group):
    """StageInfo of every stage of every job run under ``group`` (a
    stage a job listed but skipped may have no info)."""
    st = spark.sparkContext.statusTracker()
    ids = sorted(
        {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    )
    return [i for i in map(st.getStageInfo, ids) if i is not None]


def test_pipeline_single_write_constant_job_count(spark, tmp_path, monkeypatch):
    """The sinks write every pair in ONE job (constant Spark-job count
    vs pair count). A 4-pair run must
    launch no more jobs than a 1-pair run (+ a small constant), every
    pair dir must exist, nothing is persisted for the sinks, and the
    sink stage runs one task per pair up to defaultParallelism."""
    import sids_data_pipeline_spark.jobs.pipeline as pl

    tracked = []
    orig_track = pl.lifecycle.track
    monkeypatch.setattr(
        pl.lifecycle, "track", lambda df: tracked.append(df) or orig_track(df)
    )

    def n_jobs(fn, group):
        # Count inside a dedicated job group: the unqualified job list
        # also picks up stragglers from earlier tests (async broadcast /
        # streaming-cleanup jobs land between the two snapshots), which
        # made this assertion flaky under the full suite.
        sc = spark.sparkContext
        st = sc.statusTracker()
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(st.getJobIdsForGroup(group))

    out1 = str(tmp_path / "one")
    out4 = str(tmp_path / "four")
    j1 = n_jobs(lambda: run_pipeline(
        spark, ["zones_grid"], ["rast_gradient"], out1, stats=("mean",)
    ), "jcount-one-pair")
    tracked.clear()
    j4 = n_jobs(lambda: run_pipeline(
        spark, ["zones_grid", "zones_overlap"],
        ["rast_gradient", "rast_checker"], out4, stats=("mean",),
    ), "jcount-four-pair")
    assert tracked == []  # the sinks persist nothing
    # constant job count: the 4-pair estate costs the same writes as 1
    # pair (broadcast/AQE variation allows a tiny slack, never 4x)
    assert j4 <= j1 + 3, (j1, j4)
    # the sink is the last stage the pipeline's collect ran (the ledger
    # append after it runs on the driver)
    sink = [
        s for s in _stage_infos(spark, "jcount-four-pair")
        if s.name.startswith("collect at") and "pipeline.py" in s.name
    ][-1]
    assert sink.numTasks == min(4, spark.sparkContext.defaultParallelism), sink
    import os as _os

    for pair in ("zones_grid_rast_gradient", "zones_overlap_rast_checker"):
        assert _os.path.isdir(_os.path.join(out4, pair, "export.geojsonl"))
        assert tiles.tileset_complete(_os.path.join(out4, pair, "tiles"))
    assert sorted(_os.listdir(out4)) == [
        "_ledger",
        "zones_grid_rast_checker",
        "zones_grid_rast_gradient",
        "zones_overlap_rast_checker",
        "zones_overlap_rast_gradient",
    ]


def test_curation_job_action_economy_and_input_signature(spark, tmp_path, monkeypatch):
    """Verdict r5 #5 + ADVICE: the report no longer re-executes the
    curation chain (one aggregate over the written parquet serves all
    counts), and the idempotency ledger keys on an input signature, so
    same-config-different-data re-runs instead of returning stale."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from sids_data_pipeline_spark.jobs.curation import run_curation_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "corpus")

    calls = {"count": 0, "collect": 0}
    orig_count, orig_collect = CDF.count, CDF.collect
    monkeypatch.setattr(
        CDF, "count",
        lambda self: (calls.__setitem__("count", calls["count"] + 1),
                      orig_count(self))[1],
    )
    monkeypatch.setattr(
        CDF, "collect",
        lambda self: (calls.__setitem__("collect", calls["collect"] + 1),
                      orig_collect(self))[1],
    )

    m1 = run_curation_job(spark, docs, out, shard_tokens=2000)
    assert m1["skipped"] is False
    # count: the input-signature count + the LSH bucket-cap skip probe
    # (a bounded limit+count over the persisted signature that doubles
    # as its cache materialization — restored in round 8 after the
    # always-on cap measured +73% steady-state, CHANGES.md "Round 8");
    # collect: one pack_shards partition-totals list per split (3) + the
    # empty-output guard's take(1) on the PERSISTED frame + ONE report
    # aggregate. The write is the only action executing the curation
    # chain.
    assert calls["count"] == 2, calls
    assert calls["collect"] == 5, calls

    # skip path: signature count only, zero chain work
    calls.update(count=0, collect=0)
    m2 = run_curation_job(spark, docs, out, shard_tokens=2000)
    assert m2["skipped"] is True
    assert calls == {"count": 1, "collect": 0}

    # same config, DIFFERENT input: must re-run, not return stale
    m3 = run_curation_job(spark, docs.limit(500), out, shard_tokens=2000)
    assert m3["skipped"] is False and m3["n_input"] == 500


def test_pipeline_consumes_standardized_store(spark, tmp_path):
    """Entry-2 → Entry-1 wiring: the standardize job's canonical GeoTIFF
    store, read back through the registered data source, drives the
    pipeline job as its pixel input (the production path the fixture
    generators stand in for)."""
    import json

    import numpy as np

    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.jobs.pipeline import run_pipeline
    from sids_data_pipeline_spark.jobs.standardize import run_standardize_job
    from sids_data_pipeline_spark.schemas import ZONES
    from sids_data_pipeline_spark.sources.geotiff import encode_geotiff
    from sids_data_pipeline_spark.sources.geotiff_datasource import register

    src = tmp_path / "in"
    src.mkdir()
    for stem, base in (("r1", 0.0), ("r2", 100.0)):
        arr = (np.arange(64, dtype="float64") + base).reshape(8, 8)
        (src / f"{stem}.tif").write_bytes(
            encode_geotiff(arr, origin_x=0.0, origin_y=0.8, pixel_deg=0.1)
        )
    store = tmp_path / "store"
    run_standardize_job(
        spark, str(src / "*.tif"), str(store), str(tmp_path / "ledger"),
        lon=(0.0, 0.45), lat=(0.0, 0.8),
    )

    register(spark)
    px = spark.read.format("geotiff").load(str(store / "*.tif"))
    zones = spark.createDataFrame(
        [("zcustom", 1, "all", geo.box_wkb(0.0, 0.0, 0.5, 0.8))], ZONES
    )
    out = tmp_path / "run"
    res = run_pipeline(
        spark, ["zcustom"], ["r1", "r2"], str(out), max_zoom=2,
        zones_df=zones, pixels_df=px,
    )
    assert res["pending"] == 2
    assert sorted(res["outputs"]) == ["zcustom_r1", "zcustom_r2"]

    # hand-computed means over the clipped store (8 rows x 5 cols kept):
    # r1: mean(row*8 + col) = 28 + 2 = 30 ; r2: +100
    for pair, want in (("zcustom_r1", 30.0), ("zcustom_r2", 130.0)):
        lines = []
        export = out / pair / "export.geojsonl"
        for part in export.iterdir():
            if part.name.startswith("part-"):
                lines += [l for l in part.read_text().splitlines() if l]
        feats = [json.loads(l) for l in lines]
        assert len(feats) == 1
        assert feats[0]["properties"]["mean"] == want


def _zones(vector_id, fixture="zones_grid"):
    from sids_data_pipeline_spark.sources.vector import FIXTURE_BUILDERS

    return [(vector_id, fid, name, wkb) for fid, name, wkb in FIXTURE_BUILDERS[fixture]()]


def _export_lines(pair_dir):
    lines = []
    for part in sorted(os.listdir(os.path.join(pair_dir, "export.geojsonl"))):
        with open(os.path.join(pair_dir, "export.geojsonl", part)) as f:
            lines += f.read().splitlines()
    return lines


def test_pipeline_pair_id_with_colon_lands_in_literal_dir(spark, tmp_path):
    """A ':' in an id (which Hive-style partition names would escape to
    %3A) lands in the literal ``{v}_{r}`` directory, with its data."""
    import pyarrow.parquet as pq

    from sids_data_pipeline_spark.schemas import ZONES

    zones = spark.createDataFrame(_zones("zones:v2"), ZONES)
    out = tmp_path / "out"
    res = run_pipeline(spark, ["zones:v2"], ["rast_gradient"], str(out), zones_df=zones)
    assert res["outputs"] == ["zones:v2_rast_gradient"]
    assert sorted(p.name for p in out.iterdir()) == ["_ledger", "zones:v2_rast_gradient"]
    pair = out / "zones:v2_rast_gradient"
    assert len(_export_lines(str(pair))) == 4
    assert pq.read_table(str(pair / "tiles" / "z=0" / "x=0")).num_rows == 1
    assert tiles.tileset_markers(str(out)) == {"zones:v2_rast_gradient"}


def test_pipeline_pair_without_stats_rows_gets_empty_outputs(spark, tmp_path):
    """A pending pair with no stats rows — a vector whose zones are
    filtered away, or a raster id with no pixel rows — still gets an
    empty export dir, a tiles dir, a marker without bounds and a ledger
    row."""
    from sids_data_pipeline_spark.operators import manifest
    from sids_data_pipeline_spark.schemas import ZONES
    from sids_data_pipeline_spark.sources.raster import synthetic_raster

    zones = spark.createDataFrame(_zones("zA"), ZONES)  # no zones for zB
    pixels = synthetic_raster(spark, "rast_gradient")  # none for rast_checker
    out = str(tmp_path / "out")
    res = run_pipeline(
        spark, ["zA", "zB"], ["rast_gradient", "rast_checker"], out,
        zones_df=zones, pixels_df=pixels,
    )
    assert res["pending"] == 4
    for pair in ("zB_rast_gradient", "zB_rast_checker", "zA_rast_checker"):
        pair_dir = os.path.join(out, pair)
        assert os.listdir(os.path.join(pair_dir, "export.geojsonl")) == [], pair
        assert os.listdir(os.path.join(pair_dir, "tiles")) == ["_tileset_metadata.json"]
        with open(os.path.join(pair_dir, "tiles", "_tileset_metadata.json")) as f:
            assert "bounds" not in json.loads(f.read())
    # the raster with pixels still exports every zone (NULL means and all)
    assert len(_export_lines(os.path.join(out, "zA_rast_gradient"))) == 4
    ledger = manifest.read_ledger(spark, os.path.join(out, "_ledger")).collect()
    assert sorted((r.v_id, r.r_id) for r in ledger) == [
        ("zA", "rast_checker"), ("zA", "rast_gradient"),
        ("zB", "rast_checker"), ("zB", "rast_gradient"),
    ]


def test_pipeline_sink_kernel_matches_column_operators(spark, tmp_path):
    """The kernel's tile rows equal encode_tiles(drop_densest(
    assign_tiles(...))) and its lines equal to_geojsonl, over the
    fixture zones plus a feature at lon=180, one south of the Mercator
    cutoff and 70 same-tile features (more than the 64 cap, with area
    ties), with NULL, NaN and infinite means."""
    import math

    import numpy as np
    import pyarrow as pa

    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.jobs.pipeline import _write_pair_data
    from sids_data_pipeline_spark.sinks import geojsonl

    feats = [(fid, wkb) for _, fid, _, wkb in _zones("v", "zones_overlap")]
    feats += [(101, geo.box_wkb(179.5, 0.5, 180.0, 1.5)),
              (102, geo.box_wkb(10.0, -89.0, 11.0, -87.0))]
    for i in range(70):  # dyadic sizes repeat every 7 features: exact area ties
        x, y, w = 20.0 + (i % 10) * 0.25, 5.0 + (i // 10) * 0.25, (1 + i % 7) / 128
        feats.append((200 + i, geo.box_wkb(x, y, x + w, y + w)))
    means = [float(i) for i in range(len(feats))]
    means[:4] = [None, math.nan, math.inf, -math.inf]
    rows = [
        (fid, wkb, mean, *geo.wkb_bbox(wkb))
        for (fid, wkb), mean in zip(feats, means)
    ]
    df = spark.createDataFrame(
        rows,
        "fid long, geometry binary, mean double, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    want_tiles = sorted(
        (r.z, r.x, r.y, bytes(r.pbf))
        for r in tiles.encode_tiles(
            tiles.drop_densest(tiles.assign_tiles(df, max_zoom=5), 64),
            ["fid", "mean", "geometry"], geometry_col="geometry", max_zoom=5,
        ).collect()
    )
    want_lines = sorted(r.value for r in geojsonl.to_geojsonl(df).collect())

    table = pa.table({
        "pair_key": ["p"] * len(rows),
        "fid": pa.array([r[0] for r in rows], pa.int64()),
        "geometry": pa.array([r[1] for r in rows], pa.binary()),
        "mean": pa.array(means, pa.float64()),
    })
    bounds = _write_pair_data(str(tmp_path), "p", table, ("mean",), 5, 64)
    got_tiles = sorted(
        (r.z, r.x, r.y, bytes(r.pbf))
        for r in tiles.read_tileset(spark, str(tmp_path / "p" / "tiles")).collect()
    )
    assert got_tiles == want_tiles
    assert any(x == 2 ** z - 1 for z, x, _, _ in got_tiles if z > 0)  # lon=180 clamps
    assert any(y == 2 ** z - 1 for z, _, y, _ in got_tiles if z > 0)  # past the cutoff
    assert sorted(_export_lines(str(tmp_path / "p"))) == want_lines
    bbox = np.array([r[3:] for r in rows])
    assert bounds == (*bbox[:, :2].min(axis=0), *bbox[:, 2:].max(axis=0))


def test_pipeline_crash_before_marker_converges_on_rerun(spark, tmp_path, monkeypatch):
    """A failure injected before one pair's marker fails the run with
    no ledger rows; the rerun converges to outputs byte-identical to a
    clean run, with each pair in the ledger exactly once."""
    import pytest

    import sids_data_pipeline_spark.jobs.pipeline as pl
    from sids_data_pipeline_spark.operators import manifest

    vectors, rasters = ["zones_grid", "zones_overlap"], ["rast_gradient", "rast_checker"]
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    run_pipeline(spark, vectors, rasters, clean)

    write_marker = pl._write_pair_marker

    def crash_before_marker(out_dir, key, *args):
        # the kernel is pickled with this global, so the crash happens
        # in the executor's Python worker, after the pair's data files
        if key == "zones_overlap_rast_checker":
            raise RuntimeError("injected crash before the marker")
        write_marker(out_dir, key, *args)

    monkeypatch.setattr(pl, "_write_pair_marker", crash_before_marker)
    with pytest.raises(Exception, match="injected crash"):
        run_pipeline(spark, vectors, rasters, crashed)
    monkeypatch.undo()
    assert manifest.read_ledger(spark, os.path.join(crashed, "_ledger")).collect() == []
    assert os.listdir(os.path.join(crashed, "zones_overlap_rast_checker", "tiles"))
    assert "zones_overlap_rast_checker" not in tiles.tileset_markers(crashed)

    run_pipeline(spark, vectors, rasters, crashed)

    def tree(root):
        out = {}
        for d, _, names in os.walk(root):
            if "_ledger" in os.path.relpath(d, root).split(os.sep):
                continue
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    out[os.path.relpath(os.path.join(d, n), root)] = f.read()
        return out

    assert tree(crashed) == tree(clean)
    ledger = manifest.read_ledger(spark, os.path.join(crashed, "_ledger")).collect()
    assert sorted((r.v_id, r.r_id) for r in ledger) == sorted(
        (v, r) for v in vectors for r in rasters
    )


def test_pipeline_noop_rerun_schedules_no_job(spark, tmp_path):
    """After a completed run the ledger, read on the driver, empties
    the pending set: the rerun returns without a single Spark job."""
    out = str(tmp_path / "out")
    assert run_pipeline(spark, ["zones_grid"], ["rast_gradient"], out)["pending"] == 1
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-noop-rerun", "pipeline-noop-rerun")
    try:
        res = run_pipeline(spark, ["zones_grid"], ["rast_gradient"], out)
    finally:
        sc.setJobGroup(None, None)
    assert res == {"pending": 0, "outputs": []}
    assert sc.statusTracker().getJobIdsForGroup("pipeline-noop-rerun") == []


def test_pipeline_refuses_remote_out_dir_before_any_job(spark, tmp_path, monkeypatch):
    """The sinks write with os/open from Python workers, so a remote
    out_dir raises before any Spark job, and nothing is written."""
    import pytest

    monkeypatch.chdir(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-remote-out", "pipeline-remote-out")
    try:
        with pytest.raises(ValueError, match="remote URIs"):
            run_pipeline(spark, ["zones_grid"], ["rast_gradient"], "s3a://bucket/out")
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("pipeline-remote-out") == []
    assert list(tmp_path.iterdir()) == []


def test_marker_heal_one_listing_regardless_of_pairs(spark, tmp_path, monkeypatch):
    """P6 lost-ledger heal: the marker probe is ONE recursive listing of
    out_dir (tiles.tileset_markers), not a per-pair existence check —
    constant filesystem round-trips at 10^5-pair estates. Deleting the
    ledger after a full run must (a) call the listing exactly once and
    tileset_complete zero times inside run_pipeline, (b) heal the ledger
    so nothing recomputes."""
    import shutil

    import sids_data_pipeline_spark.jobs.pipeline as pl

    out = str(tmp_path / "out")
    vectors = ["zones_grid", "zones_overlap"]
    rasters = ["rast_gradient", "rast_checker"]
    r1 = run_pipeline(spark, vectors, rasters, out, stats=("mean",))
    assert r1["pending"] == 4

    shutil.rmtree(os.path.join(out, "_ledger"))  # simulate ledger loss

    calls = {"markers": 0, "complete": 0}
    orig_markers = tiles.tileset_markers

    def counting_markers(d):
        calls["markers"] += 1
        return orig_markers(d)

    monkeypatch.setattr(pl.tiles, "tileset_markers", counting_markers)
    monkeypatch.setattr(
        pl.tiles, "tileset_complete",
        lambda p: calls.__setitem__("complete", calls["complete"] + 1)
        or (_ for _ in ()).throw(AssertionError("per-pair probe used")),
    )

    r2 = run_pipeline(spark, vectors, rasters, out, stats=("mean",))
    assert r2 == {"pending": 0, "outputs": []}
    assert calls == {"markers": 1, "complete": 0}

    # ledger healed: a third run with the probe disabled entirely still
    # skips everything via the anti-join
    monkeypatch.setattr(
        pl.tiles, "tileset_markers",
        lambda d: (_ for _ in ()).throw(AssertionError("listing re-ran")),
    )
    # the healed ledger empties `pending` before the marker scan runs
    r3 = run_pipeline(spark, vectors, rasters, out, stats=("mean",))
    assert r3 == {"pending": 0, "outputs": []}
