"""Physical-plan shape assertions: the engine's scale properties are
plan properties, so they're tested like behavior.

- filters/projections reach the parquet scan (PushedFilters/ReadSchema);
- dimension joins broadcast (BroadcastHashJoin, never NestedLoop);
- the zonal broadcast path over rectangle zones is a broadcast HASH join
  on the grid-cell key (VERDICT round 1 flagged the previous
  range-predicate form as a BroadcastNestedLoopJoin — O(pixels × zones));
  other zones take one MapInArrow match kernel over a grid-cell index;
- whole-stage codegen covers the relational hot paths.
"""

from __future__ import annotations

import pytest

from sids_data_pipeline_spark.operators.zonal import spatial_join
from sids_data_pipeline_spark.plans.catalog import all_queries
from sids_data_pipeline_spark.sources.raster import synthetic_raster
from sids_data_pipeline_spark.sources.vector import fixture_zones


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def catalog():
    return all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, catalog):
    df = catalog["filter_range"].spark(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,10.0" in plan


def test_column_pruning_reaches_scan(spark, sf_dir, catalog):
    df = catalog["proj_select"].spark(spark, sf_dir)
    plan = _plan(df)
    # scan schema holds only the three referenced columns
    scan_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in scan_schema
    assert "l_shipdate" not in scan_schema and "l_discount" not in scan_schema


def test_dim_join_broadcasts(spark, sf_dir, catalog):
    plan = _plan(catalog["join_broadcast_dims"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shipping_priority_plan_shape(spark, sf_dir, catalog):
    """TPC-H Q3 shape: selective filters reach every scan, both joins
    broadcast the filtered small sides, and the top-10 is a
    TakeOrderedAndProject (bounded per-partition heaps), not a global sort."""
    plan = _plan(catalog["sql_shipping_priority"].spark(spark, sf_dir))
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate," in plan and "GreaterThan(l_shipdate," in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_zonal_broadcast_is_hash_join(spark):
    zones = fixture_zones(spark, "zones_grid")
    px = synthetic_raster(spark, "rast_gradient")
    plan = _plan(spatial_join(zones, px))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zonal_grid_is_equi_join(spark, monkeypatch):
    from sids_data_pipeline_spark.operators import zonal

    monkeypatch.setattr(zonal, "BROADCAST_ZONE_LIMIT", 0)  # distributed branch
    zones = fixture_zones(spark, "zones_grid")
    px = synthetic_raster(spark, "rast_gradient")
    plan = _plan(spatial_join(zones, px))
    assert "NestedLoop" not in plan


def test_semi_anti_join_shapes(spark, sf_dir, catalog):
    semi = _optimized(catalog["join_semi"].spark(spark, sf_dir))
    anti = _optimized(catalog["join_anti"].spark(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_agg_is_two_phase_with_codegen(spark, sf_dir, catalog):
    df = catalog["pricing_summary"].spark(spark, sf_dir)
    plan = _plan(df)
    # map-side combine: partial aggregate below the exchange, final above
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange hashpartitioning")
    df.collect()  # AQE finalizes this df's own execution
    final = _plan(df)
    assert "isFinalPlan=true" in final
    # "*(n)" prefixes mark whole-stage-codegen spans in simpleString form
    assert "*(" in final


def test_tileset_partition_pruning(spark, tmp_path):
    """Single-tile lookups on a written tileset must prune partitions
    (z/x directory layout), not scan the pyramid."""
    from sids_data_pipeline_spark.operators.zonal import _zone_bboxes
    from sids_data_pipeline_spark.sinks import tiles
    from sids_data_pipeline_spark.sources.vector import fixture_zones

    feats = _zone_bboxes(fixture_zones(spark, "zones_grid")).select(
        "fid", "geometry", "xmin", "ymin", "xmax", "ymax"
    )
    enc = tiles.encode_tiles(
        tiles.assign_tiles(feats, max_zoom=3), ["fid", "geometry"], max_zoom=3
    )
    path = str(tmp_path / "ts")
    tiles.write_tileset(enc, path, name="prune-test", max_zoom=3)
    one_tile = tiles.read_tileset(spark, path).filter("z = 0 AND x = 0")
    plan = _plan(one_tile)
    assert "PartitionFilters: [" in plan
    assert "(z" in plan.split("PartitionFilters:")[1][:120]


def test_no_cartesian_in_lsh(spark, sf_dir, catalog):
    """Dedup candidates must come from bucket equi-joins, never a cross
    product (the scale contract of VERDICT's E2 requirement)."""
    plan = _plan(catalog["dedup_minhash_lsh"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_window_plan_is_jvm_only(spark, sf_dir, catalog):
    """The default as-of strategy must stay out of Python: no Arrow
    transfer, pushdown on both event scans, one main-window exchange."""
    plan = _plan(catalog["join_asof"].spark(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("EqualTo(event_type,") == 2  # both sides pushed


def test_quantized_topk_plan_is_jvm_only(spark, sf_dir, catalog):
    plan = _plan(catalog["similarity_topk_quantized"].spark(spark, sf_dir))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # the small query side is the broadcast build side
    assert "Broadcast" in plan


def test_scrub_and_chunk_stay_codegen(spark, sf_dir, catalog):
    for name in ("text_scrub_pii", "corpus_chunk"):
        plan = _plan(catalog[name].spark(spark, sf_dir))
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name
        # '*(n)' prefixes mark WholeStageCodegen stages in the plan string
        assert "*(1)" in plan, name


def test_weighted_zonal_is_hash_join(spark):
    """Round-7: the weighted/all-touched variants must probe the exploded
    zone-cell table with a hash join on the grid-cell key — never the
    former pixels-cross-zones BroadcastNestedLoopJoin (O(pixels × zones))."""
    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators.zonal import (
        zonal_touched_rects,
        zonal_weighted,
        zonal_weighted_rects,
    )

    zones = spark.createDataFrame(
        [(1, geo.box_wkb(0.13, 0.07, 0.52, 0.61)),
         (2, geo.box_wkb(0.33, 0.42, 0.78, 0.79))],
        "fid long, geometry binary",
    )
    px = synthetic_raster(spark, "rast_gradient")
    for op in (zonal_weighted_rects, zonal_weighted, zonal_touched_rects):
        plan = _plan(op(zones, px))
        assert "BroadcastHashJoin" in plan, op.__name__
        assert "BroadcastNestedLoopJoin" not in plan, op.__name__
        assert "CartesianProduct" not in plan, op.__name__


def test_terrain_and_warp_plan_shapes(spark, sf_dir, catalog):
    """The GDAL-parity additions must keep their scale shapes: integer-key
    hash joins (never nested-loop/cartesian), zero Python nodes in the
    pure-JVM kernels, single-aggregate pyramids."""
    for name in ("raster_warp_bilinear", "raster_warp_average",
                 "raster_pyramid", "raster_hillshade"):
        plan = _plan(catalog[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PythonUDF" not in plan and "ArrowEval" not in plan, name
    # clump: the neighbour join is an equi hash join feeding the CC loop
    plan = _plan(catalog["raster_clump"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # burn: the holed triangle sends the zones through the broadcast
    # branch's match kernel — one MapInArrow over the target lattice,
    # whose candidates come from the grid-cell index (never a nested
    # loop over zones) and no per-row Python UDF
    plan = _plan(catalog["raster_burn"].spark(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("MapInArrow") == 1


def test_verdict_helpers_match_anti_join_semantics(spark):
    """The r15 one-pass gate verdicts must count exactly what the old
    symmetric/asymmetric anti-joins counted, including NONZERO cases and
    empty inputs (the passing-gate zero is pinned by every gate entry;
    this pins the failure arithmetic the entries never exercise)."""
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.plans.ext_queries import (
        _verdict_missing,
        _verdict_sym_diff,
    )

    cols = ["q", "n"]
    a = spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "q int, n int")
    b = spark.createDataFrame([(1, 10), (2, 21), (3, 30)], "q int, n int")

    def old_sym(x, y):
        viol = x.join(y, cols, "left_anti").unionAll(
            y.join(x, cols, "left_anti")
        )
        return viol.agg(F.count("*").alias("violations")).crossJoin(
            x.agg((F.count("*") >= 1).alias("found_hits"))
        )

    def old_missing(x, y):
        viol = x.join(y, cols, "left_anti")
        return viol.agg(F.count("*").alias("violations")).crossJoin(
            x.agg((F.count("*") >= 1).alias("found_hits"))
        )

    empty = a.limit(0)
    for x, y in ((a, b), (a, a), (empty, b), (a, empty), (empty, empty)):
        assert (
            _verdict_sym_diff(x, y, cols).collect()
            == old_sym(x, y).collect()
        )
        assert (
            _verdict_missing(x, y, cols).collect()
            == old_missing(x, y).collect()
        )
