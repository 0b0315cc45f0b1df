#!/bin/sh
# Pre-commit bench gate (install: cp tools/pre-commit.sh .git/hooks/pre-commit)
#
# Runs tools/benchgate.py over the headline queries whose OPERATOR files
# are staged, so a persist/layout change on a hot path cannot land
# unmeasured (the round-7 dedup regression shipped exactly that way).
# Unrelated commits skip instantly; SDP_SKIP_BENCHGATE=1 skips wholesale.

[ "$SDP_SKIP_BENCHGATE" = "1" ] && exit 0

staged=$(git diff --cached --name-only)
[ -z "$staged" ] && exit 0

q=""
echo "$staged" | grep -q "operators/dedup.py\|jobs/curation.py" \
    && q="$q dedup_minhash_lsh corpus_curation dedup_exact"
echo "$staged" | grep -q "operators/text.py" \
    && q="$q corpus_curation"
echo "$staged" | grep -q "operators/similarity.py" \
    && q="$q similarity_topk"
echo "$staged" | grep -q "operators/zonal.py\|functions/geo.py" \
    && q="$q zonal_mean_large zonal_large_broadcast"
echo "$staged" | grep -q "operators/zonal.py" \
    && q="$q raster_burn pipeline_end_to_end"
# the geotiff reader sets the task shape the Entry-1 zonal kernel runs in
echo "$staged" | grep -q "sources/geotiff_datasource.py" \
    && q="$q zonal_mean_large"
echo "$staged" | grep -q "operators/windows.py" \
    && q="$q events_session"
echo "$staged" | grep -q "operators/multimodal.py" \
    && q="$q multimodal_features"
echo "$staged" | grep -q "functions/geo.py\|operators/vector_clip.py" \
    && q="$q tiles_encode_rings vector_clip_extent"
echo "$staged" | grep -q "sources/geotiff.py\|sources/geotiff_datasource.py\|jobs/standardize.py" \
    && q="$q raster_geotiff_ingest source_geotiff_datasource raster_bigtiff_ingest raster_lzw_ingest raster_multiband_band2"
echo "$staged" | grep -q "streaming/jobs.py" \
    && q="$q raster_geotiff_ingest"
# sources/storage.py holds every Python-side read, write, probe and listing
echo "$staged" | grep -q "sources/storage.py\|sinks/tokenbin.py\|sources/shapefile.py" \
    && q="$q source_geotiff_datasource raster_geotiff_ingest sink_tokenbin_roundtrip vector_shapefile_ingest streaming_vector_ingest streaming_cdc_upsert"
echo "$staged" | grep -q "jobs/pipeline.py\|sinks/tiles.py\|sinks/geojsonl.py" \
    && q="$q pipeline_end_to_end tiles_encode_rings"
# tile assignment and the density drop are the Column operators of sinks/tiles.py
echo "$staged" | grep -q "sinks/tiles.py" \
    && q="$q tiles_assign tiles_density_drop"
# the completion ledger of the pipeline, standardize and terrain jobs
echo "$staged" | grep -q "operators/manifest.py\|jobs/terrain.py" \
    && q="$q manifest_pending pipeline_end_to_end"
echo "$staged" | grep -q "plans/relational.py" \
    && q="$q pricing_summary sql_shipping_priority window_rank"

[ -z "$q" ] && exit 0
# several gates may name the same query; measure each once
q=$(printf '%s\n' $q | sort -u | tr '\n' ' ')

echo "benchgate: staged hot-path files -> gating:$q" >&2
# shellcheck disable=SC2086
exec python tools/benchgate.py $q
