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
echo "$staged" | grep -q "operators/windows.py" \
    && q="$q events_session"
echo "$staged" | grep -q "operators/multimodal.py" \
    && q="$q multimodal_features"
echo "$staged" | grep -q "sources/geotiff.py\|sources/geotiff_datasource.py\|jobs/standardize.py" \
    && q="$q raster_geotiff_ingest source_geotiff_datasource"
echo "$staged" | grep -q "plans/relational.py" \
    && q="$q pricing_summary sql_shipping_priority window_rank"

[ -z "$q" ] && exit 0

echo "benchgate: staged hot-path files -> gating:$q" >&2
# shellcheck disable=SC2086
exec python tools/benchgate.py $q
