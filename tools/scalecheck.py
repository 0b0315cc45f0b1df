"""Scaling evidence: flagship operators swept across input sizes.

The correctness gate proves operators right at small SF; this tool
measures whether their cost grows LINEARLY with input — the property that
decides whether a plan survives a 100 TB cluster. Each operator runs at
4× increasing input sizes (steady state, min of 3); a scalable plan shows
flat-or-falling ns/row as fixed overhead amortizes. Sub-linear growth in
wall time per 4× step ⇒ the shuffle/join strategy is volume-bound, not
blow-up-bound.

Usage: python tools/scalecheck.py            # prints one JSON line
"""

from __future__ import annotations

import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")


def _steady(fn, reps: int = 3) -> float:
    fn()  # warm: plan compile, codegen, python workers
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from sids_data_pipeline_spark.functions import geo
    from sids_data_pipeline_spark.operators import dedup
    from sids_data_pipeline_spark.operators import zonal as zonal_op
    from sids_data_pipeline_spark.operators.zonal import zonal_stats
    from sids_data_pipeline_spark.schemas import ZONES
    from sids_data_pipeline_spark.session import get_spark
    from sids_data_pipeline_spark.sources.raster import synthetic_raster_scaled

    spark = get_spark("scalecheck")
    out: dict = {}

    # Section selection: `python tools/scalecheck.py [base] [gdal]` —
    # no args runs everything; naming sections runs only those (the
    # full sweep takes >10 min, so CI-ish callers split it).
    sections = set(sys.argv[1:])
    if not sections or "base" in sections:

        # --- zonal stats (rect fast path, grid join): n×n pixels, 4 zones ----
        def zones_for(n: int):
            s = float(n) * 0.1 / 8.0  # 4 boxes tiling the raster extent
            rows = [
                ("z", fid, f"b{fid}", geo.box_wkb(cx * s, cy * s, (cx + 4) * s, (cy + 4) * s))
                for fid, (cx, cy) in enumerate([(0, 0), (4, 0), (0, 4), (4, 4)], 1)
            ]
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=[f.name for f in ZONES.fields]), ZONES
            ).coalesce(1)

        zonal = {}
        # A zone limit of 0 pins spatial_join's distributed branch (it is
        # read while each plan is built). 10240² = 104.9M px: one decade
        # past the 4096² point, confirming the ns/px asymptote holds at the
        # scale a single executor would own on a 1000-node 100 TB run. reps
        # drop to 2 past 16M px to bound wall time.
        limit, zonal_op.BROADCAST_ZONE_LIMIT = zonal_op.BROADCAST_ZONE_LIMIT, 0
        try:
            for n in (512, 1024, 2048, 4096, 10240):
                px = synthetic_raster_scaled(spark, n)
                zs = zones_for(n)
                sec = _steady(
                    lambda: zonal_stats(zs, px, stats=("mean", "count"),
                                        cell_deg=float(n) * 0.1 / 2).count(),
                    reps=2 if n > 4096 else 3,
                )
                zonal[f"{n * n:,} px"] = {
                    "sec": round(sec, 3),
                    "ns_per_px": round(sec / (n * n) * 1e9, 1),
                }
        finally:
            zonal_op.BROADCAST_ZONE_LIMIT = limit
        out["zonal_grid"] = zonal

        # --- weighted zonal (clip kernel, cell-key equi-join): n×n pixels ----
        # Round-7: the weighted variants dropped their BNLJ for the same
        # cell-key hash join as the center-rule path; this sweep shows the
        # per-pixel cost is now O(1) in the zone count too. Non-rect zones
        # (triangles clipped from the boxes) force the Arrow clip kernel.
        from sids_data_pipeline_spark.operators.zonal import zonal_weighted

        wzonal = {}
        for n in (512, 1024, 2048, 4096):
            px = synthetic_raster_scaled(spark, n)
            s = float(n) * 0.1 / 8.0
            rows = [
                (fid, geo.polygon_wkb(
                    [[(cx * s, cy * s), ((cx + 4) * s, cy * s),
                      (cx * s, (cy + 4) * s), (cx * s, cy * s)]]))
                for fid, (cx, cy) in enumerate([(0, 0), (4, 0), (0, 4), (4, 4)], 1)
            ]
            zs = spark.createDataFrame(rows, "fid long, geometry binary")
            sec = _steady(
                lambda: zonal_weighted(zs, px, pixel_deg=0.1,
                                       cell_deg=float(n) * 0.1 / 2).count(),
                reps=2,
            )
            wzonal[f"{n * n:,} px"] = {
                "sec": round(sec, 3),
                "ns_per_px": round(sec / (n * n) * 1e9, 1),
            }
        out["zonal_weighted"] = wzonal

        # --- MinHash LSH near-dup: growing document counts -------------------
        docs_full = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        minhash = {}
        for frac in (1250, 2500, 5000):
            docs = docs_full.filter(F.col("doc_id") % (5000 // frac) == 0)
            n_docs = docs.count()
            sec = _steady(lambda: dedup.near_duplicates_minhash(docs).count())
            minhash[f"{n_docs} docs"] = {
                "sec": round(sec, 3),
                "ms_per_doc": round(sec / n_docs * 1e3, 3),
            }
        out["dedup_minhash_lsh"] = minhash

        # --- exact dedup: growing synthetic row counts -----------------------
        exact = {}
        for n in (1_000_000, 4_000_000):
            df = spark.range(0, n, 1, 32).select(
                F.col("id"),
                F.concat(F.lit("payload-"), (F.col("id") % (n // 2)).cast("string")).alias("text"),
            )
            sec = _steady(
                lambda: dedup.exact_dedup(df, ["text"], "id").count()
            )
            exact[f"{n:,} rows"] = {
                "sec": round(sec, 3),
                "ns_per_row": round(sec / n * 1e9, 1),
            }
        out["dedup_exact"] = exact

        # --- connected components: growing edge sets, fixed diameter ---------
        # Chains of 4 nodes (diameter 3): the round count is O(diameter), so
        # a sweep at constant diameter isolates the per-edge linear term.
        from sids_data_pipeline_spark.operators import graph

        comp = {}
        for n in (250_000, 1_000_000):
            edges = spark.range(0, n, 1, 32).select(
                F.col("id").alias("id1"),
                F.when(F.col("id") % 4 != 3, F.col("id") + 1)
                .otherwise(F.col("id"))
                .alias("id2"),
            )
            sec = _steady(
                lambda: graph.connected_components(edges).count(), reps=2
            )
            comp[f"{n:,} edges"] = {
                "sec": round(sec, 3),
                "ns_per_edge": round(sec / n * 1e9, 1),
            }
        # Deep graph: one 100k-node chain (diameter = edge count). Pure
        # label propagation needs 100k rounds here (unrunnable — the r9
        # implementation raised at max_iter); the star phase finishes in
        # O(log²) rounds. This row pins the cliff stays removed.
        n = 100_000
        chain = spark.range(0, n, 1, 32).select(
            F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
        )
        sec = _steady(
            lambda: graph.connected_components(chain, max_iter=60).count(),
            reps=2,
        )
        comp[f"{n:,}-edge single chain (diameter {n:,})"] = {
            "sec": round(sec, 3),
            "ns_per_edge": round(sec / n * 1e9, 1),
        }
        out["connected_components"] = comp

        # --- conversion funnel: growing event counts, 64 events/user ---------
        # Per-user state is the sorted event array, so holding events/user
        # fixed while growing users isolates the per-event linear term of the
        # single-shuffle groupBy + scan.
        from sids_data_pipeline_spark.operators import windows as win

        funnel = {}
        for n in (1_000_000, 4_000_000):
            ev = spark.range(0, n, 1, 32).select(
                (F.col("id") % (n // 64)).alias("user_id"),
                F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
                F.element_at(
                    F.array(
                        F.lit("view"), F.lit("click"), F.lit("purchase"), F.lit("error")
                    ),
                    ((F.col("id") % 4) + 1).cast("int"),
                ).alias("event_type"),
            )
            sec = _steady(lambda: win.funnel(ev).count(), reps=2)
            funnel[f"{n:,} events"] = {
                "sec": round(sec, 3),
                "ns_per_event": round(sec / n * 1e9, 1),
            }
        out["events_funnel"] = funnel

        # --- interval-overlap join: growing interval sets, fixed span -------
        # Span/bucket_width fixed ⇒ constant replication factor; output pairs
        # grow linearly (uniform starts), so a linear plan shows flat ns/row.
        from sids_data_pipeline_spark.operators import asof

        iv = {}
        for n in (250_000, 1_000_000):
            l = spark.range(0, n, 1, 32).select(
                F.col("id").alias("lid"),
                (F.xxhash64("id") % (n * 4)).alias("ls"),
            ).withColumn("le", F.col("ls") + 200)
            r = spark.range(0, n, 1, 32).select(
                F.col("id").alias("rid"),
                (F.xxhash64(F.col("id") + 7) % (n * 4)).alias("rs"),
            ).withColumn("re", F.col("rs") + 200)
            sec = _steady(
                lambda: asof.interval_join(
                    l, r, ("ls", "le"), ("rs", "re"), bucket_width=256
                ).count(),
                reps=2,
            )
            iv[f"{n:,} x2 intervals"] = {
                "sec": round(sec, 3),
                "ns_per_interval": round(sec / (2 * n) * 1e9, 1),
            }
        out["interval_join"] = iv

        # --- trailing-window rolling stats: growing events, fixed density ---
        roll = {}
        for n in (1_000_000, 4_000_000):
            ev = spark.range(0, n, 1, 32).select(
                (F.col("id") % (n // 256)).alias("user_id"),
                F.timestamp_micros(F.col("id") * 500_000).alias("ts"),
                (F.col("id") % 100).cast("double").alias("value"),
            )
            sec = _steady(lambda: win.rolling_stats(ev).count(), reps=2)
            roll[f"{n:,} events"] = {
                "sec": round(sec, 3),
                "ns_per_event": round(sec / n * 1e9, 1),
            }
        out["rolling_stats"] = roll

        # --- PageRank: growing edges, fixed 3 iterations ---------------------
        pr = {}
        for n in (250_000, 1_000_000):
            edges = spark.range(0, n, 1, 32).select(
                (F.xxhash64("id") % (n // 8)).alias("src"),
                (F.xxhash64(F.col("id") + 3) % (n // 8)).alias("dst"),
            )
            sec = _steady(
                lambda: graph.pagerank(edges, iters=3).count(), reps=2
            )
            pr[f"{n:,} edges"] = {
                "sec": round(sec, 3),
                "ns_per_edge": round(sec / n * 1e9, 1),
            }
        out["pagerank_3iter"] = pr

        # --- triangle counting: growing random graphs, fixed density --------
        # Degree ~16 held constant while nodes grow: wedge work grows with
        # Σ C(outdeg,2) ∝ m at fixed density, so a sound orientation shows
        # flat-or-falling ns/edge. Blow-up here would mean the orientation
        # bound is broken.
        tri = {}
        for n in (250_000, 1_000_000):
            edges = spark.range(0, n, 1, 32).select(
                (F.xxhash64("id") % (n // 8)).alias("src"),
                (F.xxhash64(F.col("id") + 11) % (n // 8)).alias("dst"),
            )
            sec = _steady(
                lambda: graph.count_triangles(edges).collect(), reps=2
            )
            tri[f"{n:,} edges"] = {
                "sec": round(sec, 3),
                "ns_per_edge": round(sec / n * 1e9, 1),
            }
        out["triangle_count"] = tri

        # --- BPE training: merges/second, exact vs batched rounds ------------
        # The loop is inherently iterative (one count-argmax job per round);
        # merges_per_round=k cuts the job count k× at the standard
        # stale-counts approximation. This row documents the measured
        # merges/second so a 30k-merge budget can be planned (see
        # operators/text.py bpe_train docstring for the O(jobs) bound).
        from sids_data_pipeline_spark.operators import text as textops

        bpe = {}
        docs01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        for label, kwargs in (
            ("16 merges, exact (16 jobs)", {"n_merges": 16}),
            ("16 merges, batch=8 (2 jobs)", {"n_merges": 16, "merges_per_round": 8}),
        ):
            sec = _steady(
                lambda kw=kwargs: textops.bpe_train(docs01, **kw).count(), reps=2
            )
            bpe[label] = {
                "sec": round(sec, 3),
                "merges_per_sec": round(16 / sec, 2),
            }
        out["bpe_train"] = bpe

        # --- distributed prefix scan (sequence packing): growing rows --------
        # Two passes over one range shuffle (per-partition window + offset
        # fold); the driver sees only a partition-count-sized totals list, so
        # a linear plan shows flat-or-falling ns/row as rows grow.
        from sids_data_pipeline_spark.operators import sampling

        scan = {}
        for n in (1_000_000, 4_000_000):
            df = spark.range(0, n, 1, 32).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 997).cast("int").alias("n_tokens"),
            )
            def run(df=df):
                # each call persists a fresh range-partitioned frame inside
                # the prefix scan; clear it so reps don't pin stale copies
                n_out = sampling.pack_sequences(df, 2048).count()
                df.sparkSession.catalog.clearCache()
                return n_out

            sec = _steady(run, reps=2)
            scan[f"{n:,} rows"] = {
                "sec": round(sec, 3),
                "ns_per_row": round(sec / n * 1e9, 1),
            }
        out["pack_sequences_scan"] = scan

        # --- round-8 text additions: hot-line dedup + NB classifier ----------
        # Both are plain shuffle pipelines (segment/token key aggregate +
        # equi-join back), so the per-row cost must be flat as docs grow.
        def synth_docs(n: int):
            # deterministic 20-word docs over a 50-word vocab, all JVM-side
            vocab = "array(" + ", ".join(f"'w{i}'" for i in range(50)) + ")"
            return spark.range(0, n, 1, 32).select(
                F.col("id").alias("doc_id"),
                F.expr(
                    f"concat_ws(' ', transform(sequence(1, 20), "
                    f"i -> element_at({vocab}, "
                    f"CAST((id * 7 + i * 13) % 50 AS INT) + 1)))"
                ).alias("text"),
                (F.col("id") % 10 < 8).alias("is_pos"),
            )

        hotlines = {}
        for n in (250_000, 1_000_000):
            docs = synth_docs(n)
            # aggregate a COMPUTED column: a bare count() lets Catalyst prune
            # the left joins and measures only the base scan
            sec = _steady(
                lambda d=docs: textops.remove_hot_lines(
                    d, min_docs=2, sep_regex=None, window_words=5
                ).agg(F.sum("n_removed")).collect(),
                reps=2,
            )
            hotlines[f"{n:,} docs"] = {
                "sec": round(sec, 3),
                "us_per_doc": round(sec / n * 1e6, 2),
            }
        out["hot_line_dedup"] = hotlines

        nb = {}
        for n in (250_000, 1_000_000):
            docs = synth_docs(n)
            sec = _steady(
                lambda d=docs: textops.nb_quality_classifier(d, "is_pos")
                .agg(F.sum("score_micros")).collect(),
                reps=2,
            )
            nb[f"{n:,} docs"] = {
                "sec": round(sec, 3),
                "us_per_doc": round(sec / n * 1e6, 2),
            }
        out["nb_classifier"] = nb

    if not sections or "gdal" in sections:
        # --- round-8 GDAL-utility parity: warp / hillshade / pyramid / clump --
        # warp+terrain are single-aggregate or corner-join shapes → ns/px must
        # be flat-to-falling; clump is O(largest-region diameter) ROUNDS, so
        # with fixed block size the cost per pixel must stay flat as the
        # raster (and region count) grows 4×.
        from sids_data_pipeline_spark.operators import terrain
        from sids_data_pipeline_spark.sources import raster as rastermod

        warp = {}
        for n in (1024, 2048, 4096):
            px = rastermod.synthetic_raster_scaled(spark, n)
            extent_m = 6378137.0 * math.radians(n * 0.1)
            sec = _steady(
                lambda p=px, e=extent_m, m=n: rastermod.warp_to_grid(
                    p,
                    src_epsg=4326,
                    dst_epsg=3857,
                    src_origin=(0.0, 0.0),
                    src_res=(0.1, 0.1),
                    dst_origin=(0.0, 0.0),
                    dst_res=(e / m, e / m),
                    dst_size=(m, m),
                    resampling="bilinear",
                ).agg(F.sum("val")).collect(),
                reps=2,
            )
            warp[f"{n}x{n}"] = {
                "sec": round(sec, 3),
                "ns_per_px": round(sec / (n * n) * 1e9, 1),
            }
        out["warp_bilinear"] = warp

        hs = {}
        for n in (1024, 2048, 4096):
            px = rastermod.synthetic_raster_scaled(spark, n)
            sec = _steady(
                lambda p=px: terrain.hillshade(p, cellsize=30.0)
                .agg(F.sum("hillshade")).collect(),
                reps=2,
            )
            hs[f"{n}x{n}"] = {
                "sec": round(sec, 3),
                "ns_per_px": round(sec / (n * n) * 1e9, 1),
            }
        out["hillshade"] = hs

        pyr = {}
        for n in (1024, 2048, 4096):
            px = rastermod.synthetic_raster_scaled(spark, n)
            sec = _steady(
                lambda p=px: terrain.build_overviews(p, levels=3)
                .agg(F.sum("val")).collect(),
                reps=2,
            )
            pyr[f"{n}x{n}"] = {
                "sec": round(sec, 3),
                "ns_per_px": round(sec / (n * n) * 1e9, 1),
            }
        out["pyramid_3level"] = pyr

        clump = {}
        for n in (256, 512):
            blocks = spark.range(0, n * n, 1, 32).select(
                (F.col("id") % n).cast("int").alias("x"),
                (F.col("id") / n).cast("int").alias("y"),
                (((F.col("id") % n) / 8).cast("int")
                 + ((F.col("id") / n) / 8).cast("int")).cast("double").alias("_s"),
            ).withColumn("val", F.col("_s") % 3).drop("_s")
            sec = _steady(
                lambda b=blocks: terrain.clump_regions(b)
                .agg(F.sum("region")).collect(),
                reps=2,
            )
            clump[f"{n}x{n} (8x8 blocks)"] = {
                "sec": round(sec, 3),
                "us_per_px": round(sec / (n * n) * 1e6, 2),
            }
        out["clump_fixed_diameter"] = clump

    if not sections or "vector" in sections:
        # --- vector reprojection: growing zone/vertex counts -------------
        # explode (mapInPandas) → NZTM column math → rebuild
        # (applyInPandas, one shuffle keyed by geometry id): cost should
        # be linear in VERTICES and independent of the zone count except
        # through it. 64-gon rings make vertices dominate row overhead.
        import math as _math

        from sids_data_pipeline_spark.operators.vector_reproject import (
            reproject_zones,
        )

        def vz(n_zones: int):
            rows = []
            for fid in range(n_zones):
                cx = 168.0 + (fid % 80) * 0.1
                cy = -46.5 + (fid // 80) % 40 * 0.1
                ring = [
                    (
                        cx + 0.04 * _math.cos(2 * _math.pi * k / 64),
                        cy + 0.04 * _math.sin(2 * _math.pi * k / 64),
                    )
                    for k in range(64)
                ]
                ring.append(ring[0])
                rows.append(("v", fid, None, geo.multipolygon_wkb([[ring]])))
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=[f.name for f in ZONES.fields]),
                ZONES,
            ).repartition(8)

        vrep = {}
        for n_zones in (1_000, 4_000, 16_000):
            zs = vz(n_zones)
            nverts = n_zones * 65
            sec = _steady(
                lambda z=zs: reproject_zones(z, 4326, 2193).count(), reps=2
            )
            vrep[f"{nverts:,} vertices"] = {
                "sec": round(sec, 3),
                "us_per_vertex": round(sec / nverts * 1e6, 2),
            }
        out["vector_reproject"] = vrep

    if not sections or "media" in sections:
        # --- media codec decode: growing asset counts --------------------
        # synth PNGs (small varied dims, ~150 px avg) -> encode + full
        # decode_images per asset: cost should be linear in assets (each
        # Arrow batch decodes
        # independently; no shuffle in the plan at all). A flat-or-falling
        # µs/asset curve means the mapInPandas batching amortizes and the
        # operator is bounded by codec throughput, not Spark overhead.
        from sids_data_pipeline_spark.operators import multimodal

        media = {}
        for n in (2_000, 8_000, 32_000):
            docs = spark.range(0, n * 7, 7, 32).select(
                F.col("id").alias("doc_id")
            )
            assets = multimodal.synth_png_assets(docs, modulus=7)
            sec = _steady(
                lambda a=assets: multimodal.decode_images(a).count(), reps=2
            )
            media[f"{n:,} png assets"] = {
                "sec": round(sec, 3),
                "us_per_asset": round(sec / n * 1e6, 2),
            }
        out["media_decode"] = media

    if not sections or "jpeg" in sections:
        # --- JPEG decode (r11 codec): Huffman walk + dequant + IDCT is
        # the heaviest per-asset path; same linearity expectation -------
        from sids_data_pipeline_spark.operators import multimodal

        jpeg = {}
        for n in (2_000, 8_000, 32_000):
            docs = spark.range(0, n * 7, 7, 32).select(
                F.col("id").alias("doc_id")
            )
            assets = multimodal.synth_jpeg_assets(docs, modulus=7)
            sec = _steady(
                lambda a=assets: multimodal.decode_images(a).count(), reps=2
            )
            jpeg[f"{n:,} jpeg assets"] = {
                "sec": round(sec, 3),
                "us_per_asset": round(sec / n * 1e6, 2),
            }
        out["jpeg_decode"] = jpeg

    if not sections or "jpeg_progressive" in sections:
        # --- progressive JPEG decode (r12 codec): the Annex G scan
        # ladder walks the entropy data once per scan (8 scans for the
        # grayscale fixture), so per-asset cost sits above baseline by
        # roughly the scan count; the expectation is the same
        # flat-or-falling per-asset curve, just a higher constant ------
        from sids_data_pipeline_spark.operators import multimodal

        jprog = {}
        for n in (2_000, 8_000, 32_000):
            docs = spark.range(0, n * 7, 7, 32).select(
                F.col("id").alias("doc_id")
            )
            assets = multimodal.synth_jpeg_assets(
                docs, modulus=7, progressive=True
            )
            sec = _steady(
                lambda a=assets: multimodal.decode_images(a).count(), reps=2
            )
            jprog[f"{n:,} progressive jpeg assets"] = {
                "sec": round(sec, 3),
                "us_per_asset": round(sec / n * 1e6, 2),
            }
        out["jpeg_progressive_decode"] = jprog

    if not sections or "similarity" in sections:
        # --- exact top-k cosine (E3 baseline path): growing candidate
        # counts, fixed 5-query broadcast. Map-side partial top-k means
        # the final window sees O(batches*k*|Q|) rows regardless of |C|;
        # falling us/candidate = Arrow batch + matmul amortizing --------
        import numpy as np
        import pandas as pd

        from sids_data_pipeline_spark.operators.similarity import (
            topk_bruteforce,
        )

        simi = {}
        for n in (20_000, 80_000, 320_000):
            rng = np.random.default_rng(n)
            vecs = rng.normal(size=(n, 64)).astype(np.float32)
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            emb = spark.createDataFrame(
                pd.DataFrame(
                    {"vec_id": np.arange(n), "embedding": list(map(list, vecs))}
                )
            ).repartition(32).cache()
            emb.count()
            queries = emb.filter(F.col("vec_id") < 5)
            sec = _steady(
                lambda e=emb, q=queries: topk_bruteforce(e, q, k=10).count(),
                reps=2,
            )
            emb.unpersist()
            simi[f"{n:,} candidates"] = {
                "sec": round(sec, 3),
                "us_per_candidate": round(sec / n * 1e6, 2),
            }
        out["similarity_topk"] = simi

    if not sections or "ivf_pq" in sections:
        # --- IVF-ADC search (E3, r13): growing PRE-ENCODED index
        # (cell + 4-int codes, the production at-ingest shape), fixed
        # 5-query / nprobe=2-of-8 probe. The scan is a broadcast
        # equi-join on cell: candidates outside the probed cells are
        # dropped by the join before any distance work, so us/candidate
        # must fall BELOW the full-scan ADC twin (topk_pq over the same
        # codebooks) and keep falling as the index grows ---------------
        import numpy as np
        import pandas as pd

        from sids_data_pipeline_spark.operators.similarity import (
            ivf_pq_encode,
            ivf_pq_fit,
            pq_fit,
            topk_ivf_pq,
            topk_pq,
        )

        ivf = {}
        for n in (20_000, 80_000, 320_000):
            rng = np.random.default_rng(n)
            # clustered corpus: the coarse quantizer needs structure to
            # invert (pure noise makes every probe equally empty)
            ctr = rng.normal(scale=2.0, size=(8, 64)).astype(np.float32)
            vecs = (
                ctr[rng.integers(0, 8, n)]
                + rng.normal(scale=0.3, size=(n, 64)).astype(np.float32)
            ).astype(np.float32)
            # cache BEFORE the Lloyd fits: every fit iteration is a job,
            # and an uncached parallelized fixture re-ships ~17 MB/task
            # from the driver per stage — minutes of py4j serialization
            # that has nothing to do with the operator under test
            emb = spark.createDataFrame(
                pd.DataFrame(
                    {"vec_id": np.arange(n), "embedding": list(map(list, vecs))}
                )
            ).repartition(32).cache()
            emb.count()
            sample = emb.filter(F.col("vec_id") < 4000)
            cents, books = ivf_pq_fit(sample, kcoarse=8, m=4, kc=8, iters=2)
            enc = ivf_pq_encode(emb, cents, books).cache()
            enc.count()
            queries = emb.filter(F.col("vec_id") < 5)
            sec = _steady(
                lambda e=enc, q=queries, c=cents, b=books: topk_ivf_pq(
                    e, q, c, b, k=10, nprobe=2, candidates_encoded=True
                ).count(),
                reps=2,
            )
            # full-scan ADC twin over the same data (no inverted file)
            flat_books = pq_fit(sample, m=4, kc=8, iters=2)
            sec_full = _steady(
                lambda e=emb, q=queries, b=flat_books: topk_pq(
                    e, q, b, k=10
                ).count(),
                reps=2,
            )
            enc.unpersist()
            emb.unpersist()
            ivf[f"{n:,} candidates"] = {
                "ivf_sec": round(sec, 3),
                "full_pq_sec": round(sec_full, 3),
                "us_per_candidate_ivf": round(sec / n * 1e6, 2),
            }
        out["ivf_pq_search"] = ivf

    if not sections or "ivf_pq_recall" in sections:
        # --- IVF-PQ recall@10 vs nprobe (VERDICT r13 ask #5): what the
        # knobs BUY, quantified against the exact topk_l2 twin. Corpora
        # are low-intrinsic-dimension (a 2-factor manifold in 32 dims +
        # noise — i.i.d. gaussians give PQ nothing to rank and saturate
        # every knob). Misses have two causes with two different knobs:
        #   * probe misses — true neighbors in unprobed cells. Dominant
        #     when coarse cells are SMALLER than the 10-NN ball
        #     (regime "boundary" below: 4k points / 64 cells); nprobe
        #     is the knob and the curve rises until probes cover the
        #     ball.
        #   * quantization misses — ADC can't rank the true top-10
        #     inside a probed cell. Dominant at production density
        #     (regime "320k" below: 2,500-point cells dwarf the NN
        #     ball, so nprobe=1 already probes the right cell and the
        #     curve is FLAT past nprobe=2); m·kc is the knob — the
        #     fine codebook lifts the ceiling, nprobe does not.
        # Cost column: search wall time is ~flat in nprobe at these
        # cell counts (per-probe table build dominates over the scan).
        import numpy as np
        import pandas as pd

        from sids_data_pipeline_spark.operators.similarity import (
            ivf_pq_encode,
            ivf_pq_fit,
            topk_ivf_pq,
            topk_l2,
        )

        def manifold(n: int, d: int = 32, latent: int = 2):
            rng = np.random.default_rng(42)
            basis = rng.normal(size=(latent, d)).astype(np.float32)
            z = rng.normal(size=(n, latent)).astype(np.float32)
            vecs = (
                z @ basis + rng.normal(scale=0.05, size=(n, d))
            ).astype(np.float32)
            emb = spark.createDataFrame(
                pd.DataFrame(
                    {"vec_id": np.arange(n), "embedding": list(map(list, vecs))}
                )
            ).repartition(32).cache()
            emb.count()
            return emb

        def sweep(emb, kcoarse, m, kc, sample_n, probes, refine=False):
            from sids_data_pipeline_spark.operators.similarity import (
                topk_ivf_pq_refine,
            )

            queries = emb.filter(F.col("vec_id") < 10)
            truth: dict = {}
            for r in topk_l2(emb, queries, k=10).collect():
                truth.setdefault(r.query_id, set()).add(r.neighbor_id)
            sample = emb.filter(F.col("vec_id") < sample_n)
            cents, books = ivf_pq_fit(
                sample, kcoarse=kcoarse, m=m, kc=kc, iters=2
            )
            enc = ivf_pq_encode(emb, cents, books).cache()
            enc.count()

            def recall_of(res) -> float:
                got: dict = {}
                for r in res.collect():
                    got.setdefault(r.query_id, set()).add(r.neighbor_id)
                return sum(
                    len(got.get(q, set()) & t) for q, t in truth.items()
                ) / (10 * len(truth))

            got_out = {}
            for nprobe in probes:
                recall = recall_of(
                    topk_ivf_pq(
                        enc, queries, cents, books, k=10, nprobe=nprobe,
                        candidates_encoded=True,
                    )
                )
                sec = _steady(
                    lambda e=enc, q=queries, c=cents, b=books, p=nprobe:
                    topk_ivf_pq(
                        e, q, c, b, k=10, nprobe=p, candidates_encoded=True
                    ).count(),
                    reps=2,
                )
                row = {"recall_at_10": round(recall, 3), "sec": round(sec, 3)}
                if refine:
                    # two-stage path: same shortlist stage + exact
                    # re-rank of the |Q|·k' survivors against the raw
                    # vectors — the fix for the quantization-miss
                    # regime (recall becomes probe-limited only)
                    row["refined_recall_at_10"] = round(
                        recall_of(
                            topk_ivf_pq_refine(
                                emb, queries, cents, books, k=10,
                                kprime=100, nprobe=nprobe, encoded=enc,
                            )
                        ),
                        3,
                    )
                    row["refined_sec"] = round(
                        _steady(
                            lambda e=emb, x=enc, q=queries, c=cents,
                            b=books, p=nprobe: topk_ivf_pq_refine(
                                e, q, c, b, k=10, kprime=100, nprobe=p,
                                encoded=x,
                            ).count(),
                            reps=2,
                        ),
                        3,
                    )
                got_out[f"nprobe={nprobe}"] = row
            enc.unpersist()
            return got_out

        rec_out = {}
        emb320 = manifold(320_000)
        rec_out["320k_coarse_codebook_m8_kc32_kcoarse128"] = sweep(
            emb320, 128, 8, 32, 8_000, (1, 2, 4, 8), refine=True
        )
        rec_out["320k_fine_codebook_m16_kc64_kcoarse128"] = sweep(
            emb320, 128, 16, 64, 8_000, (1, 2, 4, 8)
        )
        emb320.unpersist()
        emb4k = manifold(4_000)
        rec_out["4k_boundary_regime_m8_kc32_kcoarse64"] = sweep(
            emb4k, 64, 8, 32, 4_000, (1, 2, 4, 8), refine=True
        )
        emb4k.unpersist()
        out["ivf_pq_recall"] = rec_out

    if not sections or "filtered_search" in sections:
        # --- attribute-filtered search vs predicate selectivity: ONE
        # static 320k index, the per-request predicate applied as a
        # DataFrame filter on the (id, cell, codes) table BEFORE the
        # probe equi-join (the plan places the filter below the join —
        # verified in tests), exact re-rank of the survivors. The scale
        # property this pins: search work tracks the SURVIVING
        # candidate count, not the corpus — tightening the filter from
        # 100% to 1% keep-rate must not increase wall time (pre-filter,
        # not post-trim), and every query still fills k from the
        # filtered pool whenever it holds ≥ k rows.
        import numpy as np
        import pandas as pd

        from sids_data_pipeline_spark.operators.similarity import (
            ivf_pq_encode,
            ivf_pq_fit,
            topk_ivf_pq_refine,
        )

        rng = np.random.default_rng(42)
        n, d, latent = 320_000, 32, 2
        basis = rng.normal(size=(latent, d)).astype(np.float32)
        z = rng.normal(size=(n, latent)).astype(np.float32)
        vecs = (z @ basis + rng.normal(scale=0.05, size=(n, d))).astype(
            np.float32
        )
        emb = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(n), "embedding": list(map(list, vecs))}
            )
        ).repartition(32).cache()
        emb.count()
        queries = emb.filter(F.col("vec_id") < 10)
        sample = emb.filter(F.col("vec_id") < 8_000)
        cents, books = ivf_pq_fit(sample, kcoarse=128, m=8, kc=32, iters=2)
        enc = ivf_pq_encode(emb, cents, books).cache()
        enc.count()
        fs = {}
        preds = {
            "keep_100pct": None,
            "keep_66pct": F.col("vec_id") % 3 != 0,
            "keep_10pct": F.col("vec_id") % 10 == 0,
            "keep_1pct": F.col("vec_id") % 100 == 0,
        }
        for label, pred in preds.items():
            encf = enc if pred is None else enc.filter(pred)
            nf = encf.count()
            res = topk_ivf_pq_refine(
                emb, queries, cents, books, k=10, kprime=100, nprobe=4,
                encoded=encf,
            )
            rows = res.collect()
            filled = sum(1 for r in rows if r.rank == 10)
            sec = _steady(
                lambda e=emb, x=encf, q=queries, c=cents, b=books:
                topk_ivf_pq_refine(
                    e, q, c, b, k=10, kprime=100, nprobe=4, encoded=x
                ).count(),
                reps=2,
            )
            fs[label] = {
                "surviving_candidates": nf,
                "sec": round(sec, 3),
                "queries_filling_k": filled,
            }
        enc.unpersist()
        emb.unpersist()
        out["filtered_search"] = fs

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
