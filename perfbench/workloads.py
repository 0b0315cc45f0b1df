"""The three lifecycle workloads: seeded inputs, one invocation through
the job's public entry point, the output check, and the traced run's
prefix probes.

A probe pushes the workload's inputs through a prefix of the same public
functions the job composes, into a ``noop`` sink or a scratch directory;
a layer's self time is the difference between two prefixes. ``timed``
(supplied by run.py) runs one call under its own span and job group and
returns its wall time in seconds.
"""

from __future__ import annotations

import glob
import os

import checks
import inputs

VECTOR_ID = "zones"
MIN_CHARS = 20  # run_curation_job's default quality bar


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``: Spark's .crc
    checksums and _SUCCESS markers are bookkeeping, not output."""
    total = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if not (n.startswith(".") or n == "_SUCCESS"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


class Workload:
    """Inputs live in ``master/in``; each invocation gets a directory
    whose ``in`` holds hard links to them and whose ``out`` is new."""

    name = ""
    sizes: dict[str, dict] = {}
    # per-layer metrics only this workload has: name → unit
    extra_metrics: dict[str, str] = {}

    def __init__(self, seed: int, size: str, master: str):
        self.master = master
        os.makedirs(os.path.join(master, "in"))
        self.generate(seed, **self.sizes[size])
        self.in_bytes, self.sha256 = inputs.tree_digest(os.path.join(master, "in"))

    def generate(self, seed: int, **size) -> None:
        raise NotImplementedError

    def estate(self) -> dict:
        return {"items": self.items, "bytes": self.in_bytes, "sha256": self.sha256}

    def out_bytes(self, d: str) -> tuple[int, int]:
        return _tree_bytes(os.path.join(d, "out"))


class _RasterWorkload(Workload):
    def generate(self, seed: int, n_rasters: int, px: int, **_) -> None:
        self.rasters = inputs.raster_estate(seed, n_rasters, px)
        self.items = sum(r.values.size for r in self.rasters)
        for r in self.rasters:
            with open(os.path.join(self.master, "in", f"{r.stem}.tif"), "wb") as f:
                f.write(inputs.tiff_bytes(r))

    def stems(self) -> list[str]:
        return [r.stem for r in self.rasters]

    def functions_floor(self, d: str, timed) -> dict:
        """One-core NumPy decode and ZSTD/128-tile encode of the largest
        input file, with no Spark in the way."""
        from sids_data_pipeline_spark.sources.geotiff import (
            decode_geotiff_bands,
            encode_geotiff,
        )

        big = max(self.rasters, key=lambda r: r.values.size)
        with open(os.path.join(d, "in", f"{big.stem}.tif"), "rb") as f:
            data = f.read()
        out = {}
        decoded = []
        out["functions.decode_s"] = timed(
            "functions.decode", lambda: decoded.append(decode_geotiff_bands(data))
        )
        values, (ox, oy, sx, sy), _ = decoded[0]
        out["functions.encode_s"] = timed(
            "functions.encode",
            lambda: encode_geotiff(
                values[0], ox, oy, sx, nodata=-9999.0, pixel_deg_y=sy,
                compress="zstd", tile=128,
            ),
        )
        return out


class Standardize(_RasterWorkload):
    """Entry-2: decode → clip → ZSTD 128-tiled GeoTIFF write → ledger."""

    name = "standardize_estate"
    sizes = {
        "full": {"n_rasters": 6, "px": 400_000},
        "tiny": {"n_rasters": 6, "px": 6_000},
    }

    def invoke(self, spark, d: str) -> dict:
        from sids_data_pipeline_spark.jobs.standardize import run_standardize_job

        return run_standardize_job(
            spark, f"{d}/in/*.tif", f"{d}/out/store", f"{d}/out/ledger"
        )

    def check(self, d: str, res: dict) -> list[str]:
        if res.get("processed") != self.stems():
            return [f"processed {res.get('processed')}"]
        return checks.standardized(f"{d}/out/store", self.rasters) + checks.ledger_has(
            f"{d}/out/ledger", "raster_id", set(self.stems())
        )

    def check_rerun(self, res: dict) -> list[str]:
        ok = res.get("processed") == [] and res.get("skipped") == self.stems()
        return [] if ok else [f"rerun did work: {res}"]

    def probes(self, spark, d: str, timed) -> dict:
        from pyspark.errors import AnalysisException

        from sids_data_pipeline_spark.sources.geotiff_datasource import register
        from sids_data_pipeline_spark.sources.raster import clip_extent, select_band
        from sids_data_pipeline_spark.sources.storage import hadoop_glob

        register(spark)
        pattern = f"{d}/in/*.tif"
        files = ",".join(sorted(glob.glob(pattern)))

        def scan():
            return (
                spark.read.format("geotiff").option("band", "1")
                .option("files", files).load(pattern)
            )

        def clip():
            return clip_extent(select_band(scan(), 1))

        def ledger_read():
            try:
                done = spark.read.parquet(f"{d}/probe/ledger").select("raster_id")
            except AnalysisException:
                done = spark.createDataFrame([], "raster_id string")
            done.distinct().collect()

        m = {"sources.scan_s": timed("sources.scan", lambda: _noop(scan()))}
        m["operators.self_s"] = (
            timed("operators.clip", lambda: _noop(clip())) - m["sources.scan_s"]
        )
        std = clip().persist()
        std.count()
        jobs = timed("jobs.listing", lambda: hadoop_glob(spark, pattern))
        jobs += timed("jobs.ledger_read", ledger_read)
        jobs += timed(
            "jobs.id_collect", lambda: std.select("raster_id").distinct().collect()
        )
        m["sinks.self_s"] = timed(
            "sinks.geotiff_write",
            lambda: std.repartition("raster_id").write.format("geotiff")
            .option("compress", "zstd").option("tile", "128")
            .mode("overwrite").save(f"{d}/probe/store"),
        )
        jobs += timed(
            "jobs.ledger_append",
            lambda: spark.createDataFrame(
                [(s,) for s in self.stems()], "raster_id string"
            ).write.mode("append").parquet(f"{d}/probe/ledger"),
        )
        std.unpersist()
        m["jobs.self_s"] = jobs
        return {**m, **self.functions_floor(d, timed)}


class ZonalPipeline(_RasterWorkload):
    """Entry-1: geotiff scan + GeoPackage zones → zonal mean → GeoJSONL
    and MVT sinks → per-pair fan-out → ledger."""

    name = "zonal_pipeline"
    extra_metrics = {"sources.zones_ingest_s": "s"}
    sizes = {
        "full": {"n_rasters": 6, "px": 40_000, "n_zones": 40},
        "tiny": {"n_rasters": 6, "px": 6_000, "n_zones": 12},
    }

    def generate(self, seed: int, n_rasters: int, px: int, n_zones: int) -> None:
        super().generate(seed, n_rasters, px)
        self.zones = inputs.zone_set(seed, self.rasters, n_zones)
        inputs.write_geopackage(os.path.join(self.master, "in", "zones.gpkg"), self.zones)
        self.expected = {
            r.stem: inputs.zonal_means(self.zones, r) for r in self.rasters
        }

    def _sources(self, spark, d: str):
        from sids_data_pipeline_spark.sources.geopackage import ingest_geopackage
        from sids_data_pipeline_spark.sources.geotiff_datasource import register

        register(spark)
        pixels = spark.read.format("geotiff").load(f"{d}/in/*.tif")
        return ingest_geopackage(spark, f"{d}/in/zones.gpkg", VECTOR_ID), pixels

    def invoke(self, spark, d: str) -> dict:
        from sids_data_pipeline_spark.jobs.pipeline import run_pipeline

        zones, pixels = self._sources(spark, d)
        return run_pipeline(
            spark, [VECTOR_ID], self.stems(), f"{d}/out",
            zones_df=zones, pixels_df=pixels,
        )

    def check(self, d: str, res: dict) -> list[str]:
        if res.get("pending") != len(self.rasters):
            return [f"pending {res.get('pending')}"]
        return checks.zonal(f"{d}/out", VECTOR_ID, self.expected)

    def check_rerun(self, res: dict) -> list[str]:
        return [] if res.get("pending") == 0 else [f"rerun did work: {res}"]

    def probes(self, spark, d: str, timed) -> dict:
        from pyspark.sql import functions as F

        from sids_data_pipeline_spark import lifecycle
        from sids_data_pipeline_spark.operators import manifest
        from sids_data_pipeline_spark.operators.zonal import spatial_join, zonal_stats
        from sids_data_pipeline_spark.sinks import geojsonl, tiles
        from sids_data_pipeline_spark.sources.geopackage import ingest_geopackage
        from sids_data_pipeline_spark.sources.raster import standardize_pixels
        from sids_data_pipeline_spark.sources.storage import fs_listdir, fs_rename

        probe = f"{d}/probe"
        m = {}
        m["sources.scan_s"] = timed(
            "sources.scan",
            lambda: _noop(spark.read.format("geotiff").load(f"{d}/in/*.tif")),
        )
        m["sources.zones_ingest_s"] = timed(
            "sources.zones_ingest",
            lambda: _noop(ingest_geopackage(spark, f"{d}/in/zones.gpkg", VECTOR_ID)),
        )

        def stats():
            zones, pixels = self._sources(spark, d)
            return zones, zonal_stats(zones, standardize_pixels(pixels))

        m["operators.self_s"] = (
            timed("operators.zonal", lambda: _noop(stats()[1]))
            - m["sources.scan_s"]
            - m["sources.zones_ingest_s"]
        )
        zones, pixels = self._sources(spark, d)
        m["operators.matched_pairs"] = spatial_join(
            zones, standardize_pixels(pixels)
        ).count()

        # the sinks' input: zonal means with geometry, bbox and pair key,
        # cached so the sink probes time only the sinks
        zones, st = stats()
        bbox = spark.createDataFrame(
            [
                (fid, min(xs), min(ys), max(xs), max(ys))
                for fid, (xs, ys) in enumerate(
                    (zip(*rings[0]) for rings in self.zones), start=1
                )
            ],
            "fid long, xmin double, ymin double, xmax double, ymax double",
        )
        frame = (
            st.join(zones.select("vector_id", "fid", "geometry"), ["vector_id", "fid"])
            .join(bbox, "fid")
            .withColumn("pair_key", F.concat_ws("_", "vector_id", "raster_id"))
            .persist()
        )
        frame.count()
        keys = [f"{VECTOR_ID}_{s}" for s in self.stems()]

        def write_geojsonl():
            geojsonl.to_geojsonl(
                frame, property_cols=("fid", "mean"), keep_cols=("pair_key",)
            ).write.mode("overwrite").partitionBy("pair_key").text(f"{probe}/geojsonl")

        def write_tiles():
            feats = frame.select(
                "pair_key", "fid", "geometry", "mean", "xmin", "ymin", "xmax", "ymax"
            )
            dropped = tiles.drop_densest(
                tiles.assign_tiles(feats, max_zoom=6), 64, extra_keys=("pair_key",)
            )
            tiles.encode_tiles(
                dropped, ["fid", "mean", "geometry"], geometry_col="geometry",
                max_zoom=6, extra_keys=("pair_key",),
            ).write.mode("overwrite").partitionBy("pair_key", "z", "x").parquet(
                f"{probe}/tiles"
            )

        m["sinks.self_s"] = timed("sinks.geojsonl", write_geojsonl) + timed(
            "sinks.tiles", write_tiles
        )

        def fan_out():
            for stage in ("geojsonl", "tiles"):
                for name in fs_listdir(spark, f"{probe}/{stage}"):
                    if name.startswith("pair_key="):
                        fs_rename(
                            spark, f"{probe}/{stage}/{name}",
                            f"{probe}/out/{name[len('pair_key='):]}_{stage}",
                        )

        pending = spark.createDataFrame(
            [(VECTOR_ID, s, k) for s, k in zip(self.stems(), keys)],
            "v_id string, r_id string, pair_key string",
        )
        jobs = timed(
            "jobs.ledger_read",
            lambda: manifest.read_ledger(spark, f"{probe}/ledger").collect(),
        )
        jobs += timed("jobs.markers", lambda: tiles.tileset_markers(f"{probe}/out"))
        jobs += timed(
            "jobs.bounds",
            lambda: frame.groupBy("pair_key").agg(F.min("xmin"), F.max("xmax")).collect(),
        )
        jobs += timed("jobs.fan_out", fan_out)
        jobs += timed(
            "jobs.ledger_append",
            lambda: manifest.record_done(spark, f"{probe}/ledger", pending),
        )
        m["jobs.self_s"] = jobs
        frame.unpersist()
        lifecycle.release_tracked()
        return {**m, **self.functions_floor(d, timed)}


class CurateCorpus(Workload):
    """PII scrub → quality filter → exact + MinHash near-dup removal →
    hash split → shard packing → partitioned parquet. No raster code."""

    name = "curate_corpus"
    extra_metrics = {
        "operators.lsh_candidates": "count",
        "operators.near_dup_pairs": "count",
        "operators.lsh_kept_ratio": "ratio",
    }
    sizes = {"full": {"n_docs": 3_000}, "tiny": {"n_docs": 400}}

    def generate(self, seed: int, n_docs: int) -> None:
        self.corpus = inputs.corpus(seed, n_docs)
        self.items = n_docs
        inputs.write_corpus(os.path.join(self.master, "in", "docs.parquet"), self.corpus)

    def _docs(self, spark, d: str):
        return spark.read.parquet(f"{d}/in/docs.parquet")

    def invoke(self, spark, d: str) -> dict:
        from sids_data_pipeline_spark.jobs.curation import run_curation_job

        return run_curation_job(spark, self._docs(spark, d), f"{d}/out")

    def check(self, d: str, res: dict) -> list[str]:
        if res.get("n_input") != self.items or res.get("skipped"):
            return [f"manifest {res}"]
        return checks.curated(f"{d}/out/data", self.corpus, MIN_CHARS)

    def check_rerun(self, res: dict) -> list[str]:
        return [] if res.get("skipped") is True else [f"rerun did work: {res}"]

    def probes(self, spark, d: str, timed) -> dict:
        import json
        from functools import reduce

        from pyspark.sql import functions as F

        from sids_data_pipeline_spark import lifecycle
        from sids_data_pipeline_spark.jobs.curation import curate_corpus
        from sids_data_pipeline_spark.operators.dedup import (
            exact_dedup,
            lsh_candidate_pairs,
            minhash_signature,
            near_duplicates_minhash,
            shingles,
        )
        from sids_data_pipeline_spark.operators.sampling import hash_split, pack_shards
        from sids_data_pipeline_spark.operators.text import scrub_pii, token_stats
        from sids_data_pipeline_spark.sources.storage import fs_read_text, fs_write_text

        probe = f"{d}/probe"
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}

        def scrubbed():
            docs = self._docs(spark, d)
            return scrub_pii(docs).join(docs.drop("text"), "doc_id")

        def sharded():
            labeled = hash_split(curate_corpus(scrubbed(), min_chars=MIN_CHARS), splits)
            tok = labeled.join(token_stats(labeled).select("doc_id", "n_words"), "doc_id")
            return reduce(
                lambda a, b: a.unionByName(b),
                [
                    pack_shards(
                        tok.filter(F.col("split") == s), max_tokens=50_000,
                        size_col="n_words", order_col="doc_id",
                    )
                    for s in splits
                ],
            )

        m = {"sources.scan_s": timed("sources.scan", lambda: _noop(self._docs(spark, d)))}
        m["operators.self_s"] = (
            timed("operators.curate", lambda: _noop(sharded())) - m["sources.scan_s"]
        )
        survivors = exact_dedup(
            scrubbed().filter(F.length("text") >= MIN_CHARS), ["text"], "doc_id"
        )
        tok = shingles(survivors, 3).withColumnRenamed("shingle", "token")
        sig = minhash_signature(tok, with_tokens=True).drop("_toks")
        m["operators.lsh_candidates"] = lsh_candidate_pairs(sig).count()
        m["operators.near_dup_pairs"] = near_duplicates_minhash(survivors).count()
        m["operators.lsh_kept_ratio"] = m["operators.near_dup_pairs"] / max(
            1, m["operators.lsh_candidates"]
        )

        out = sharded().persist()
        out.count()
        m["sinks.self_s"] = timed(
            "sinks.parquet",
            lambda: out.write.mode("overwrite").partitionBy("split", "shard_id")
            .parquet(f"{probe}/data"),
        )
        ledger = f"{probe}/_curation_ledger.json"
        jobs = timed("jobs.input_count", lambda: self._docs(spark, d).count())
        jobs += timed("jobs.ledger_read", lambda: fs_read_text(spark, ledger))
        jobs += timed(
            "jobs.report",
            lambda: spark.read.parquet(f"{probe}/data").groupBy("split")
            .agg(F.count("*"), F.countDistinct("shard_id")).collect(),
        )
        jobs += timed(
            "jobs.ledger_write", lambda: fs_write_text(spark, ledger, json.dumps({}))
        )
        m["jobs.self_s"] = jobs
        out.unpersist()
        lifecycle.release_tracked()
        return m


WORKLOADS = {w.name: w for w in (Standardize, ZonalPipeline, CurateCorpus)}
