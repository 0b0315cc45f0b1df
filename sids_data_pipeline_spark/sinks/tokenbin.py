"""Tokenized-binary training sink: uint32 token shards (.bin) + readback.

The last mile of the corpus pipeline (BPE encode → shard packing →
TRAINING CONSUMPTION): training loaders mmap flat fixed-width token
streams (the Megatron-LM ``.bin`` layout — little-endian unsigned ints,
documents concatenated back to back), not Parquet. This sink writes one
``shard-{id:08d}.bin`` per shard and reads the estate back distributed.

Scale shape: shards are token-budgeted by construction
(operators/sampling.pack_shards caps each at ``max_tokens``), so ONE
shard is the unit of both write parallelism and memory —
``applyInPandas`` over the shard groups hands each executor worker one
bounded group, which it serializes with numpy and writes through
:func:`storage.write_bytes` (local and ``file:`` paths with os, remote
schemes through ``pyarrow.fs``, since executor Python workers have no
JVM gateway).
Reading back is a ``binaryFile`` scan + Arrow-batched decode — one task
per shard file, no driver involvement.

The reference has no training sink (its outputs are tiles/CSV); this is
EXT surface, SURVEY.md §2b E8.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sids_data_pipeline_spark.sources.storage import write_bytes

_SHARD_RE = re.compile(r"shard-(\d+)\.bin$")
# uint32 tokens: any practical vocabulary (BPE vocabs are < 2^21) fits;
# the writer REJECTS out-of-range ids rather than silently truncating.
_TOKEN_MAX = (1 << 32) - 1


def write_token_shards(
    packed: DataFrame,
    out_dir: str,
    tokens_col: str = "tokens",
    shard_col: str = "shard_id",
    order_col: str = "doc_id",
) -> DataFrame:
    """Write one uint32-LE ``.bin`` per shard; returns the manifest
    DataFrame (shard_id, n_docs, n_tokens, path) — an action has already
    materialized the writes when this returns.

    Within a shard, documents serialize in ``order_col`` order (the same
    total order pack_shards packed by), so byte layout is deterministic
    at any partitioning. Each shard group is bounded by pack_shards'
    token budget — the memory unit is one shard, never the corpus.
    """
    spark = packed.sparkSession
    sep = "" if out_dir.endswith("/") else "/"

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        sid = int(pdf[shard_col].iloc[0])
        arrays = [np.asarray(a, dtype=np.int64) for a in pdf[tokens_col]]
        flat = (
            np.concatenate(arrays) if arrays else np.empty(0, dtype=np.int64)
        )
        if flat.size and (flat.min() < 0 or flat.max() > _TOKEN_MAX):
            raise ValueError(
                f"shard {sid}: token ids outside uint32 "
                f"[{flat.min()}, {flat.max()}]"
            )
        path = f"{out_dir}{sep}shard-{sid:08d}.bin"
        write_bytes(path, flat.astype("<u4").tobytes())
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "n_docs": [len(pdf)],
                "n_tokens": [int(flat.size)],
                "path": [path],
            }
        )

    manifest = packed.select(shard_col, order_col, tokens_col).groupBy(
        shard_col
    ).applyInPandas(
        emit, "shard_id long, n_docs long, n_tokens long, path string"
    )
    # one action: execute the writes now, hand back the (tiny) manifest
    rows = manifest.collect()
    return spark.createDataFrame(
        rows, "shard_id long, n_docs long, n_tokens long, path string"
    )


def read_token_shards(spark: SparkSession, path_glob: str) -> DataFrame:
    """Read a shard estate back: (shard_id, tokens array<long>) — one
    ``binaryFile`` task per shard, Arrow-batched uint32 decode.

    Zero-token shards (possible only when every doc in the shard was
    empty) write a 0-byte file that Spark's binaryFile source SKIPS, so
    they are absent from the readback — the same omission contract as
    the raster operators' nodata rows."""

    def decode(batches):
        for pdf in batches:
            out_sid, out_toks = [], []
            for p, content in zip(pdf["path"], pdf["content"]):
                m = _SHARD_RE.search(p)
                if not m:
                    raise ValueError(f"not a token shard file: {p!r}")
                if len(content) % 4 != 0:
                    raise ValueError(
                        f"corrupt shard {p!r}: {len(content)} bytes is "
                        "not a whole number of uint32 tokens"
                    )
                out_sid.append(int(m.group(1)))
                out_toks.append(
                    np.frombuffer(content, dtype="<u4").astype(np.int64)
                )
            yield pd.DataFrame({"shard_id": out_sid, "tokens": out_toks})

    return (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "content")
        .mapInPandas(decode, "shard_id long, tokens array<long>")
    )
