"""Output checks that do not trust the program.

Each check reads the files an invocation wrote with this module's own
code (a TIFF reader over stdlib ``struct`` and pyarrow's ZSTD codec,
``json`` for GeoJSONL, pyarrow for parquet) and compares them with the
answers :mod:`inputs` computes in NumPy. A check returns a list of
problems; an empty list means the outputs are right.
"""

from __future__ import annotations

import glob
import json
import os
import struct

import numpy as np

import inputs

_TYPES = {3: ("H", 2), 4: ("I", 4), 12: ("d", 8), 16: ("Q", 8)}
_DTYPES = {(3, 32): "f4", (3, 64): "f8", (1, 8): "u1", (1, 16): "u2", (2, 16): "i2"}


def read_tiff(data: bytes) -> tuple[dict[int, tuple], np.ndarray]:
    """(tags, single-band values) of a little-endian classic or BigTIFF
    written with ZSTD-compressed tiles."""
    import pyarrow as pa

    if data[:2] != b"II":
        raise ValueError("not a little-endian TIFF")
    version = struct.unpack_from("<H", data, 2)[0]
    big = version == 43
    if big:
        off = struct.unpack_from("<Q", data, 8)[0]
        n = struct.unpack_from("<Q", data, off)[0]
        entry, pos, inline = 20, off + 8, 8
    else:
        off = struct.unpack_from("<I", data, 4)[0]
        n = struct.unpack_from("<H", data, off)[0]
        entry, pos, inline = 12, off + 2, 4
    tags: dict[int, tuple] = {}
    for i in range(n):
        base = pos + i * entry
        tag, typ = struct.unpack_from("<HH", data, base)
        count = struct.unpack_from("<Q" if big else "<I", data, base + 4)[0]
        if typ not in _TYPES:
            continue  # ASCII and other tags the check does not need
        code, size = _TYPES[typ]
        at = base + (12 if big else 8)
        if count * size > inline:
            at = struct.unpack_from("<Q" if big else "<I", data, at)[0]
        tags[tag] = struct.unpack_from("<" + code * count, data, at)
    if tags.get(259, (1,))[0] != 50000:
        raise ValueError(f"compression {tags.get(259)} is not ZSTD (50000)")
    if 322 not in tags:
        raise ValueError("not a tiled TIFF")
    w, h = tags[256][0], tags[257][0]
    tw, tl = tags[322][0], tags[323][0]
    dtype = "<" + _DTYPES[(tags.get(339, (1,))[0], tags[258][0])]
    across, down = -(-w // tw), -(-h // tl)
    codec = pa.Codec("zstd")
    padded = np.empty((down * tl, across * tw), dtype=dtype)
    item = np.dtype(dtype).itemsize
    for idx, (o, c) in enumerate(zip(tags[324], tags[325])):
        raw = codec.decompress(data[o : o + c], decompressed_size=tw * tl * item)
        ty, tx = divmod(idx, across)
        padded[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = np.frombuffer(
            raw, dtype=dtype
        ).reshape(tl, tw)
    return tags, padded[:h, :w]


def standardized(out_store: str, rasters: list[inputs.Raster]) -> list[str]:
    """Every input raster has a ZSTD, 128×128-tiled output that equals
    the generator's array after the NumPy clip, at the same georef."""
    problems = []
    for r in rasters:
        path = os.path.join(out_store, f"{r.stem}.tif")
        try:
            with open(path, "rb") as f:
                tags, got = read_tiff(f.read())
        except (OSError, ValueError, KeyError) as ex:
            problems.append(f"{r.stem}: {ex}")
            continue
        if (tags[322][0], tags[323][0]) != (128, 128):
            problems.append(f"{r.stem}: tiles {tags[322][0]}x{tags[323][0]}")
        want, north = inputs.clipped(r)
        if got.shape != want.shape or not np.array_equal(
            got.astype(np.float64), want.astype(np.float64)
        ):
            problems.append(f"{r.stem}: values differ from the clipped input")
        sx, sy = tags[33550][:2]
        west, top = tags[33922][3], tags[33922][4]
        if not (
            abs(sx - r.pixel_deg) < 1e-9
            and abs(sy - r.pixel_deg) < 1e-9
            and abs(west - r.origin_x) < 1e-7
            and abs(top - north) < 1e-7
        ):
            problems.append(f"{r.stem}: georef {west, top, sx, sy} != {r.origin_x, north}")
    return problems


def ledger_has(path: str, column: str, want: set) -> list[str]:
    import pyarrow.parquet as pq

    try:
        got = set(pq.read_table(path, columns=[column]).column(column).to_pylist())
    except (OSError, ValueError) as ex:
        return [f"ledger {path}: {ex}"]
    return [] if got == want else [f"ledger {column}s {sorted(got)} != {sorted(want)}"]


def zonal(out_dir: str, vector_id: str, expected: dict[str, dict]) -> list[str]:
    """``expected`` maps raster stem → {fid: NumPy mean or None}. Every
    pair has one GeoJSONL feature per zone whose mean matches, its
    tileset marker, and a ledger row."""
    problems = []
    for stem, means in expected.items():
        pair = os.path.join(out_dir, f"{vector_id}_{stem}")
        got = {}
        for part in sorted(glob.glob(os.path.join(pair, "export.geojsonl", "part-*"))):
            with open(part) as f:
                for line in f:
                    if line.strip():
                        props = json.loads(line)["properties"]
                        got[props["fid"]] = props["mean"]
        if set(got) != set(means):
            problems.append(f"{stem}: {len(got)} features for {len(means)} zones")
            continue
        for fid, want in means.items():
            have = got[fid]
            if (want is None) != (have is None) or (
                want is not None and abs(have - want) > 1e-9 * max(1.0, abs(want))
            ):
                problems.append(f"{stem} fid {fid}: mean {have} != {want}")
                break
        if not os.path.exists(os.path.join(pair, "tiles", "_tileset_metadata.json")):
            problems.append(f"{stem}: no tileset marker")
    problems += ledger_has(
        os.path.join(out_dir, "_ledger"), "r_id", set(expected)
    )
    return problems


def curated(data_dir: str, corpus: inputs.Corpus, min_chars: int) -> list[str]:
    """The first copy of every planted exact duplicate survives and no
    later copy does; no document is under ``min_chars``; no planted PII
    string survives; the splits partition the output."""
    import pyarrow.parquet as pq

    try:
        rows = pq.read_table(data_dir, columns=["doc_id", "text", "split"]).to_pylist()
    except (OSError, ValueError) as ex:
        return [f"curated corpus: {ex}"]
    problems = []
    ids = [r["doc_id"] for r in rows]
    kept = set(ids)
    if len(kept) != len(ids):
        problems.append("a document appears in more than one split or shard")
    if not kept <= set(int(i) for i in corpus.ids):
        problems.append("output holds ids that were never input")
    for first, copies in corpus.exact_dups.items():
        if first not in kept or kept & set(copies):
            problems.append(f"exact duplicate {first}: kept copies {sorted(kept & {first, *copies})}")
            break
    if any(len(r["text"]) < min_chars for r in rows):
        problems.append("a document under min_chars survived")
    texts = "\n".join(r["text"] for r in rows)
    leaked = [s for s in corpus.pii if s in texts]
    if leaked:
        problems.append(f"{len(leaked)} planted PII strings survived, e.g. {leaked[0]!r}")
    splits = {}
    for r in rows:
        splits.setdefault(r["split"], set()).add(r["doc_id"])
    if sum(len(s) for s in splits.values()) != len(kept) or set().union(*splits.values()) != kept:
        problems.append("splits do not partition the output")
    return problems
