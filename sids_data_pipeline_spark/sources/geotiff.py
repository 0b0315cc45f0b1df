"""Real GeoTIFF ingest for uncompressed rasters — no GDAL required
(S5/K5/F8 — SURVEY.md §2a).

TIFF 6.0 + the GeoTIFF georeferencing tags are public specs, and the
uncompressed single-band case the engine standardises on (the reference
itself re-writes rasters to a fixed profile before use,
``batch/processing/raster.py:20-38``) needs no codec: strips are raw
sample bytes. This module implements that subset in pure numpy:

- :func:`decode_geotiff` — bytes → (2-D array, (origin_x, origin_y,
  pixel_sx, pixel_sy), nodata). Little/big-endian, strip OR tile layout
  (the reference's own profile is TILED=YES 128×128,
  batch/processing/raster.py:7-8), uint8/16/32, int16/32, float32/64,
  raw, LZW (with the TIFF early-change variant + horizontal predictor —
  the NASA/USGS distribution default), deflate, PackBits, or ZSTD
  chunks (tag 50000, via pyarrow's zstd codec) — the reference's full
  COMPRESS=ZSTD/TILED=YES output profile AND the common foreign-raster
  profiles ingest without GDAL.
- :func:`encode_geotiff` — the matching writer (K5): single-band
  float64, one strip or ``tile=N`` tiled layout, ModelPixelScale +
  ModelTiepoint georef.
- :func:`ingest_geotiff` — the DISTRIBUTED ingest: ``binaryFile`` scan →
  ``mapInPandas`` decode → long-format PIXELS rows. One task per file,
  payloads never touch the driver; at 100 TB the parallelism is file
  count and the output partitions by raster_id + coarse grid
  (sources/storage.write_pixels_partitioned).
- :func:`standardize_geotiff` — Entry-2 for one file in array form:
  decode, band select, clip as a row/column slice, ZSTD 128-tiled
  encode; no pixel rows (the standardize job's per-file step).
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sids_data_pipeline_spark.schemas import PIXELS

_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES_PER_PIXEL = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_COUNTS = 325
_TAG_SAMPLE_FORMAT = 339
_TAG_MODEL_PIXEL_SCALE = 33550
_TAG_MODEL_TIEPOINT = 33922
_TAG_GDAL_NODATA = 42113
_TAG_GEO_KEY_DIRECTORY = 34735

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 11: 4, 12: 8, 16: 8, 17: 8, 18: 8}

# TIFF compression tags the codec handles. 50000 is the de-facto ZSTD id
# (GDAL/libtiff) — the reference's own output profile is COMPRESS=ZSTD
# (batch/processing/raster.py:7); pyarrow ships the zstd codec, so no
# GDAL/rasterio needed. ZSTD decompression requires the expected output
# size, which TIFF always determines (chunk dims × sample width).
# LZW (5) and PackBits (32773) are pure-python decoders below: LZW is
# the single most common compression on public GeoTIFFs (NASA/USGS
# distribution default) — the reference reads them because GDAL does the
# decode (batch/processing/raster.py:22-38); without these the first
# foreign raster in would crash the ingest.
_COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_PACKBITS, _COMP_ZSTD = (
    1, 5, 8, 32773, 50000
)
_SUPPORTED_COMPRESSIONS = (
    _COMP_NONE, _COMP_LZW, _COMP_DEFLATE, _COMP_PACKBITS, _COMP_ZSTD
)
_TAG_PREDICTOR = 317

# Decode-capacity budget: this decoder materializes the WHOLE raster in
# memory (native-dtype assembly + float64 output), so the declared size
# must fit a budget or the allocation happens before any pixel is read —
# which is BOTH the adversarial-input guard (a 16 KB file declaring
# 65536x65536 would otherwise np.empty 32 GiB and OOM-kill the executor
# uncatchably under Linux overcommit) and the honest statement of the
# in-memory decoder's real limit. Genuinely larger single files need
# windowed ingest; raise the knob only with executor memory to match.
MAX_DECODE_BYTES = int(
    os.environ.get("SDP_GEOTIFF_MAX_DECODE_BYTES", str(8 << 30))
)


def _check_decode_budget(n_samples: int, itemsize: int, what: str) -> None:
    # native-dtype assembly and the float64 output both live at once
    need = n_samples * (itemsize + 8)
    if need > MAX_DECODE_BYTES:
        raise ValueError(
            f"declared raster {what} needs {need >> 20} MiB to decode, "
            f"over the {MAX_DECODE_BYTES >> 20} MiB budget "
            "(SDP_GEOTIFF_MAX_DECODE_BYTES); this decoder materializes "
            "whole rasters — window the ingest for larger single files"
        )


def _zstd_codec():
    import pyarrow as pa

    return pa.Codec("zstd")


def _lzw_decode(buf: bytes, max_size: int | None = None) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, 9-bit
    initial codes, ClearCode=256, EOI=257, and the TIFF "early change" —
    the code width grows one entry EARLY (at table size 511/1023/2047,
    not 512/1024/2048), matching libtiff/GDAL output. Old-style LSB
    streams (pre-TIFF-5 Aldus writers) are not handled.

    Throughput: ~5 MB/s/core measured (pure-python; a numpy bit-unpack
    variant measured SLOWER — the per-code table loop dominates). The
    scale posture is the reference's own: foreign LZW files decode once
    per file in parallel source partitions (~150 MB/s on a 32-core box)
    and the standardize job re-writes them to ZSTD (pyarrow C codec),
    so LZW cost is one-time per estate, exactly like the reference's
    gdal_translate standardization pass.
    """
    CLEAR, EOI = 256, 257
    literals = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(literals)
    out = bytearray()
    bits = 9
    acc = nbits = 0
    prev: bytes | None = None
    for byte in buf:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= bits:
            nbits -= bits
            code = (acc >> nbits) & ((1 << bits) - 1)
            if code == CLEAR:
                table = list(literals)
                bits = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError(
                        f"corrupt LZW stream: code {code} > table {len(table)}"
                    )
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(
                    f"corrupt LZW stream: code {code} > table {len(table)}"
                )
            out += entry
            if max_size is not None and len(out) >= max_size:
                # the chunk's decompressed size is known from the TIFF
                # dims; stop here so an adversarial stream cannot grow
                # `out` without bound (decompression bomb)
                return bytes(out[:max_size])
            prev = entry
            # early change, adjusted for the decoder's one-entry lag
            # behind the encoder (the encoder widens after assigning
            # code 510/1022/2046; the decoder has then assigned one
            # fewer, so it widens at table size 2^bits - 2)
            if len(table) >= (1 << bits) - 2 and bits < 12:
                bits += 1
        acc &= (1 << nbits) - 1  # keep the accumulator bounded
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (early change, MSB-first), the exact
    inverse of :func:`_lzw_decode`; emits Clear at table-full (4094
    entries → next add would need a 13th bit) like libtiff."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    bits = 9
    put(CLEAR, bits)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], bits)
        table[wc] = next_code
        next_code += 1
        # early change: the ENCODER widens when the next code to emit
        # could be next_code-1 == (1<<bits)-1
        if next_code == (1 << bits) - 1 and bits < 12:
            bits += 1
        elif next_code == 4095:  # 12-bit table nearly full: reset
            put(CLEAR, bits)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            bits = 9
        w = bytes([b])
    if w:
        put(table[w], bits)
    put(EOI, bits)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(buf: bytes, max_size: int | None = None) -> bytes:
    """Apple PackBits (TIFF 6.0 §9): header byte n ∈ [0,127] → copy n+1
    literals; n ∈ [129,255] → repeat next byte 257-n times; 128 → noop.
    ``max_size`` caps the output at the chunk's known decompressed size
    (bomb guard, same contract as :func:`_lzw_decode`)."""
    out = bytearray()
    i, n = 0, len(buf)
    while i < n:
        if max_size is not None and len(out) >= max_size:
            return bytes(out[:max_size])
        h = buf[i]
        i += 1
        if h < 128:
            out += buf[i : i + h + 1]
            i += h + 1
        elif h > 128:
            out += bytes([buf[i]]) * (257 - h)
            i += 1
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits encoder: greedy runs ≥ 3 become replicate packets, the
    rest literal packets of ≤ 128 bytes."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = 0

    def flush_literals(end: int) -> None:
        j = lit_start
        while j < end:
            k = min(128, end - j)
            out.append(k - 1)
            out.extend(data[j : j + k])
            j += k

    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    return bytes(out)


def _decompress(buf: bytes, compression: int, expected_size: int) -> bytes:
    if compression == _COMP_NONE:
        return buf
    if compression == _COMP_LZW:
        return _lzw_decode(buf, max_size=expected_size)
    if compression == _COMP_DEFLATE:
        try:
            # bounded: TIFF always determines the chunk's decompressed
            # size, so an adversarial chunk expanding past it (deflate
            # bombs reach ~1000x) stops at the cap instead of OOMing
            # the executor
            d = zlib.decompressobj()
            out = d.decompress(buf, expected_size)
        except zlib.error as ex:  # corrupt chunk: diagnose, don't leak
            raise ValueError(f"corrupt deflate chunk: {ex}") from ex
        if len(out) < expected_size:
            # max_length made truncated streams return partial data
            # instead of raising Error -5 — restore the diagnosis
            raise ValueError(
                f"corrupt deflate chunk: {len(out)} of {expected_size} "
                "bytes (truncated stream)"
            )
        return out
    if compression == _COMP_PACKBITS:
        return _packbits_decode(buf, max_size=expected_size)
    if compression == _COMP_ZSTD:
        try:
            return bytes(_zstd_codec().decompress(buf, expected_size))
        except Exception as ex:  # pyarrow raises its own hierarchy
            raise ValueError(f"corrupt zstd chunk: {ex}") from ex
    raise NotImplementedError(
        "TIFF compression %d needs a codec (rasterio/GDAL); engine "
        "subset is raw (1), LZW (5), deflate (8), PackBits (32773), "
        "or ZSTD (50000)" % compression
    )


def _undo_predictor(
    raw: bytes, rows: int, width: int, spp: int, dtype: str
) -> bytes:
    """Invert TIFF horizontal differencing (tag 317 = 2): within each
    row, sample s of pixel x was stored as value[x] − value[x−1]
    (per-channel, modular in the sample dtype); cumulative sum along the
    row restores the plane. LZW files almost always carry this — GDAL
    writes PREDICTOR=2 by default with integer LZW/deflate output."""
    arr = np.frombuffer(raw, dtype=dtype, count=rows * width * spp).reshape(
        rows, width, spp
    )
    # same-dtype cumsum wraps modularly, exactly inverting the modular
    # differencing the writer applied
    return np.cumsum(arr, axis=1, dtype=arr.dtype).tobytes()


def _read_ifd(buf: bytes, bo: str, bigtiff: bool = False) -> dict[int, list]:
    """Parse the first IFD. ``bigtiff=True`` switches to the BigTIFF
    (TIFF version 43) layout: 8-byte IFD offset/entry count, 20-byte
    entries with 8-byte counts and inline-value slots, and the LONG8/
    SLONG8/IFD8 types (16/17/18). Classic TIFF's 32-bit offsets cap
    files at 4 GiB; rasters past that — routine in a 100 TB estate —
    ship as BigTIFF (GDAL writes it automatically above the limit)."""
    if bigtiff:
        (ifd_off,) = struct.unpack_from(bo + "Q", buf, 8)
        (n,) = struct.unpack_from(bo + "Q", buf, ifd_off)
        head, esize, inline = 8, 20, 8
        cnt_fmt, off_fmt = "HHQ", "Q"
    else:
        (ifd_off,) = struct.unpack_from(bo + "I", buf, 4)
        (n,) = struct.unpack_from(bo + "H", buf, ifd_off)
        head, esize, inline = 2, 12, 4
        cnt_fmt, off_fmt = "HHI", "I"
    tags: dict[int, list] = {}
    for i in range(n):
        off = ifd_off + head + esize * i
        tag, typ, count = struct.unpack_from(bo + cnt_fmt, buf, off)
        size = _TYPE_SIZES.get(typ, 1) * count
        val_slot = off + esize - inline
        val_off = (
            val_slot
            if size <= inline
            else struct.unpack_from(bo + off_fmt, buf, val_slot)[0]
        )
        if typ == 3:
            vals = list(struct.unpack_from(f"{bo}{count}H", buf, val_off))
        elif typ == 4:
            vals = list(struct.unpack_from(f"{bo}{count}I", buf, val_off))
        elif typ in (16, 18):  # LONG8 / IFD8 (BigTIFF 8-byte offsets)
            vals = list(struct.unpack_from(f"{bo}{count}Q", buf, val_off))
        elif typ == 17:  # SLONG8
            vals = list(struct.unpack_from(f"{bo}{count}q", buf, val_off))
        elif typ == 12:
            vals = list(struct.unpack_from(f"{bo}{count}d", buf, val_off))
        elif typ == 2:
            vals = [buf[val_off : val_off + count].split(b"\0")[0].decode()]
        else:
            vals = [buf[val_off : val_off + size]]
        tags[tag] = vals
    return tags


def decode_geotiff_bands(data: bytes):
    """Full multi-band decode → (values float64 [bands, h, w],
    (origin_x, origin_y, sx, sy), nodata).

    Handles both TIFF sample layouts a foreign multi-band raster can
    carry (the reference's band selection, ``gdal_translate -b {band}``
    in ``batch/processing/raster.py:34``, exists precisely for these):
    PlanarConfiguration=1 (chunky — samples interleaved per pixel,
    RGBRGB…) and PlanarConfiguration=2 (planar — each strip/tile holds
    one band's plane, planes stored plane-major). Per-band sample types
    must be homogeneous (the overwhelmingly common case; heterogeneous
    BitsPerSample rasters need a real GDAL).
    """
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    version = struct.unpack_from(bo + "H", data, 2)[0]
    if version == 43:
        # BigTIFF sanity: offset size must be 8, pad word 0
        osize, pad = struct.unpack_from(bo + "HH", data, 4)
        if osize != 8 or pad != 0:
            raise ValueError(f"malformed BigTIFF header ({osize}, {pad})")
    elif version != 42:
        raise ValueError(f"not a TIFF (version word {version})")
    tags = _read_ifd(data, bo, bigtiff=(version == 43))
    def _int_list(tag: int, default: list[int]) -> list[int]:
        # a corrupt/foreign type code makes _read_ifd return raw bytes;
        # every structural tag must be integral or the file is malformed
        vals = tags.get(tag, default)
        if not vals or not all(isinstance(v, int) for v in vals):
            raise ValueError(f"malformed TIFF: tag {tag} is not integral")
        return vals

    def _int_tag(tag: int, default: int | None = None) -> int:
        if default is not None and tag not in tags:
            return default
        if tag not in tags:
            raise ValueError(f"malformed TIFF: required tag {tag} missing")
        return _int_list(tag, [default])[0]

    compression = _int_tag(_TAG_COMPRESSION, 1)
    if compression not in _SUPPORTED_COMPRESSIONS:
        raise NotImplementedError(
            "TIFF compression %d needs a codec (rasterio/GDAL); engine "
            "subset is raw (1), LZW (5), deflate (8), PackBits (32773), "
            "or ZSTD (50000)" % compression
        )
    predictor = _int_tag(_TAG_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(
            f"TIFF predictor {predictor} not supported (horizontal "
            "differencing (2) only; floating-point predictor (3) needs "
            "a real GDAL)"
        )
    spp = _int_tag(_TAG_SAMPLES_PER_PIXEL, 1)
    planar = _int_tag(_TAG_PLANAR, 1)
    if planar not in (1, 2):
        raise NotImplementedError(f"PlanarConfiguration {planar} not supported")
    width = _int_tag(_TAG_WIDTH)
    length = _int_tag(_TAG_LENGTH)
    if width <= 0 or length <= 0 or spp <= 0:
        raise ValueError(
            f"malformed TIFF: non-positive dims {width}x{length}x{spp}"
        )
    bits_l = _int_list(_TAG_BITS, [8])[:spp] or [8]
    fmt_l = _int_list(_TAG_SAMPLE_FORMAT, [1])[:spp] or [1]
    if len(set(bits_l)) != 1 or len(set(fmt_l)) != 1:
        raise NotImplementedError(
            "heterogeneous per-band sample types not supported "
            f"(bits {bits_l}, formats {fmt_l})"
        )
    bits, fmt = bits_l[0], fmt_l[0]
    dtype = {
        (1, 8): "u1", (1, 16): "u2", (1, 32): "u4",
        (2, 16): "i2", (2, 32): "i4",
        (3, 32): "f4", (3, 64): "f8",
    }.get((fmt, bits))
    if dtype is None:
        raise NotImplementedError(f"sample format {fmt} bits {bits} not supported")
    if predictor == 2 and dtype[0] == "f":
        raise NotImplementedError(
            "predictor 2 (integer horizontal differencing) on float "
            "samples is malformed; float rasters use predictor 3, which "
            "needs a real GDAL"
        )
    itemsize = np.dtype(dtype).itemsize
    _check_decode_budget(
        width * length * spp, itemsize, f"{width}x{length}x{spp}"
    )

    def _chunk(o: int, c: int, rows: int, cols: int, chunk_spp: int) -> bytes:
        buf = _decompress(
            data[o : o + c], compression, rows * cols * chunk_spp * itemsize
        )
        if predictor == 2:
            buf = _undo_predictor(buf, rows, cols, chunk_spp, bo + dtype)
        return buf
    if _TAG_TILE_WIDTH in tags:
        # Tiled layout (the reference's own standardized profile is
        # TILED=YES 128×128, batch/processing/raster.py:7-8): tiles run
        # left-to-right, top-to-bottom, each padded to tw×tl; assemble on
        # the padded lattice and crop to the declared image size. Chunky
        # tiles interleave spp samples per cell; planar files store all
        # of band 0's tiles, then band 1's, … (TIFF 6.0 §15).
        tw = _int_tag(_TAG_TILE_WIDTH)
        tl = _int_tag(_TAG_TILE_LENGTH)
        if not (0 < tw <= 1 << 16 and 0 < tl <= 1 << 16):
            raise ValueError(f"malformed TIFF: implausible tile {tw}x{tl}")
        across = (width + tw - 1) // tw
        down = (length + tl - 1) // tl
        # the padded tile lattice (across*tw x down*tl) is what actually
        # allocates — with giant declared tiles it can far exceed the
        # declared image size, so budget-check the padded extent too
        _check_decode_budget(
            across * tw * down * tl * spp, itemsize,
            f"padded tile lattice {across * tw}x{down * tl}x{spp}",
        )
        offsets = _int_list(_TAG_TILE_OFFSETS, [])
        counts = _int_list(_TAG_TILE_COUNTS, [])
        # the tile lattice is assembled into np.empty: a SHORT offsets/
        # counts list would silently leave uninitialized heap memory as
        # pixel values (zip truncates), so the count must match exactly
        n_expected = across * down * (spp if planar == 2 and spp > 1 else 1)
        if len(offsets) != n_expected or len(counts) != n_expected:
            raise ValueError(
                f"malformed TIFF: {n_expected} tiles expected, "
                f"{len(offsets)} offsets / {len(counts)} counts present"
            )
        if planar == 2 and spp > 1:
            tiles_per_plane = across * down
            padded = np.empty((spp, down * tl, across * tw), dtype=bo + dtype)
            for idx, (o, c) in enumerate(zip(offsets, counts)):
                buf = _chunk(o, c, tl, tw, 1)
                tile = np.frombuffer(buf, dtype=bo + dtype, count=tw * tl).reshape(tl, tw)
                p, rem = divmod(idx, tiles_per_plane)
                ty, tx = divmod(rem, across)
                padded[p, ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = tile
            values = padded[:, :length, :width].astype("float64")
        else:
            padded = np.empty((down * tl, across * tw, spp), dtype=bo + dtype)
            for idx, (o, c) in enumerate(zip(offsets, counts)):
                buf = _chunk(o, c, tl, tw, spp)
                tile = np.frombuffer(
                    buf, dtype=bo + dtype, count=tw * tl * spp
                ).reshape(tl, tw, spp)
                ty, tx = divmod(idx, across)
                padded[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw, :] = tile
            values = (
                padded[:length, :width, :].transpose(2, 0, 1).astype("float64")
            )
    else:
        rows_per_strip = _int_tag(_TAG_ROWS_PER_STRIP, length)
        if rows_per_strip <= 0:
            raise ValueError("malformed TIFF: RowsPerStrip <= 0")
        offs = _int_list(_TAG_STRIP_OFFSETS, [])
        cnts = _int_list(_TAG_STRIP_COUNTS, [])
        strips_per_plane = (length + rows_per_strip - 1) // rows_per_strip
        # mirror the tiled path's count check: every declared strip is
        # decompressed and accumulated, so EXCESS entries (each worth up
        # to a full strip of output) would grow the join past the image
        # budget — a few-hundred-byte file declaring thousands of strips
        # pointing at one shared chunk otherwise accumulates unbounded
        n_strips = strips_per_plane * (spp if planar == 2 and spp > 1 else 1)
        if len(offs) != n_strips or len(cnts) != n_strips:
            raise ValueError(
                f"malformed TIFF: {n_strips} strips expected, "
                f"{len(offs)} offsets / {len(cnts)} counts present"
            )

        def _plane_rows(i: int) -> int:
            return min(rows_per_strip, length - (i % strips_per_plane) * rows_per_strip)

        if planar == 2 and spp > 1:
            planes = []
            for p in range(spp):
                raw = b"".join(
                    _chunk(o, c, _plane_rows(i), width, 1)
                    for i, (o, c) in enumerate(
                        zip(
                            offs[p * strips_per_plane : (p + 1) * strips_per_plane],
                            cnts[p * strips_per_plane : (p + 1) * strips_per_plane],
                        )
                    )
                )
                planes.append(
                    np.frombuffer(raw, dtype=bo + dtype, count=width * length)
                    .reshape(length, width)
                )
            values = np.stack(planes).astype("float64")
        else:
            raw = b"".join(
                _chunk(o, c, _plane_rows(i), width, spp)
                for i, (o, c) in enumerate(zip(offs, cnts))
            )
            values = (
                np.frombuffer(raw, dtype=bo + dtype, count=width * length * spp)
                .reshape(length, width, spp)
                .transpose(2, 0, 1)
                .astype("float64")
            )
    sx, sy = 1.0, 1.0
    ox, oy = 0.0, 0.0
    if _TAG_MODEL_PIXEL_SCALE in tags:
        sx, sy = tags[_TAG_MODEL_PIXEL_SCALE][0], tags[_TAG_MODEL_PIXEL_SCALE][1]
    if _TAG_MODEL_TIEPOINT in tags:
        tp = tags[_TAG_MODEL_TIEPOINT]
        ox, oy = tp[3] - tp[0] * sx, tp[4] + tp[1] * sy
    nodata = None
    if _TAG_GDAL_NODATA in tags:
        try:
            nodata = float(tags[_TAG_GDAL_NODATA][0])
        except (ValueError, TypeError):  # unparseable or raw-bytes value
            pass
    return values, (ox, oy, sx, sy), nodata


def decode_band_grids(data: bytes, band: int | None, label: str):
    """Decode one GeoTIFF → ([(band, values float64 [h, w]), ...],
    (origin_x, origin_y, sx, sy)) for the 1-based ``band``, or for every
    band when it is None, with the file's nodata cells as NaN. The one
    decode step of the pixel-row readers (:func:`pixel_decode_fn`, the
    registered ``geotiff`` source) and of :func:`standardize_geotiff`.
    ``label`` (the file's path) names the file in every error."""
    try:
        bands3, georef, nodata = decode_geotiff_bands(data)
    except (ValueError, NotImplementedError, struct.error) as ex:
        ex.add_note(f"while decoding {label}")
        raise
    nb = bands3.shape[0]
    if band is not None and not 1 <= band <= nb:
        raise ValueError(f"{label}: band {band} out of range 1..{nb}")
    grids = []
    for b in range(1, nb + 1) if band is None else (band,):
        vals = bands3[b - 1]
        if nodata is not None:
            vals = np.where(vals == nodata, np.nan, vals)
        grids.append((b, vals))
    return grids, georef


def decode_geotiff(data: bytes, band: int | None = None):
    """→ (values float64 [h, w], (origin_x, origin_y, sx, sy), nodata).

    Single-band convenience wrapper over :func:`decode_geotiff_bands`:
    with ``band=None`` (the historical signature) a single-band file
    decodes as before and a multi-band file raises with guidance; pass
    ``band`` (1-based, GDAL convention — ``gdal_translate -b``,
    reference batch/processing/raster.py:34) to select one band of a
    multi-band raster."""
    values, georef, nodata = decode_geotiff_bands(data)
    nb = values.shape[0]
    if band is None:
        if nb != 1:
            raise ValueError(
                f"multi-band GeoTIFF ({nb} bands): pass band=<1..{nb}> or "
                "use decode_geotiff_bands()"
            )
        return values[0], georef, nodata
    if not 1 <= band <= nb:
        raise ValueError(f"band {band} out of range 1..{nb}")
    return values[band - 1], georef, nodata


def encode_geotiff(
    values: np.ndarray,
    origin_x: float,
    origin_y: float,
    pixel_deg: float,
    nodata: float | None = None,
    pixel_deg_y: float | None = None,
    compress: str | None = None,
    tile: int | None = None,
    planar: bool = False,
    dtype: str = "f8",
    predictor: int = 1,
    bigtiff: bool = False,
) -> bytes:
    """K5 writer: little-endian, georef tags. ``values`` may be
    2-D ``[h, w]`` (single band) or 3-D ``[bands, h, w]`` (multi-band —
    written chunky/interleaved by default, PlanarConfiguration=1, or
    plane-separated with ``planar=True``; strip layout only for planar).
    origin is the raster's upper-left corner; rows run southward (the
    GeoTIFF convention). ``pixel_deg_y`` defaults to ``pixel_deg``
    (square pixels); pass it for non-square lattices. ``compress``: None
    (raw), ``'lzw'`` (tag 5), ``'deflate'`` (zlib, tag 8),
    ``'packbits'`` (tag 32773), or ``'zstd'`` (pyarrow codec, tag 50000
    — the reference's raster profile, batch/processing/raster.py:7).
    ``tile``: None → one strip per plane; an int (e.g. 128) → tiled
    layout matching the reference's BLOCKXSIZE/BLOCKYSIZE profile, edge
    tiles padded with ``nodata``. ``dtype`` (numpy code: u1/u2/u4/i2/i4/
    f4/f8, default f8) sets the sample type — ``gdal_translate -ot``
    parity; ``predictor=2`` adds horizontal differencing (integer
    dtypes only, the GDAL default companion to integer LZW output).
    ``bigtiff=True`` writes the BigTIFF (version 43, 8-byte offset)
    layout; it also engages AUTOMATICALLY when the payload approaches
    the classic 4 GiB offset ceiling, matching GDAL's auto-upgrade —
    without it a >4 GiB raster would silently wrap its offsets."""
    dtype_tags = {
        "u1": (8, 1), "u2": (16, 1), "u4": (32, 1),
        "i2": (16, 2), "i4": (32, 2),
        "f4": (32, 3), "f8": (64, 3),
    }
    if dtype not in dtype_tags:
        raise ValueError(
            f"unsupported dtype {dtype!r}; one of {sorted(dtype_tags)}"
        )
    bits, fmt = dtype_tags[dtype]
    if predictor not in (1, 2):
        raise ValueError(f"predictor must be 1 or 2, got {predictor}")
    if predictor == 2 and dtype[0] == "f":
        raise ValueError(
            "predictor 2 is integer horizontal differencing; float "
            "samples would not round-trip (TIFF assigns them predictor 3)"
        )
    sy = pixel_deg if pixel_deg_y is None else pixel_deg_y
    arr = np.ascontiguousarray(values, dtype="<" + dtype)
    if arr.ndim == 2:
        arr = arr[None, :, :]
    nb, h, w = arr.shape
    if planar and tile is not None:
        raise ValueError("planar=True supports strip layout only (tile=None)")
    pad_val = nodata if nodata is not None else 0.0

    def _chunk_bytes(a: np.ndarray) -> bytes:
        # a: (rows, cols, channels); horizontal differencing is modular
        # in the sample dtype (same-dtype subtraction wraps), the exact
        # inverse of decode's same-dtype cumsum
        a = np.ascontiguousarray(a)
        if predictor == 2:
            d = a.copy()
            d[:, 1:, :] = a[:, 1:, :] - a[:, :-1, :]
            a = d
        return a.tobytes()

    if tile is not None:
        across = (w + tile - 1) // tile
        down = (h + tile - 1) // tile
        # chunky tiles: interleave the bands per cell (RGBRGB…)
        inter = np.full(
            (down * tile, across * tile, nb), pad_val, dtype="<" + dtype
        )
        inter[:h, :w, :] = arr.transpose(1, 2, 0)
        chunks = [
            _chunk_bytes(
                inter[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile, :]
            )
            for ty in range(down)
            for tx in range(across)
        ]
    elif planar and nb > 1:
        chunks = [_chunk_bytes(arr[b][:, :, None]) for b in range(nb)]
    else:
        chunks = [_chunk_bytes(arr.transpose(1, 2, 0))]
    if compress == "deflate":
        chunks = [zlib.compress(c, 6) for c in chunks]
        comp_tag = _COMP_DEFLATE
    elif compress == "zstd":
        codec = _zstd_codec()
        chunks = [bytes(codec.compress(c)) for c in chunks]
        comp_tag = _COMP_ZSTD
    elif compress == "lzw":
        chunks = [_lzw_encode(c) for c in chunks]
        comp_tag = _COMP_LZW
    elif compress == "packbits":
        chunks = [_packbits_encode(c) for c in chunks]
        comp_tag = _COMP_PACKBITS
    elif compress is None:
        comp_tag = _COMP_NONE
    else:
        raise ValueError(
            f"unsupported compression {compress!r}; use None, 'lzw', "
            "'deflate', 'packbits', or 'zstd'"
        )
    off_tag = _TAG_TILE_OFFSETS if tile is not None else _TAG_STRIP_OFFSETS
    # Classic TIFF offsets are 32-bit: a file past 4 GiB needs BigTIFF
    # (version 43, 8-byte offsets) — GDAL auto-upgrades the same way.
    # The margin covers IFD + external blobs.
    if not bigtiff and (
        sum(map(len, chunks)) + 8 * len(chunks) + (1 << 16) > (1 << 32)
    ):
        # margin covers the classic 4-byte offsets + counts arrays
        # (8 bytes/chunk) plus IFD/geokeys: without it a many-chunk file
        # just under 4 GiB would pack an offset past 2^32 and crash
        bigtiff = True
    inline_cap = 8 if bigtiff else 4
    off_typ, off_fmt = (16, "Q") if bigtiff else (4, "I")
    off_sz = 8 if bigtiff else 4
    entries = []  # (tag, type, count, inline-or-None, payload-or-None)

    def entry(tag, typ, count, payload: bytes):
        if len(payload) <= inline_cap:
            entries.append(
                (tag, typ, count, payload.ljust(inline_cap, b"\0"), None)
            )
        else:
            entries.append((tag, typ, count, None, payload))

    n = len(chunks)
    entry(_TAG_WIDTH, 4, 1, struct.pack("<I", w))
    entry(_TAG_LENGTH, 4, 1, struct.pack("<I", h))
    entry(_TAG_BITS, 3, nb, struct.pack(f"<{nb}H", *([bits] * nb)))
    entry(_TAG_COMPRESSION, 3, 1, struct.pack("<H", comp_tag))
    entry(262, 3, 1, struct.pack("<H", 1))  # photometric: BlackIsZero
    entry(_TAG_SAMPLES_PER_PIXEL, 3, 1, struct.pack("<H", nb))
    entry(_TAG_PLANAR, 3, 1, struct.pack("<H", 2 if planar and nb > 1 else 1))
    if tile is not None:
        entry(_TAG_TILE_WIDTH, 4, 1, struct.pack("<I", tile))
        entry(_TAG_TILE_LENGTH, 4, 1, struct.pack("<I", tile))
        entry(_TAG_TILE_OFFSETS, off_typ, n, b"\0" * (off_sz * n))  # patched below
        entry(_TAG_TILE_COUNTS, off_typ, n,
              struct.pack(f"<{n}{off_fmt}", *map(len, chunks)))
    else:
        entry(_TAG_STRIP_OFFSETS, off_typ, n, b"\0" * (off_sz * n))  # patched below
        entry(_TAG_ROWS_PER_STRIP, 4, 1, struct.pack("<I", h))
        entry(_TAG_STRIP_COUNTS, off_typ, n,
              struct.pack(f"<{n}{off_fmt}", *map(len, chunks)))
    entry(_TAG_SAMPLE_FORMAT, 3, nb, struct.pack(f"<{nb}H", *([fmt] * nb)))
    if predictor == 2:
        entry(_TAG_PREDICTOR, 3, 1, struct.pack("<H", 2))
    entry(_TAG_MODEL_PIXEL_SCALE, 12, 3, struct.pack("<3d", pixel_deg, sy, 0.0))
    entry(
        _TAG_MODEL_TIEPOINT, 12, 6,
        struct.pack("<6d", 0.0, 0.0, 0.0, origin_x, origin_y, 0.0),
    )
    # GeoKeyDirectory: declare the CRS (GTModelType=Geographic,
    # RasterType=PixelIsArea, GeographicType=EPSG:4326) so external
    # tools (gdalinfo/QGIS) see a conformant GeoTIFF, not an unknown-CRS
    # image — the reference's standardized profile is EPSG-tagged
    entry(
        _TAG_GEO_KEY_DIRECTORY, 3, 16,
        struct.pack(
            "<16H", 1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326
        ),
    )
    if nodata is not None:
        nd = f"{nodata}".encode() + b"\0"
        entry(_TAG_GDAL_NODATA, 2, len(nd), nd)

    entries.sort(key=lambda e: e[0])
    if bigtiff:
        ifd_off = 16
        ifd_size = 8 + 20 * len(entries) + 8
        ent_fmt, ptr_fmt = "<HHQ", "<Q"
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off)
        count_blob = struct.pack("<Q", len(entries))
        next_ifd = struct.pack("<Q", 0)
    else:
        ifd_off = 8
        ifd_size = 2 + 12 * len(entries) + 4
        ent_fmt, ptr_fmt = "<HHI", "<I"
        header = struct.pack("<2sHI", b"II", 42, ifd_off)
        count_blob = struct.pack("<H", len(entries))
        next_ifd = struct.pack("<I", 0)
    ext_off = ifd_off + ifd_size
    ext_blobs: list[bytes] = []
    fixed = []
    offsets_blob_idx = None
    for tag, typ, count, inline, payload in entries:
        if inline is not None:
            fixed.append((tag, typ, count, inline))
        else:
            if tag == off_tag:
                offsets_blob_idx = len(ext_blobs)
            # ptr_fmt already packs exactly inline_cap bytes
            fixed.append((tag, typ, count, struct.pack(ptr_fmt, ext_off)))
            ext_blobs.append(payload)
            ext_off += len(payload)
    data_off = ext_off
    # chunk k starts at data_off + total size of chunks before it
    chunk_offs = []
    pos = data_off
    for c in chunks:
        chunk_offs.append(pos)
        pos += len(c)
    offs_payload = struct.pack(f"<{n}{off_fmt}", *chunk_offs)
    if offsets_blob_idx is not None:
        ext_blobs[offsets_blob_idx] = offs_payload
    out = [header, count_blob]
    for tag, typ, count, val in fixed:
        if tag == off_tag and count == 1:
            val = struct.pack(ptr_fmt, chunk_offs[0])
        out.append(struct.pack(ent_fmt, tag, typ, count) + val)
    out.append(next_ifd)
    out.extend(ext_blobs)
    out.extend(chunks)
    return b"".join(out)


def encode_pixel_group(
    pdf: "pd.DataFrame",
    nodata: float = -9999.0,
    compress: str | None = None,
    tile: int | None = None,
) -> bytes:
    """One raster's long-format pixel rows → encoded GeoTIFF bytes: the
    pandas face of :func:`encode_pixels`, used by the applyInPandas sink
    (:func:`export_geotiff`)."""
    if "band" in pdf.columns:
        require_single_band(pdf["band"].dropna().unique())
    return encode_pixels(
        pdf["lon"].to_numpy(),
        pdf["lat"].to_numpy(),
        pdf["val"].to_numpy(dtype="float64"),
        nodata=nodata,
        compress=compress,
        tile=tile,
    )


def require_single_band(bands) -> None:
    """Raise unless ``bands`` (one raster's distinct non-null band
    values) names at most one band: the encoders write single-band
    files."""
    if len(bands) > 1:
        raise ValueError(
            "pixel GeoTIFF encode writes single-band files; split by band "
            f"first (got bands {sorted(bands)})"
        )


def encode_pixels(
    lon: np.ndarray,
    lat: np.ndarray,
    vals: np.ndarray,
    nodata: float = -9999.0,
    compress: str | None = None,
    tile: int | None = None,
) -> bytes:
    """One raster's pixel-centre coordinates and float64 values →
    encoded GeoTIFF bytes. Shared by :func:`encode_pixel_group` and the
    registered write-path data source (geotiff_datasource).

    Places rows/cols by COORDINATE position, not by y/x index
    convention: ingest_geotiff's y grows southward while
    synthetic_raster's grows northward, so indexing by y would
    vertically flip one of them. TIFF row 0 = northernmost lat; col 0 =
    westernmost lon. Pixel size is the MINIMUM lattice spacing (span ÷
    distinct-count would mis-register every pixel after a dropped
    row/column), cells land at round((coord − origin) / size) so gaps
    become nodata runs, and the origin is the centre lattice's corner.
    NaN values (NULLs) encode as the nodata sentinel."""
    lon_u = np.sort(pd.unique(lon))
    lat_u = np.sort(pd.unique(lat))
    w, h, sx, sy, origin_x, origin_y = centre_lattice(lon_u, lat_u)
    grid = np.full((h, w), nodata, dtype="float64")
    xi = np.rint((lon - lon_u[0]) / sx).astype(np.int64)
    yi = np.rint((lat_u[-1] - lat) / sy).astype(np.int64)
    grid[yi, xi] = np.where(np.isnan(vals), nodata, vals)
    return encode_geotiff(
        grid, origin_x, origin_y, sx, nodata=nodata, pixel_deg_y=sy,
        compress=compress, tile=tile,
    )


def centre_lattice(lon_u: np.ndarray, lat_u: np.ndarray):
    """Ascending distinct pixel-centre axes → (w, h, sx, sy, origin_x,
    origin_y) of the lattice they sit on: the georef rule shared by
    :func:`encode_pixels` and :func:`standardize_geotiff`."""
    # two-step pitch inference: the minimum spacing finds the true cell
    # count even with dropped rows/columns, then span ÷ (count − 1)
    # averages out per-center float noise that a single min-diff carries
    sx0 = float(np.min(np.diff(lon_u))) if len(lon_u) > 1 else 1.0
    sy0 = float(np.min(np.diff(lat_u))) if len(lat_u) > 1 else 1.0
    w = int(round((lon_u[-1] - lon_u[0]) / sx0)) + 1 if len(lon_u) > 1 else 1
    h = int(round((lat_u[-1] - lat_u[0]) / sy0)) + 1 if len(lat_u) > 1 else 1
    sx = float(lon_u[-1] - lon_u[0]) / (w - 1) if w > 1 else 1.0
    sy = float(lat_u[-1] - lat_u[0]) / (h - 1) if h > 1 else 1.0
    return w, h, sx, sy, float(lon_u[0]) - sx / 2.0, float(lat_u[-1]) + sy / 2.0


def standardize_geotiff(
    data: bytes,
    band: int,
    lon: tuple[float, float],
    lat: tuple[float, float],
    label: str,
) -> bytes | None:
    """Entry-2 for one file, in array form: decode band ``band``, clip it
    to the extent and encode it as ZSTD, 128×128-tiled f8 with nodata
    -9999. None when no pixel centre falls inside the extent. ``label``
    (the file's path) names the file in every error; a zero pixel scale
    is refused as malformed.

    The clip is a row/column slice: a column is kept when its centre lon
    ``ox + (x + 0.5) * sx`` lies in ``lon`` and a row when its centre lat
    ``oy - (y + 0.5) * sy`` lies in ``lat``, both bounds inclusive (the
    centres and the ``between`` test of the pixel-row path,
    :func:`sources.raster.clip_extent`). The bytes equal
    :func:`encode_pixels` over that path's clipped rows: the kept centre
    axes go through the same :func:`centre_lattice`, and the slice is
    already the grid it would scatter into."""
    nodata, compress, tile = -9999.0, "zstd", 128
    [(_, grid)], (ox, oy, sx, sy) = decode_band_grids(data, band, label)
    if sx == 0 or sy == 0:
        raise ValueError(f"{label}: malformed TIFF: zero ModelPixelScale")
    h, w = grid.shape
    lon_c = ox + (np.arange(w) + 0.5) * sx
    lat_c = oy - (np.arange(h) + 0.5) * sy
    xs = np.flatnonzero((lon_c >= lon[0]) & (lon_c <= lon[1]))
    ys = np.flatnonzero((lat_c >= lat[0]) & (lat_c <= lat[1]))
    if not len(xs) or not len(ys):
        return None
    # columns run west → east and rows north → south, whatever the signs
    # of the file's pixel scale
    if sx < 0:
        xs = xs[::-1]
    if sy < 0:
        ys = ys[::-1]
    cells = grid[np.ix_(ys, xs)]
    _, _, psx, psy, west, north = centre_lattice(lon_c[xs], lat_c[ys][::-1])
    return encode_geotiff(
        np.where(np.isnan(cells), nodata, cells), west, north, psx,
        nodata=nodata, pixel_deg_y=psy, compress=compress, tile=tile,
    )


def export_geotiff(
    pixels: DataFrame,
    nodata: float = -9999.0,
    compress: str | None = None,
    tile: int | None = None,
) -> DataFrame:
    """K5 sink: pixel DataFrame → one encoded GeoTIFF per raster_id.
    Pass ``compress='zstd', tile=128`` for the reference's standardized
    output profile (batch/processing/raster.py:7-8).

    applyInPandas groups by raster (one file per raster is inherent to
    the output format, so the group = the file); each group pivots its
    long-format rows back to the 2-D grid, infers the georef from the
    coordinate lattice, and emits (raster_id, tiff binary). NULL values
    encode as the nodata sentinel. Round-trips through decode_geotiff
    (tested). The caller writes the payloads wherever its storage lives.
    """

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        rid = pdf["raster_id"].iloc[0]
        data = encode_pixel_group(pdf, nodata=nodata, compress=compress, tile=tile)
        return pd.DataFrame([{"raster_id": rid, "tiff": data}])

    return pixels.groupBy("raster_id").applyInPandas(
        encode, "raster_id string, tiff binary"
    )


def pixel_decode_fn(band: int | None = None):
    """The executor-side (path, content) → PIXELS decode generator,
    shared by the batch ingest (:func:`ingest_geotiff`) and the
    Structured Streaming wrapper (streaming.jobs.streaming_raster_
    ingest) so the two paths cannot drift semantically."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                grids, (ox, oy, sx, sy) = decode_band_grids(
                    bytes(content), band, fpath
                )
                h, w = grids[0][1].shape
                yy, xx = np.mgrid[0:h, 0:w]
                stem = fpath.rsplit("/", 1)[-1].rsplit(".", 1)[0]
                for b, grid in grids:
                    yield pd.DataFrame(
                        {
                            "raster_id": stem,
                            "band": np.int32(b),
                            "y": yy.ravel().astype("int32"),
                            "x": xx.ravel().astype("int32"),
                            "lon": ox + (xx.ravel() + 0.5) * sx,
                            "lat": oy - (yy.ravel() + 0.5) * sy,
                            "val": grid.ravel(),
                        }
                    )

    return decode


def ingest_geotiff(
    spark: SparkSession,
    path_glob: str,
    band: int | None = None,
) -> DataFrame:
    """Distributed GeoTIFF → PIXELS: binaryFile scan (one row per file,
    content never driver-collected) → mapInPandas decode → long-format
    pixel rows with centre coordinates. raster_id is the file stem —
    the reference's blob-name id convention (data.py:12).

    ``band=None`` emits every band of a multi-band file (1-based band
    column); ``band=k`` selects one band at decode time — the P4 band
    selection of the reference's ``gdal_translate -b {band}``
    (batch/processing/raster.py:34), applied before any rows material-
    ize. Single-band files emit band=1 either way."""

    files = spark.read.format("binaryFile").load(path_glob)
    return files.select("path", "content").mapInPandas(
        pixel_decode_fn(band), PIXELS
    )
