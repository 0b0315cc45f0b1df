"""Multimodal column operators (EXT E4 — SURVEY.md §2b).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct (schemas.ASSETS). The Spark-side plumbing — schema,
partition-friendly batching, Arrow transfer, UDF signatures — is real
and tested, and as of r10 so is the codec: payloads whose magic bytes
identify a real format are decoded by the pure-stdlib codecs in
functions/imagecodec.py —

* PNG: full decode (zlib + all five scanline unfilters, CRC-checked) →
  true width/height/channels and pixel access (resize/frame-slice work
  on real pixels);
* JPEG: full baseline-sequential decode (Huffman + dequant + batched
  IDCT + YCbCr→RGB, 4:4:4/4:2:0, restart markers) in decode_images /
  resize_images; extract_features keeps the SOF-scan header fast path;
* GIF / BMP: full pixel decodes (LZW + compositing / BI_RGB + palette);
  extract_features uses the gif_frame_meta / bmp_dims header fast paths;
* WAV: RIFF walk → channels/sample-rate/sample-frames/duration.

Payloads with no recognizable magic (e.g. the documents fixture's text
bytes) take the DOCUMENTED deterministic-fallback path — arithmetic
pseudo-features of the byte length — so plumbing-level oracles stay
exactly reproducible in SQL. A recognized magic that then fails to
parse raises (corrupt media should be loud, same contract as the
GeoTIFF codec).

Generalizes the reference's binary ingestion pattern (GeoTIFF bytes →
pixels via ``binaryFile`` + mapInArrow, SURVEY.md §2a S5); here the
payloads are arbitrary media instead of rasters.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sids_data_pipeline_spark.functions import imagecodec as icodec
from sids_data_pipeline_spark.operators.spread import spread_small_scan

MODALITIES = ("image", "audio", "video", "text")

FEATURES_SCHEMA = (
    "asset_id long, modality string, n_bytes int, width int, height int, "
    "n_frames int, checksum string"
)

DECODE_SCHEMA = (
    "asset_id long, format string, width int, height int, channels int, "
    "pixel_sum long"
)


def documents_to_assets(docs: DataFrame) -> DataFrame:
    """Build an ASSETS-shaped table from the documents fixture: the text
    payload becomes bytes, modality cycles deterministically by id.

    Stands in for `spark.read.format("binaryFile")` over a media lake —
    same schema, same downstream operators.
    """
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % len(MODALITIES) + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    # under-parallel scans spread here so the downstream decode /
    # feature mapInPandas batches use every core (guide §2.5; no-op at
    # scale — see operators/spread.py)
    return spread_small_scan(docs).select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-"), modality).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def synth_png_assets(docs: DataFrame, modulus: int = 7) -> DataFrame:
    """Deterministic PNG asset fixture: every ``modulus``-th document
    becomes a real PNG whose dims/channels/pixels are closed-form
    functions of doc_id (imagecodec.synth_image), encoded executor-side
    with the filter cycle (all five scanline filters exercised).

    width = doc_id % 29 + 4, height = doc_id % 13 + 3,
    channels = (doc_id % 4) + 1, sample(x,y,c) = (7·doc_id + 3x + 5y
    + 11c) mod 256 — the DuckDB oracle recomputes all of it in SQL, so
    a full encode→decode round trip through real zlib + unfiltering is
    value-verified (plans/ext_queries.py `multimodal_decode_png`).
    """

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = icodec.synth_image(
                    did, did % 29 + 4, did % 13 + 3, did % 4 + 1
                )
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "image",
                        "payload": icodec.png_encode(arr),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def synth_png_indexed_assets(docs: DataFrame, modulus: int = 7) -> DataFrame:
    """Deterministic ADAM7-INTERLACED PALETTE PNG fixture: every
    ``modulus``-th document becomes a color-type-3 PNG at depth
    4/8 cycling by doc_id, Adam7-interlaced, with closed-form indices
    and palette so the DuckDB oracle can recompute the decoded RGB
    pixel sum exactly:

    width = doc_id % 21 + 2, height = doc_id % 9 + 2,
    depth = 4 if doc_id % 2 == 0 else 8, n_colors = 1 << depth,
    idx(x, y) = (doc_id + 2x + 3y) mod n_colors,
    palette[i] = ((3i + 1) mod 256, (5i + 2) mod 256, (7i + 3) mod 256)
    (plans/ext_queries.py `multimodal_decode_png_palette`)."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 21 + 2, did % 9 + 2
                depth = 4 if did % 2 == 0 else 8
                n = 1 << depth
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                idx = ((did + 2 * x + 3 * y) % n).astype(np.uint8)
                i = np.arange(n)
                pal = np.stack(
                    [(3 * i + 1) % 256, (5 * i + 2) % 256, (7 * i + 3) % 256],
                    axis=1,
                ).astype(np.uint8)
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "image",
                        "payload": icodec.png_encode_indexed(
                            idx, pal, depth=depth, interlace=True
                        ),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def synth_wav_assets(
    docs: DataFrame,
    modulus: int = 7,
    float_every: int | None = None,
    pcm8_odd: bool = False,
) -> DataFrame:
    """Deterministic WAV asset fixture: every ``modulus``-th document
    becomes a real PCM16 WAV whose shape and samples are closed-form
    functions of doc_id — n_samples = doc_id % 50 + 10, channels =
    doc_id % 2 + 1, rate 8000, sample(i, c) = (31·doc_id + 7i + 13c)
    mod 65536 − 32768 — so the DuckDB oracle can verify the decoded
    sample SUM, not just the header (plans/ext_queries.py
    `multimodal_decode_wav`).

    With ``float_every=m``, every m-th selected doc becomes an
    IEEE-float32 WAV instead (rate 16000): sample(i, c) = k(i, c)/2²⁰
    with k = (31·doc_id + 7i + 13c) mod 2097153 − 2²⁰, so k spans the
    full [−2²⁰, 2²⁰] range including both rails and every sample is
    EXACTLY representable in float32 (|k| ≤ 2²⁰ < 2²⁴ mantissa bits) —
    the Q20 quantization in :func:`audio_features` recovers k exactly,
    keeping the oracle integer-only.

    With ``pcm8_odd=True``, odd selected docs (that the float rule did
    not claim) become unsigned PCM8 WAVs (rate 11025): sample(i, c) =
    (31·doc_id + 7i + 13c) mod 256 raw, offset-128 semantics — and
    every did % 4 == 1 of those additionally wraps in a
    WAVE_FORMAT_EXTENSIBLE container, which decodes to identical
    samples (the oracle is wrapper-blind by construction while the
    decoder's GUID path gets driver coverage)."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n, ch = did % 50 + 10, did % 2 + 1
                i = np.arange(n)[:, None]
                c = np.arange(ch)[None, :]
                base = did * 31 + 7 * i + 13 * c
                if float_every and did % (modulus * float_every) == 0:
                    k = base % 2097153 - (1 << 20)
                    samples = (k / float(1 << 20)).astype(np.float32)
                    payload = icodec.wav_encode(samples, sample_rate=16_000)
                elif pcm8_odd and did % 2 == 1:
                    samples = (base % 256).astype(np.uint8)
                    payload = icodec.wav_encode(
                        samples,
                        sample_rate=11_025,
                        extensible=did % 4 == 1,
                    )
                else:
                    samples = (base % 65536 - 32768).astype(np.int16)
                    payload = icodec.wav_encode(samples, sample_rate=8000)
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "audio",
                        "payload": payload,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def synth_jpeg_assets(
    docs: DataFrame,
    modulus: int = 7,
    progressive: bool = False,
    exif: bool = False,
    multiscan: bool = False,
) -> DataFrame:
    """Deterministic JPEG asset fixture: every ``modulus``-th document
    becomes a real JPEG — baseline sequential (SOF0) by default, or
    progressive (SOF2, the full spectral-selection + successive-
    approximation scan ladder) with ``progressive=True`` — Huffman-coded
    through the full FDCT path and round-tripping EXACTLY:
    8×8-block-constant grayscale with all-ones quantization tables means
    every block is DC-only with zero quantization error, so the
    decoder's scan walk, DC prediction, dequant and IDCT reconstruct the
    exact pixels. (For progressive, the AC scans of this fixture are
    pure EOB runs; the AC first/refinement paths are pinned by the
    decode(progressive(x)) == decode(baseline(x)) bit-equality tests in
    tests/test_imagecodec.py, which hold for arbitrary content.)

    wb = doc_id % 4 + 1 blocks wide, hb = doc_id % 3 + 1 blocks high
    (image dims 8·wb × 8·hb), block value v(bx, by) = (7·doc_id + 29·bx
    + 31·by) mod 256 — the DuckDB oracle recomputes dims and the pixel
    sum (64·Σv) in SQL (plans/ext_queries.py `multimodal_decode_jpeg`).
    Even doc_ids encode with restart_interval=2 so RST-marker resync and
    DC-predictor (plus, progressive, EOB-run) resets are exercised
    in-gate; the decoded pixels are identical either way, so the oracle
    is unchanged. ``multiscan=True`` promotes the gray fixture to
    gray-as-RGB (R=G=B) and encodes it as THREE non-interleaved
    sequential scans (SOF0 multi-scan, scan_split) — still EXACT: the
    YCbCr transform of an R=G=B constant block lands within ~1e-13 of
    (v, 128, 128) and the all-ones DC quantization rounds the epsilon
    away, so pixel_sum is exactly 3× the gray closed form (4:2:0 on
    even ids keeps subsampled chroma in the multi-scan gate too).
    ``exif=True`` splices an EXIF APP1 segment after SOI
    (orientation = doc_id % 8 + 1, byte order II for odd ids / MM for
    even) — pixel decode must skip it unchanged, and the jpeg_exif walk
    must recover the orientation.
    """
    import numpy as np

    ones = np.ones(64, dtype=np.int64)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                wb, hb = did % 4 + 1, did % 3 + 1
                bx = np.arange(wb)[None, :]
                by = np.arange(hb)[:, None]
                blocks = ((did * 7 + 29 * bx + 31 * by) % 256).astype(np.uint8)
                img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                if multiscan:
                    img = np.repeat(img[:, :, None], 3, axis=2)
                payload = icodec.jpeg_encode(
                    img,
                    quant_tables=(ones, ones),
                    restart_interval=2 if did % 2 == 0 else 0,
                    progressive=progressive,
                    scan_split=multiscan,
                    subsampling="4:2:0" if multiscan and did % 2 == 0
                    else "4:4:4",
                )
                if exif:
                    app1 = icodec.exif_app1(
                        did % 8 + 1, "II" if did % 2 else "MM"
                    )
                    payload = payload[:2] + app1 + payload[2:]
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "image",
                        "payload": payload,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def synth_bmp_rle_assets(docs: DataFrame, modulus: int = 7) -> DataFrame:
    """Deterministic RLE8 BMP fixture: every ``modulus``-th document
    becomes a BI_RLE8-compressed 8-bit BMP (identity-grayscale palette,
    so decode returns the index plane as 1-channel gray). idx(x, y) =
    (doc_id + x//3 + 5y) mod 256 over w = doc_id%21+2 × h = doc_id%9+2
    — the x//3 plateau makes every row a mix of 3-pixel runs (the RLE
    coder's bread and butter) while the +5y row offset defeats a
    decoder that duplicated one row. The DuckDB oracle recomputes dims
    and the pixel sum in closed form (plans/ext_queries.py
    `multimodal_decode_bmp_rle`)."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 21 + 2, did % 9 + 2
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                idx = ((did + x // 3 + 5 * y) % 256).astype(np.uint8)
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "image",
                        "payload": icodec.bmp_encode_rle8(idx),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def synth_tiff_assets(docs: DataFrame, modulus: int = 7) -> DataFrame:
    """Deterministic plain-TIFF fixture through the GeoTIFF writer
    (camera/scan TIFFs share the container; the geo tags along for the
    ride are ignored by image consumers): every ``modulus``-th document
    becomes a uint8 chunky TIFF with bands = doc_id%3+1,
    w = doc_id%13+2, h = doc_id%7+2, sample v(b, x, y) =
    (5·doc_id + 11b + 3x + 7y) mod 256, and the compression cycling
    raw/deflate/PackBits/LZW by doc_id%4 — all four decompressors
    in-gate. The DuckDB oracle recomputes dims and Σv in closed form
    (plans/ext_queries.py `multimodal_decode_tiff`)."""
    import numpy as np

    from sids_data_pipeline_spark.sources import geotiff

    comps = (None, "deflate", "packbits", "lzw")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nb, w, h = did % 3 + 1, did % 13 + 2, did % 7 + 2
                b = np.arange(nb)[:, None, None]
                y = np.arange(h)[None, :, None]
                x = np.arange(w)[None, None, :]
                vals = ((did * 5 + 11 * b + 3 * x + 7 * y) % 256).astype(
                    np.float64
                )
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "image",
                        "payload": geotiff.encode_geotiff(
                            vals, 0.0, 0.0, 1.0, dtype="u1",
                            compress=comps[did % 4],
                        ),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def decode_audio(assets: DataFrame) -> DataFrame:
    """Full audio decode: WAV payload → (sample_rate, channels,
    n_samples, duration_ms, sample_sum) where sample_sum is the sum of
    every decoded integer sample in SIGNED terms — unsigned PCM8
    removes its offset-128 bias first, so digital silence sums to 0 at
    every PCM width (the invariant a silence/DC gate keys on) — the
    content-level proof the byte layout (interleaving, padding,
    endianness) was reconstructed, not just the header. Non-WAV
    payloads refuse loudly."""
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(p)
                if icodec.sniff(data) != "wav":
                    raise ValueError(
                        f"decode_audio: asset {aid}: payload is not a RIFF/WAVE"
                    )
                arr, info = icodec.wav_decode(data)
                if arr.dtype.kind == "f":
                    raise ValueError(
                        f"decode_audio: asset {aid}: float WAV payloads "
                        "have no exact integer sample_sum — use the "
                        "codec (imagecodec.wav_decode) directly"
                    )
                s = arr.astype("int64")
                if arr.dtype == np.uint8:
                    s -= 128  # unsigned PCM8 carries an offset-128 bias
                rows.append(
                    {
                        "asset_id": int(aid),
                        "sample_rate": info["sample_rate"],
                        "channels": info["channels"],
                        "n_samples": info["n_samples"],
                        "duration_ms": info["duration_ms"],
                        "sample_sum": int(s.sum()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "sample_rate", "channels", "n_samples",
                    "duration_ms", "sample_sum",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        decode,
        "asset_id long, sample_rate int, channels int, n_samples long, "
        "duration_ms long, sample_sum long",
    )


def audio_features(assets: DataFrame) -> DataFrame:
    """Audio quality features over decoded WAV samples — the filters an
    audio data lake gates ingestion on (silence, clipping, energy), the
    audio analog of the E5 text-quality scorers. Everything is an exact
    INTEGER over the decoded samples, so a SQL oracle hash-matches:

    - ``sum_sq``: Σ sample² (RMS = sqrt(sum_sq / (n·ch)) downstream —
      kept as the integer so the gate is division-free),
    - ``peak_abs``: max |sample| (headroom / silence),
    - ``zero_crossings``: per-channel count of strict sign flips
      (product < 0) between consecutive frames, summed over channels —
      a spectral-content proxy,
    - ``clipped_count``: samples at the rails — ±(2^(b−1)−1)/−2^(b−1)
      for b-bit integer PCM, at-or-beyond full scale (|sample| ≥ 1.0)
      for float.

    IEEE-float32 payloads quantize to Q20 fixed point first
    (round(sample·2²⁰) — the engine's standard float-determinism trick,
    cf. BM25/PageRank micros), so float features are exact integers on
    the 2²⁰-per-full-scale grid. Non-finite samples (NaN/Inf) refuse
    loudly by name; so do non-WAV payloads, same posture as
    decode_audio."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(p)
                if icodec.sniff(data) != "wav":
                    raise ValueError(
                        f"audio_features: asset {aid}: payload is not a RIFF/WAVE"
                    )
                arr, info = icodec.wav_decode(data)  # (n, ch) i16/i32/f32
                if arr.dtype.kind == "f":
                    if not np.isfinite(arr).all():
                        raise ValueError(
                            f"audio_features: asset {aid}: float WAV "
                            "contains NaN/Inf samples"
                        )
                    s = np.round(
                        arr.astype(np.float64) * (1 << 20)
                    ).astype(np.int64)
                    clipped = int((np.abs(s) >= 1 << 20).sum())
                else:
                    s = arr.astype(np.int64)
                    if arr.dtype == np.uint8:
                        # unsigned PCM8 carries the offset-128
                        # convention — remove it so the signed rail and
                        # zero-crossing formulas below apply unchanged
                        s -= 128
                    # integer clip rails scale with the sample width:
                    # ±(2^(b−1)−1) and −2^(b−1) for b-bit PCM (8/16/24)
                    hi = (1 << (info["bits_per_sample"] - 1)) - 1
                    clipped = int(((s == hi) | (s == -hi - 1)).sum())
                flips = int((s[1:] * s[:-1] < 0).sum()) if s.shape[0] > 1 else 0
                rows.append(
                    {
                        "asset_id": int(aid),
                        "sample_rate": info["sample_rate"],
                        "channels": info["channels"],
                        "n_samples": info["n_samples"],
                        "sum_sq": int((s * s).sum()),
                        "peak_abs": int(np.abs(s).max(initial=0)),
                        "zero_crossings": flips,
                        "clipped_count": clipped,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "sample_rate", "channels", "n_samples",
                    "sum_sq", "peak_abs", "zero_crossings", "clipped_count",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        feats,
        "asset_id long, sample_rate int, channels int, n_samples long, "
        "sum_sq long, peak_abs long, zero_crossings long, clipped_count long",
    )


def exif_orientation(assets: DataFrame) -> DataFrame:
    """EXIF orientation over JPEG payloads (imagecodec.jpeg_exif: APP1
    TIFF IFD0 walk, both byte orders) + the SOF pixel dims from the
    same marker walk — the pre-training normalization pass a scraped
    image corpus runs before any resize (orientations 5–8 transpose
    the stored dims). EXIF-less JPEGs report orientation 0 with
    has_exif false rather than refusing: absence is the common case,
    not an error. Non-JPEG payloads refuse loudly."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(p)
                if icodec.sniff(data) != "jpeg":
                    raise ValueError(
                        f"exif_orientation: asset {aid}: payload is not "
                        "a JPEG"
                    )
                info = icodec.jpeg_exif(data)  # one walk: EXIF + SOF dims
                rows.append(
                    {
                        "asset_id": int(aid),
                        "has_exif": info["byte_order"] is not None,
                        "orientation": int(info["orientation"] or 0),
                        "byte_order": info["byte_order"] or "",
                        "width": info["width"],
                        "height": info["height"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "has_exif", "orientation", "byte_order",
                    "width", "height",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        walk,
        "asset_id long, has_exif boolean, orientation int, "
        "byte_order string, width int, height int",
    )


def normalize_orientation(assets: DataFrame) -> DataFrame:
    """Decode JPEG payloads, read the EXIF orientation (1 when absent)
    and transform the pixels upright (imagecodec.apply_exif_orientation
    — mirror/rotate/transpose per TIFF 6.0; 5–8 swap the dims): the
    pre-training normalization pass itself, not just the tag read.
    Returns the UPRIGHT dims plus a position-weighted checksum
    Σ sample·(1 + 3x + 7y) over the transformed image (summed across
    channels) — a plain pixel sum is invariant under every flip and
    rotation, so only the weighted form can prove WHICH transform ran.
    Non-JPEG payloads refuse loudly."""
    import numpy as np

    def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(p)
                if icodec.sniff(data) != "jpeg":
                    raise ValueError(
                        f"normalize_orientation: asset {aid}: payload is "
                        "not a JPEG"
                    )
                arr, _meta = icodec.jpeg_decode(data)
                o = icodec.jpeg_exif(data)["orientation"]
                # absent tag defaults upright; a PRESENT tag outside
                # 1..8 (e.g. the common in-the-wild 0) refuses inside
                # apply_exif_orientation rather than silently passing
                o = 1 if o is None else o
                up = icodec.apply_exif_orientation(arr, o)
                h, w = up.shape[:2]
                weight = 1 + 3 * np.arange(w)[None, :] + 7 * np.arange(h)[:, None]
                wsum = int((up.astype(np.int64).sum(axis=2) * weight).sum())
                rows.append(
                    {
                        "asset_id": int(aid),
                        "orientation": o,
                        "width": w,
                        "height": h,
                        "weighted_sum": wsum,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "orientation", "width", "height",
                    "weighted_sum",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        norm,
        "asset_id long, orientation int, width int, height int, "
        "weighted_sum long",
    )


def _decode_payload(payload: bytes, modality: str) -> dict:
    """Decode one payload into the FEATURES envelope.

    Recognized magics decode for real (see module docstring); anything
    unrecognized yields the documented deterministic fallback so the
    operator keeps total coverage over arbitrary byte columns. The
    (width, height, n_frames) envelope maps per modality: images use
    pixel dims with n_frames=1; WAV audio uses (sample_rate, channels,
    sample frames) — audio "frames" being literally sample frames.
    """
    fmt = icodec.sniff(payload)
    n = len(payload)
    if fmt == "png":
        _arr, meta = icodec.png_decode(bytes(payload))
        return {
            "n_bytes": n,
            "width": meta["width"],
            "height": meta["height"],
            "n_frames": 1,
        }
    if fmt == "jpeg":
        w, h, _ncomp = icodec.jpeg_dims(bytes(payload))
        return {"n_bytes": n, "width": w, "height": h, "n_frames": 1}
    if fmt == "gif":
        # block-walk fast path: true frame count (animated GIFs)
        # without LZW pixel decode — decode_video does the pixels
        meta = icodec.gif_frame_meta(bytes(payload))
        return {
            "n_bytes": n,
            "width": meta["width"],
            "height": meta["height"],
            "n_frames": meta["n_frames"],
        }
    if fmt == "bmp":
        w, h = icodec.bmp_dims(bytes(payload))
        return {"n_bytes": n, "width": w, "height": h, "n_frames": 1}
    if fmt == "wav":
        info = icodec.wav_info(bytes(payload))
        return {
            "n_bytes": n,
            "width": info["sample_rate"],
            "height": info["channels"],
            "n_frames": min(info["n_samples"], 2**31 - 1),
        }
    if fmt == "tiff":
        from sids_data_pipeline_spark.sources import geotiff

        try:
            bands, _transform, _nodata = geotiff.decode_geotiff_bands(
                bytes(payload)
            )
        except (ValueError, NotImplementedError, struct.error):
            # a 4-byte magic match is not a decodable file: scraped
            # corpora carry JPEG-compressed / truncated TIFFs the codec
            # refuses by name — the SURVEY contract for this operator is
            # total coverage, so they take the unrecognized-bytes
            # fallback below instead of poison-pilling the Arrow batch
            # (decode_images keeps the loud refusal; this path profiles).
            # NARROW on purpose (ADVICE r14): these are the types the
            # codec raises for undecodable input; anything else is a
            # programming error and must surface, not become
            # pseudo-features
            pass
        else:
            _c, h, w = bands.shape
            return {"n_bytes": n, "width": w, "height": h, "n_frames": 1}
    # documented fallback: unrecognized bytes -> deterministic
    # length-derived pseudo-features (keeps plumbing oracles SQL-exact)
    return {
        "n_bytes": n,
        "width": n % 640,
        "height": (n * 7) % 480,
        "n_frames": n % 24 + 1,
    }


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode/feature-extract over binary payloads via mapInPandas.

    One Arrow batch in → one feature batch out; executors never hold more
    than a batch of payloads in memory, so the operator scales to
    arbitrarily large media tables (partition count bounds parallelism,
    `spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch footprint).
    """
    import hashlib

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_payload(bytes(p), m)
                for p, m in zip(pdf["payload"], pdf["modality"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "asset_id", pdf["asset_id"].to_numpy())
            out.insert(1, "modality", pdf["modality"].to_numpy())
            out["checksum"] = [
                hashlib.md5(bytes(p)).hexdigest() for p in pdf["payload"]
            ]
            yield out

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        decode, FEATURES_SCHEMA
    )


def decode_images(assets: DataFrame) -> DataFrame:
    """Full image decode: payload → (format, width, height, channels,
    pixel_sum) where pixel_sum is the sum of every decoded sample — the
    value-level proof that unfiltering reconstructed the exact pixels
    (a header parse can fake dims; it cannot fake the sum).

    PNG, JPEG (baseline sequential and progressive SOF2), BMP
    (uncompressed + RLE8) and integer-sampled TIFF (via the GeoTIFF
    codec — camera/scan TIFFs share the container) payloads decode
    fully; other recognized image formats would need their own pixel
    decoders and are refused loudly (ValueError naming the format)
    rather than silently header-parsed — this operator's contract is
    PIXELS. Unrecognized payloads are refused too: route those through
    :func:`extract_features`.
    """
    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(p)
                fmt = icodec.sniff(data)
                if fmt == "png":
                    arr, meta = icodec.png_decode(data)
                elif fmt == "bmp":
                    arr, meta = icodec.bmp_decode(data)
                elif fmt == "jpeg":
                    arr, meta = icodec.jpeg_decode(data)
                elif fmt == "tiff":
                    # camera/scan TIFFs share the GeoTIFF container: the
                    # pure-numpy codec (strips+tiles, raw/deflate/LZW/
                    # PackBits/ZSTD, chunky+planar) decodes them whether
                    # or not geo tags are present
                    from sids_data_pipeline_spark.sources import geotiff

                    bands, _tr, _nd = geotiff.decode_geotiff_bands(data)
                    if not np.equal(np.floor(bands), bands).all():
                        raise ValueError(
                            f"decode_images: asset {aid}: float-sampled "
                            "TIFF has no exact integer pixel_sum — use "
                            "sources.geotiff.decode_geotiff_bands directly"
                        )
                    arr = np.moveaxis(bands, 0, 2)
                    meta = {
                        "width": arr.shape[1],
                        "height": arr.shape[0],
                        "channels": arr.shape[2],
                    }
                else:
                    raise ValueError(
                        f"decode_images: asset {aid}: pixel decode only "
                        f"implemented for png/jpeg/bmp/tiff, got {fmt!r} — "
                        "use extract_features for header-level metadata"
                    )
                rows.append(
                    {
                        "asset_id": int(aid),
                        "format": fmt,
                        "width": meta["width"],
                        "height": meta["height"],
                        "channels": meta["channels"],
                        "pixel_sum": int(arr.astype("int64").sum()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "format", "width", "height", "channels",
                    "pixel_sum",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        decode, DECODE_SCHEMA
    )


def synth_gif_assets(docs: DataFrame, modulus: int = 7) -> DataFrame:
    """Deterministic animated-GIF fixture: every ``modulus``-th document
    becomes a real multi-frame GIF (LZW-encoded, identity-grayscale
    palette) whose shape and indices are closed-form functions of
    doc_id — width = doc_id % 21 + 4, height = doc_id % 11 + 3,
    n_frames = doc_id % 5 + 2, index(f, x, y) = (13·doc_id + 17f + 3x
    + 5y) mod 256. Frames are full-size and opaque (disposal none), so
    each composited frame equals its own content and the DuckDB oracle
    can verify per-frame RGB sums (3× the index sum)."""
    import numpy as np

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, n = did % 21 + 4, did % 11 + 3, did % 5 + 2
                f = np.arange(n)[:, None, None]
                y = np.arange(h)[None, :, None]
                x = np.arange(w)[None, None, :]
                idx = ((did * 13 + 17 * f + 3 * x + 5 * y) % 256).astype(np.uint8)
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "video",
                        "payload": icodec.gif_encode(idx),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def synth_gif_disposal_assets(docs: DataFrame, modulus: int = 7) -> DataFrame:
    """Animated-GIF fixture exercising ALL disposal methods (GIF89a §23)
    with closed-form composited frames. Canvas w = doc_id % 21 + 4,
    h = doc_id % 11 + 3 (≥4×3); background index 0 (black under the
    identity-grayscale palette); frame-local value v_k(x, y) =
    (13·doc_id + 17k + 3x + 5y) mod 256. Four frames:

    * f0 — full canvas, disposal 1 (keep)
    * f1 — inner rect (1, 1, w−2, h−2), disposal 2 → the rect is
      CLEARED TO BACKGROUND before f2 (the border ring keeps f0)
    * f2 — corner rect (0, 0, 2, 2), disposal 3 → the canvas REVERTS
      to its pre-f2 state before f3
    * f3 — top row (0, 0, w, 1), disposal 0

    Every composited frame is therefore an exact CASE expression over
    (x, y) that the DuckDB oracle mirrors (multimodal_gif_disposal):
    a keep-only compositor gets f2/f3 wrong, a clear-everything
    compositor gets the ring wrong."""
    import numpy as np

    def v(did: int, k: int, fh: int, fw: int) -> np.ndarray:
        y = np.arange(fh)[:, None]
        x = np.arange(fw)[None, :]
        return ((did * 13 + 17 * k + 3 * x + 5 * y) % 256).astype(np.uint8)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 21 + 4, did % 11 + 3
                specs = [
                    {"idx": v(did, 0, h, w), "disposal": 1},
                    {"idx": v(did, 1, h - 2, w - 2), "left": 1, "top": 1,
                     "disposal": 2},
                    {"idx": v(did, 2, 2, 2), "disposal": 3},
                    {"idx": v(did, 3, 1, w), "disposal": 0},
                ]
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "video",
                        "payload": icodec.gif_encode_frames(w, h, specs),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["asset_id", "modality", "payload"]
            )

    return (
        spread_small_scan(
            docs.filter(F.col("doc_id") % modulus == 0).select("doc_id")
        )
        .mapInPandas(synth, "asset_id long, modality string, payload binary")
    )


def decode_video(assets: DataFrame) -> DataFrame:
    """Full multi-frame decode (UDTF shape: one asset row → one row per
    frame): GIF payloads through the LZW decoder + frame compositor,
    returning per-frame dims and the sum of every composited RGB sample
    — content-level proof of the dictionary decode, de-interlace and
    palette mapping, not just the header. Non-GIF payloads refuse
    loudly (PNG filmstrips route through frame_sample)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(p)
                if icodec.sniff(data) != "gif":
                    raise ValueError(
                        f"decode_video: asset {aid}: payload is not a GIF"
                    )
                frames, meta = icodec.gif_decode(data)
                for fi in range(meta["n_frames"]):
                    rows.append(
                        {
                            "asset_id": int(aid),
                            "frame_index": fi,
                            "width": meta["width"],
                            "height": meta["height"],
                            "pixel_sum": int(frames[fi].astype("int64").sum()),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "frame_index", "width", "height", "pixel_sum",
                ],
            )

    return assets.select("asset_id", "payload").mapInPandas(
        decode,
        "asset_id long, frame_index int, width int, height int, pixel_sum long",
    )


def frame_sample(assets: DataFrame, every_n: int = 8) -> DataFrame:
    """Sample every n-th frame from video payloads (UDTF shape: one asset
    row in → many frame rows out, via mapInPandas).

    Animated GIFs decode for REAL (LZW + compositing): every n-th
    composited frame re-encodes as its own PNG. PNG payloads are
    treated as a vertical filmstrip of square width×width frames
    (n_frames = height // width, min 1): each sampled frame is the
    REAL scanline block re-encoded as its own PNG — true pixel
    slicing, not byte arithmetic. Unrecognized payloads keep the
    documented deterministic byte-slice fallback (frame count from the
    length formula, 8-byte slices) so plumbing oracles stay SQL-exact.
    Non-video assets pass through with zero rows (filter pushed into the
    scan).
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                data = bytes(payload)
                if icodec.sniff(data) == "gif":
                    gframes, _meta = icodec.gif_decode(data)
                    for fi in range(0, gframes.shape[0], every_n):
                        rows.append(
                            {
                                "asset_id": aid,
                                "frame_index": fi,
                                "frame_bytes": icodec.png_encode(gframes[fi]),
                            }
                        )
                    continue
                if icodec.sniff(data) == "png":
                    arr, meta = icodec.png_decode(data)
                    fh = meta["width"]  # square frames
                    n_frames = max(meta["height"] // fh, 1)
                    # floor division: a trailing strip shorter than one
                    # frame is not emitted (documented filmstrip contract)
                    for fi in range(0, n_frames, every_n):
                        block = arr[fi * fh : (fi + 1) * fh]
                        rows.append(
                            {
                                "asset_id": aid,
                                "frame_index": fi,
                                "frame_bytes": icodec.png_encode(block),
                            }
                        )
                    continue
                n_frames = len(data) % 24 + 1  # documented fallback
                for fi in range(0, n_frames, every_n):
                    lo = (fi * 17) % max(len(data) - 8, 1)
                    rows.append(
                        {
                            "asset_id": aid,
                            "frame_index": fi,
                            "frame_bytes": data[lo : lo + 8],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["asset_id", "frame_index", "frame_bytes"]
            )

    return (
        assets.filter(F.col("modality") == "video")
        .select("asset_id", "payload")
        .mapInPandas(sample, "asset_id long, frame_index int, frame_bytes binary")
    )


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize image payloads to (width, height).

    PNG and baseline-JPEG payloads are REALLY resampled: decode →
    nearest-neighbor index map (imagecodec.resize_nearest, floor
    semantics so a SQL oracle can verify resized pixels exactly) →
    re-encode in the source format (JPEG re-encodes at quality 90, the
    usual thumbnail posture — lossy by nature, pytest gates it with a
    quantization tolerance). Other payloads pass through byte-identical
    with the requested dims tagged (documented: no codec for them yet;
    the tag is the request, not a claim). Same mapInPandas batch shape
    as extract_features.
    """

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["asset_id", "modality", "payload"]].copy()
            payloads = []
            for p in out["payload"]:
                data = bytes(p)
                fmt = icodec.sniff(data)
                if fmt == "png":
                    arr, _meta = icodec.png_decode(data)
                    data = icodec.png_encode(
                        icodec.resize_nearest(arr, width, height)
                    )
                elif fmt == "jpeg":
                    arr, _meta = icodec.jpeg_decode(data)
                    resized = icodec.resize_nearest(arr, width, height)
                    if resized.shape[2] == 1:
                        resized = resized[:, :, 0]
                    data = icodec.jpeg_encode(resized, quality=90)
                payloads.append(data)
            out["payload"] = payloads
            out["width"] = width
            out["height"] = height
            yield out

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        do_resize,
        "asset_id long, modality string, payload binary, width int, height int",
    )


# back-compat alias: the operator predates the real codec and was
# honestly named for what it then was; callers/tests may still import it
resize_stub = resize_images
