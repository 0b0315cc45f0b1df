"""Seeded benchmark inputs, written without the package under test.

Every file here is produced by this module's own stdlib, NumPy and
pyarrow code: a zlib-strip GeoTIFF writer, a sqlite3 GeoPackage writer
and a pyarrow parquet corpus. A change to the package's own writers
therefore cannot change what the benchmark feeds it. The same seed and
size always give the same bytes.

The module also holds the reference answers the output checks compare
against (a NumPy clip, a NumPy pixel-centre zonal mean), so the checks
do not trust the program either.
"""

from __future__ import annotations

import hashlib
import math
import os
import sqlite3
import struct
import zlib
from dataclasses import dataclass

import numpy as np

# Clip band of the standardize job and the pipeline (the package default).
CLIP_LAT = 35.0
PIXEL_DEG = 0.01


# --------------------------------------------------------------------------
# GeoTIFF (classic TIFF, little-endian, f4, deflate strips)


@dataclass(frozen=True)
class Raster:
    stem: str
    values: np.ndarray  # float32 [h, w], row 0 = north
    origin_x: float  # west edge
    origin_y: float  # north edge
    pixel_deg: float

    def centres(self):
        h, w = self.values.shape
        lon = self.origin_x + (np.arange(w) + 0.5) * self.pixel_deg
        lat = self.origin_y - (np.arange(h) + 0.5) * self.pixel_deg
        return lon, lat


_SHORT, _LONG, _DOUBLE = 3, 4, 12


def tiff_bytes(r: Raster, rows_per_strip: int = 16) -> bytes:
    """Encode ``r`` as a deflate-compressed strip GeoTIFF (f4, one band,
    EPSG:4326 georeferencing via ModelPixelScale/ModelTiepoint)."""
    h, w = r.values.shape
    data = np.ascontiguousarray(r.values, dtype="<f4")
    strips = [
        zlib.compress(data[y : y + rows_per_strip].tobytes(), 6)
        for y in range(0, h, rows_per_strip)
    ]
    body = bytearray(b"II" + struct.pack("<HI", 42, 0))
    offsets = []
    for s in strips:
        offsets.append(len(body))
        body += s
        if len(body) % 2:
            body += b"\0"
    geokeys = [1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326]
    entries = [
        (256, _LONG, [w]),
        (257, _LONG, [h]),
        (258, _SHORT, [32]),
        (259, _SHORT, [8]),
        (262, _SHORT, [1]),
        (273, _LONG, offsets),
        (277, _SHORT, [1]),
        (278, _LONG, [rows_per_strip]),
        (279, _LONG, [len(s) for s in strips]),
        (284, _SHORT, [1]),
        (339, _SHORT, [3]),
        (33550, _DOUBLE, [r.pixel_deg, r.pixel_deg, 0.0]),
        (33922, _DOUBLE, [0.0, 0.0, 0.0, r.origin_x, r.origin_y, 0.0]),
        (34735, _SHORT, geokeys),
    ]
    fmt = {_SHORT: "H", _LONG: "I", _DOUBLE: "d"}
    ifd_off = len(body)
    struct.pack_into("<I", body, 4, ifd_off)
    extra_off = ifd_off + 2 + 12 * len(entries) + 4
    ifd = bytearray(struct.pack("<H", len(entries)))
    extra = bytearray()
    for tag, typ, vals in entries:
        payload = struct.pack("<" + fmt[typ] * len(vals), *vals)
        if len(payload) <= 4:
            ifd += struct.pack("<HHI", tag, typ, len(vals)) + payload.ljust(4, b"\0")
        else:
            ifd += struct.pack("<HHII", tag, typ, len(vals), extra_off + len(extra))
            extra += payload
    ifd += struct.pack("<I", 0)
    return bytes(body + ifd + extra)


def raster_estate(seed: int, n_rasters: int, total_px: int) -> list[Raster]:
    """``n_rasters`` f4 rasters of uneven size summing to about
    ``total_px`` pixels, laid side by side along longitude. Each one's
    northern rows lie north of the +35° clip edge. Pixel centres sit a
    third of a pixel off the 0.01° lattice, so no centre falls on the clip
    edge or on a round-number zone vertex."""
    rng = np.random.default_rng([seed, 1])
    # Sizes and shapes do not depend on the seed (a fixed 4:1 spread):
    # the makespan of one-task-per-file scans and the zone layout follow
    # from them, and seed-to-seed changes there were run-time noise.
    weights = np.linspace(1.6, 0.4, n_rasters)
    weights /= weights.sum()
    rasters = []
    lon0 = 10.0 + PIXEL_DEG / 3
    for i, wgt in enumerate(weights):
        aspect = (0.8, 1.25)[i % 2]
        px = wgt * total_px
        w = max(8, int(round(math.sqrt(px * aspect))))
        h = max(8, int(round(px / w)))
        north_rows = max(1, int(h * (0.1 + 0.04 * i)))
        origin_y = CLIP_LAT + north_rows * PIXEL_DEG + PIXEL_DEG / 3
        yy, xx = np.mgrid[0:h, 0:w]
        vals = (
            100.0 * np.sin(xx / 37.0 + i) * np.cos(yy / 23.0)
            + rng.normal(0.0, 5.0, (h, w))
        )
        # quantise to 1/64 so the deflate strips compress like real data
        vals = (np.round(vals * 64.0) / 64.0).astype(np.float32)
        rasters.append(Raster(f"r{i:02d}", vals, lon0, origin_y, PIXEL_DEG))
        lon0 += (w + 7) * PIXEL_DEG
    return rasters


def clipped(r: Raster, lat=(-CLIP_LAT, CLIP_LAT)) -> tuple[np.ndarray, float]:
    """Rows whose pixel centre lies inside the clip band, and the north
    edge of the first kept row — NumPy's answer for the standardize
    job's clip (every column is inside the ±180° lon band)."""
    _, lats = r.centres()
    keep = (lats >= lat[0]) & (lats <= lat[1])
    rows = np.flatnonzero(keep)
    return r.values[rows[0] : rows[-1] + 1], r.origin_y - rows[0] * r.pixel_deg


# --------------------------------------------------------------------------
# Zones: a hexagon grid plus irregular polygons with holes


def _ring(points) -> list[tuple[float, float]]:
    pts = [(float(x), float(y)) for x, y in points]
    return pts + [pts[0]]


def zone_set(seed: int, rasters: list[Raster], n_zones: int) -> list[list[list]]:
    """About ``n_zones`` polygons (each a list of rings, shell first)
    over the estate's extent, padded so the outer hexagons fall off
    every raster: a pointy-top hexagon grid, plus one irregular polygon
    with a hole for every eighth hexagon."""
    rng = np.random.default_rng([seed, 2])
    west = rasters[0].origin_x
    east = max(r.origin_x + r.values.shape[1] * r.pixel_deg for r in rasters)
    north = max(r.origin_y for r in rasters)
    south = min(r.origin_y - r.values.shape[0] * r.pixel_deg for r in rasters)
    pad = 0.05 * max(east - west, north - south)
    west, east, south, north = west - pad, east + pad, south - pad, north + pad
    n_hex = max(1, n_zones - n_zones // 9)
    area = (east - west) * (north - south)
    # hexagon of circumradius s covers 1.5·√3·s²
    s = math.sqrt(area / n_hex / (1.5 * math.sqrt(3)))
    dx, dy = math.sqrt(3) * s, 1.5 * s
    jitter = rng.uniform(0.0, 1.0, 2) * s * 0.37
    zones = []
    row = 0
    y = south + jitter[1]
    # rows run on past the north edge if the jittered grid needs them, so
    # every seed has the same number of hexagons and irregular polygons
    while len(zones) < n_hex:
        x = west + jitter[0] + (dx / 2 if row % 2 else 0.0)
        while x < east and len(zones) < n_hex:
            ang = np.pi / 6 + np.arange(6) * np.pi / 3
            zones.append([_ring(zip(x + s * np.cos(ang), y + s * np.sin(ang)))])
            x += dx
        y += dy
        row += 1
    # Irregular polygons sit at evenly spaced longitudes in the latitude
    # band every raster covers, so each overlaps raster pixels and the
    # amount of zonal work does not depend on the seed. The seed moves
    # them by at most a fifth of their spacing and draws their shapes.
    n_irregular = max(1, n_zones - n_hex)
    band_n = min(r.origin_y for r in rasters)
    band_s = max(r.origin_y - r.values.shape[0] * r.pixel_deg for r in rasters)
    step = (east - west - 2 * pad) / n_irregular
    for i in range(n_irregular):
        cx = west + pad + (i + 0.5 + rng.uniform(-0.2, 0.2)) * step
        cy = (band_n + band_s) / 2 + rng.uniform(-0.1, 0.1) * (band_n - band_s)
        k = 10
        ang = (np.arange(k) + rng.uniform(0.0, 0.5, k)) * 2 * np.pi / k
        rad = rng.uniform(0.6, 1.6, k) * s * 1.5
        shell = _ring(zip(cx + rad * np.cos(ang), cy + rad * np.sin(ang)))
        # the hole is a small triangle around the centre. Vertex angles
        # are at most 1.5·2π/10 apart and every radius exceeds 0.9·s, so
        # each shell edge stays over 0.7·s from the centre and the
        # 0.5·s triangle lies inside the shell
        hang = rng.uniform(0, 2 * np.pi) + np.arange(3) * 2 * np.pi / 3
        hole = _ring(zip(cx + 0.5 * s * np.cos(hang), cy + 0.5 * s * np.sin(hang)))
        zones.append([shell, hole[::-1]])
    return zones


def polygon_wkb(rings) -> bytes:
    """ISO WKB MultiPolygon (little-endian) holding one polygon."""
    out = bytearray(struct.pack("<BII", 1, 6, 1))
    out += struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        out += np.asarray(ring, dtype="<f8").tobytes()
    return bytes(out)


def write_geopackage(path: str, zones, table: str = "zones") -> None:
    """Minimal OGC GeoPackage: the three core tables plus one feature
    table of GeoPackageBinary MultiPolygons in EPSG:4326."""
    con = sqlite3.connect(path)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")
        con.execute("PRAGMA user_version = 10300")
        con.execute(
            "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, "
            "srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, "
            "organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, "
            "description TEXT)"
        )
        con.execute(
            "INSERT INTO gpkg_spatial_ref_sys VALUES "
            "('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS[\"WGS 84\"]', NULL)"
        )
        con.execute(
            "CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, "
            "data_type TEXT NOT NULL, identifier TEXT, description TEXT, "
            "last_change TEXT, min_x REAL, min_y REAL, max_x REAL, max_y REAL, "
            "srs_id INTEGER)"
        )
        con.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT PRIMARY KEY, "
            "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, "
            "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)"
        )
        con.execute(
            f'CREATE TABLE "{table}" (fid INTEGER PRIMARY KEY, name TEXT, geom BLOB)'
        )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id) "
            "VALUES (?, 'features', ?, 4326)",
            (table, table),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', 'MULTIPOLYGON', 4326, 0, 0)",
            (table,),
        )
        header = b"GP" + bytes([0, 1]) + struct.pack("<i", 4326)
        con.executemany(
            f'INSERT INTO "{table}" (fid, name, geom) VALUES (?, ?, ?)',
            [
                (fid, f"zone{fid}", header + polygon_wkb(rings))
                for fid, rings in enumerate(zones, start=1)
            ],
        )
        con.commit()
    finally:
        con.close()


def _inside(rings, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Even-odd ray casting over every ring (holes included)."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            if b == d:
                continue
            straddle = (b > py) != (d > py)
            xcross = a + (py - b) * (c - a) / (d - b)
            inside ^= straddle & (px < xcross)
    return inside


def zonal_means(zones, raster: Raster) -> dict[int, float | None]:
    """fid → mean of the clipped pixels whose centre lies inside the
    zone (None when no pixel does): NumPy's answer for the pipeline."""
    lon, lat = raster.centres()
    keep = np.abs(lat) <= CLIP_LAT
    out = {}
    for fid, rings in enumerate(zones, start=1):
        shell = np.asarray(rings[0])
        x_lo, x_hi = shell[:, 0].min(), shell[:, 0].max()
        y_lo, y_hi = shell[:, 1].min(), shell[:, 1].max()
        cols = np.flatnonzero((lon >= x_lo) & (lon <= x_hi))
        rows = np.flatnonzero((lat >= y_lo) & (lat <= y_hi) & keep)
        if not len(cols) or not len(rows):
            out[fid] = None
            continue
        gx, gy = np.meshgrid(lon[cols], lat[rows])
        mask = _inside(rings, gx, gy)
        if not mask.any():
            out[fid] = None
            continue
        block = raster.values[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
        out[fid] = float(block[mask].astype(np.float64).mean())
    return out


# --------------------------------------------------------------------------
# Documents parquet


@dataclass(frozen=True)
class Corpus:
    ids: np.ndarray
    texts: list[str]
    exact_dups: dict[int, list[int]]  # first id → later copies
    pii: list[str]


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of 20–80 random words from a 4000-word
    vocabulary, with planted exact duplicates, near-duplicates (one word
    in eight replaced), PII (an e-mail, an IPv4 address or a phone
    number) and documents shorter than the 20-character quality bar, so
    every curation stage removes something. Planted sets are disjoint."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, int(rng.integers(3, 10))))
        for _ in range(4000)
    ]
    texts: list[str | None] = [None] * n_docs
    kinds = rng.choice(5, n_docs, p=[0.83, 0.05, 0.05, 0.04, 0.03])
    kinds[: min(n_docs, 16)] = 0  # the first docs are plain originals
    plain = []
    exact: dict[int, list[int]] = {}
    pii = []
    for i in range(n_docs):
        k = kinds[i]
        if k == 1 and plain:
            src = plain[int(rng.integers(len(plain)))]
            texts[i] = texts[src]
            exact.setdefault(src, []).append(i)
        elif k == 2 and plain:
            src = plain[int(rng.integers(len(plain)))]
            words = texts[src].split(" ")
            for j in range(0, len(words), 8):
                words[j] = vocab[int(rng.integers(len(vocab)))]
            texts[i] = " ".join(words)
        elif k == 3:
            texts[i] = " ".join(vocab[int(rng.integers(len(vocab)))] for _ in range(2))[:15]
        else:
            words = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(20, 81)))]
            if k == 4:
                which = int(rng.integers(3))
                if which == 0:
                    s = f"mail{i}.user@host{i % 97}.example.org"
                elif which == 1:
                    s = f"10.{i % 250}.{(i // 250) % 250}.{i % 7 + 1}"
                else:
                    s = f"+1 555 {i % 1000:03d} {i % 9973:04d}"
                words.insert(int(rng.integers(len(words))), s)
                pii.append(s)
            texts[i] = " ".join(words)
            if k == 0:
                plain.append(i)
    return Corpus(np.arange(n_docs, dtype=np.int64), texts, exact, pii)


def write_corpus(path: str, c: Corpus) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array(c.ids, pa.int64()),
            "text": pa.array(c.texts, pa.string()),
            "source": pa.array([f"src{i % 5}" for i in c.ids], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=max(1, len(c.texts) // 8))


# --------------------------------------------------------------------------


def tree_digest(root: str) -> tuple[int, str]:
    """(total bytes, sha256 over relative paths and contents) of a tree."""
    h = hashlib.sha256()
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            with open(p, "rb") as f:
                data = f.read()
            total += len(data)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            h.update(hashlib.sha256(data).digest())
    return total, h.hexdigest()
