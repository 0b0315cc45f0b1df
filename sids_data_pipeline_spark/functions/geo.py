"""Pure-numpy geometry kernel: WKB (Multi)Polygon codec, point-in-polygon,
bbox math, GeoJSON encoding.

This replaces the reference's delegated geometry layer — PostGIS
``ST_Intersects`` (reference ``pipeline/processing/stats.py:12``) and the
ogr2ogr geometry normalisation flags ``-makevalid -dim XY -nlt
PROMOTE_TO_MULTI`` (``pipeline/processing/inputs.py:49-53``). No GDAL/
shapely dependency: the engine stores geometry as standard WKB
(little-endian, EPSG:4326) and evaluates containment with a vectorised
ray-casting kernel inside Arrow-batched pandas UDFs, so the hot path is
numpy over contiguous arrays, not per-row Python objects.

Semantics (SURVEY.md §7): the default zonal test is *pixel-center in
polygon* (the rasterstats/GDAL convention). ``all_touched``-style boundary
inclusivity is approximated by testing cell corners as well.
"""

from __future__ import annotations

import json
import struct
from typing import Iterable, Sequence

import numpy as np

WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6

Ring = np.ndarray  # (n, 2) float64 closed ring (first == last not required)
Polygon = list  # [exterior_ring, hole_ring, ...]


# --- WKB codec ---------------------------------------------------------------


def polygon_wkb(rings: Sequence[Sequence[tuple[float, float]]]) -> bytes:
    """Encode one polygon (exterior + holes) as little-endian WKB.
    Accepts plain tuples OR the parser's numpy rings (the closure check
    converts first — a raw ``pts[0] != pts[-1]`` on numpy rows is an
    ambiguous-truth-value crash); empty rings and NaN coordinates are
    rejected loudly (NaN defeats every closure comparison and would grow
    a phantom vertex per encode pass)."""
    out = [struct.pack("<BI", 1, WKB_POLYGON), struct.pack("<I", len(rings))]
    for ring in rings:
        pts = [(float(x), float(y)) for x, y in ring]
        if not pts:
            raise ValueError("empty ring cannot encode to WKB")
        if any(x != x or y != y for x, y in pts):
            raise ValueError("NaN coordinate in ring")
        if pts[0] != pts[-1]:
            pts = pts + [pts[0]]
        out.append(struct.pack("<I", len(pts)))
        for x, y in pts:
            out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def multipolygon_wkb(polygons: Iterable[Sequence[Sequence[tuple[float, float]]]]) -> bytes:
    """Encode a MultiPolygon as WKB (the engine's canonical geometry type,
    mirroring the reference's PROMOTE_TO_MULTI import)."""
    polys = list(polygons)
    out = [struct.pack("<BI", 1, WKB_MULTIPOLYGON), struct.pack("<I", len(polys))]
    for poly in polys:
        out.append(polygon_wkb(poly))
    return b"".join(out)


def box_wkb(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    """Axis-aligned rectangle as MultiPolygon WKB."""
    return multipolygon_wkb(
        [[[(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]]]
    )


def _parse_ring(buf: memoryview, off: int) -> tuple[Ring, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    ring = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    end = off + 16 * n
    # Reject NaN coordinates: NaN defeats the closure comparison below
    # (array_equal never matches), so every parse would append a phantom
    # closing vertex and feed degenerate edges to the kernels.
    if np.isnan(ring).any():
        raise ValueError("NaN coordinate in WKB ring")
    # Tolerate unclosed rings (append the closing vertex) but reject
    # degenerate ones — silently skipping either corrupts crossing parity.
    if n and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    if ring.shape[0] < 4:
        raise ValueError(f"degenerate ring with {n} point(s)")
    return ring, end


def _parse_polygon_body(buf: memoryview, off: int) -> tuple[Polygon, int]:
    (nrings,) = struct.unpack_from("<I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        ring, off = _parse_ring(buf, off)
        rings.append(ring)
    return rings, off


_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


def _geom_header(buf: memoryview, off: int) -> tuple[int, int]:
    """Decode one geometry header → (base 2-D type, offset past header).

    EWKB SRID words are consumed; any Z/M dimensionality — EWKB flag bits
    or ISO type codes (1000/2000/3000 offsets) — raises instead of
    silently misreading coordinate data (the engine is strictly 2-D,
    mirroring the reference's ``-dim XY`` normalisation,
    pipeline/processing/inputs.py:51).
    """
    byte_order, raw = struct.unpack_from("<BI", buf, off)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    if raw & (_EWKB_Z | _EWKB_M):
        raise ValueError("Z/M geometry not supported (EWKB flag set); force 2-D first")
    off += 5
    if raw & _EWKB_SRID:
        off += 4  # skip the 4-byte SRID word
    base = raw & 0x0FFFFFFF
    if base >= 1000:  # ISO WKB Z (1000), M (2000), ZM (3000) ranges
        raise ValueError(
            f"Z/M geometry not supported (ISO WKB type {base}); force 2-D first"
        )
    return base, off


def parse_wkb(wkb: bytes) -> list[Polygon]:
    """Parse WKB/EWKB Polygon or MultiPolygon → list of polygons
    (each a list of (n,2) numpy rings, exterior first). SRID headers are
    skipped; Z/M input is rejected loudly (see _geom_header)."""
    buf = memoryview(wkb)
    geom_type, off = _geom_header(buf, 0)
    if geom_type == WKB_POLYGON:
        poly, _ = _parse_polygon_body(buf, off)
        return [poly]
    if geom_type == WKB_MULTIPOLYGON:
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        polys = []
        for _ in range(n):
            gt, off = _geom_header(buf, off)
            if gt != WKB_POLYGON:
                raise ValueError("malformed MultiPolygon member")
            poly, off = _parse_polygon_body(buf, off)
            polys.append(poly)
        return polys
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


# --- containment kernel ------------------------------------------------------


def _ring_crossings(ring: Ring, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """Vectorised ray-casting: for each point, count crossings of a
    rightward ray with the ring edges. Returns boolean parity array."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(px.shape[0], dtype=bool)
    # Edge loop is over ring vertices (small); point arithmetic is the
    # vectorised axis (large) — the right orientation for zonal stats where
    # polygons have tens of vertices and pixel batches have millions.
    for i in range(x0.shape[0]):
        cond = (y0[i] > py) != (y1[i] > py)
        if not cond.any():
            continue
        xint = (x1[i] - x0[i]) * (py - y0[i]) / (y1[i] - y0[i]) + x0[i]
        inside ^= cond & (px < xint)
    return inside


def points_in_polygons(
    polys: list[Polygon], px: np.ndarray, py: np.ndarray
) -> np.ndarray:
    """Even-odd containment of points in a (Multi)Polygon. Points exactly on
    a boundary follow ray-casting parity (matches the pixel-center
    convention's tie-handling; fixtures avoid exact-boundary centers)."""
    px = np.ascontiguousarray(px, dtype=np.float64)
    py = np.ascontiguousarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    for poly in polys:
        acc = np.zeros(px.shape[0], dtype=bool)
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            if len(r) < 4:
                raise ValueError(f"degenerate ring with {len(r)} point(s)")
            if not np.array_equal(r[0], r[-1]):
                # an open ring silently loses its closing edge and flips
                # containment parity — fail loudly like the degenerate case
                raise ValueError("unclosed ring (first != last vertex)")
            acc ^= _ring_crossings(r, px, py)
        inside |= acc
    return inside


def promote_to_multi(wkb: bytes) -> bytes:
    """F7 normalisation (reference ogr2ogr ``-nlt PROMOTE_TO_MULTI``,
    pipeline/processing/inputs.py:53): Polygon → single-member
    MultiPolygon; MultiPolygon passes through byte-identical. Z/M input
    is rejected by the parser (the ``-dim XY`` half of F7)."""
    buf = memoryview(wkb)
    byte_order, raw = struct.unpack_from("<BI", buf, 0)
    geom_type, _ = _geom_header(buf, 0)
    # plain WKB MultiPolygon passes through byte-identical; an EWKB one
    # (SRID flag) re-encodes like the Polygon path so the canonical bytes
    # do not depend on the input geometry TYPE (byte-equality consumers —
    # dedup keys, per-batch WKB caches — would otherwise fragment)
    if geom_type == WKB_MULTIPOLYGON and raw == WKB_MULTIPOLYGON:
        return wkb
    polys = parse_wkb(wkb)
    return multipolygon_wkb(
        [[[(float(x), float(y)) for x, y in ring] for ring in poly] for poly in polys]
    )


def polys_bbox(polys: list[Polygon]) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of pre-parsed polygons (exterior rings).
    Empty geometries (MULTIPOLYGON EMPTY — valid WKB the parser accepts)
    raise a named error instead of a cryptic numpy vstack failure."""
    exts = [np.asarray(poly[0]) for poly in polys if poly]
    if not exts:
        raise ValueError("empty geometry (no rings): bbox undefined")
    allpts = np.vstack(exts)
    return (
        float(allpts[:, 0].min()),
        float(allpts[:, 1].min()),
        float(allpts[:, 0].max()),
        float(allpts[:, 1].max()),
    )


def wkb_bbox(wkb: bytes) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of a WKB (Multi)Polygon — used to build the
    coarse grid keys for the filter-and-refine spatial join."""
    return polys_bbox(parse_wkb(wkb))


def wkb_rect(wkb: bytes) -> tuple[float, float, float, float] | None:
    """If the geometry is a single hole-free axis-aligned rectangle, return
    its (xmin, ymin, xmax, ymax); else None.

    For such a ring the even-odd ray-casting kernel reduces *exactly* to
    the half-open test ``xmin <= x < xmax AND ymin <= y < ymax``: horizontal
    edges never satisfy the crossing condition, and a vertical edge's
    ``xint`` is computed as ``0 * t + x0 == x0`` bit-exactly, so the two
    vertical edges XOR to ``x >= xmin AND x < xmax`` while the shared
    ``(y0 > py) != (y1 > py)`` condition gives ``y >= ymin AND y < ymax``.
    Callers may therefore replace the Python kernel with that pure-column
    predicate for rectangle zones — same result on every input, including
    points exactly on the boundary (property-tested in tests/test_geo.py).
    """
    return polys_rect(parse_wkb(wkb))


def polys_rect(polys: list[Polygon]) -> tuple[float, float, float, float] | None:
    """:func:`wkb_rect` on pre-parsed polygons (single-parse callers)."""
    if len(polys) != 1 or len(polys[0]) != 1:
        return None
    ring = np.asarray(polys[0][0], dtype=np.float64)
    if ring.shape[0] != 5:
        return None
    dx = ring[1:, 0] - ring[:-1, 0]
    dy = ring[1:, 1] - ring[:-1, 1]
    if np.any((dx != 0.0) & (dy != 0.0)):
        return None  # a diagonal edge: not axis-aligned
    xmin, ymin = float(ring[:4, 0].min()), float(ring[:4, 1].min())
    xmax, ymax = float(ring[:4, 0].max()), float(ring[:4, 1].max())
    if xmin >= xmax or ymin >= ymax:
        return None  # degenerate: let the kernel decide
    corners = {(float(x), float(y)) for x, y in ring[:4]}
    expected = {(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)}
    return (xmin, ymin, xmax, ymax) if corners == expected else None


# --- ring clipping + simplification (tile geometry support) ------------------


def _clip_open_ring(
    pts: list[tuple[float, float]],
    xmin: float, ymin: float, xmax: float, ymax: float,
) -> list[tuple[float, float]]:
    """Sutherland–Hodgman clip of an open ring of float tuples against an
    axis-aligned rectangle: the one clipper behind :func:`clip_ring_rect`
    (MVT tiles) and :func:`clip_ring_box_area2` (zonal weights).

    Plain tuples in the inner loop: per-element numpy scalar indexing is
    several times slower than tuple access, and this runs per ring per
    tile per zoom in the MVT encoder; a NumPy mask-and-interleave pass
    is slower still on rings of a few to a dozen vertices."""
    # (axis, bound, keep_leq): clip half-planes in a fixed order so the
    # output vertex sequence is deterministic
    for axis, bound, keep_leq in (
        (0, xmin, False),  # x >= xmin
        (0, xmax, True),   # x <= xmax
        (1, ymin, False),  # y >= ymin
        (1, ymax, True),   # y <= ymax
    ):
        if not pts:
            break
        other_axis = 1 - axis
        out: list[tuple[float, float]] = []
        prv = pts[-1]
        prv_in = (prv[axis] <= bound) if keep_leq else (prv[axis] >= bound)
        for cur in pts:
            cur_in = (cur[axis] <= bound) if keep_leq else (cur[axis] >= bound)
            if cur_in != prv_in:
                # edge crosses the plane: interpolate the intersection on
                # the *other* axis (the clipped axis lands exactly on bound)
                t = (bound - prv[axis]) / (cur[axis] - prv[axis])
                other = prv[other_axis] + t * (cur[other_axis] - prv[other_axis])
                out.append((bound, other) if axis == 0 else (other, bound))
            if cur_in:
                out.append(cur)
            prv, prv_in = cur, cur_in
        pts = out
    return pts


def clip_ring_rect(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray:
    """Clip a closed ring against an axis-aligned rectangle. Input/output
    are (n, 2) float64 arrays with first == last vertex; an empty (0, 2)
    array means the ring lies entirely outside.

    This is the tile-clipping half of what tippecanoe does when cutting
    features into tiles (reference ``pipeline/processing/tiles.py:16-29``
    delegates it to the tippecanoe binary), shared by the MVT encoder and
    its correctness oracle.
    """
    pts = _clip_open_ring(ring_open_tuples(ring), xmin, ymin, xmax, ymax)
    if len(pts) < 3:
        return np.empty((0, 2), dtype=np.float64)
    return np.asarray(pts + pts[:1], dtype=np.float64)


def _dp_keep(pts: np.ndarray, first: int, last: int, tol: float, keep: np.ndarray):
    """Douglas–Peucker marking pass on pts[first..last] (endpoints kept).
    Iterative stack — ring sizes are small but recursion limits are not a
    risk worth taking in an executor."""
    stack = [(first, last)]
    while stack:
        a, b = stack.pop()
        if b <= a + 1:
            continue
        ax, ay = pts[a]
        bx, by = pts[b]
        seg = np.array([bx - ax, by - ay])
        seg_len = float(np.hypot(seg[0], seg[1]))
        mid = pts[a + 1 : b]
        if seg_len == 0.0:  # closed-ring chord: fall back to point distance
            d = np.hypot(mid[:, 0] - ax, mid[:, 1] - ay)
        else:
            d = np.abs(
                (bx - ax) * (ay - mid[:, 1]) - (ax - mid[:, 0]) * (by - ay)
            ) / seg_len
        imax = int(np.argmax(d))
        if float(d[imax]) > tol:
            k = a + 1 + imax
            keep[k] = True
            stack.append((a, k))
            stack.append((k, b))


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker simplification of a closed ring (first == last).
    The ring is split at the vertex farthest from vertex 0 so both DP
    halves have a real chord; vertex 0 and the split vertex always
    survive, keeping the result a valid ring. tol <= 0 is a no-op.

    Mirrors tippecanoe's zoom-gated simplification
    (``--simplify-only-low-zooms``, reference tiles.py:23): callers apply
    it only below the max zoom.
    """
    pts = np.asarray(ring, dtype=np.float64)
    if tol <= 0.0 or pts.shape[0] <= 4:
        return pts
    closed = np.array_equal(pts[0], pts[-1])
    open_pts = pts[:-1] if closed else pts
    n = open_pts.shape[0]
    split = int(
        np.argmax(np.hypot(open_pts[:, 0] - open_pts[0, 0], open_pts[:, 1] - open_pts[0, 1]))
    )
    if split == 0:  # all vertices coincide
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[split] = True
    _dp_keep(open_pts, 0, split, tol, keep)
    # second half wraps around: run DP on the rolled view, map indices back
    rolled = np.vstack([open_pts[split:], open_pts[:1]])
    rkeep = np.zeros(rolled.shape[0], dtype=bool)
    rkeep[0] = rkeep[-1] = True
    _dp_keep(rolled, 0, rolled.shape[0] - 1, tol, rkeep)
    keep[split:] |= rkeep[:-1][: n - split]
    out = open_pts[keep]
    if out.shape[0] < 3:
        return pts
    return np.vstack([out, out[:1]])


def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area of a closed ring, as the MVT spec's surface
    integral (vector-tile-spec 2.1 §4.3.3.2): in tile coords (y grows
    down) a screen-clockwise exterior ring has positive area."""
    pts = np.asarray(ring, dtype=np.float64)
    x, y = pts[:-1, 0], pts[:-1, 1]
    xn, yn = pts[1:, 0], pts[1:, 1]
    return float(np.sum(x * yn - xn * y) / 2.0)


def wkb_to_geojson_geometry(wkb: bytes) -> dict:
    """WKB → GeoJSON MultiPolygon geometry dict (for the GeoJSONL sink,
    reference ogr2ogr GeoJSONSeq export, pipeline/processing/vector.py:29-37)."""
    polys = parse_wkb(wkb)
    coords = [
        [[[float(x), float(y)] for x, y in ring] for ring in poly] for poly in polys
    ]
    return {"type": "MultiPolygon", "coordinates": coords}


def geojson_feature(wkb: bytes, properties: dict) -> str:
    """One compact GeoJSON feature line (reference writes compact JSON,
    pipeline/processing/utils.py:17-19)."""
    feat = {
        "type": "Feature",
        "geometry": wkb_to_geojson_geometry(wkb),
        "properties": properties,
    }
    return json.dumps(feat, separators=(",", ":"), sort_keys=True)


def _round_half_away(arr: np.ndarray) -> np.ndarray:
    """Round half away from zero — the ROUND of Spark SQL and DuckDB.
    (np.rint is half-even and would diverge from both on exact ties.)"""
    return np.sign(arr) * np.floor(np.abs(arr) + 0.5)


def wkb_area2_e6(wkb: bytes) -> int:
    """Twice the signed shoelace area of all rings, in micro-units:
    per-edge cross terms round to integer micros BEFORE the sum, so the
    total is an exact integer any IEEE engine reproduces from the same
    vertices (the generated SQL oracle mirrors each term). Signed sum —
    opposite-wound holes subtract; same-wound rings add (documented
    semantics, mirrored by the oracle either way)."""
    total = 0
    for poly in parse_wkb(wkb):
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            cross = r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1]
            total += int(_round_half_away(cross * 1e6).astype(np.int64).sum())
    return total


def wkb_perimeter_e6(wkb: bytes) -> int:
    """Total ring length in integer micros: per-edge hypotenuse
    (sqrt is correctly rounded IEEE, so engines agree bit-for-bit),
    rounded per edge, integer-summed."""
    total = 0
    for poly in parse_wkb(wkb):
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            dx = r[1:, 0] - r[:-1, 0]
            dy = r[1:, 1] - r[:-1, 1]
            seg = np.sqrt(dx * dx + dy * dy)
            total += int(_round_half_away(seg * 1e6).astype(np.int64).sum())
    return total


def wkb_centroid_terms_e6(wkb: bytes) -> tuple[int, int, int]:
    """Shoelace centroid NUMERATOR terms + twice-area, all exact integer
    micros (per-edge rounding before the sum, like wkb_area2_e6 — the
    generated SQL oracle mirrors each term):

        Sx = Σ round((x_i + x_{i+1}) · cross_i · 1e6)
        Sy = Σ round((y_i + y_{i+1}) · cross_i · 1e6)
        A2 = Σ round(cross_i · 1e6)

    The centroid itself is Sx/(3·A2), Sy/(3·A2) — ONE correctly-rounded
    IEEE division of two exact integers, so engines agree bit-for-bit.
    Signed sums: opposite-wound holes subtract from numerators and the
    area consistently, so holed polygons centroid correctly."""
    sx = sy = a2 = 0
    for poly in parse_wkb(wkb):
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            cross = r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1]
            xs = (r[:-1, 0] + r[1:, 0]) * cross
            ys = (r[:-1, 1] + r[1:, 1]) * cross
            sx += int(_round_half_away(xs * 1e6).astype(np.int64).sum())
            sy += int(_round_half_away(ys * 1e6).astype(np.int64).sum())
            a2 += int(_round_half_away(cross * 1e6).astype(np.int64).sum())
    return sx, sy, a2


# Mean Earth radius (IUGG R1) — the PostGIS geography default sphere.
SPHERE_RADIUS_M = 6371008.8


def wkb_area_sphere_m2(wkb: bytes) -> int:
    """Signed spherical polygon area in integer m² (Chamberlain &
    Duquette 1987, the formula turf.js/PostGIS-sphere use):

        A = R²/2 · Σ_edges (λ₂ − λ₁) · (2 + sin φ₁ + sin φ₂)

    with λ, φ in radians. Per-edge terms round to integer m² BEFORE the
    sum (plans/base.py policy — the generated SQL oracle mirrors each
    term on the same vertex literals), so the total is an exact integer
    both engines reproduce. Signed like :func:`wkb_area2_e6`: opposite-
    wound holes subtract. Rings must not cross the antimeridian (split
    them first — same contract as the planar metrics)."""
    half_r2 = SPHERE_RADIUS_M * SPHERE_RADIUS_M / 2.0
    total = 0
    for poly in parse_wkb(wkb):
        for ring in poly:
            r = np.radians(np.asarray(ring, dtype=np.float64))
            lam, phi = r[:, 0], r[:, 1]
            terms = (
                (lam[1:] - lam[:-1])
                * (2.0 + np.sin(phi[:-1]) + np.sin(phi[1:]))
                * half_r2
            )
            total += int(_round_half_away(terms).astype(np.int64).sum())
    return total


def ring_open_tuples(ring) -> list[tuple[float, float]]:
    """Ring → open (no closing vertex) list of float tuples, the form
    :func:`_clip_open_ring` works on. The closing vertex strips only when
    actually present, so an open ring keeps all its vertices. Cache this
    per zone in per-pixel hot paths: the conversion is O(vertices)."""
    arr = np.asarray(ring, dtype=np.float64)
    pts = [(float(x), float(y)) for x, y in arr]
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]
    return pts


def clip_ring_box_area2(ring, x0: float, y0: float, x1: float, y1: float) -> float:
    """Twice the signed area of ring ∩ [x0,x1]×[y0,y1]: the shoelace of
    :func:`_clip_open_ring` (convex clip window ⇒ exact for any simple
    ring). Used for region-weighted zonal statistics: the weight of a
    boundary pixel is its clipped area over the cell area. ``ring`` may
    be a numpy/tuple ring (converted per call) or a pre-converted open
    tuple list from :func:`ring_open_tuples` (zero conversion — the
    per-pixel hot-path form)."""
    if not (isinstance(ring, list) and (not ring or isinstance(ring[0], tuple))):
        ring = ring_open_tuples(ring)
    pts = _clip_open_ring(ring, x0, y0, x1, y1)
    area2 = 0.0
    for (ax, ay), (bx, by) in zip(pts, pts[1:] + pts[:1]):
        area2 += ax * by - bx * ay
    return area2


def wkb_clip_box_area2(wkb: bytes, x0: float, y0: float, x1: float, y1: float) -> float:
    """Twice the signed clipped area of all rings of a (Multi)Polygon —
    opposite-wound holes subtract, matching wkb_area2_e6 semantics."""
    return sum(
        clip_ring_box_area2(ring, x0, y0, x1, y1)
        for poly in parse_wkb(wkb)
        for ring in poly
    )
