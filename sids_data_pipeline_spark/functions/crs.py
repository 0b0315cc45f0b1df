"""Coordinate reference system transforms (P9/F8 — SURVEY.md §2a).

The reference probes each raster's EPSG with gdalsrsinfo and warps to
EPSG:4326 only when they differ (reference ``batch/processing/raster.py:
14-29``). GDAL is not in this container, but the two CRSs this engine's
data model actually uses — WGS-84 (4326) and Web Mercator (3857, the
slippy-tile CRS the K2 sink targets) — convert in closed form, so the
engine implements that pair as pure JVM column math (codegen-friendly, no
UDF, SQL-oracle-mirrorable). Other CRSs raise: plug pyproj into a pandas
UDF behind the same operator signature when available.

Spherical Web Mercator (EPSG:3857), R = 6378137 m:
    x = R·lon_rad                 lon = degrees(x / R)
    y = R·ln(tan(π/4 + lat_rad/2))    lat = degrees(2·atan(exp(y / R)) − π/2)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WEB_MERCATOR_RADIUS = 6378137.0
WGS84 = 4326
WEB_MERCATOR = 3857

# --- WGS-84 ellipsoid + UTM constants (public Snyder 1987 §8 / Redfearn
# series, the same closed forms GDAL's tmerc uses at low order). The
# reference warps arbitrary source EPSG → 4326 via gdalwarp
# (batch/processing/raster.py:22-29); UTM zones 326xx/327xx are the CRSs
# real raster catalogs actually carry, and they convert in closed form —
# pure JVM column math, no UDF, mirrorable into a DuckDB oracle.
UTM_A = 6378137.0  # semi-major axis (m)
UTM_F = 1.0 / 298.257223563  # flattening
UTM_K0 = 0.9996  # central-meridian scale
UTM_FALSE_EASTING = 500000.0
UTM_FALSE_NORTHING_SOUTH = 10000000.0
_E2 = UTM_F * (2.0 - UTM_F)  # first eccentricity squared
_EP2 = _E2 / (1.0 - _E2)  # second eccentricity squared
# meridian-arc series  M(φ) = a·(M0·φ − M2·sin2φ + M4·sin4φ − M6·sin6φ)
_M0 = 1.0 - _E2 / 4.0 - 3.0 * _E2**2 / 64.0 - 5.0 * _E2**3 / 256.0
_M2 = 3.0 * _E2 / 8.0 + 3.0 * _E2**2 / 32.0 + 45.0 * _E2**3 / 1024.0
_M4 = 15.0 * _E2**2 / 256.0 + 45.0 * _E2**3 / 1024.0
_M6 = 35.0 * _E2**3 / 3072.0
# footpoint-latitude series (inverse), e1 = (1−√(1−e²))/(1+√(1−e²))
_E1 = (1.0 - math.sqrt(1.0 - _E2)) / (1.0 + math.sqrt(1.0 - _E2))
_P2 = 3.0 * _E1 / 2.0 - 27.0 * _E1**3 / 32.0
_P4 = 21.0 * _E1**2 / 16.0 - 55.0 * _E1**4 / 32.0
_P6 = 151.0 * _E1**3 / 96.0
_P8 = 1097.0 * _E1**4 / 512.0


def utm_epsg(zone: int, south: bool = False) -> int:
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone must be 1..60, got {zone}")
    return (32700 if south else 32600) + zone


def utm_params(epsg: int) -> tuple[int, bool]:
    """(zone, south) for a WGS-84 UTM EPSG, or raise if not one."""
    if 32601 <= epsg <= 32660:
        return epsg - 32600, False
    if 32701 <= epsg <= 32760:
        return epsg - 32700, True
    raise ValueError(f"EPSG:{epsg} is not a WGS-84 UTM zone (326xx/327xx)")


def _central_meridian_rad(zone: int) -> float:
    return math.radians(zone * 6 - 183)


def _bind(values: dict[str, "Column"], body) -> Column:
    """Let-binding for column expressions: evaluate each value in
    ``values`` ONCE and hand ``body`` named references to the bound
    results (a single-element higher-order ``transform`` over a struct —
    the SQL ``WITH`` idiom in Column-land).

    Why (r14, guide §1.6/§5): composing these projection chains by plain
    Column substitution re-inlines a subtree PER REFERENCE, so reference
    counts multiply — an 8-step unrolled fixed point re-nests its
    predecessor per reference (2^8 copies), and stacking a datum leg
    under a projection series multiplies the whole leg by the series'
    ~25 input references. The resulting Project exceeded Janino's 64 KB
    method limit (a failed whole-stage-codegen compile + stack dump on
    EVERY action — the failure is not cached — then interpreted
    evaluation of the still-duplicated tree) and re-planned multi-MB
    Catalyst trees per invocation. Binding keeps every subtree additive.

    Bit-transparent: the bound expression is the SAME expression,
    evaluated once; lambda-variable references read the bound value, and
    NULL propagation is unchanged (a NULL input yields a struct with the
    matching NULL field, flowing through ``body`` exactly as the inlined
    expression would)."""
    keys = list(values)
    packed = F.struct(*[values[k].alias(k) for k in keys])
    return F.transform(
        F.array(packed), lambda v: body(**{k: v[k] for k in keys})
    )[0]


def lonlat_to_utm(
    lon: Column, lat: Column, zone: int, south: bool = False
) -> tuple[Column, Column]:
    """Forward transverse Mercator (Snyder 1987 eq. 8-9..8-13) as pure
    column expressions — stays inside whole-stage codegen."""
    e, n = _utm_forward(lon, lat, F.lit(_central_meridian_rad(zone)))
    if south:
        n = n + F.lit(UTM_FALSE_NORTHING_SOUTH)
    return e, n


def lonlat_to_utm_cols(
    lon: Column, lat: Column, zone: Column, south: Column | None = None
) -> tuple[Column, Column]:
    """Forward with PER-ROW zone (and optional per-row south flag) —
    mixed-zone tables project in one expression. Returns columns aliased
    ``easting``/``northing``."""
    lam0 = F.radians(zone.cast("double") * 6.0 - 183.0)
    e, n = _utm_forward(lon, lat, lam0)
    if south is not None:
        n = n + F.when(south, F.lit(UTM_FALSE_NORTHING_SOUTH)).otherwise(F.lit(0.0))
    return e.alias("easting"), n.alias("northing")


def _utm_forward(
    lon: Column, lat: Column, lam0: Column
) -> tuple[Column, Column]:
    phi = F.radians(lat)
    sinp, cosp, tanp = F.sin(phi), F.cos(phi), F.tan(phi)
    n = F.lit(UTM_A) / F.sqrt(F.lit(1.0) - F.lit(_E2) * sinp * sinp)
    t = tanp * tanp
    c = F.lit(_EP2) * cosp * cosp
    a = (F.radians(lon) - lam0) * cosp
    m = F.lit(UTM_A) * (
        F.lit(_M0) * phi
        - F.lit(_M2) * F.sin(phi * 2.0)
        + F.lit(_M4) * F.sin(phi * 4.0)
        - F.lit(_M6) * F.sin(phi * 6.0)
    )
    easting = F.lit(UTM_FALSE_EASTING) + F.lit(UTM_K0) * n * (
        a
        + (F.lit(1.0) - t + c) * F.pow(a, 3) / 6.0
        + (F.lit(5.0) - t * 18.0 + t * t + c * 72.0 - F.lit(58.0 * _EP2))
        * F.pow(a, 5)
        / 120.0
    )
    northing = F.lit(UTM_K0) * (
        m
        + n
        * tanp
        * (
            a * a / 2.0
            + (F.lit(5.0) - t + c * 9.0 + c * c * 4.0) * F.pow(a, 4) / 24.0
            + (
                F.lit(61.0)
                - t * 58.0
                + t * t
                + c * 600.0
                - F.lit(330.0 * _EP2)
            )
            * F.pow(a, 6)
            / 720.0
        )
    )
    return easting, northing


def utm_to_lonlat(
    easting: Column, northing: Column, zone: int, south: bool = False
) -> tuple[Column, Column]:
    """Inverse transverse Mercator via the footpoint-latitude series
    (Snyder 1987 eq. 8-17..8-25)."""
    return _utm_inverse(
        easting,
        northing,
        F.lit(_central_meridian_rad(zone)),
        F.lit(UTM_FALSE_NORTHING_SOUTH if south else 0.0),
    )


def _utm_inverse(
    easting: Column, northing: Column, lam0: Column, false_northing: Column
) -> tuple[Column, Column]:
    """Column-parameterized inverse: ``lam0``/``false_northing`` may vary
    PER ROW (standardize_crs derives them from an EPSG column), keeping
    mixed-zone tables a single vectorized expression. Inputs and the
    footpoint latitude are :func:`_bind`-staged so the series' many
    references stay additive (r14)."""

    def build(e_, n_, l0):
        x = e_ - F.lit(UTM_FALSE_EASTING)
        mu = n_ / F.lit(UTM_K0 * UTM_A * _M0)
        phi1 = (
            mu
            + F.lit(_P2) * F.sin(mu * 2.0)
            + F.lit(_P4) * F.sin(mu * 4.0)
            + F.lit(_P6) * F.sin(mu * 6.0)
            + F.lit(_P8) * F.sin(mu * 8.0)
        )

        def series(p1):
            sin1, cos1, tan1 = F.sin(p1), F.cos(p1), F.tan(p1)
            c1 = F.lit(_EP2) * cos1 * cos1
            t1 = tan1 * tan1
            one_minus = F.lit(1.0) - F.lit(_E2) * sin1 * sin1
            n1 = F.lit(UTM_A) / F.sqrt(one_minus)
            r1 = F.lit(UTM_A * (1.0 - _E2)) / F.pow(one_minus, 1.5)
            d = x / (n1 * F.lit(UTM_K0))
            lat = F.degrees(
                p1
                - (n1 * tan1 / r1)
                * (
                    d * d / 2.0
                    - (
                        F.lit(5.0)
                        + t1 * 3.0
                        + c1 * 10.0
                        - c1 * c1 * 4.0
                        - F.lit(9.0 * _EP2)
                    )
                    * F.pow(d, 4)
                    / 24.0
                    + (
                        F.lit(61.0)
                        + t1 * 90.0
                        + c1 * 298.0
                        + t1 * t1 * 45.0
                        - F.lit(252.0 * _EP2)
                        - c1 * c1 * 3.0
                    )
                    * F.pow(d, 6)
                    / 720.0
                )
            )
            lon = F.degrees(
                l0
                + (
                    d
                    - (F.lit(1.0) + t1 * 2.0 + c1) * F.pow(d, 3) / 6.0
                    + (
                        F.lit(5.0)
                        - c1 * 2.0
                        + t1 * 28.0
                        - c1 * c1 * 3.0
                        + F.lit(8.0 * _EP2)
                        + t1 * t1 * 24.0
                    )
                    * F.pow(d, 5)
                    / 120.0
                )
                / cos1
            )
            return F.struct(lon.alias("a"), lat.alias("b"))

        return _bind({"p1": phi1}, series)

    pair = _bind(
        {"e_": easting, "n_": northing - false_northing, "l0": lam0}, build
    )
    return pair["a"], pair["b"]


def lonlat_to_mercator(lon: Column, lat: Column) -> tuple[Column, Column]:
    x = F.radians(lon) * F.lit(WEB_MERCATOR_RADIUS)
    y = F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0))) * F.lit(
        WEB_MERCATOR_RADIUS
    )
    return x, y


def mercator_to_lonlat(x: Column, y: Column) -> tuple[Column, Column]:
    lon = F.degrees(x / F.lit(WEB_MERCATOR_RADIUS))
    lat = F.degrees(
        F.atan(F.exp(y / F.lit(WEB_MERCATOR_RADIUS))) * F.lit(2.0)
        - F.lit(math.pi / 2.0)
    )
    return lon, lat


def reproject_pixels(
    pixels: DataFrame,
    src_epsg: int,
    dst_epsg: int = WGS84,
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """P9 branch + F8 warp as a declarative plan: identity when the CRSs
    already match (the reference's gdalsrsinfo short-circuit), closed-form
    column math for 4326↔3857 and 4326↔UTM (326xx/327xx), loud failure
    otherwise."""
    if src_epsg == dst_epsg:
        return pixels
    if (src_epsg, dst_epsg) == (WEB_MERCATOR, WGS84):
        lon, lat = mercator_to_lonlat(F.col(x_col), F.col(y_col))
    elif (src_epsg, dst_epsg) == (WGS84, WEB_MERCATOR):
        lon, lat = lonlat_to_mercator(F.col(x_col), F.col(y_col))
    elif src_epsg == WGS84 and _is_utm(dst_epsg):
        zone, south = utm_params(dst_epsg)
        lon, lat = lonlat_to_utm(F.col(x_col), F.col(y_col), zone, south)
    elif dst_epsg == WGS84 and _is_utm(src_epsg):
        zone, south = utm_params(src_epsg)
        lon, lat = utm_to_lonlat(F.col(x_col), F.col(y_col), zone, south)
    elif src_epsg == WGS84 and dst_epsg in PROJECTION_REGISTRY:
        lon, lat = PROJECTION_REGISTRY[dst_epsg].forward(F.col(x_col), F.col(y_col))
    elif dst_epsg == WGS84 and src_epsg in PROJECTION_REGISTRY:
        lon, lat = PROJECTION_REGISTRY[src_epsg].inverse(F.col(x_col), F.col(y_col))
    else:
        raise NotImplementedError(
            f"EPSG:{src_epsg}→EPSG:{dst_epsg} needs pyproj (not in this "
            "container); 4326↔3857, 4326↔UTM-zone, and the registered "
            "LCC/Albers/sinusoidal/polar-stereographic/national-TM grids "
            "(functions/crs.PROJECTION_REGISTRY) are built-in closed forms"
        )
    # single withColumns: both outputs read the ORIGINAL x/y columns —
    # chained withColumn would feed the replaced x into the y expression
    # (the transverse-Mercator pair reads both inputs per output).
    return pixels.withColumns({x_col: lon, y_col: lat})


def _is_utm(epsg: int) -> bool:
    try:
        utm_params(epsg)
        return True
    except ValueError:
        return False


def standardize_crs(
    pixels: DataFrame, epsg_col: str = "src_epsg", dst_epsg: int = WGS84
) -> DataFrame:
    """Per-row CRS branch for mixed-CRS pixel tables (the batch module's
    per-raster probe, vectorized): rows already in ``dst_epsg`` pass
    through; Web Mercator, UTM-zone (326xx/327xx — the zone's central
    meridian and false northing are DERIVED FROM THE EPSG COLUMN, so a
    table mixing sixty zones converts with no per-zone branching), and
    every DATUM-FREE grid in ``PROJECTION_REGISTRY`` (LCC/Albers/polar/
    NZTM + explicit registrations) each get a predicate branch whose
    inverse runs ONLY for matching rows (CASE WHEN short-circuits in
    codegen) — anything else, including datum-shifted grids like OSGB
    27700 (whose Helmert chain is too large to embed per-row; route
    mixed estates through :func:`standardize_crs_datum`, or per-file
    through ``reproject_pixels``), fails the job loudly. One expression
    standardizes the union of an entire mixed-raster estate.

    The raise is woven into the lon/lat output expressions (unsupported
    rows fall through every WHEN branch into a raise_error OTHERWISE), so
    the guard survives column pruning — a standalone assertion column
    would be dropped by Catalyst as unused and never fire.

    Only ``dst_epsg=4326`` is implemented: every conversion branch
    produces lon/lat degrees, so any other target would silently stamp
    wrong data with the requested code — refuse it up front.
    """
    if dst_epsg != WGS84:
        raise ValueError(
            f"standardize_crs targets EPSG:4326 only, got dst_epsg={dst_epsg}"
        )
    is_dst = F.col(epsg_col) == dst_epsg
    is_merc = F.col(epsg_col) == WEB_MERCATOR
    is_utm_n = F.col(epsg_col).between(32601, 32660)
    is_utm_s = F.col(epsg_col).between(32701, 32760)
    lon_m, lat_m = mercator_to_lonlat(F.col("lon"), F.col("lat"))
    zone = F.when(is_utm_s, F.col(epsg_col) - 32700).otherwise(
        F.col(epsg_col) - 32600
    )
    lam0 = F.radians(zone.cast("double") * 6.0 - 183.0)
    fnorth = F.when(is_utm_s, F.lit(UTM_FALSE_NORTHING_SOUTH)).otherwise(F.lit(0.0))
    lon_u, lat_u = _utm_inverse(F.col("lon"), F.col("lat"), lam0, fnorth)
    # one branch per registered DATUM-FREE grid (sorted for a
    # deterministic plan); built at plan time, executed per row only when
    # the code matches. Datum-shifted grids (OSGB 27700: Helmert +
    # Bowring) are EXCLUDED on purpose: their inverse re-references the
    # unprojection tree enough times that embedding it twice (lon and
    # lat) inside this CASE multiplies the expression past what the
    # planner tolerates — those standardize per-file via
    # reproject_pixels, where the tree appears once.
    registry = [
        (code, proj.inverse(F.col("lon"), F.col("lat")))
        for code, proj in sorted(PROJECTION_REGISTRY.items())
        if getattr(proj, "helmert", None) is None
    ]
    # coalesce keeps the message non-NULL for NULL codes (concat with a
    # NULL operand is NULL, and raise_error(NULL) throws a contextless
    # "[USER_RAISED_EXCEPTION] null") — a NULL src_epsg must die as
    # loudly and legibly as an unregistered one
    boom = F.raise_error(
        F.concat(
            F.lit("unsupported src EPSG: "),
            F.coalesce(F.col(epsg_col).cast("string"), F.lit("NULL")),
        )
    ).cast("double")

    def pick(merc, utm, reg_idx, passthrough):
        # dst passthrough FIRST: a row already in the target must never
        # reach a conversion branch
        expr = (
            F.when(is_dst, passthrough)
            .when(is_merc, merc)
            .when(is_utm_n | is_utm_s, utm)
        )
        for code, pair in registry:
            expr = expr.when(F.col(epsg_col) == code, pair[reg_idx])
        return expr.otherwise(boom)

    return pixels.withColumns(
        {
            "lon": pick(lon_m, lon_u, 0, F.col("lon")),
            "lat": pick(lat_m, lat_u, 1, F.col("lat")),
        }
    ).withColumn(epsg_col, F.lit(dst_epsg))


# --- Lambert Conformal Conic (2SP), Snyder 1987 §15 ---------------------------
# The other projection family real national grids use (France Lambert-93,
# US State Plane, Canada LCC). Ellipsoidal 2-standard-parallel form; the
# projection constants (n, F, rho0) are scalars derived once in Python,
# so per-row math is a handful of transcendentals — pure column
# expressions, SQL-mirrorable like the UTM pair. Inverse latitude uses
# the standard fixed-point iteration, unrolled to a fixed 8 steps so the
# expression is deterministic and the oracle can unroll identically.

LCC_INV_ITERS = 8


class LambertConformalConic:
    """2SP Lambert Conformal Conic on an ellipsoid (a, f)."""

    def __init__(
        self,
        a: float,
        f: float,
        lat0: float,
        lat1: float,
        lat2: float,
        lon0: float,
        false_easting: float,
        false_northing: float,
    ):
        self.a, self.f = a, f
        self.lon0 = lon0
        self.fe, self.fn = false_easting, false_northing
        e2 = f * (2.0 - f)
        self.e = math.sqrt(e2)
        p0, p1, p2 = map(math.radians, (lat0, lat1, lat2))

        def m(phi: float) -> float:
            return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)

        def t(phi: float) -> float:
            es = self.e * math.sin(phi)
            return math.tan(math.pi / 4.0 - phi / 2.0) / (
                (1.0 - es) / (1.0 + es)
            ) ** (self.e / 2.0)

        self.n = (math.log(m(p1)) - math.log(m(p2))) / (
            math.log(t(p1)) - math.log(t(p2))
        )
        self.F = m(p1) / (self.n * t(p1) ** self.n)
        self.rho0 = a * self.F * t(p0) ** self.n

    def _t_col(self, lat: Column) -> Column:
        phi = F.radians(lat)
        es = F.lit(self.e) * F.sin(phi)
        return F.tan(F.lit(math.pi / 4.0) - phi / 2.0) / F.pow(
            (F.lit(1.0) - es) / (F.lit(1.0) + es), self.e / 2.0
        )

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        def build(lo, la):
            rho = F.lit(self.a * self.F) * F.pow(self._t_col(la), self.n)
            theta = F.lit(self.n) * (
                F.radians(lo) - F.lit(math.radians(self.lon0))
            )
            x = F.lit(self.fe) + rho * F.sin(theta)
            y = F.lit(self.fn) + F.lit(self.rho0) - rho * F.cos(theta)
            return F.struct(x.alias("a"), y.alias("b"))

        pair = _bind({"lo": lon, "la": lat}, build)
        return pair["a"], pair["b"]

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        def build(dx, dy):
            sign = 1.0 if self.n >= 0 else -1.0
            rho = F.lit(sign) * F.sqrt(dx * dx + dy * dy)
            theta = F.atan2(F.lit(sign) * dx, F.lit(sign) * dy)
            lon = F.degrees(
                theta / F.lit(self.n) + F.lit(math.radians(self.lon0))
            )

            def fixed_point(tp):
                # the same LCC_INV_ITERS sequential steps as the r13
                # unrolled loop, as a fold: ``tp`` and the running phi
                # are bound once per step instead of re-nesting the
                # whole predecessor tree per reference (2^iters copies)
                def step(phi, _x):
                    es = F.lit(self.e) * F.sin(phi)
                    return F.lit(math.pi / 2.0) - (
                        F.atan(
                            tp
                            * F.pow(
                                (F.lit(1.0) - es) / (F.lit(1.0) + es),
                                self.e / 2.0,
                            )
                        )
                        * 2.0
                    )

                phi0 = F.lit(math.pi / 2.0) - F.atan(tp) * 2.0
                return F.aggregate(
                    F.array_repeat(F.lit(0), LCC_INV_ITERS),
                    phi0.cast("double"),
                    step,
                )

            phi = _bind(
                {"tp": F.pow(rho / F.lit(self.a * self.F), 1.0 / self.n)},
                fixed_point,
            )
            return F.struct(lon.alias("a"), F.degrees(phi).alias("b"))

        pair = _bind(
            {"dx": x - F.lit(self.fe), "dy": F.lit(self.rho0) - (y - F.lit(self.fn))},
            build,
        )
        return pair["a"], pair["b"]


# GRS80 ellipsoid; EPSG:2154 (RGF93 / Lambert-93), the French national grid.
GRS80_A = 6378137.0
GRS80_F = 1.0 / 298.257222101
LAMBERT93 = LambertConformalConic(
    a=GRS80_A, f=GRS80_F, lat0=46.5, lat1=44.0, lat2=49.0,
    lon0=3.0, false_easting=700000.0, false_northing=6600000.0,
)
LCC_PROJECTIONS = {2154: LAMBERT93}


# --- Albers Equal-Area Conic (2SP), Snyder 1987 §14 ---------------------------
# The standard CRS for US CONUS rasters (EPSG:5070, NAD83 / Conus Albers
# — NLCD, LANDFIRE, gNATSGO all ship in it), so it's the single most
# likely "unsupported EPSG" a real user hits after UTM. Ellipsoidal 2SP;
# constants (n, C, rho0) derive once in Python, per-row math is pure
# column expressions like the LCC/UTM pairs. NAD83≈WGS-84 at the
# sub-meter level (the usual operational equivalence; the reference's
# gdalwarp applies no datum shift for this pair either). Inverse
# latitude uses the CLOSED-FORM authalic-latitude series (Snyder eq.
# 3-18) rather than the eq. 3-16 fixed point: an unrolled iteration
# re-nests phi ~10x per step and the Column expression tree grows
# exponentially (8 steps OOMed the planner); the series is one asin +
# three sin terms, error O(e^8) ≈ 2e-9 rad ≈ 1 cm — and the SQL oracle
# mirrors it term for term.


class AlbersEqualArea:
    """2SP Albers equal-area conic on an ellipsoid (a, f)."""

    def __init__(
        self,
        a: float,
        f: float,
        lat0: float,
        lat1: float,
        lat2: float,
        lon0: float,
        false_easting: float,
        false_northing: float,
    ):
        self.a, self.f = a, f
        self.lon0 = lon0
        self.fe, self.fn = false_easting, false_northing
        e2 = f * (2.0 - f)
        self.e2 = e2
        self.e = math.sqrt(e2)
        p0, p1, p2 = map(math.radians, (lat0, lat1, lat2))

        def m(phi: float) -> float:
            return math.cos(phi) / math.sqrt(1.0 - e2 * math.sin(phi) ** 2)

        def q(phi: float) -> float:
            s = math.sin(phi)
            return (1.0 - e2) * (
                s / (1.0 - e2 * s * s)
                - (1.0 / (2.0 * self.e))
                * math.log((1.0 - self.e * s) / (1.0 + self.e * s))
            )

        self.n = (m(p1) ** 2 - m(p2) ** 2) / (q(p2) - q(p1))
        self.C = m(p1) ** 2 + self.n * q(p1)
        self.rho0 = a * math.sqrt(self.C - self.n * q(p0)) / self.n
        # authalic-latitude constants (Snyder eq. 3-12 / 3-18)
        self.qp = q(math.pi / 2.0)  # q at the pole
        e4, e6 = e2 * e2, e2 * e2 * e2
        self.b2 = e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0
        self.b4 = 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0
        self.b6 = 761.0 * e6 / 45360.0

    def _q_col(self, phi: Column) -> Column:
        s = F.sin(phi)
        return F.lit(1.0 - self.e2) * (
            s / (F.lit(1.0) - F.lit(self.e2) * s * s)
            - F.lit(1.0 / (2.0 * self.e))
            * F.log((F.lit(1.0) - F.lit(self.e) * s) / (F.lit(1.0) + F.lit(self.e) * s))
        )

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        def build(lo, la):
            phi = F.radians(la)
            rho = (
                F.lit(self.a)
                * F.sqrt(F.lit(self.C) - F.lit(self.n) * self._q_col(phi))
                / F.lit(self.n)
            )
            theta = F.lit(self.n) * (
                F.radians(lo) - F.lit(math.radians(self.lon0))
            )
            x = F.lit(self.fe) + rho * F.sin(theta)
            y = F.lit(self.fn) + F.lit(self.rho0) - rho * F.cos(theta)
            return F.struct(x.alias("a"), y.alias("b"))

        pair = _bind({"lo": lon, "la": lat}, build)
        return pair["a"], pair["b"]

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        def build(dx, dy):
            sign = 1.0 if self.n >= 0 else -1.0
            rho = F.lit(sign) * F.sqrt(dx * dx + dy * dy)
            qv = (
                F.lit(self.C)
                - rho * rho * F.lit(self.n * self.n) / F.lit(self.a * self.a)
            ) / F.lit(self.n)
            theta = F.atan2(F.lit(sign) * dx, F.lit(sign) * dy)
            lon = F.degrees(
                theta / F.lit(self.n) + F.lit(math.radians(self.lon0))
            )

            # authalic latitude beta -> geodetic phi, closed form (Snyder
            # 3-18); clamp q/qp against float drift past +-1 at the poles
            def series(beta):
                phi = (
                    beta
                    + F.lit(self.b2) * F.sin(beta * 2.0)
                    + F.lit(self.b4) * F.sin(beta * 4.0)
                    + F.lit(self.b6) * F.sin(beta * 6.0)
                )
                return phi

            phi = _bind(
                {
                    "beta": F.asin(
                        F.greatest(
                            F.lit(-1.0),
                            F.least(F.lit(1.0), qv / F.lit(self.qp)),
                        )
                    )
                },
                series,
            )
            return F.struct(lon.alias("a"), F.degrees(phi).alias("b"))

        pair = _bind(
            {"dx": x - F.lit(self.fe), "dy": F.lit(self.rho0) - (y - F.lit(self.fn))},
            build,
        )
        return pair["a"], pair["b"]


# EPSG:5070 — NAD83 / Conus Albers (GRS80; the Snyder §14 CONUS parallels)
CONUS_ALBERS = AlbersEqualArea(
    a=GRS80_A, f=GRS80_F, lat0=23.0, lat1=29.5, lat2=45.5,
    lon0=-96.0, false_easting=0.0, false_northing=0.0,
)
ALBERS_PROJECTIONS = {5070: CONUS_ALBERS}


# --- Sinusoidal (Sanson-Flamsteed), Snyder 1987 §30 ----------------------------
# The MODIS land-product grid (the other big foreign-raster family):
# spherical, equal-area, trivially closed-form both ways.
#     x = R (λ − λ0) cos φ        λ = λ0 + x / (R cos φ)
#     y = R φ                     φ = y / R


class Sinusoidal:
    """Spherical sinusoidal projection of radius R (meters)."""

    def __init__(self, radius: float, lon0: float = 0.0,
                 false_easting: float = 0.0, false_northing: float = 0.0):
        self.r = radius
        self.lon0 = lon0
        self.fe, self.fn = false_easting, false_northing

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        phi = F.radians(lat)
        x = F.lit(self.fe) + F.lit(self.r) * (
            F.radians(lon) - F.lit(math.radians(self.lon0))
        ) * F.cos(phi)
        y = F.lit(self.fn) + F.lit(self.r) * phi
        return x, y

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        phi = (y - F.lit(self.fn)) / F.lit(self.r)
        lon = F.degrees(
            F.lit(math.radians(self.lon0))
            + (x - F.lit(self.fe)) / (F.lit(self.r) * F.cos(phi))
        )
        return lon, F.degrees(phi)


# MODIS sinusoidal sphere R = 6371007.181 m (the MOD* HDF grids) and the
# ESRI World_Sinusoidal authalic sphere used by legacy ArcGIS exports.
# NEITHER carries a true EPSG code (the de-facto tags are SR-ORG:6974
# and ESRI:53008 — different authority namespaces whose numbers collide
# with real EPSG allocations), so they are NOT pre-registered: a dataset
# genuinely tagged with the EPSG-registry CRS 6974 must fail loudly, not
# silently reproject through a MODIS sphere. Callers with MODIS/ESRI
# estates opt in explicitly:
#     crs.register_projection(6974, crs.MODIS_SINUSOIDAL)
# mirroring how GDAL needs the MODIS WKT supplied for these products.
MODIS_SINUSOIDAL = Sinusoidal(radius=6371007.181)
WORLD_SINUSOIDAL = Sinusoidal(radius=6371000.0)


# --- Polar Stereographic (variant B), Snyder 1987 §21 / EPSG method 9829 ------
# The polar-data distribution standard: EPSG:3413 (NSIDC Sea Ice North —
# every NSIDC sea-ice/Greenland product), EPSG:3976 (NSIDC South) and
# EPSG:3031 (Antarctic Polar Stereographic — REMA, MEaSUREs, BedMachine).
# After Albers and sinusoidal this is the remaining high-frequency
# "unsupported EPSG" a real mixed-raster estate hits; the reference reads
# them via gdalwarp universality (batch/processing/raster.py:22-29).
# Ellipsoidal, standard-parallel form; the inverse latitude uses the
# closed-form conformal-latitude series (Snyder eq. 3-5) for the same
# planner-size reason as Albers' authalic series: no fixed-point nesting.

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563


class PolarStereographic:
    """Polar stereographic (variant B: standard parallel) on an
    ellipsoid (a, f). ``lat_ts`` signs the aspect: >0 north, <0 south."""

    def __init__(
        self,
        a: float,
        f: float,
        lat_ts: float,
        lon0: float,
        false_easting: float = 0.0,
        false_northing: float = 0.0,
    ):
        if lat_ts == 0.0:
            raise ValueError("lat_ts must be nonzero (signed: >0 N, <0 S)")
        self.a, self.f = a, f
        self.lon0 = lon0
        self.fe, self.fn = false_easting, false_northing
        self.south = lat_ts < 0.0
        e2 = f * (2.0 - f)
        self.e2, self.e = e2, math.sqrt(e2)
        phi_f = math.radians(abs(lat_ts))
        # mF at the standard parallel; tF via the (north-aspect) t —
        # the south case runs the identical math on mirrored latitude
        self.mf = math.cos(phi_f) / math.sqrt(1.0 - e2 * math.sin(phi_f) ** 2)
        self.tf = self._t_py(phi_f)
        # ρ = a·mF·t/tF ⇒ one scale constant k = a·mF/tF
        self.k = a * self.mf / self.tf
        # conformal-latitude series (Snyder eq. 3-5)
        e4, e6, e8 = e2 * e2, e2 ** 3, e2 ** 4
        self.c2 = e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0
        self.c4 = 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0
        self.c6 = 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0
        self.c8 = 4279.0 * e8 / 161280.0

    def _t_py(self, phi: float) -> float:
        es = self.e * math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - es) / (1.0 + es)
        ) ** (self.e / 2.0)

    def _t_col(self, phi: Column) -> Column:
        es = F.lit(self.e) * F.sin(phi)
        return F.tan(F.lit(math.pi / 4.0) - phi / 2.0) / F.pow(
            (F.lit(1.0) - es) / (F.lit(1.0) + es), F.lit(self.e / 2.0)
        )

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        # south aspect = north formulas on (−φ, −(λ−λ0)), axes negated:
        # x_s(φ,λ) = −x_n(−φ, −(λ−λ0)), y_s = −y_n — folded via sign s
        s = -1.0 if self.south else 1.0

        def build(lo, la):
            phi = F.radians(la) * F.lit(s)
            dlam = (F.radians(lo) - F.lit(math.radians(self.lon0))) * F.lit(s)
            rho = F.lit(self.k) * self._t_col(phi)
            x = F.lit(self.fe) + F.lit(s) * rho * F.sin(dlam)
            y = F.lit(self.fn) - F.lit(s) * rho * F.cos(dlam)
            return F.struct(x.alias("a"), y.alias("b"))

        pair = _bind({"lo": lon, "la": lat}, build)
        return pair["a"], pair["b"]

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        s = -1.0 if self.south else 1.0

        def build(dx, dy):
            rho = F.sqrt(dx * dx + dy * dy)
            t = rho / F.lit(self.k)

            def series(chi):
                return (
                    chi
                    + F.lit(self.c2) * F.sin(chi * 2.0)
                    + F.lit(self.c4) * F.sin(chi * 4.0)
                    + F.lit(self.c6) * F.sin(chi * 6.0)
                    + F.lit(self.c8) * F.sin(chi * 8.0)
                )

            phi = _bind(
                {"chi": F.lit(math.pi / 2.0) - F.atan(t) * 2.0}, series
            )
            lam = F.atan2(dx, dy) * F.lit(s) + F.lit(math.radians(self.lon0))
            # wrap to [−180, 180): the south-aspect sign flip plus a
            # nonzero λ0 can push atan2's (−π, π] result out of range
            # (e.g. λ0=−100, point at 150E comes back as −210 without
            # the wrap)
            two_pi = F.lit(2.0 * math.pi)
            lam = lam - two_pi * F.floor((lam + F.lit(math.pi)) / two_pi)
            return F.struct(
                F.degrees(lam).alias("a"),
                (F.degrees(phi) * F.lit(s)).alias("b"),
            )

        pair = _bind(
            {
                "dx": (x - F.lit(self.fe)) * F.lit(s),
                "dy": (F.lit(self.fn) - y) * F.lit(s),
            },
            build,
        )
        return pair["a"], pair["b"]


# EPSG:3413 — WGS 84 / NSIDC Sea Ice Polar Stereographic North
NSIDC_NORTH = PolarStereographic(
    a=WGS84_A, f=WGS84_F, lat_ts=70.0, lon0=-45.0
)
# EPSG:3976 — WGS 84 / NSIDC Sea Ice Polar Stereographic South
NSIDC_SOUTH = PolarStereographic(a=WGS84_A, f=WGS84_F, lat_ts=-70.0, lon0=0.0)
# EPSG:3031 — WGS 84 / Antarctic Polar Stereographic
ANTARCTIC_PS = PolarStereographic(a=WGS84_A, f=WGS84_F, lat_ts=-71.0, lon0=0.0)
POLAR_PROJECTIONS = {3413: NSIDC_NORTH, 3976: NSIDC_SOUTH, 3031: ANTARCTIC_PS}

# --- Transverse Mercator (arbitrary parameters), Snyder 1987 §8 ---------------
# Generalizes the UTM core's fixed (k0=0.9996, lat0=0, FE=500 km,
# WGS-84) parameters to the national TM grids real estates carry:
# OSGB EPSG:27700 (Airy 1830, k0=0.9996012717, origin 49N 2W),
# NZTM EPSG:2193 (GRS80, lon0=173E), US State Plane TM zones. The
# reference reads all of them via gdalwarp universality
# (batch/processing/raster.py:22-29). Same Snyder/Redfearn series as
# the UTM pair — the new terms are the meridian-arc origin offset
# M0 = M(lat0) and the free (k0, FE, FN).
#
# Grids on a non-WGS-84 DATUM (OSGB36) additionally carry a 7-parameter
# Helmert (position-vector convention, the published OS set), applied
# geocentrically at h=0 — the same 2-D treatment gdalwarp gives rasters.
# Residual vs the true OSTN15 grid shift is the published ~2 m, far
# under a 30 m pixel. The reverse shift uses the algebraic near-inverse
# (transposed rotation / (1+s)); its second-order error is ~(4 µrad)²·R
# ≈ 0.1 µm — unobservable.



class TransverseMercator:
    """Transverse Mercator on an ellipsoid (a, f) with arbitrary
    (k0, lat0, lon0, FE, FN). ``wgs84_helmert`` (tx, ty, tz in m;
    rx, ry, rz in arc-seconds; ds in ppm) is the WGS84→datum shift for
    grids not on WGS-84; forward/inverse then include it, while
    ``project``/``unproject`` stay projection-only (the form the EPSG /
    OS worked examples pin)."""

    def __init__(
        self,
        a: float,
        f: float,
        k0: float,
        lat0: float,
        lon0: float,
        false_easting: float,
        false_northing: float,
        wgs84_helmert: tuple[float, ...] | None = None,
    ):
        self.a, self.f, self.k0 = a, f, k0
        self.lat0, self.lon0 = lat0, lon0
        self.fe, self.fn = false_easting, false_northing
        e2 = f * (2.0 - f)
        self.e2, self.ep2 = e2, e2 / (1.0 - e2)
        # meridian-arc series (same closed form as the UTM block above,
        # evaluated on THIS ellipsoid)
        self.m0c = 1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0
        self.m2c = 3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0
        self.m4c = 15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0
        self.m6c = 35.0 * e2**3 / 3072.0
        self.m0_arc = self._meridian_arc_py(math.radians(lat0))
        e1 = (1.0 - math.sqrt(1.0 - e2)) / (1.0 + math.sqrt(1.0 - e2))
        self.p2 = 3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0
        self.p4 = 21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0
        self.p6 = 151.0 * e1**3 / 96.0
        self.p8 = 1097.0 * e1**4 / 512.0
        if wgs84_helmert is not None and len(wgs84_helmert) != 7:
            raise ValueError("wgs84_helmert is (tx, ty, tz, rx″, ry″, rz″, ds_ppm)")
        self.helmert = wgs84_helmert

    def _meridian_arc_py(self, phi: float) -> float:
        return self.a * (
            self.m0c * phi
            - self.m2c * math.sin(2.0 * phi)
            + self.m4c * math.sin(4.0 * phi)
            - self.m6c * math.sin(6.0 * phi)
        )

    # --- projection-only legs (EPSG method 9807) ---

    def project(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        pair = _bind({"lo": lon, "la": lat}, self._project_struct)
        return pair["a"], pair["b"]

    def _project_struct(self, lo: Column, la: Column) -> Column:
        lon, lat = lo, la
        phi = F.radians(lat)
        sinp, cosp, tanp = F.sin(phi), F.cos(phi), F.tan(phi)
        nu = F.lit(self.a) / F.sqrt(F.lit(1.0) - F.lit(self.e2) * sinp * sinp)
        t = tanp * tanp
        c = F.lit(self.ep2) * cosp * cosp
        aa = (F.radians(lon) - F.lit(math.radians(self.lon0))) * cosp
        m = F.lit(self.a) * (
            F.lit(self.m0c) * phi
            - F.lit(self.m2c) * F.sin(phi * 2.0)
            + F.lit(self.m4c) * F.sin(phi * 4.0)
            - F.lit(self.m6c) * F.sin(phi * 6.0)
        )
        x = F.lit(self.fe) + F.lit(self.k0) * nu * (
            aa
            + (F.lit(1.0) - t + c) * F.pow(aa, 3) / 6.0
            + (F.lit(5.0) - t * 18.0 + t * t + c * 72.0 - F.lit(58.0 * self.ep2))
            * F.pow(aa, 5)
            / 120.0
        )
        y = F.lit(self.fn) + F.lit(self.k0) * (
            m
            - F.lit(self.m0_arc)
            + nu
            * tanp
            * (
                aa * aa / 2.0
                + (F.lit(5.0) - t + c * 9.0 + c * c * 4.0) * F.pow(aa, 4) / 24.0
                + (
                    F.lit(61.0)
                    - t * 58.0
                    + t * t
                    + c * 600.0
                    - F.lit(330.0 * self.ep2)
                )
                * F.pow(aa, 6)
                / 720.0
            )
        )
        return F.struct(x.alias("a"), y.alias("b"))

    def unproject(self, x: Column, y: Column) -> tuple[Column, Column]:
        def build(x_, y_):
            mu = (
                F.lit(self.m0_arc) + (y_ - F.lit(self.fn)) / F.lit(self.k0)
            ) / F.lit(self.a * self.m0c)
            phi1 = (
                mu
                + F.lit(self.p2) * F.sin(mu * 2.0)
                + F.lit(self.p4) * F.sin(mu * 4.0)
                + F.lit(self.p6) * F.sin(mu * 6.0)
                + F.lit(self.p8) * F.sin(mu * 8.0)
            )

            def series(p1):
                sin1, cos1, tan1 = F.sin(p1), F.cos(p1), F.tan(p1)
                c1 = F.lit(self.ep2) * cos1 * cos1
                t1 = tan1 * tan1
                one_minus = F.lit(1.0) - F.lit(self.e2) * sin1 * sin1
                n1 = F.lit(self.a) / F.sqrt(one_minus)
                r1 = F.lit(self.a * (1.0 - self.e2)) / F.pow(one_minus, 1.5)
                d = (x_ - F.lit(self.fe)) / (n1 * F.lit(self.k0))
                lat = F.degrees(
                    p1
                    - (n1 * tan1 / r1)
                    * (
                        d * d / 2.0
                        - (
                            F.lit(5.0)
                            + t1 * 3.0
                            + c1 * 10.0
                            - c1 * c1 * 4.0
                            - F.lit(9.0 * self.ep2)
                        )
                        * F.pow(d, 4)
                        / 24.0
                        + (
                            F.lit(61.0)
                            + t1 * 90.0
                            + c1 * 298.0
                            + t1 * t1 * 45.0
                            - F.lit(252.0 * self.ep2)
                            - c1 * c1 * 3.0
                        )
                        * F.pow(d, 6)
                        / 720.0
                    )
                )
                lon = F.degrees(
                    F.lit(math.radians(self.lon0))
                    + (
                        d
                        - (F.lit(1.0) + t1 * 2.0 + c1) * F.pow(d, 3) / 6.0
                        + (
                            F.lit(5.0)
                            - c1 * 2.0
                            + t1 * 28.0
                            - c1 * c1 * 3.0
                            + F.lit(8.0 * self.ep2)
                            + t1 * t1 * 24.0
                        )
                        * F.pow(d, 5)
                        / 120.0
                    )
                    / cos1
                )
                return F.struct(lon.alias("a"), lat.alias("b"))

            return _bind({"p1": phi1}, series)

        pair = _bind({"x_": x, "y_": y}, build)
        return pair["a"], pair["b"]

    # --- datum legs (7-param Helmert, position-vector, h=0) ---

    def _datum_to(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        """WGS-84 geodetic → this datum's geodetic (h = 0)."""
        return _datum_to_cols(self, lon, lat)

    def _datum_from(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        """This datum's geodetic → WGS-84 (algebraic near-inverse)."""
        return _datum_from_cols(self, lon, lat)

    def inverse_np(self, x, y):
        """numpy twin of inverse — the Arrow-kernel entry point for
        :func:`standardize_crs_datum` (shared shape with Krovak)."""
        lon, lat = _tm_unproject_np(self, x, y)
        if self.helmert is not None:
            lon, lat = _datum_from_np(self, lon, lat)
        return lon, lat

    @staticmethod
    def _geocentric_to_geodetic(
        x: Column, y: Column, z: Column, a: float, e2: float
    ) -> tuple[Column, Column]:
        pair = TransverseMercator._geocentric_to_geodetic_struct(x, y, z, a, e2)
        return pair["a"], pair["b"]

    @staticmethod
    def _geocentric_to_geodetic_struct(
        x: Column, y: Column, z: Column, a: float, e2: float
    ) -> Column:
        # Bowring's closed form (Bowring 1976, the standard non-iterative
        # geocentric→geodetic): θ = atan2(z·a, p·b), then
        # φ = atan2(z + e′²·b·sin³θ, p − e²·a·cos³θ). Exact to <1e-12 rad
        # for h≈0 points (ours are, by construction). Closed-form on
        # purpose: an unrolled fixed-point nested inside the projection
        # series multiplies the expression tree past what the planner
        # tolerates — the same reason the LCC/Albers inverses use series.
        b = a * math.sqrt(1.0 - e2)
        ep2 = e2 / (1.0 - e2)

        def build(xg, yg, zg):
            lam = F.atan2(yg, xg)

            def with_p(p):
                def with_theta(th):
                    def with_trig(st, ct):
                        phi = F.atan2(
                            zg + F.lit(ep2 * b) * st * st * st,
                            p - F.lit(e2 * a) * ct * ct * ct,
                        )
                        return F.struct(
                            F.degrees(lam).alias("a"), F.degrees(phi).alias("b")
                        )

                    return _bind(
                        {"st": F.sin(th), "ct": F.cos(th)}, with_trig
                    )

                return _bind(
                    {"th": F.atan2(zg * F.lit(a), p * F.lit(b))}, with_theta
                )

            return _bind({"p": F.sqrt(xg * xg + yg * yg)}, with_p)

        return _bind({"xg": x, "yg": y, "zg": z}, build)

    # --- registry entry points (WGS-84 in/out) ---

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        if self.helmert is not None:
            lon, lat = self._datum_to(lon, lat)
        return self.project(lon, lat)

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        lon, lat = self.unproject(x, y)
        if self.helmert is not None:
            lon, lat = self._datum_from(lon, lat)
        return lon, lat


# --- shared 7-param Helmert datum legs (column forms) --------------------------
# Shared by every datum-shifted projection family (TM national grids,
# Krovak): the projection object supplies (a, e2, helmert); the math is
# geodetic → geocentric → position-vector Helmert → Bowring.


def _datum_to_cols(P, lon: Column, lat: Column) -> tuple[Column, Column]:
    """WGS-84 geodetic → P's datum geodetic (h = 0)."""
    tx, ty, tz, rxs, rys, rzs, ds = P.helmert
    rx, ry, rz = (math.radians(v / 3600.0) for v in (rxs, rys, rzs))
    s = 1.0 + ds * 1e-6
    ew2 = WGS84_F * (2.0 - WGS84_F)

    def build(phi, lam):
        def with_trig(sinp, cosp):
            def with_nu(nu):
                def with_geoc(xg, yg, zg):
                    xt = F.lit(tx) + F.lit(s) * (
                        xg - F.lit(rz) * yg + F.lit(ry) * zg
                    )
                    yt = F.lit(ty) + F.lit(s) * (
                        F.lit(rz) * xg + yg - F.lit(rx) * zg
                    )
                    zt = F.lit(tz) + F.lit(s) * (
                        -F.lit(ry) * xg + F.lit(rx) * yg + zg
                    )
                    return TransverseMercator._geocentric_to_geodetic_struct(
                        xt, yt, zt, P.a, P.e2
                    )

                return _bind(
                    {
                        "xg": nu * cosp * F.cos(lam),
                        "yg": nu * cosp * F.sin(lam),
                        "zg": nu * F.lit(1.0 - ew2) * sinp,
                    },
                    with_geoc,
                )

            return _bind(
                {
                    "nu": F.lit(WGS84_A)
                    / F.sqrt(F.lit(1.0) - F.lit(ew2) * sinp * sinp)
                },
                with_nu,
            )

        return _bind({"sinp": F.sin(phi), "cosp": F.cos(phi)}, with_trig)

    pair = _bind({"phi": F.radians(lat), "lam": F.radians(lon)}, build)
    return pair["a"], pair["b"]


def _datum_from_cols(P, lon: Column, lat: Column) -> tuple[Column, Column]:
    """P's datum geodetic → WGS-84 (algebraic near-inverse)."""
    tx, ty, tz, rxs, rys, rzs, ds = P.helmert
    rx, ry, rz = (math.radians(v / 3600.0) for v in (rxs, rys, rzs))
    inv_s = 1.0 / (1.0 + ds * 1e-6)
    ew2 = WGS84_F * (2.0 - WGS84_F)

    def build(phi, lam):
        def with_trig(sinp, cosp):
            def with_nu(nu):
                def with_shift(xt, yt, zt):
                    xg = F.lit(inv_s) * (
                        xt + F.lit(rz) * yt - F.lit(ry) * zt
                    )
                    yg = F.lit(inv_s) * (
                        -F.lit(rz) * xt + yt + F.lit(rx) * zt
                    )
                    zg = F.lit(inv_s) * (
                        F.lit(ry) * xt - F.lit(rx) * yt + zt
                    )
                    return TransverseMercator._geocentric_to_geodetic_struct(
                        xg, yg, zg, WGS84_A, ew2
                    )

                return _bind(
                    {
                        "xt": nu * cosp * F.cos(lam) - F.lit(tx),
                        "yt": nu * cosp * F.sin(lam) - F.lit(ty),
                        "zt": nu * F.lit(1.0 - P.e2) * sinp - F.lit(tz),
                    },
                    with_shift,
                )

            return _bind(
                {
                    "nu": F.lit(P.a)
                    / F.sqrt(F.lit(1.0) - F.lit(P.e2) * sinp * sinp)
                },
                with_nu,
            )

        return _bind({"sinp": F.sin(phi), "cosp": F.cos(phi)}, with_trig)

    pair = _bind({"phi": F.radians(lat), "lam": F.radians(lon)}, build)
    return pair["a"], pair["b"]


AIRY_A = 6377563.396
AIRY_F = 1.0 / 299.3249646
GRS80_F = 1.0 / 298.257222101

# EPSG:27700 — OSGB36 / British National Grid (Airy 1830; the published
# OS 7-parameter WGS84→OSGB36 Helmert, "A guide to coordinate systems
# in Great Britain" Annex — ~2 m vs OSTN15)
OSGB_NATIONAL_GRID = TransverseMercator(
    a=AIRY_A,
    f=AIRY_F,
    k0=0.9996012717,
    lat0=49.0,
    lon0=-2.0,
    false_easting=400000.0,
    false_northing=-100000.0,
    wgs84_helmert=(-446.448, 125.157, -542.060, -0.1502, -0.2470, -0.8421, 20.4894),
)
# EPSG:2193 — NZGD2000 / New Zealand Transverse Mercator (GRS80;
# NZGD2000 is WGS-84-coincident at this precision, no datum shift)
NZTM2000 = TransverseMercator(
    a=WGS84_A,
    f=GRS80_F,
    k0=0.9996,
    lat0=0.0,
    lon0=173.0,
    false_easting=1600000.0,
    false_northing=10000000.0,
)
# EPSG:29902 — TM65 / Irish Grid (Airy Modified 1849: same flattening
# as Airy 1830, rescaled semi-major). Helmert is EPSG transformation
# 1641 "TM65 to WGS 84 (2)" INVERTED sign-for-sign to our stored
# WGS84→datum direction (position-vector convention; the sub-mm
# non-closure of negating a 7-param set is far below the set's own
# ~1 m accuracy).
AIRY_MOD_A = 6377340.189
IRISH_GRID = TransverseMercator(
    a=AIRY_MOD_A,
    f=AIRY_F,
    k0=1.000035,
    lat0=53.5,
    lon0=-8.0,
    false_easting=200000.0,
    false_northing=250000.0,
    wgs84_helmert=(-482.530, 130.596, -564.557, 1.042, 0.214, 0.631, -8.150),
)
TM_PROJECTIONS = {27700: OSGB_NATIONAL_GRID, 2193: NZTM2000, 29902: IRISH_GRID}


# --- Krovak oblique conformal conic (EPSG method 9819 / 1041) -----------------

class Krovak:
    """Krovak oblique conformal conic in the East-North orientation
    (EPSG method 1041: easting = −westing, northing = −southing, so
    EPSG:5514 coordinates are negative). Gaussian sphere + oblique cone
    per EPSG Guidance Note 7-2; constants derive once in Python, the
    per-row math is pure column expressions like the LCC/polar
    families. The inverse latitude is CLOSED FORM, not the EPSG
    fixed-point: ``tan(U/2+π/4) = t0·τ(φ)^B`` with ``τ`` the conformal
    latitude function, so χ = 2·atan(t0^(−1/B)·tan^(1/B)(U/2+π/4)) −
    π/2 is the exact conformal latitude and φ follows from the
    standard χ→φ trigonometric series (Snyder eq. 3-5; error ~e¹⁰).
    Unrolling the fixed point instead duplicates the whole U-tree
    2^k times and hangs Catalyst planning — the same hazard the
    meridian-arc series comment documents for LCC.

    ``wgs84_helmert`` is the WGS84→datum shift in the same convention
    as :class:`TransverseMercator` (position vector; tx ty tz m,
    rx ry rz arc-seconds, ds ppm).
    """

    def __init__(
        self,
        a: float,
        f: float,
        lat_center: float,
        lon_origin_greenwich: float,
        azimuth: float,
        lat_pseudo: float,
        k_pseudo: float,
        wgs84_helmert: tuple[float, ...] | None = None,
    ):
        self.a, self.f = a, f
        e2 = f * (2.0 - f)
        self.e2 = e2
        self.e = math.sqrt(e2)
        phic = math.radians(lat_center)
        self.lon0 = lon_origin_greenwich
        self.lam0 = math.radians(lon_origin_greenwich)
        self.alphac = math.radians(azimuth)
        phip = math.radians(lat_pseudo)
        self.A_ = (
            a * math.sqrt(1.0 - e2) / (1.0 - e2 * math.sin(phic) ** 2)
        )
        self.B = math.sqrt(1.0 + e2 * math.cos(phic) ** 4 / (1.0 - e2))
        self.gamma0 = math.asin(math.sin(phic) / self.B)
        self.t0 = (
            math.tan(math.pi / 4.0 + self.gamma0 / 2.0)
            * ((1.0 + self.e * math.sin(phic)) / (1.0 - self.e * math.sin(phic)))
            ** (self.e * self.B / 2.0)
            / math.tan(math.pi / 4.0 + phic / 2.0) ** self.B
        )
        self.n = math.sin(phip)
        self.r0 = k_pseudo * self.A_ / math.tan(phip)
        # scalar factors reused per row
        self.tan_p = math.tan(math.pi / 4.0 + phip / 2.0)
        self.inv_b = 1.0 / self.B
        self.c_lat = self.t0 ** (-self.inv_b)
        # conformal→geodetic series coefficients (Snyder eq. 3-5)
        e4, e6, e8 = e2 * e2, e2**3, e2**4
        self.d2 = e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0
        self.d4 = 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0
        self.d6 = 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0
        self.d8 = 4279.0 * e8 / 161280.0
        if wgs84_helmert is not None and len(wgs84_helmert) != 7:
            raise ValueError("wgs84_helmert is (tx, ty, tz, rx″, ry″, rz″, ds_ppm)")
        self.helmert = wgs84_helmert

    # --- projection-only legs (datum geodetic in/out) ---

    def project(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        def build(lo, la):
            phi = F.radians(la)

            def with_esin(esin):
                return (
                    F.atan(
                        F.lit(self.t0)
                        * F.pow(F.tan(phi / 2.0 + math.pi / 4.0), F.lit(self.B))
                        / F.pow(
                            (F.lit(1.0) + esin) / (F.lit(1.0) - esin),
                            F.lit(self.e * self.B / 2.0),
                        )
                    )
                    - F.lit(math.pi / 4.0)
                ) * 2.0

            u_expr = _bind({"esin": F.lit(self.e) * F.sin(phi)}, with_esin)
            v_expr = F.lit(self.B) * (F.lit(self.lam0) - F.radians(lo))

            def with_uv(u, v):
                def with_t(t):
                    d = F.asin(F.cos(u) * F.sin(v) / F.cos(t))
                    theta = F.lit(self.n) * d
                    r = (
                        F.lit(self.r0)
                        * F.lit(self.tan_p**self.n)
                        / F.pow(F.tan(t / 2.0 + math.pi / 4.0), F.lit(self.n))
                    )
                    southing = r * F.cos(theta)
                    westing = r * F.sin(theta)
                    # East-North orientation
                    return F.struct(
                        (-westing).alias("a"), (-southing).alias("b")
                    )

                return _bind(
                    {
                        "t": F.asin(
                            F.lit(math.cos(self.alphac)) * F.sin(u)
                            + F.lit(math.sin(self.alphac))
                            * F.cos(u)
                            * F.cos(v)
                        )
                    },
                    with_t,
                )

            return _bind({"u": u_expr, "v": v_expr}, with_uv)

        pair = _bind({"lo": lon, "la": lat}, build)
        return pair["a"], pair["b"]

    def unproject(self, x: Column, y: Column) -> tuple[Column, Column]:
        def build(xp, yp):
            rp = F.sqrt(xp * xp + yp * yp)
            thetap = F.atan2(yp, xp)
            dp = thetap / F.lit(self.n)
            tp_expr = (
                F.atan(
                    F.pow(F.lit(self.r0) / rp, F.lit(1.0 / self.n))
                    * F.lit(self.tan_p)
                )
                - F.lit(math.pi / 4.0)
            ) * 2.0

            def with_tp(tp):
                def with_up(up):
                    vp = F.cos(tp) * F.sin(dp) / F.cos(up)
                    lon = F.degrees(
                        F.lit(self.lam0) - F.asin(vp) / F.lit(self.B)
                    )

                    def series(chi):
                        return (
                            chi
                            + F.lit(self.d2) * F.sin(chi * 2.0)
                            + F.lit(self.d4) * F.sin(chi * 4.0)
                            + F.lit(self.d6) * F.sin(chi * 6.0)
                            + F.lit(self.d8) * F.sin(chi * 8.0)
                        )

                    phi = _bind(
                        {
                            "chi": (
                                F.atan(
                                    F.lit(self.c_lat)
                                    * F.pow(
                                        F.tan(up / 2.0 + math.pi / 4.0),
                                        F.lit(self.inv_b),
                                    )
                                )
                                - F.lit(math.pi / 4.0)
                            )
                            * 2.0
                        },
                        series,
                    )
                    return F.struct(
                        lon.alias("a"), F.degrees(phi).alias("b")
                    )

                return _bind(
                    {
                        "up": F.asin(
                            F.lit(math.cos(self.alphac)) * F.sin(tp)
                            - F.lit(math.sin(self.alphac))
                            * F.cos(tp)
                            * F.cos(dp)
                        )
                    },
                    with_up,
                )

            return _bind({"tp": tp_expr}, with_tp)

        pair = _bind({"xp": -y, "yp": -x}, build)
        return pair["a"], pair["b"]

    # --- registry entry points (WGS-84 in/out) ---

    def forward(self, lon: Column, lat: Column) -> tuple[Column, Column]:
        if self.helmert is not None:
            lon, lat = _datum_to_cols(self, lon, lat)
        return self.project(lon, lat)

    def inverse(self, x: Column, y: Column) -> tuple[Column, Column]:
        lon, lat = self.unproject(x, y)
        if self.helmert is not None:
            lon, lat = _datum_from_cols(self, lon, lat)
        return lon, lat

    def unproject_np(self, x, y):
        """numpy twin of unproject (same constants, same unroll)."""
        import numpy as np

        xp, yp = -y, -x
        rp = np.hypot(xp, yp)
        thetap = np.arctan2(yp, xp)
        dp = thetap / self.n
        tp = 2.0 * (
            np.arctan((self.r0 / rp) ** (1.0 / self.n) * self.tan_p)
            - math.pi / 4.0
        )
        up = np.arcsin(
            math.cos(self.alphac) * np.sin(tp)
            - math.sin(self.alphac) * np.cos(tp) * np.cos(dp)
        )
        vp = np.arcsin(np.cos(tp) * np.sin(dp) / np.cos(up))
        lon = np.degrees(self.lam0 - vp / self.B)
        chi = 2.0 * (
            np.arctan(self.c_lat * np.tan(up / 2.0 + math.pi / 4.0) ** self.inv_b)
            - math.pi / 4.0
        )
        phi = (
            chi
            + self.d2 * np.sin(2.0 * chi)
            + self.d4 * np.sin(4.0 * chi)
            + self.d6 * np.sin(6.0 * chi)
            + self.d8 * np.sin(8.0 * chi)
        )
        return lon, np.degrees(phi)

    def inverse_np(self, x, y):
        """numpy twin of inverse — the Arrow-kernel entry point for
        :func:`standardize_crs_datum`."""
        lon, lat = self.unproject_np(x, y)
        if self.helmert is not None:
            lon, lat = _datum_from_np(self, lon, lat)
        return lon, lat


BESSEL_A = 6377397.155
BESSEL_F = 1.0 / 299.1528128

# EPSG:5514 — S-JTSK / Krovak East North. Projection parameters per
# EPSG method 9819: centre 49°30'N, longitude of origin 24°50' east of
# GREENWICH (the historical Ferro-referenced value is 42°30'; Ferro =
# 17°40' W of Greenwich), cone azimuth 30°17'17.3031", pseudo standard
# parallel 78°30' at k=0.9999, Bessel 1841. Datum: EPSG transformation
# 1622 "S-JTSK to WGS 84 (1)" (589, 76, 480, translations only)
# inverted to our stored WGS84→datum direction.
SJTSK_KROVAK = Krovak(
    a=BESSEL_A,
    f=BESSEL_F,
    lat_center=49.5,
    lon_origin_greenwich=24.0 + 50.0 / 60.0,
    azimuth=30.0 + 17.0 / 60.0 + 17.3031 / 3600.0,
    lat_pseudo=78.5,
    k_pseudo=0.9999,
    wgs84_helmert=(-589.0, -76.0, -480.0, 0.0, 0.0, 0.0, 0.0),
)
KROVAK_PROJECTIONS = {5514: SJTSK_KROVAK}

# every registered grid projection with forward/inverse column methods;
# pre-registered keys are genuine EPSG codes only
PROJECTION_REGISTRY: dict[int, object] = {
    **LCC_PROJECTIONS, **ALBERS_PROJECTIONS, **POLAR_PROJECTIONS,
    **TM_PROJECTIONS, **KROVAK_PROJECTIONS,
}


# --- per-row datum-shifted standardization (Arrow kernel) ---------------------
#
# standardize_crs handles every DATUM-FREE grid as one JVM CASE
# expression; datum-shifted grids (OSGB 27700, Irish 29902) are excluded
# there because embedding the Helmert+Bowring chain per-row in a CASE
# duplicates the expression tree past what Catalyst tolerates (planner
# heap blow-up — measured, see the registry comment). The scale-correct
# alternative is ONE Arrow kernel: the datum-shifted rows take a
# mapInPandas branch whose numpy math is a term-for-term twin of the
# column forms, dispatched per-code by boolean mask inside the batch.
# Executors stream Arrow batches, so the branch is as distributed as the
# JVM path — it just trades whole-stage codegen for vectorized numpy on
# the (usually small) datum-shifted slice of a mixed estate.


def _tm_unproject_np(P: "TransverseMercator", x, y):
    """numpy twin of TransverseMercator.unproject (same Redfearn series,
    same coefficients read off the SAME projection object)."""
    import numpy as np

    mu = (P.m0_arc + (y - P.fn) / P.k0) / (P.a * P.m0c)
    phi1 = (
        mu
        + P.p2 * np.sin(2.0 * mu)
        + P.p4 * np.sin(4.0 * mu)
        + P.p6 * np.sin(6.0 * mu)
        + P.p8 * np.sin(8.0 * mu)
    )
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = P.ep2 * cos1 * cos1
    t1 = tan1 * tan1
    om = 1.0 - P.e2 * sin1 * sin1
    n1 = P.a / np.sqrt(om)
    r1 = P.a * (1.0 - P.e2) / om**1.5
    d = (x - P.fe) / (n1 * P.k0)
    lat = np.degrees(
        phi1
        - (n1 * tan1 / r1)
        * (
            d * d / 2.0
            - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * P.ep2)
            * d**4
            / 24.0
            + (
                61.0
                + 90.0 * t1
                + 298.0 * c1
                + 45.0 * t1 * t1
                - 252.0 * P.ep2
                - 3.0 * c1 * c1
            )
            * d**6
            / 720.0
        )
    )
    lon = np.degrees(
        math.radians(P.lon0)
        + (
            d
            - (1.0 + 2.0 * t1 + c1) * d**3 / 6.0
            + (
                5.0
                - 2.0 * c1
                + 28.0 * t1
                - 3.0 * c1 * c1
                + 8.0 * P.ep2
                + 24.0 * t1 * t1
            )
            * d**5
            / 120.0
        )
        / cos1
    )
    return lon, lat


def _datum_from_np(P: "TransverseMercator", lon, lat):
    """numpy twin of TransverseMercator._datum_from: datum geodetic →
    WGS-84 via geocentric + inverse 7-param Helmert + Bowring."""
    import numpy as np

    tx, ty, tz, rxs, rys, rzs, ds = P.helmert
    rx, ry, rz = (math.radians(v / 3600.0) for v in (rxs, rys, rzs))
    inv_s = 1.0 / (1.0 + ds * 1e-6)
    phi, lam = np.radians(lat), np.radians(lon)
    sinp = np.sin(phi)
    nu = P.a / np.sqrt(1.0 - P.e2 * sinp * sinp)
    xt = nu * np.cos(phi) * np.cos(lam) - tx
    yt = nu * np.cos(phi) * np.sin(lam) - ty
    zt = nu * (1.0 - P.e2) * sinp - tz
    xg = inv_s * (xt + rz * yt - ry * zt)
    yg = inv_s * (-rz * xt + yt + rx * zt)
    zg = inv_s * (ry * xt - rx * yt + zt)
    ew2 = WGS84_F * (2.0 - WGS84_F)
    b = WGS84_A * math.sqrt(1.0 - ew2)
    ep2 = ew2 / (1.0 - ew2)
    p = np.hypot(xg, yg)
    theta = np.arctan2(zg * WGS84_A, p * b)
    st, ct = np.sin(theta), np.cos(theta)
    phi2 = np.arctan2(zg + ep2 * b * st**3, p - ew2 * WGS84_A * ct**3)
    return np.degrees(np.arctan2(yg, xg)), np.degrees(phi2)


def standardize_crs_datum(
    pixels: DataFrame, epsg_col: str = "src_epsg", dst_epsg: int = WGS84
) -> DataFrame:
    """Mixed-CRS standardization INCLUDING datum-shifted grids: the
    superset of :func:`standardize_crs` for estates mixing OSGB/Irish
    rows with datum-free ones.

    Two-path union, both fully distributed:

    * datum-free rows (everything ``standardize_crs`` accepts) keep the
      whole-stage-codegen CASE expression;
    * datum-shifted rows (registered grids with a Helmert set) go
      through ONE ``mapInPandas`` Arrow kernel that applies the numpy
      twins of the same unproject + Helmert + Bowring closed forms,
      dispatching per EPSG code by mask within each batch.

    The two filters are complementary predicates over one source, so at
    scale each side prunes at the scan (and an estate with no
    datum-shifted rows pays an empty branch, not a second pass).
    Unknown codes still die loudly: they fall into the datum-free path's
    raise_error OTHERWISE. Only ``dst_epsg=4326`` is supported, same
    contract (and reason) as ``standardize_crs``.
    """
    if dst_epsg != WGS84:
        raise ValueError(
            f"standardize_crs_datum targets EPSG:4326 only, got dst_epsg={dst_epsg}"
        )
    projections = {
        int(code): proj
        for code, proj in sorted(PROJECTION_REGISTRY.items())
        if getattr(proj, "helmert", None) is not None
    }
    for code, proj in projections.items():
        if getattr(proj, "inverse_np", None) is None:
            raise NotImplementedError(
                f"EPSG:{code}: datum-shifted kernel needs the projection's "
                "inverse_np numpy twin (TM and Krovak families provide it); "
                "register one before routing this code per-row"
            )
    if not projections:
        return standardize_crs(pixels, epsg_col, dst_epsg)
    codes = list(projections)
    is_datum = F.col(epsg_col).isin(codes)
    # NULL codes must NOT vanish between the two complementary filters
    # (isin is NULL for NULL input, so both ~is_datum and is_datum would
    # drop the row silently): route them into the datum-free branch where
    # standardize_crs's raise_error OTHERWISE fires loudly.
    free = standardize_crs(
        pixels.filter(~is_datum | F.col(epsg_col).isNull()), epsg_col, dst_epsg
    )
    shifted = pixels.filter(is_datum)

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            x = pdf["lon"].to_numpy(dtype="float64")
            y = pdf["lat"].to_numpy(dtype="float64")
            rcodes = pdf[epsg_col].to_numpy()
            lon = np.empty_like(x)
            lat = np.empty_like(y)
            for code in np.unique(rcodes):
                P = projections[int(code)]
                m = rcodes == code
                lon[m], lat[m] = P.inverse_np(x[m], y[m])
            out = pdf.copy()
            out["lon"] = lon
            out["lat"] = lat
            out[epsg_col] = dst_epsg
            yield out

    return free.unionByName(shifted.mapInPandas(kernel, shifted.schema))


def register_projection(code: int, projection) -> None:
    """Opt a projection object (forward/inverse column methods) into the
    ``reproject_pixels`` dispatch under ``code``. For CRSs whose common
    tag is NOT a real EPSG code (SR-ORG:6974 MODIS sinusoidal,
    ESRI:53008) the engine refuses to guess — registration is the
    caller's explicit statement of what the code means in THEIR catalog.
    Idempotent re-registration of the same object is allowed; rebinding
    a code to a different projection raises."""
    if not (hasattr(projection, "forward") and hasattr(projection, "inverse")):
        raise TypeError(
            f"projection for code {code} needs forward/inverse column methods"
        )
    existing = PROJECTION_REGISTRY.get(code)
    if existing is not None and existing is not projection:
        raise ValueError(
            f"code {code} already registered to a different projection"
        )
    PROJECTION_REGISTRY[code] = projection


# --- great-circle distance ----------------------------------------------------

EARTH_RADIUS_M = 6371008.8  # IUGG mean radius


def haversine_meters(lat1, lon1, lat2, lon2):
    """Great-circle distance in meters between two (lat, lon) degree
    pairs, as a pure JVM column expression (haversine formula, mean
    Earth radius). Accurate to ~0.5% vs the ellipsoid — the standard
    proximity metric; use the closed-form UTM path for survey-grade
    needs.
    """
    rad = 3.141592653589793 / 180.0
    p1, p2 = lat1 * rad, lat2 * rad
    dphi = (lat2 - lat1) * rad
    dlmb = (lon2 - lon1) * rad
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def nearest_site(
    points: DataFrame,
    sites: list[tuple[int, float, float]],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Assign every point to its nearest site (great-circle): the site
    list is literal (site_id, lat, lon) triples folded into ONE codegen
    projection — no join, no shuffle; the argmin is a lexicographic
    struct-min (distance rounded to whole meters, then site_id), so ties break
    deterministically and the meter rounding absorbs cross-engine libm
    ulp differences.

    At 100 TB this is the broadcast pattern for k sites ≲ thousands; for
    huge site sets switch to the grid-bucketed spatial join in
    operators/zonal.py.
    """
    lat, lon = F.col(lat_col), F.col(lon_col)
    structs = [
        F.struct(
            F.round(
                haversine_meters(lat, lon, F.lit(slat), F.lit(slon)), 0
            )
            .cast("long")
            .alias("dist_m"),
            F.lit(sid).cast("long").alias("site_id"),
        )
        for sid, slat, slon in sites
    ]
    best = F.array_min(F.array(*structs))
    return points.withColumn("site_id", best["site_id"]).withColumn(
        "dist_m", best["dist_m"]
    )


def dwithin_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    max_abs_lat: float = 60.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    suffix: str = "_r",
) -> DataFrame:
    """ST_DWithin-style point join: every (left, right) pair whose
    great-circle distance is ≤ ``radius_m``, with the distance attached —
    the PostGIS workhorse predicate, as a grid-bucket equi-join (the
    proximity/zonal idiom), never a cross join.

    Both sides bucket into lat/lon cells sized to cover the radius
    (latitude cell = radius in degrees; longitude cell widened by
    1/cos(``max_abs_lat``) — the worst meridian convergence the data can
    reach; rows beyond ``max_abs_lat`` are REJECTED in-plan rather than
    silently under-matched, since a polar row's radius can span many
    cells). Longitude cells divide the full circle EVENLY (the raw cell
    is widened to 360/⌊360/cell⌋) and neighbour offsets wrap modulo the
    cell count, so pairs straddling the ±180 antimeridian meet like any
    others — PostGIS-geography ST_DWithin wraps, and so does the exact
    haversine refine, so the buckets must too. The left side explodes
    onto the 3×3 bucket neighbourhood and candidates meet in ONE
    integer-key equi-join; exact haversine refines. Right-side column
    collisions come back suffixed.

    Output: the joined columns plus ``dist_m``.
    """
    import math as _math

    if radius_m <= 0:
        raise ValueError(f"radius_m must be positive, got {radius_m}")
    if not 0 < max_abs_lat < 89.0:
        raise ValueError(f"max_abs_lat must be in (0, 89), got {max_abs_lat}")
    deg_lat = radius_m / 111_194.9  # meters per degree on the mean sphere
    deg_lon = deg_lat / _math.cos(_math.radians(max_abs_lat))
    # wrap-safe longitude cells: uniform width that divides 360 exactly
    # (a remainder cell narrower than deg_lon would break the ±1
    # neighbourhood guarantee at the seam)
    n_lon = max(1, int(360.0 // deg_lon))
    cell_lon = 360.0 / n_lon

    overlap = set(left.columns) & set(right.columns)
    right = right.withColumnsRenamed({c: f"{c}{suffix}" for c in overlap})
    r_lat = f"{lat_col}{suffix}" if lat_col in overlap else lat_col
    r_lon = f"{lon_col}{suffix}" if lon_col in overlap else lon_col
    missing = [c for c in (r_lat, r_lon) if c not in right.columns]
    if missing:
        raise ValueError(
            f"dwithin_join: right side is missing coordinate column(s) "
            f"{missing} (right columns after suffixing: {right.columns}); "
            f"rename the right side's coordinates to {lat_col!r}/{lon_col!r}"
        )

    def cells(df: DataFrame, la: str, lo: str):
        # per-side raise: the message column must RESOLVE on this side's
        # schema (the right side may carry the suffixed lat name)
        boom = F.raise_error(
            F.concat(
                F.lit(
                    f"dwithin_join: |lat| exceeds max_abs_lat={max_abs_lat}: "
                ),
                F.col(la).cast("string"),
            )
        ).cast("long")
        guard = F.when(
            F.abs(F.col(la)) <= F.lit(float(max_abs_lat)),
            F.floor(F.col(la) / F.lit(deg_lat)).cast("long"),
        ).otherwise(boom)
        return df.withColumns(
            {
                "_cy": guard,
                # lon normalized to [0, 360) so ±180 share a cell index
                "_cx": F.floor(
                    F.pmod(F.col(lo), F.lit(360.0)) / F.lit(cell_lon)
                ).cast("long"),
            }
        )

    # distinct offsets AFTER the wrap: with ≤3 cells the -1/+1 wraps
    # collapse onto the same cell and duplicate offsets would emit
    # duplicate candidate pairs
    dxs = sorted({d % n_lon for d in (-1, 0, 1)})
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in dxs
                for dy in (-1, 0, 1)
            ]
        )
    ).alias("_o")
    lb = (
        cells(left, lat_col, lon_col)
        .select("*", offs)
        .withColumns(
            {
                "_cx": F.pmod(F.col("_cx") + F.col("_o.dx"), F.lit(n_lon)),
                "_cy": F.col("_cy") + F.col("_o.dy"),
            }
        )
        .drop("_o")
    )
    rb = cells(right, r_lat, r_lon)
    dist = haversine_meters(
        F.col(lat_col), F.col(lon_col), F.col(r_lat), F.col(r_lon)
    )
    return (
        lb.join(rb, ["_cx", "_cy"])
        .withColumn("dist_m", dist)
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .drop("_cx", "_cy")
    )
