"""Transverse-Mercator projection math as Spark Column builders.

Snyder (1987), "Map Projections — A Working Manual": forward eqs
8-9..8-13, inverse eqs 8-17..8-25 — the PROJ/GDAL series for the UTM
EPSG codes.  Pure codegen trigonometry: every builder returns a
Column expression that fuses into the calling plan's map stage (zero
shuffles — fn_utm_forward's plan-pinned property).

The registered key `fn_utm_forward` (queries/raster.py) calls
`utm_forward`, and its DuckDB oracle injects this module's constants
into the SQL text as decimal literals.  `*_py` twins mirror each
builder operation-for-operation for independent-implementation tests
(tests/test_projection.py, tests/test_raster.py).

Reference parity: [R] raster2points delegates CRS handling to
rasterio/PROJ; here the projection math itself is an engine operator.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# WGS84 ellipsoid + UTM conventions (computed once, used by the Column
# builders, the Python twins and fn_utm_forward's oracle).
A = 6378137.0
FLAT = 1.0 / 298.257223563
E2 = FLAT * (2.0 - FLAT)
EP2 = E2 / (1.0 - E2)
K0 = 0.9996
FALSE_EASTING = 500000.0

# meridian-arc series (forward, eq 3-21)
M0 = 1.0 - E2 / 4.0 - 3.0 * E2**2 / 64.0 - 5.0 * E2**3 / 256.0
M2 = 3.0 * E2 / 8.0 + 3.0 * E2**2 / 32.0 + 45.0 * E2**3 / 1024.0
M4 = 15.0 * E2**2 / 256.0 + 45.0 * E2**3 / 1024.0
M6 = 35.0 * E2**3 / 3072.0

# footprint-latitude series (inverse, eqs 3-24/7-19)
E1 = (1.0 - math.sqrt(1.0 - E2)) / (1.0 + math.sqrt(1.0 - E2))
F2 = 3.0 * E1 / 2.0 - 27.0 * E1**3 / 32.0
F4 = 21.0 * E1**2 / 16.0 - 55.0 * E1**4 / 32.0
F6 = 151.0 * E1**3 / 96.0
F8 = 1097.0 * E1**4 / 512.0


def utm_zone_central_meridian(zone: int) -> float:
    """Central meridian (degrees) of UTM zone 1..60."""
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone must be 1..60, got {zone}")
    return -183.0 + 6.0 * zone


def utm_forward(lon: Column, lat: Column, lon0_deg: float) -> tuple[Column, Column]:
    """(lon, lat) degrees → (easting, northing) meters, TM with the
    given central meridian (Snyder 8-9..8-13).  Pure projection —
    fuses into the caller's scan stage."""
    phi = F.radians(lat)
    lam = F.radians(lon)
    sin_phi, cos_phi, tan_phi = F.sin(phi), F.cos(phi), F.tan(phi)
    nn = F.lit(A) / F.sqrt(F.lit(1.0) - F.lit(E2) * sin_phi * sin_phi)
    t = tan_phi * tan_phi
    c = F.lit(EP2) * cos_phi * cos_phi
    a = (lam - F.radians(F.lit(lon0_deg))) * cos_phi
    m = F.lit(A) * (
        F.lit(M0) * phi
        - F.lit(M2) * F.sin(2.0 * phi)
        + F.lit(M4) * F.sin(4.0 * phi)
        - F.lit(M6) * F.sin(6.0 * phi)
    )
    easting = F.lit(FALSE_EASTING) + F.lit(K0) * nn * (
        a
        + (F.lit(1.0) - t + c) * (a * a * a) / 6.0
        + (F.lit(5.0) - 18.0 * t + t * t + 72.0 * c - F.lit(58.0) * F.lit(EP2))
        * (a * a * a * a * a)
        / 120.0
    )
    northing = F.lit(K0) * (
        m
        + nn
        * tan_phi
        * (
            (a * a) / 2.0
            + (F.lit(5.0) - t + 9.0 * c + 4.0 * c * c) * (a * a * a * a) / 24.0
            + (F.lit(61.0) - 58.0 * t + t * t + 600.0 * c - F.lit(330.0) * F.lit(EP2))
            * (a * a * a * a * a * a)
            / 720.0
        )
    )
    return easting, northing


def utm_inverse(easting: Column, northing: Column, lon0_deg: float) -> tuple[Column, Column]:
    """(easting, northing) meters → (lon, lat) degrees, TM with the
    given central meridian (Snyder 8-17..8-25: meridian arc →
    footprint latitude phi1 → series in D = x'/(N1·k0))."""
    mu = (northing / F.lit(K0)) / F.lit(A * M0)
    phi1 = (
        mu
        + F.lit(F2) * F.sin(2.0 * mu)
        + F.lit(F4) * F.sin(4.0 * mu)
        + F.lit(F6) * F.sin(6.0 * mu)
        + F.lit(F8) * F.sin(8.0 * mu)
    )
    sin1, cos1, tan1 = F.sin(phi1), F.cos(phi1), F.tan(phi1)
    c1 = F.lit(EP2) * cos1 * cos1
    t1 = tan1 * tan1
    s2 = F.lit(1.0) - F.lit(E2) * sin1 * sin1
    n1 = F.lit(A) / F.sqrt(s2)
    r1 = F.lit(A * (1.0 - E2)) / (s2 * F.sqrt(s2))
    d = (easting - F.lit(FALSE_EASTING)) / (n1 * F.lit(K0))
    phi = phi1 - (n1 * tan1 / r1) * (
        (d * d) / 2.0
        - (F.lit(5.0) + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - F.lit(9.0) * F.lit(EP2))
        * (d * d * d * d)
        / 24.0
        + (
            F.lit(61.0)
            + 90.0 * t1
            + 298.0 * c1
            + 45.0 * t1 * t1
            - F.lit(252.0) * F.lit(EP2)
            - 3.0 * c1 * c1
        )
        * (d * d * d * d * d * d)
        / 720.0
    )
    lam = F.radians(F.lit(lon0_deg)) + (
        d
        - (F.lit(1.0) + 2.0 * t1 + c1) * (d * d * d) / 6.0
        + (
            F.lit(5.0)
            - 2.0 * c1
            + 28.0 * t1
            - 3.0 * c1 * c1
            + F.lit(8.0) * F.lit(EP2)
            + 24.0 * t1 * t1
        )
        * (d * d * d * d * d)
        / 120.0
    ) / cos1
    return F.degrees(lam), F.degrees(phi)


def utm_forward_py(lon: float, lat: float, lon0_deg: float) -> tuple[float, float]:
    """Python twin of utm_forward (independent libm path for tests)."""
    phi, lam = math.radians(lat), math.radians(lon)
    n = A / math.sqrt(1.0 - E2 * math.sin(phi) ** 2)
    t = math.tan(phi) ** 2
    c = EP2 * math.cos(phi) ** 2
    a = (lam - math.radians(lon0_deg)) * math.cos(phi)
    m = A * (
        M0 * phi - M2 * math.sin(2 * phi) + M4 * math.sin(4 * phi) - M6 * math.sin(6 * phi)
    )
    x = FALSE_EASTING + K0 * n * (
        a
        + (1 - t + c) * a**3 / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * EP2) * a**5 / 120
    )
    y = K0 * (
        m
        + n
        * math.tan(phi)
        * (
            a * a / 2
            + (5 - t + 9 * c + 4 * c * c) * a**4 / 24
            + (61 - 58 * t + t * t + 600 * c - 330 * EP2) * a**6 / 720
        )
    )
    return x, y


def utm_inverse_py(x: float, y: float, lon0_deg: float) -> tuple[float, float]:
    """Python twin of utm_inverse."""
    mu = (y / K0) / (A * M0)
    phi1 = (
        mu
        + F2 * math.sin(2 * mu)
        + F4 * math.sin(4 * mu)
        + F6 * math.sin(6 * mu)
        + F8 * math.sin(8 * mu)
    )
    c1 = EP2 * math.cos(phi1) ** 2
    t1 = math.tan(phi1) ** 2
    s2 = 1.0 - E2 * math.sin(phi1) ** 2
    n1 = A / math.sqrt(s2)
    r1 = A * (1.0 - E2) / (s2 * math.sqrt(s2))
    d = (x - FALSE_EASTING) / (n1 * K0)
    phi = phi1 - (n1 * math.tan(phi1) / r1) * (
        d * d / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * EP2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * EP2 - 3 * c1 * c1)
        * d**6
        / 720
    )
    lam = math.radians(lon0_deg) + (
        d
        - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * EP2 + 24 * t1 * t1) * d**5 / 120
    ) / math.cos(phi1)
    return math.degrees(lam), math.degrees(phi)
