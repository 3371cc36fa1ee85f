"""CRS transforms (C7) — pure-numpy, vectorized, no proj dependency.

The reference transforms WGS84 probe coordinates into the tiff's CRS
before the affine pixel math (/root/reference/src/handler/geotiff.rs:77-93).
Rasters here carry an EPSG code, so only the forward direction runs.
Scope (documented): the projected families a DEM pipeline actually
meets — UTM on WGS84/ETRS89 (transverse Mercator), Web Mercator and the
conic national/continental grids — plus geographic pass-through.
Everything is public math:

- Transverse Mercator uses Karney's 6th-order Krueger series
  ("Transverse Mercator with an accuracy of a few nanometers", 2011) —
  exact to far below the reference's own 1e-7-degree test tolerance
  (geotiff.rs:1013-1052 pins 4326<->25832 on these very formulas).
- Web Mercator (EPSG:3857) is the closed-form spherical formula.

All functions are numpy-vectorized; the raster lookup calls
:func:`wgs84_to_epsg` inside its Arrow-batched UDF.  The TM and Web
Mercator inverses are kept as the round-trip references of their forwards.
"""

from __future__ import annotations

import numpy as np

# GRS80 and WGS84 ellipsoids differ only in the inverse flattening's 12th
# digit; both UTM families use k0=0.9996, FE=500km
_ELLIPSOIDS = {
    "WGS84": (6378137.0, 1.0 / 298.257223563),
    "GRS80": (6378137.0, 1.0 / 298.257222101),
}
K0 = 0.9996
FALSE_EASTING = 500000.0
FALSE_NORTHING_SOUTH = 10000000.0


def _krueger_constants(f: float) -> tuple[float, np.ndarray, np.ndarray]:
    """Rectifying-radius factor and alpha/beta series in n = f/(2-f)."""
    n = f / (2.0 - f)
    n2, n3, n4, n5, n6 = n**2, n**3, n**4, n**5, n**6
    a_over = (1 + n2 / 4 + n4 / 64 + n6 / 256) / (1 + n)
    alpha = np.array([
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288
        + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630
        - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880
        + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400,
    ])
    beta = np.array([
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512
        + 96199 * n6 / 604800,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105
        - 1118711 * n6 / 3870720,
        17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
        4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
        4583 * n5 / 161280 - 108847 * n6 / 3991680,
        20648693 * n6 / 638668800,
    ])
    return a_over, alpha, beta


def tm_forward(
    lat_deg: np.ndarray,
    lon_deg: np.ndarray,
    lon0_deg: float,
    ellipsoid: str = "GRS80",
    fn: float = 0.0,
) -> tuple[np.ndarray, np.ndarray]:
    """WGS84/ETRS89 geographic -> transverse Mercator (easting, northing)."""
    a, f = _ELLIPSOIDS[ellipsoid]
    a_over, alpha, _ = _krueger_constants(f)
    A = a * a_over
    e = np.sqrt(f * (2 - f))
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64) - lon0_deg)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - e * np.arctanh(e * sphi))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, aj in enumerate(alpha, start=1):
        xi = xi + aj * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta = eta + aj * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    return FALSE_EASTING + K0 * A * eta, fn + K0 * A * xi


def tm_inverse(
    easting: np.ndarray, northing: np.ndarray, lon0_deg: float
) -> tuple[np.ndarray, np.ndarray]:
    """Transverse Mercator (easting, northing) -> (lat, lon) degrees, on
    GRS80 with no false northing (``tm_forward``'s defaults)."""
    a, f = _ELLIPSOIDS["GRS80"]
    a_over, _, beta = _krueger_constants(f)
    A = a * a_over
    e = np.sqrt(f * (2 - f))
    xi = np.asarray(northing, dtype=np.float64) / (K0 * A)
    eta = (np.asarray(easting, dtype=np.float64) - FALSE_EASTING) / (K0 * A)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, bj in enumerate(beta, start=1):
        xi_p = xi_p - bj * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p = eta_p - bj * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    tau_p = np.sin(xi_p) / np.sqrt(np.sinh(eta_p) ** 2 + np.cos(xi_p) ** 2)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    # Newton on tau' = tau*sqrt(1+sigma^2) - sigma*sqrt(1+tau^2)
    tau = tau_p.copy()
    for _ in range(5):
        sigma = np.sinh(e * np.arctanh(e * tau / np.sqrt(1 + tau * tau)))
        f_tau = tau * np.sqrt(1 + sigma * sigma) - sigma * np.sqrt(1 + tau * tau)
        d_tau = (
            (np.sqrt((1 + sigma * sigma) * (1 + tau * tau)) - sigma * tau)
            * (1 - e * e)
            * np.sqrt(1 + tau * tau)
            / (1 + (1 - e * e) * tau * tau)
        )
        tau = tau + (tau_p - f_tau) / d_tau
    return np.degrees(np.arctan(tau)), np.degrees(lam) + lon0_deg


_R_MERC = 6378137.0


def webmercator_forward(lat_deg, lon_deg) -> tuple[np.ndarray, np.ndarray]:
    lat = np.asarray(lat_deg, dtype=np.float64)
    lon = np.asarray(lon_deg, dtype=np.float64)
    x = _R_MERC * np.radians(lon)
    y = _R_MERC * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
    return x, y


def webmercator_inverse(x, y) -> tuple[np.ndarray, np.ndarray]:
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _R_MERC)
    lat = np.degrees(2 * np.arctan(np.exp(y / _R_MERC)) - np.pi / 2)
    return lat, lon


# ------------------------------------------------------------- conic family
# Lambert conformal conic (2SP) and Albers equal-area (2SP): the two most
# common non-UTM DEM projections (national grids like Lambert-93, continental
# mosaics like Conus Albers).  Formulas are Snyder, "Map Projections — A
# Working Manual" (USGS PP 1395, 1987), eqs. 14-* and 15-* — public math,
# same role as the reference's proj-backed transforms (geotiff.rs:77-93).


def _snyder_m(phi: np.ndarray, e: float) -> np.ndarray:
    """Snyder 14-15: m = cosφ / sqrt(1 - e² sin²φ)."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - (e * s) ** 2)


def _snyder_t(phi: np.ndarray, e: float) -> np.ndarray:
    """Snyder 15-9: t = tan(π/4 - φ/2) / ((1-e sinφ)/(1+e sinφ))^(e/2)."""
    s = np.sin(phi)
    return np.tan(np.pi / 4 - phi / 2) / ((1 - e * s) / (1 + e * s)) ** (e / 2)


def _snyder_q(phi: np.ndarray, e: float) -> np.ndarray:
    """Snyder 3-12: the equal-area auxiliary q."""
    s = np.sin(phi)
    return (1 - e * e) * (
        s / (1 - (e * s) ** 2) - (1 / (2 * e)) * np.log((1 - e * s) / (1 + e * s))
    )


def _lcc_constants(p: dict) -> tuple[float, float, float, float, float]:
    a, f = _ELLIPSOIDS[p["ellipsoid"]]
    e = np.sqrt(f * (2 - f))
    p1, p2, p0 = (np.radians(p[k]) for k in ("lat1", "lat2", "lat0"))
    m1, m2 = _snyder_m(p1, e), _snyder_m(p2, e)
    t1, t2, t0 = _snyder_t(p1, e), _snyder_t(p2, e), _snyder_t(p0, e)
    if abs(p["lat1"] - p["lat2"]) > 1e-12:
        n = (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
    else:
        n = np.sin(p1)
    F_ = m1 / (n * t1**n)
    rho0 = a * F_ * t0**n
    return a, float(e), float(n), float(F_), float(rho0)


def lcc2sp_forward(lat_deg, lon_deg, p: dict) -> tuple[np.ndarray, np.ndarray]:
    """Lambert conformal conic 2SP forward (Snyder 15-1..15-4)."""
    a, e, n, F_, rho0 = _lcc_constants(p)
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64) - p["lon0"])
    rho = a * F_ * _snyder_t(phi, e) ** n
    theta = n * lam
    x = p["fe"] + rho * np.sin(theta)
    y = p["fn"] + rho0 - rho * np.cos(theta)
    return x, y


def _albers_constants(p: dict) -> tuple[float, float, float, float, float]:
    a, f = _ELLIPSOIDS[p["ellipsoid"]]
    e = np.sqrt(f * (2 - f))
    p1, p2, p0 = (np.radians(p[k]) for k in ("lat1", "lat2", "lat0"))
    m1, m2 = _snyder_m(p1, e), _snyder_m(p2, e)
    q1, q2, q0 = _snyder_q(p1, e), _snyder_q(p2, e), _snyder_q(p0, e)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * np.sqrt(C - n * q0) / n
    return a, float(e), float(n), float(C), float(rho0)


def albers_forward(lat_deg, lon_deg, p: dict) -> tuple[np.ndarray, np.ndarray]:
    """Albers equal-area conic 2SP forward (Snyder 14-1..14-4)."""
    a, e, n, C, rho0 = _albers_constants(p)
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64) - p["lon0"])
    rho = a * np.sqrt(C - n * _snyder_q(phi, e)) / n
    theta = n * lam
    x = p["fe"] + rho * np.sin(theta)
    y = p["fn"] + rho0 - rho * np.cos(theta)
    return x, y


def _laea_constants(p: dict) -> tuple[float, float, float, float, float, float]:
    a, f = _ELLIPSOIDS[p["ellipsoid"]]
    e = np.sqrt(f * (2 - f))
    qp = float(_snyder_q(np.pi / 2, e))
    q1 = float(_snyder_q(np.radians(p["lat0"]), e))
    beta1 = np.arcsin(q1 / qp)
    rq = a * np.sqrt(qp / 2.0)
    m1 = float(_snyder_m(np.radians(p["lat0"]), e))
    d = a * m1 / (rq * np.cos(beta1))
    return a, float(e), qp, float(beta1), float(rq), float(d)


def laea_forward(lat_deg, lon_deg, p: dict) -> tuple[np.ndarray, np.ndarray]:
    """Lambert azimuthal equal-area, oblique ellipsoidal (Snyder 24-2..24-8)."""
    a, e, qp, beta1, rq, d = _laea_constants(p)
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lam = np.radians(np.asarray(lon_deg, dtype=np.float64) - p["lon0"])
    beta = np.arcsin(np.clip(_snyder_q(phi, e) / qp, -1.0, 1.0))
    b = rq * np.sqrt(
        2.0 / (1 + np.sin(beta1) * np.sin(beta)
               + np.cos(beta1) * np.cos(beta) * np.cos(lam))
    )
    x = p["fe"] + b * d * np.cos(beta) * np.sin(lam)
    y = p["fn"] + (b / d) * (
        np.cos(beta1) * np.sin(beta) - np.sin(beta1) * np.cos(beta) * np.cos(lam)
    )
    return x, y


# Conic grids: parameters straight from the EPSG registry (public), keyed by
# code — lat1/lat2 standard parallels, lat0/lon0 origin, false easting/northing
_CONIC_EPSG: dict[int, dict] = {
    # RGF93 / Lambert-93 — the French national grid (IGN DEMs)
    2154: {"kind": "lcc2sp", "ellipsoid": "GRS80", "lat1": 49.0, "lat2": 44.0,
           "lat0": 46.5, "lon0": 3.0, "fe": 700000.0, "fn": 6600000.0},
    # ETRS89-extended / LCC Europe — EEA continental products
    3034: {"kind": "lcc2sp", "ellipsoid": "GRS80", "lat1": 35.0, "lat2": 65.0,
           "lat0": 52.0, "lon0": 10.0, "fe": 4000000.0, "fn": 2800000.0},
    # NAD83 / Canada Atlas Lambert (NAD83 uses the GRS80 ellipsoid)
    3978: {"kind": "lcc2sp", "ellipsoid": "GRS80", "lat1": 49.0, "lat2": 77.0,
           "lat0": 49.0, "lon0": -95.0, "fe": 0.0, "fn": 0.0},
    # NAD83 / Conus Albers — USGS national elevation mosaics
    5070: {"kind": "albers", "ellipsoid": "GRS80", "lat1": 29.5, "lat2": 45.5,
           "lat0": 23.0, "lon0": -96.0, "fe": 0.0, "fn": 0.0},
    # ETRS89-extended / LAEA Europe — the EU statistical grid (EEA rasters)
    3035: {"kind": "laea", "ellipsoid": "GRS80",
           "lat0": 52.0, "lon0": 10.0, "fe": 4321000.0, "fn": 3210000.0},
}

def epsg_params(epsg: int) -> dict | None:
    """Transform parameters for a supported projected EPSG; None if the
    code is geographic (no transform) — raises on unsupported codes."""
    if epsg in (4326, 4258):
        return None
    if epsg == 3857:
        return {"kind": "webmercator"}
    if 32601 <= epsg <= 32660:
        return {"kind": "tm", "lon0": (epsg - 32600) * 6 - 183, "ellipsoid": "WGS84", "fn": 0.0}
    if 32701 <= epsg <= 32760:
        return {"kind": "tm", "lon0": (epsg - 32700) * 6 - 183, "ellipsoid": "WGS84", "fn": FALSE_NORTHING_SOUTH}
    if 25828 <= epsg <= 25838:
        return {"kind": "tm", "lon0": (epsg - 25800) * 6 - 183, "ellipsoid": "GRS80", "fn": 0.0}
    if epsg in _CONIC_EPSG:
        return _CONIC_EPSG[epsg]
    raise ValueError(
        f"unsupported EPSG:{epsg} (supported: 4326/4258/3857/UTM/"
        f"{sorted(_CONIC_EPSG)})"
    )


def epsg_supported(epsg: int) -> bool:
    """True when :func:`epsg_params` can resolve the code."""
    try:
        epsg_params(epsg)
        return True
    except ValueError:
        return False


def wgs84_to_epsg(lat, lon, epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) -> (x, y) in the target CRS; identity (lon, lat) for
    geographic targets (matching the reference's latlong handling,
    geotiff.rs:77-93)."""
    p = epsg_params(epsg)
    if p is None:
        return np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    if p["kind"] == "webmercator":
        return webmercator_forward(lat, lon)
    if p["kind"] == "lcc2sp":
        return lcc2sp_forward(lat, lon, p)
    if p["kind"] == "albers":
        return albers_forward(lat, lon, p)
    if p["kind"] == "laea":
        return laea_forward(lat, lon, p)
    return tm_forward(lat, lon, p["lon0"], p["ellipsoid"], fn=p["fn"])
