"""Lambert Azimuthal Equal-Area projection (EPSG:3035, ETRS89-LAEA Europe).

From-scratch numpy implementation of the ellipsoidal LAEA forward/inverse
(Snyder, "Map Projections — A Working Manual", USGS PP 1395, pp. 182-190).
Replaces the reference's pyproj usage
(reference: osm_public_space_mapper/data_analysis/clean_data.py:117-126,
export_data.py:33-39) — pyproj is unavailable in this environment and the
engine is built from scratch anyway.

Vectorized over numpy arrays (image points: operators/joins.project_points).
Geometries are projected by functions/geometry.laea_expr, the same formulas
as Catalyst maths with the constants below folded in, tested to 1e-6 m.
"""

from __future__ import annotations

import numpy as np

# GRS80 ellipsoid + EPSG:3035 parameters
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = _F * (2.0 - _F)
_E = np.sqrt(_E2)
_LAT0 = np.deg2rad(52.0)
_LON0 = np.deg2rad(10.0)
_FE = 4321000.0
_FN = 3210000.0


def _q(sin_phi: np.ndarray) -> np.ndarray:
    """Snyder eq. 3-12: authalic-latitude helper q(φ)."""
    esin = _E * sin_phi
    return (1.0 - _E2) * (
        sin_phi / (1.0 - _E2 * sin_phi * sin_phi)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - esin) / (1.0 + esin))
    )


_QP = float(_q(np.array(1.0)))  # q at the pole
_Q1 = float(_q(np.array(np.sin(_LAT0))))
_BETA1 = np.arcsin(_Q1 / _QP)
_RQ = _A * np.sqrt(_QP / 2.0)
_M1 = np.cos(_LAT0) / np.sqrt(1.0 - _E2 * np.sin(_LAT0) ** 2)
_D = _A * _M1 / (_RQ * np.cos(_BETA1))
_SIN_B1 = np.sin(_BETA1)
_COS_B1 = np.cos(_BETA1)


def laea_forward(lon_deg: np.ndarray, lat_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) in EPSG:4326 degrees → (x, y) metres in EPSG:3035."""
    lon = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    lat = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    beta = np.arcsin(np.clip(_q(np.sin(lat)) / _QP, -1.0, 1.0))
    dlon = lon - _LON0
    cos_b = np.cos(beta)
    sin_b = np.sin(beta)
    denom = 1.0 + _SIN_B1 * sin_b + _COS_B1 * cos_b * np.cos(dlon)
    b = _RQ * np.sqrt(2.0 / denom)
    x = b * _D * cos_b * np.sin(dlon) + _FE
    y = (b / _D) * (_COS_B1 * sin_b - _SIN_B1 * cos_b * np.cos(dlon)) + _FN
    return x, y


def laea_inverse(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) metres in EPSG:3035 → (lon, lat) degrees in EPSG:4326."""
    x = np.asarray(x, dtype=np.float64) - _FE
    y = np.asarray(y, dtype=np.float64) - _FN
    rho = np.sqrt((x / _D) ** 2 + (_D * y) ** 2)
    rho_safe = np.where(rho == 0.0, 1.0, rho)
    ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * _RQ), -1.0, 1.0))
    cos_ce = np.cos(ce)
    sin_ce = np.sin(ce)
    q = _QP * (cos_ce * _SIN_B1 + _D * y * sin_ce * _COS_B1 / rho_safe)
    q = np.where(rho == 0.0, _QP * _SIN_B1, q)
    lon = _LON0 + np.arctan2(
        x * sin_ce, _D * rho_safe * _COS_B1 * cos_ce - _D * _D * y * _SIN_B1 * sin_ce
    )
    lon = np.where(rho == 0.0, _LON0, lon)
    # iterate Snyder eq. 3-16 for φ from q
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(6):
        sin_phi = np.sin(phi)
        esin = _E * sin_phi
        one_m = 1.0 - _E2 * sin_phi * sin_phi
        phi = phi + (one_m**2 / (2.0 * np.cos(phi))) * (
            q / (1.0 - _E2)
            - sin_phi / one_m
            + (1.0 / (2.0 * _E)) * np.log((1.0 - esin) / (1.0 + esin))
        )
    return np.rad2deg(lon), np.rad2deg(phi)
