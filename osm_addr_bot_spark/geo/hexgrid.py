"""Hexagonal cell index (H3-style): native Spark Columns plus a numpy reference.

The north rule asks for an H3 res-9 style hex index as the spatial join
key. The real `h3` library is not installed in this sandbox, so we
implement an H3-compatible-enough hex grid from first principles
(SURVEY.md §7 M0): an equirectangular projection anchored at
``config.HEX_LAT0_DEG`` followed by flat-top axial hex binning with the
standard cube-rounding algorithm. Resolutions mirror H3 edge lengths.

Guarantees used by the join operators (proved in tests/test_geo.py by
brute force):

  * two points within D meters true distance land in cells within hex
    distance k, where k = ceil((1.08*D + 2e) / (1.5*e)) - 1 and e is the
    cell edge. For D=100 m at res 9 (e≈174 m), k=1 — the classic
    "cell + k-ring 1" duplicate join (SURVEY.md §2.3 J1).
  * ``cover(p, r)`` (all cells within that k of cell(p)) is a superset
    of every cell containing a point within r of p.

The 1.08 factor absorbs the equirectangular east-west distortion across
the reference's Poland bbox (cos 49°/cos 52° ≈ 1.066).

The engine's joins use the native Column builders (``cell_expr``,
``kring_expr``, ``with_cover``): whole-stage codegen, no Python workers.
The numpy functions and ``hex_cell_udf`` are the reference those
builders are property-tested against, bit for bit.
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_addr_bot_spark.config import HEX_LAT0_DEG
from osm_addr_bot_spark.geo.haversine import EARTH_RADIUS_M

# H3-ish average hex edge length in meters per resolution
EDGE_M = {
    5: 8544.4,
    6: 3229.5,
    7: 1220.6,
    8: 461.35,
    9: 174.38,
    10: 65.91,
}

_OFF = 1 << 28          # packs axial q/r into 29 bits each
_DISTORTION = 1.08      # east-west projection margin (see module docstring)
_SQRT3 = math.sqrt(3.0)


# ----------------------------------------------------------------- core math
def _project(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Equirectangular lat/lon (deg) -> local meters, fixed at LAT0."""
    k = EARTH_RADIUS_M * math.cos(math.radians(HEX_LAT0_DEG))
    x = k * np.radians(lon)
    y = EARTH_RADIUS_M * np.radians(lat)
    return x, y


def _half_up(x: np.ndarray) -> np.ndarray:
    """round-half-up — matches the native Column floor(x + 0.5) exactly,
    so numpy-side and JVM-side cell ids agree bit-for-bit."""
    return np.floor(x + 0.5)


def _cube_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Standard cube-coordinate rounding (axial q=x, r=z)."""
    x, z = qf, rf
    y = -x - z
    rx, ry, rz = _half_up(x), _half_up(y), _half_up(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & ~((dy > dz) & ~fix_x)  # dz largest (or tie) -> fix z
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def axial_from_latlon(lat: np.ndarray, lon: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    e = EDGE_M[res]
    x, y = _project(np.asarray(lat, float), np.asarray(lon, float))
    qf = (2.0 / 3.0) * x / e
    rf = (-1.0 / 3.0 * x + (_SQRT3 / 3.0) * y) / e
    return _cube_round(qf, rf)


def pack(res: int, q: np.ndarray, r: np.ndarray) -> np.ndarray:
    return (np.int64(res) << 58) | ((q + _OFF) << 29) | (r + _OFF)


def unpack(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, np.int64)
    res = cell >> 58
    q = ((cell >> 29) & ((1 << 29) - 1)) - _OFF
    r = (cell & ((1 << 29) - 1)) - _OFF
    return res, q, r


def cell_of(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    q, r = axial_from_latlon(lat, lon, res)
    return pack(res, q, r)


@lru_cache(maxsize=None)
def _ring_offsets(k: int) -> np.ndarray:
    """All (dq, dr) with hex distance <= k, shape (3k(k+1)+1, 2)."""
    out = [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]
    return np.asarray(out, np.int64)


def kring(cell: np.ndarray, k: int) -> np.ndarray:
    """Cells within hex distance k. Shape (n, 3k(k+1)+1)."""
    res, q, r = unpack(np.asarray(cell, np.int64))
    off = _ring_offsets(k)
    return pack(res[:, None], q[:, None] + off[:, 0], r[:, None] + off[:, 1])


def cover_k(radius_m: float, res: int) -> int:
    """Ring count needed so cover(p, radius) ⊇ cell(q) for all q within
    radius of p (with projection distortion margin)."""
    e = EDGE_M[res]
    return max(0, math.ceil((_DISTORTION * radius_m + 2 * e) / (1.5 * e)) - 1)


def pick_res(radius_m: float) -> int:
    """Resolution for a radius join, balancing the explode factor (cover
    cell count n — shuffle rows per probe) against the false-positive
    multiplier (cover area / disk area — candidate pairs per probe).
    Minimizes their product; a heuristic validated by the bench."""
    disk = math.pi * radius_m * radius_m
    best = None
    for res in sorted(EDGE_M, reverse=True):  # finest first wins ties
        k = cover_k(radius_m, res)
        n = 3 * k * (k + 1) + 1
        cover_area = n * (3 * _SQRT3 / 2) * EDGE_M[res] ** 2
        cost = n * (cover_area / disk)
        if best is None or cost < best[0]:
            best = (cost, res)
    return best[1]


# -------------------------------------------------- native Column builders
# The same math as the numpy path, but as pure Spark SQL expressions —
# whole-stage codegen, no Arrow round trip, no Python workers.


def cell_expr(lat, lon, res: int):
    """Native Column: (lat, lon) -> packed hex cell id at ``res``."""
    from pyspark.sql import functions as F

    e = EDGE_M[res]
    kx = EARTH_RADIUS_M * math.cos(math.radians(HEX_LAT0_DEG))
    x = F.radians(lon) * kx
    y = F.radians(lat) * EARTH_RADIUS_M
    qf = (2.0 / 3.0) * x / e
    rf = (x * (-1.0 / 3.0) + y * (_SQRT3 / 3.0)) / e
    yf = -qf - rf

    def hu(c):  # half-up round, matching numpy _half_up
        return F.floor(c + 0.5)

    rx, ry, rz = hu(qf), hu(yf), hu(rf)
    dx, dy, dz = F.abs(rx - qf), F.abs(ry - yf), F.abs(rz - rf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & ~(dy > dz)
    q = F.when(fix_x, -ry - rz).otherwise(rx).cast("long")
    r = F.when(~fix_x & fix_z, -rx - ry).otherwise(rz).cast("long")
    # re-derive r against the (possibly fixed) q is unnecessary: fix_x and
    # fix_z are mutually exclusive by construction, mirroring _cube_round
    return (
        F.lit(res).cast("long") * F.lit(1 << 58)
        + (q + _OFF) * F.lit(1 << 29)
        + (r + _OFF)
    )


def kring_expr(cell, k: int):
    """Native Column: cell -> array of cells within hex distance k.

    Because the packing is additive (res<<58 | (q+OFF)<<29 | (r+OFF))
    and |q|,|r| << 2^28, a neighbor is simply
    cell + dq*(1<<29) + dr — one add per ring member, no unpacking.
    """
    from pyspark.sql import functions as F

    offs = _ring_offsets(k)
    return F.array(*[cell + F.lit(int(dq) * (1 << 29) + int(dr)) for dq, dr in offs])


def with_cover(df, radius_m: float, res: int):
    """Explode df by the disk-cover cells of its (lat, lon) into a
    ``_cell`` column, computing the base cell ONCE into a real column:
    ``kring_expr(cell_expr(...))`` would inline the trig into every ring
    member (a 6x stage-cost difference was measured at k=3)."""
    from pyspark.sql import functions as F

    k = cover_k(radius_m, res)
    return (
        df.withColumn("_cover_base", cell_expr(F.col("lat"), F.col("lon"), res))
        .withColumn("_cell", F.explode(kring_expr(F.col("_cover_base"), k)))
        .drop("_cover_base")
    )


# ------------------------------------------------------------- test oracle
@lru_cache(maxsize=None)
def hex_cell_udf(res: int):
    """pandas UDF (lat, lon) -> cell id at ``res`` (the numpy reference,
    for tests)."""

    @F.pandas_udf(T.LongType())
    def _udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(cell_of(lat.to_numpy(), lon.to_numpy(), res))

    return _udf
