"""Great-circle distance as a native Column expression.

The reference measures bbox edges with geopy's geodesic distance
(reference overpass.py:199-204). We use the haversine formula instead —
it stays inside whole-stage codegen (no Python), and differs from the
geodesic by <0.5% at the sub-10 km scales every threshold in the
reference uses (100 m / 1000 m / 3000 m / 10 km). Fixtures keep a ≥5%
margin around each threshold so the approximation never flips a result
(FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_008.8  # mean Earth radius (IUGG)

# meters per degree of latitude on the sphere (pi * R / 180)
DEG_LAT_M = 111_194.92664455873


def radius_prefilter(
    lat1: Column,
    lon1: Column,
    lat2: Column,
    lon2: Column,
    radius_m: float,
    cos_lat1: Column,
    cos_lat2: Column,
) -> Column:
    """Cheap NECESSARY condition for ``haversine_m(p1, p2) <= radius_m``
    — a bounding-box prefilter that short-circuits the trig-heavy exact
    distance inside radius-join refinement (guide §2.3: make the cheap
    predicate run first so most candidate pairs never reach the
    asin/sqrt/4-trig haversine; measured 4.38 s -> 1.48 s on the
    duplicate_radius_join bench query).

    Provably a superset of the disk for ANY two points (no latitude
    assumptions), from two great-circle lower bounds:

      * dist >= R * |dphi|                 =>  |dlat_deg| <= r / DEG_LAT_M
      * dist >= (2R/pi) * sqrt(cos(lat1) * cos(lat2)) * |dlambda|
        (haversine with sin x >= 2x/pi on [0, pi/2] and asin x >= x)
                                           =>  |dlon_deg| * min(cos1, cos2)
                                                 <= 90 * r / R

    A 1e-4 relative margin absorbs fp noise; false positives only cost
    one haversine evaluation, false negatives cannot occur.
    ``cos_lat1/2`` are each side's precomputed ``cos(radians(lat))``
    column (one cos per ROW instead of two per candidate PAIR), so the
    prefilter is subtract/abs/compare arithmetic only.
    """
    m = 1.0 + 1e-4
    dlat_ok = F.abs(lat2 - lat1) <= F.lit(m * radius_m / DEG_LAT_M)
    # wrap the raw difference so antimeridian-crossing pairs (|dlon|
    # > 180 with lons in [-180, 180]) keep the short-way separation the
    # haversine itself uses — the sin x >= 2x/pi step needs dlon <= 180
    dlon = F.abs(lon2 - lon1)
    dlon = F.least(dlon, F.lit(360.0) - dlon)
    dlon_ok = dlon * F.least(cos_lat1, cos_lat2) <= F.lit(m * 90.0 * radius_m / EARTH_RADIUS_M)
    return dlat_ok & dlon_ok


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Distance in meters between two WGS84 points, pure Spark SQL."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    # clamp guards fp noise at antipodal / identical points
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Same formula as ANSI SQL text (for DuckDB oracle parity)."""
    return (
        f"2 * {EARTH_RADIUS_M} * asin(sqrt(least(1.0,"
        f" pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )
