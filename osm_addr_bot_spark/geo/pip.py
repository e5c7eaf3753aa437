"""Point-in-polygon, Spark-native.

The exact even-odd (ray casting) test is a single native expression:
`F.aggregate` folds over the ring's edges counting crossings — it runs
inside whole-stage codegen per candidate (point, polygon) pair, no UDF
and no extra shuffle. Candidate pairs come from a hex-cell equi-join:
polygons pre-explode their covering cells (native bbox-lattice sample
+ 1-ring margin), points probe with their own cell.

This replaces the reference's remote `is_in` queries
(reference overpass.py:112-140) with a cell-prefix hash join +
native refine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import HEX_LAT0_DEG
from osm_addr_bot_spark.geo import hexgrid as hg


def point_in_ring(lat: Column, lon: Column, ring: Column) -> Column:
    """Even-odd PIP as a native fold over ring edges.

    Convention: ring is array<struct<lat,lon>>, implicitly closed
    (last->first edge included). Points exactly on an edge are
    implementation-defined (fixtures stay off boundaries).
    """
    n = F.size(ring)
    idx = F.sequence(F.lit(1), n)  # element_at is 1-based

    def step(acc: Column, i: Column) -> Column:
        p1 = F.element_at(ring, i)
        p2 = F.element_at(ring, F.when(i == n, F.lit(1)).otherwise(i + 1))
        y1, x1 = p1["lat"], p1["lon"]
        y2, x2 = p2["lat"], p2["lon"]
        # crossing iff edge straddles the horizontal line through the
        # point and the intersection lies to the east; the division is
        # only meaningful when the straddle condition holds (y1 != y2)
        straddles = (y1 > lat) != (y2 > lat)
        x_int = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        return acc + F.when(straddles & (lon < x_int), 1).otherwise(0)

    return F.aggregate(idx, F.lit(0), step) % 2 == 1


def polygons_with_cells(polygons: DataFrame, res: int) -> DataFrame:
    """Polygon dim exploded by covering cell — the build side of every
    PIP join: one row per (polygon row, ``_cell``), no shuffle.

    Native lattice: the ring's bbox is sampled at 0.8x the cell edge,
    then a 1-ring margin absorbs sampling gaps. The grid projects at the
    fixed ``HEX_LAT0_DEG``, so both lattice steps are constants and the
    sampling is as dense as the cells at every latitude: each point lies
    within 0.57 edges of a sample, closer than the one-edge gap between
    cells two rings apart, so its cell is in the sample's 1-ring. The
    cover is a candidate SUPERSET refined by exact point_in_ring
    downstream, so any valid cover yields identical stage output.
    Native, because a Python cover spawns Python workers inside the
    pipeline's first broadcast builds (2 serial ~1.8 s single-task
    stages in an event-log audit). Each row's cells are deduplicated as
    an array before the one explode, so overlapping 1-rings do not
    multiply downstream PIP candidate pairs.
    """
    step_lat = (hg.EDGE_M[res] * 0.8) / 111_194.9
    step_lon = step_lat / math.cos(math.radians(HEX_LAT0_DEG))

    def axis(vals: Column, step: float) -> Column:
        lo = F.array_min(vals)
        n = F.ceil((F.array_max(vals) - lo) / step).cast("int")
        return F.transform(F.sequence(F.lit(0), n), lambda i: lo + i * step)

    lats = axis(F.transform(F.col("ring"), lambda v: v["lat"]), step_lat)
    lons = axis(F.transform(F.col("ring"), lambda v: v["lon"]), step_lon)
    samples = F.flatten(
        F.transform(lats, lambda la: F.transform(lons, lambda lo: hg.cell_expr(la, lo, res)))
    )
    cells = F.flatten(F.transform(samples, lambda c: hg.kring_expr(c, 1)))
    return polygons.select("*", F.explode(F.array_distinct(cells)).alias("_cell"))
