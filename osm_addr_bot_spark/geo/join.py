"""Cell-keyed radius join — the one refine behind every ``around`` query.

The reference's radius searches (J1 duplicates at 100 m, J2 place
proximity at 10 km, J4 street names at 3 km) all run here as the same
two steps: an equi-join on hex cell (plus any other equal key, e.g. a
name), then an exact distance refine on the candidate pairs.
Cover construction stays with the callers; this module only owns the
join and the refine, so the prefilter's placement and the semi-join
early exit exist once.

Column contract:

  * ``probe`` carries ``lat``/``lon`` and is already exploded over its
    disk-cover cells (``hexgrid.with_cover`` or ``kring_expr``);
  * ``build`` carries its own cell and point as ``b_lat``/``b_lon``;
  * both carry every column named in ``on`` and share no other name.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.geo.haversine import haversine_m, radius_prefilter


def radius_join(
    probe: DataFrame,
    build: DataFrame,
    radius_m: float,
    on: list[str],
    how: str = "inner",
    where: Column | None = None,
) -> DataFrame:
    """Equi-join ``probe`` to ``build`` on ``on``, keeping pairs within
    ``radius_m`` great-circle meters.

    One fused condition, cheapest first (codegen short-circuits the
    conjunction left to right): the caller's ``where``, then the
    trig-free ``radius_prefilter`` on a per-row ``cos(lat)`` computed
    once per side, and only survivors pay the asin/sqrt haversine.

    ``how="inner"`` returns the matching pairs (both sides' columns, the
    ``on`` keys once). ``how="left_semi"`` returns the probe rows with at
    least one match; the distance sits inside the join condition, so the
    hash join stops at the first in-range build row per probe row.
    """
    r = float(radius_m)
    probe = probe.withColumn("_cos", F.cos(F.radians(F.col("lat"))))
    build = build.withColumn("_b_cos", F.cos(F.radians(F.col("b_lat"))))
    lat, lon, b_lat, b_lon = (F.col(c) for c in ("lat", "lon", "b_lat", "b_lon"))
    refine = radius_prefilter(
        lat, lon, b_lat, b_lon, r, F.col("_cos"), F.col("_b_cos")
    ) & (haversine_m(lat, lon, b_lat, b_lon) <= F.lit(r))
    if where is not None:
        refine = where & refine

    if how == "inner":
        return probe.join(build, on).filter(refine).drop("_cos", "_b_cos")
    if how == "left_semi":
        keys = reduce(and_, [probe[c] == build[c] for c in on])
        return probe.join(build, keys & refine, "left_semi").drop("_cos")
    raise ValueError(f"radius_join: how must be 'inner' or 'left_semi', got {how!r}")
