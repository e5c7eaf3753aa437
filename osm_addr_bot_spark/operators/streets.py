"""J4 — street-name proximity anti-join.

Internalizes the reference's ``query_street_names``
(overpass.py:143-151 compile, 347-382 exec, tier driver 37-55):
an UNKNOWN_STREET_NAME issue is CLEARED when a named highway within the
current tier radius (500 -> 1000 -> 3000 m) carries its ``addr:street``
as ``name`` or ``alt_name`` — EXACT string match, no normalization
(quirk Q3, overpass.py:379); whoever survives tier 3000 stays flagged.
Large elements never enter (reference @skip_large).

The tier escalation exists to keep the reference's *remote* queries
cheap; its final result equals "no matching street within the largest
tier" (matched@500 ⊆ matched@3000 by distance monotonicity). So the
stage runs ONE pass at ``max(STREET_TIERS_M)``: street polylines
pre-explode to vertices and name variants, indexed by hex cell (a
static index table at scale); issues explode their disk-cover cells and
``geo.join.radius_join`` LEFT SEMI-joins them on (cell, name), so the
shuffle carries only same-named candidates and each issue stops at its
first in-range vertex. The unmatched rest is a left-anti join.

Distance note: point-to-way distance is approximated by min distance
to the way's vertices (generator emits 100 m-spaced vertices; fixtures
keep >=5% margins, FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import STREET_TIERS_M
from osm_addr_bot_spark.geo.hexgrid import cell_expr, pick_res, with_cover
from osm_addr_bot_spark.geo.join import radius_join
from osm_addr_bot_spark.operators.duplicates import _ISSUE_KEY, skip_large_expr


def street_vertex_index(streets: DataFrame, res: int) -> DataFrame:
    """(_cell, _name, b_lat, b_lon): one row per (vertex, name-variant)."""
    return (
        streets.select(
            "way_id",
            F.explode(F.array(F.col("name"), F.col("alt_name"))).alias("_name"),
            F.col("points"),
        )
        .filter(F.col("_name").isNotNull())
        .select("way_id", "_name", F.explode("points").alias("p"))
        .select(
            "_name",
            F.col("p.lat").alias("b_lat"),
            F.col("p.lon").alias("b_lon"),
        )
        .withColumn("_cell", cell_expr(F.col("b_lat"), F.col("b_lon"), res))
    )


def street_names_stage(issues: DataFrame, streets: DataFrame) -> DataFrame:
    """J4: returns the issues with no same-named street vertex within
    ``max(STREET_TIERS_M)``."""
    radius = max(STREET_TIERS_M)
    res = pick_res(radius)
    iss = issues.filter(skip_large_expr())
    # slim probe (r3 shuffle-width audit): the (cell, name) exchange
    # replicates every probe row once per cover cell, so it ships only
    # the issue key + point + name — the full issue payload (tags map,
    # bbox) stays on the anti-join side, keyed on _ISSUE_KEY
    probe = with_cover(
        iss.select(
            *_ISSUE_KEY, "lat", "lon",
            F.element_at(F.col("tags"), F.lit("addr:street")).alias("_name"),
        ),
        radius,
        res,
    )
    matched = radius_join(
        probe, street_vertex_index(streets, res), radius, ["_cell", "_name"], "left_semi"
    ).select(*_ISSUE_KEY)
    return iss.join(matched, _ISSUE_KEY, "left_anti")
