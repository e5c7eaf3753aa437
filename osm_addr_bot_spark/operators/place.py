"""J2 + J3 — place containment / proximity stages.

J2 (`place_not_in_area_stage`) internalizes the reference's
``query_place_not_in_area`` (overpass.py:112-127 compile, 276-307 exec):
a BAD_CITY_WITH_PLACE issue is EXONERATED when either

  arm A: it lies inside a non-admin polygon whose ``name`` equals its
         ``addr:place`` exactly (``area.i[!admin_level][name=...]``;
         alt_name does NOT count here), or
  arm B: any place node named exactly ``addr:place`` lies within 10 km
         (``nwr[place][name=...](around.a:10000)`` — no admin
         restriction on this arm).

Survivors (no hit on either arm) stay flagged — a left-anti join.
Large elements are excluded from the stage (reference @skip_large).

J3 (`place_mistype_stage`) internalizes ``query_place_mistype``
(overpass.py:130-140, 309-345): collect name+alt_name of every
*enclosing* non-admin named polygon; the issue is flagged iff the exact
``addr:place`` is absent from that set AND its normalized form equals
some normalized member (quirk Q3: exact-miss + normalized-hit). No
skip_large on this stage (reference has only @batch).

Geometry note: the reference tests way/relation containment via member
nodes (``node(w); is_in`` — overpass.py:117,133); this engine uses the
element's representative point. Fixtures place geometries so both
interpretations agree (FIXTURES.md §4).

Physical plan: the non-admin named polygons explode their covering hex
cells (res 7 — town-sized polygons) in one narrow projection, no
shuffle; issues probe with their own cell. Arm A is a LEFT SEMI join on
(cell, name = addr:place) with the exact PIP fold in its condition, so
each issue stops at its first containing polygon; J3 inner-joins the
same cover on cell and filters by the fold. Arm B is a
``geo.join.radius_join`` LEFT SEMI of the issues' 10 km cover against
place nodes on (cell, name) with the distance refine in its condition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import PLACE_PROXIMITY_M
from osm_addr_bot_spark.checks.selectors import normalize_expr
from osm_addr_bot_spark.geo.hexgrid import cell_expr, pick_res, with_cover
from osm_addr_bot_spark.geo.join import radius_join
from osm_addr_bot_spark.geo.pip import point_in_ring, polygons_with_cells
from osm_addr_bot_spark.operators.duplicates import _ISSUE_KEY, skip_large_expr

_PIP_RES = 7


def _polygon_cover(polygons: DataFrame) -> DataFrame:
    """(_cell, name, alt_name, ring): the res-7 cover of the non-admin
    named polygons — the one build side of J2 arm A and J3."""
    polys = polygons.filter(F.col("admin_level").isNull() & F.col("name").isNotNull())
    return polygons_with_cells(polys, _PIP_RES).select("_cell", "name", "alt_name", "ring")


def _with_pip_cell(issues: DataFrame) -> DataFrame:
    return issues.withColumn("_cell", cell_expr(F.col("lat"), F.col("lon"), _PIP_RES))


def _inside() -> Column:
    return point_in_ring(F.col("lat"), F.col("lon"), F.col("ring"))


def place_not_in_area_stage(
    issues: DataFrame, polygons: DataFrame, place_nodes: DataFrame
) -> DataFrame:
    """J2: keep only issues with no containment (arm A) nor proximity
    (arm B) hit."""
    iss = issues.filter(skip_large_expr())
    place = F.element_at(F.col("tags"), F.lit("addr:place"))

    probe_a = _with_pip_cell(iss)
    cover = _polygon_cover(polygons)
    hit_a = probe_a.join(
        cover,
        (probe_a["_cell"] == cover["_cell"]) & (place == cover["name"]) & _inside(),
        "left_semi",
    ).select(*_ISSUE_KEY)

    res = pick_res(PLACE_PROXIMITY_M)
    probe = with_cover(iss.withColumn("_name", place), PLACE_PROXIMITY_M, res)
    nodes = place_nodes.select(
        cell_expr(F.col("lat"), F.col("lon"), res).alias("_cell"),
        F.col("name").alias("_name"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
    )
    hit_b = radius_join(
        probe, nodes, PLACE_PROXIMITY_M, ["_cell", "_name"], "left_semi"
    ).select(
        *_ISSUE_KEY
    )

    # anti join tolerates duplicate keys on the build side — no distinct
    hits = hit_a.unionByName(hit_b)
    return iss.join(hits, _ISSUE_KEY, "left_anti")


def place_mistype_stage(issues: DataFrame, polygons: DataFrame) -> DataFrame:
    """J3: flag issues whose addr:place mismatches every enclosing name
    exactly but matches one after normalization."""
    pairs = _with_pip_cell(issues).join(_polygon_cover(polygons), "_cell").filter(_inside())

    names = (
        pairs.withColumn("_n", F.explode(F.array(F.col("name"), F.col("alt_name"))))
        .filter(F.col("_n").isNotNull())
        .groupBy(*_ISSUE_KEY)
        .agg(F.collect_set("_n").alias("_names"))
    )

    place = F.element_at(F.col("tags"), F.lit("addr:place"))
    flagged_keys = (
        issues.select(*_ISSUE_KEY, F.col("tags"))
        .join(names, _ISSUE_KEY)
        .filter(
            ~F.array_contains(F.col("_names"), place)
            & F.exists(
                F.col("_names"), lambda n: normalize_expr(n) == normalize_expr(place)
            )
        )
        .select(*_ISSUE_KEY)
    )
    return issues.join(flagged_keys, _ISSUE_KEY, "left_semi")
