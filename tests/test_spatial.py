"""Spatial-stage goldens (FIXTURES.md §4) with hand-placed coordinates
at safe margins around every threshold."""

import math

from pyspark.sql import functions as F

from osm_addr_bot_spark.config import (
    DUPLICATE_RADIUS_M,
    EQUAL_TAGS,
    LARGE_ELEMENT_MAX_SIZE,
    PLACE_PROXIMITY_M,
    STREET_TIERS_M,
    WHITELIST_TAGS,
)
from osm_addr_bot_spark.geo.haversine import EARTH_RADIUS_M
from osm_addr_bot_spark.operators.duplicates import duplicates_stage
from osm_addr_bot_spark.operators.guilt import filter_guilty
from osm_addr_bot_spark.operators.place import place_mistype_stage, place_not_in_area_stage
from osm_addr_bot_spark.operators.streets import street_names_stage
from tests.helpers import (
    ISSUE_SCHEMA, PYTHON_EVAL_NODES, elements_df, executed_plan, issues_df, mk_issue, offset,
)

LAT, LON = 52.1, 21.1
ADDR = {"addr:city": "Warszawa", "addr:housenumber": "7", "addr:street": "Polna"}


def _poly_ring(clat, clon, radius_m, n=16):
    return [
        {
            "lat": clat + radius_m * math.sin(2 * math.pi * i / n) / 111_194.9,
            "lon": clon + radius_m * math.cos(2 * math.pi * i / n) / (111_194.9 * math.cos(math.radians(clat))),
        }
        for i in range(n)
    ]


def _polygons(spark, rows):
    return spark.createDataFrame(
        rows,
        "polygon_id long, name string, alt_name string, admin_level string,"
        " ring array<struct<lat:double, lon:double>>",
    )


# ------------------------------------------------------------------------ J1
def test_duplicates_positive_and_negative_distance(spark):
    la2, lo2 = offset(LAT, LON, east_m=90)     # within 100 m
    la3, lo3 = offset(LAT, LON, north_m=115)   # outside
    issue = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                     element_type="node", tags=dict(ADDR, building="yes"), lat=LAT, lon=LON)
    near = mk_issue(changeset_id=2, element_id=2, element_type="way",
                    tags=dict(ADDR, name="Dom"), lat=la2, lon=lo2, timestamp=1_600_000_000)
    far_ = mk_issue(changeset_id=3, element_id=3, element_type="way",
                    tags=dict(ADDR), lat=la3, lon=lo3)
    issues = issues_df(spark, [issue])
    elements = elements_df(spark, [issue, near, far_])
    out = duplicates_stage(issues, elements).collect()
    got = {(r["uid"], r["changeset_id"], r["timestamp"]) for r in out}
    # issue survives + duplicate inherits issue's changeset/timestamp (Q4)
    assert got == {(-1, 1, 1_700_000_000), (2 + (1 << 27), 1, 1_700_000_000)}
    dup = [r for r in out if r["uid"] != -1][0]
    assert dup["bb_width_m"] == 0.0 and dup["minlat"] == 0.0  # zeroed bbox (Q4)


def test_duplicates_issue_and_duplicate_first_in_wins(spark):
    """An element that is both a surviving issue and another issue's
    duplicate keeps its OWN provenance: the reference builds set(issues)
    first, then .update(duplicates) — first-in wins (overpass.py:239-272).
    The inherited dup row here carries a SMALLER changeset id, so a
    min-(changeset, timestamp) winner would wrongly prefer it."""
    la2, lo2 = offset(LAT, LON, east_m=80)
    a = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                 element_type="node", tags=dict(ADDR, building="yes"),
                 lat=LAT, lon=LON, timestamp=1_700_000_100)
    b = mk_issue(check_id="DUPLICATED", changeset_id=2, element_id=2,
                 element_type="way", tags=dict(ADDR, name="Dom"),
                 lat=la2, lon=lo2, timestamp=1_700_000_200)
    out = duplicates_stage(issues_df(spark, [a, b]), elements_df(spark, [a, b])).collect()
    got = {(r["uid"], r["changeset_id"], r["timestamp"]) for r in out}
    assert got == {(-1, 1, 1_700_000_100), (2 + (1 << 27), 2, 1_700_000_200)}


def test_duplicates_no_match_drops_issue(spark):
    la3, lo3 = offset(LAT, LON, north_m=115)
    issue = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                     tags=dict(ADDR), lat=LAT, lon=LON)
    far_ = mk_issue(changeset_id=3, element_id=3, element_type="way", tags=dict(ADDR),
                    lat=la3, lon=lo3)
    out = duplicates_stage(issues_df(spark, [issue]), elements_df(spark, [issue, far_]))
    assert out.count() == 0


def test_duplicates_null_safe_unit_and_whitelist(spark):
    la2, lo2 = offset(LAT, LON, east_m=80)
    base = dict(ADDR)
    issue = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                     tags=base, lat=LAT, lon=LON)
    # differing addr:unit -> not equal (X9 null-safe)
    unit = mk_issue(changeset_id=2, element_id=2, element_type="way",
                    tags=dict(base, **{"addr:unit": "B"}), lat=la2, lon=lo2)
    # non-whitelisted key on the neighbor -> excluded (F21)
    dirty = mk_issue(changeset_id=2, element_id=3, element_type="way",
                     tags=dict(base, shop="bakery"), lat=la2, lon=lo2)
    out = duplicates_stage(issues_df(spark, [issue]), elements_df(spark, [issue, unit, dirty]))
    assert out.count() == 0

    # both units absent -> equal; whitelisted extras ok
    clean = mk_issue(changeset_id=2, element_id=4, element_type="way",
                     tags=dict(base, building="yes", name="X", source="s"), lat=la2, lon=lo2)
    out2 = duplicates_stage(issues_df(spark, [issue]), elements_df(spark, [issue, clean]))
    assert {r["uid"] for r in out2.collect()} == {-1, 4 + (1 << 27)}


def test_duplicates_same_family_not_matched(spark):
    # node issue only searches ways/relations (reference overpass.py:103-104)
    la2, lo2 = offset(LAT, LON, east_m=50)
    issue = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                     element_type="node", tags=dict(ADDR), lat=LAT, lon=LON)
    node2 = mk_issue(changeset_id=2, element_id=2, element_type="node",
                     tags=dict(ADDR), lat=la2, lon=lo2)
    out = duplicates_stage(issues_df(spark, [issue]), elements_df(spark, [issue, node2]))
    assert out.count() == 0


def test_duplicates_skip_large(spark):
    la2, lo2 = offset(LAT, LON, east_m=50)
    issue = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                     element_type="way", tags=dict(ADDR), lat=LAT, lon=LON, bb_m=1500)
    cand = mk_issue(changeset_id=2, element_id=2, element_type="node",
                    tags=dict(ADDR), lat=la2, lon=lo2)
    out = duplicates_stage(issues_df(spark, [issue]), elements_df(spark, [issue, cand]))
    assert out.count() == 0  # large issue never enters the stage


# ------------------------------------------------------------------------ J2
def test_place_not_in_area(spark):
    polys = _polygons(
        spark,
        [
            (1, "Wola", None, None, _poly_ring(LAT, LON, 3000)),
            (2, "AdminTown", None, "8", _poly_ring(LAT, LON, 3000)),
        ],
    )
    pn_lat, pn_lon = offset(LAT, LON, east_m=9000)
    far_lat, far_lon = offset(LAT, LON, east_m=11000)
    place_nodes = spark.createDataFrame(
        [(1, "NearVillage", pn_lat, pn_lon), (2, "FarVillage", far_lat, far_lon)],
        "node_id long, name string, lat double, lon double",
    )

    def bcwp(eid, place):
        return mk_issue(check_id="BAD_CITY_WITH_PLACE", priority=50, post_stage="place_not_in_area",
                        changeset_id=1, element_id=eid,
                        tags={"addr:city": "X", "addr:place": place}, lat=LAT, lon=LON)

    issues = issues_df(
        spark,
        [
            bcwp(1, "Wola"),         # inside matching polygon -> exonerated
            bcwp(2, "AdminTown"),    # admin polygon must NOT exonerate
            bcwp(3, "NearVillage"),  # 9 km place node -> exonerated
            bcwp(4, "FarVillage"),   # 11 km -> flagged
            bcwp(5, "Nowhere"),      # no match -> flagged
        ],
    )
    out = place_not_in_area_stage(issues, polys, place_nodes)
    assert {r["element_id"] for r in out.collect()} == {2, 4, 5}


def test_place_not_in_area_outside_polygon(spark):
    polys = _polygons(spark, [(1, "Wola", None, None, _poly_ring(LAT, LON, 1000))])
    out_lat, out_lon = offset(LAT, LON, north_m=1500)  # outside the ring
    place_nodes = spark.createDataFrame([], "node_id long, name string, lat double, lon double")
    issue = mk_issue(check_id="BAD_CITY_WITH_PLACE", changeset_id=1, element_id=1,
                     tags={"addr:city": "X", "addr:place": "Wola"}, lat=out_lat, lon=out_lon)
    out = place_not_in_area_stage(issues_df(spark, [issue]), polys, place_nodes)
    assert out.count() == 1  # not contained -> stays flagged


# ------------------------------------------------------------------------ J3
def test_place_mistype(spark):
    polys = _polygons(
        spark,
        [
            (1, "Zielona Góra", None, None, _poly_ring(LAT, LON, 3000)),
            (2, None, "Altville", None, _poly_ring(LAT, LON, 3000)),
        ],
    )

    def pm(eid, place, lat=LAT, lon=LON):
        return mk_issue(check_id="PLACE_MISTYPE", priority=80, post_stage="place_mistype",
                        changeset_id=1, element_id=eid, tags={"addr:place": place},
                        lat=lat, lon=lon)

    far_lat, far_lon = offset(LAT, LON, north_m=5000)
    issues = issues_df(
        spark,
        [
            pm(1, "zielona góra"),      # normalized match, exact miss -> flag
            pm(2, "Zielona Góra"),      # exact match -> clear
            pm(3, "Radom"),             # no match at all -> clear
            pm(4, "zielona góra", far_lat, far_lon),  # outside polygon -> clear
        ],
    )
    out = place_mistype_stage(issues, polys)
    assert {r["element_id"] for r in out.collect()} == {1}


def test_place_mistype_alt_name_counts(spark):
    # alt_name participates in the name set (reference overpass.py:333-334)
    polys = _polygons(spark, [(1, "Main", "Stare Miasto", None, _poly_ring(LAT, LON, 3000))])
    issue = mk_issue(check_id="PLACE_MISTYPE", changeset_id=1, element_id=1,
                     tags={"addr:place": "stare  miasto"}, lat=LAT, lon=LON)
    out = place_mistype_stage(issues_df(spark, [issue]), polys)
    assert out.count() == 1


# ------------------------------------------------------------------------ J4
def _streets(spark, rows):
    return spark.createDataFrame(
        rows, "way_id long, name string, alt_name string, points array<struct<lat:double, lon:double>>"
    )


def _street_at(dist_m, name, alt=None, n_pts=5):
    pts = []
    for i in range(n_pts):
        la, lo = offset(LAT, LON, north_m=dist_m, east_m=i * 50.0)
        pts.append({"lat": la, "lon": lo})
    return (hash(name) % 10_000, name, alt, pts)


def _usn(eid, street):
    return mk_issue(check_id="UNKNOWN_STREET_NAME", priority=10, post_stage="street_names",
                    changeset_id=1, element_id=eid, tags={"addr:street": street},
                    lat=LAT, lon=LON)


def test_street_names_tiers(spark):
    streets = _streets(
        spark,
        [
            _street_at(400, "Polna"),
            _street_at(2500, "Leśna"),
            _street_at(400, "Krótka", alt="Aleja Krótka"),
            _street_at(400, "polna"),  # case differs — exact match only (Q3)
        ],
    )
    issues = issues_df(
        spark,
        [
            _usn(1, "Polna"),         # cleared tier 1
            _usn(2, "Leśna"),         # cleared tier 3
            _usn(3, "Aleja Krótka"),  # alt_name exact -> cleared
            _usn(4, "Ogrodowa"),      # nothing named that -> flagged
            _usn(5, "POLNA"),         # only case-variant nearby -> flagged (Q3)
        ],
    )
    out = street_names_stage(issues, streets)
    assert {r["element_id"] for r in out.collect()} == {4, 5}


def test_street_names_distance_bound(spark):
    streets = _streets(spark, [_street_at(3300, "Polna", n_pts=1)])  # beyond 3 km
    out = street_names_stage(issues_df(spark, [_usn(1, "Polna")]), streets)
    assert out.count() == 1


def test_street_names_skip_large(spark):
    streets = _streets(spark, [_street_at(100, "Polna")])
    big = mk_issue(check_id="UNKNOWN_STREET_NAME", post_stage="street_names", changeset_id=1,
                   element_id=9, element_type="way", tags={"addr:street": "Nieznana"},
                   lat=LAT, lon=LON, bb_m=1500)
    out = street_names_stage(issues_df(spark, [big]), streets)
    assert out.count() == 0


# ------------------------------------------------------------------------ J5
def _hist(spark, rows):
    return spark.createDataFrame(
        rows,
        "element_type string, element_id long, valid_from long, valid_to long,"
        " tags map<string,string>",
    )


def test_guilt_semantics(spark):
    ts = 1_700_000_000
    issues = issues_df(
        spark,
        [
            # cs 1: addr tag changed -> guilty
            mk_issue(changeset_id=1, element_id=1, check_id="BAD_POSTCODE_FORMAT",
                     tags={"addr:postcode": "bad"}, timestamp=ts),
            # cs 2: only 'note' changed -> not guilty for ADDRESS (addr:* selector)
            mk_issue(changeset_id=2, element_id=2, check_id="BAD_POSTCODE_FORMAT",
                     tags={"addr:postcode": "bad", "note": "new"}, timestamp=ts),
            # cs 3: element absent from history -> created -> guilty (Q6)
            mk_issue(changeset_id=3, element_id=3, check_id="BAD_POSTCODE_FORMAT",
                     tags={"addr:postcode": "bad"}, timestamp=ts),
            # cs 4: identical snapshot -> not guilty
            mk_issue(changeset_id=4, element_id=4, check_id="BAD_POSTCODE_FORMAT",
                     tags={"addr:postcode": "bad"}, timestamp=ts),
        ],
    )
    hist = _hist(
        spark,
        [
            ("node", 1, 0, ts, {"addr:postcode": "old"}),
            # a later version of node 1: the as-of join must pick the
            # version live at ts-1, not this one
            ("node", 1, ts, ts + 50, {"addr:postcode": "mid"}),
            ("node", 2, 0, ts, {"addr:postcode": "bad", "note": "old"}),
            ("node", 4, 0, ts, {"addr:postcode": "bad"}),
        ],
    )
    kept = filter_guilty(issues, hist).select("changeset_id", "element_id").collect()
    assert {tuple(r) for r in kept} == {(1, 1), (3, 3)}


def test_guilt_changeset_level(spark):
    # one guilty element convicts the whole changeset (Q6 granularity)
    ts = 1_700_000_000
    issues = issues_df(
        spark,
        [
            mk_issue(changeset_id=1, element_id=1, check_id="BAD_POSTCODE_FORMAT",
                     tags={"addr:postcode": "bad"}, timestamp=ts),
            mk_issue(changeset_id=1, element_id=2, check_id="BAD_POSTCODE_FORMAT",
                     tags={"addr:postcode": "bad2"}, timestamp=ts),
        ],
    )
    hist = _hist(
        spark,
        [
            ("node", 1, 0, ts, {"addr:postcode": "bad"}),   # unchanged
            ("node", 2, 0, ts, {"addr:postcode": "old"}),   # changed -> guilty
        ],
    )
    kept = filter_guilty(issues, hist)
    assert kept.count() == 2


def _haversine_m(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    a = (math.sin((p2 - p1) / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * math.asin(math.sqrt(min(a, 1.0)))


def _duplicates_brute_force(issue_rows, element_rows):
    """The reference predicate (duplicate_search.py:21-56, overpass.py:
    223-274) evaluated pair by pair in Python, over mk_issue tuples."""
    col = {c.split()[0]: i for i, c in enumerate(ISSUE_SCHEMA.split(", "))}

    def g(row, name):
        return row[col[name]]

    def clean(row):
        return all(k.startswith(WHITELIST_TAGS) for k in g(row, "tags"))

    out = []  # (is_dup, changeset_id, timestamp, doc_id, span_offset, check_id, uid)
    for iss in issue_rows:
        if not (g(iss, "bb_width_m") < LARGE_ELEMENT_MAX_SIZE
                and g(iss, "bb_height_m") < LARGE_ELEMENT_MAX_SIZE and clean(iss)):
            continue
        matches = [
            c for c in element_rows
            if "addr:housenumber" in g(c, "tags") and clean(c)
            and (g(iss, "element_type") == "node") != (g(c, "element_type") == "node")
            and g(c, "uid") != g(iss, "uid")
            and all(g(iss, "tags").get(t) == g(c, "tags").get(t) for t in EQUAL_TAGS)
            and _haversine_m(g(iss, "lat"), g(iss, "lon"), g(c, "lat"), g(c, "lon"))
            <= DUPLICATE_RADIUS_M
        ]
        if not matches:
            continue
        prov = (g(iss, "changeset_id"), g(iss, "timestamp"))
        out.append((0, *prov, g(iss, "doc_id"), g(iss, "span_offset"),
                    g(iss, "check_id"), g(iss, "uid")))
        out += [(1, *prov, g(c, "doc_id"), g(c, "span_offset"),
                 g(iss, "check_id"), g(c, "uid")) for c in matches]
    # set semantics on uid, issue rows first (set(issues), then .update)
    best = {}
    for row in sorted(out):
        best.setdefault(row[-1], row)
    return {(r[5], r[1], r[6], r[2]) for r in best.values()}


def test_duplicates_dense_cell_matches_brute_force(spark):
    """~60 nodes and ways in ONE res-9 cell with a few distinct
    addresses: the cell-keyed join (no salting, keyed on the address
    quintuple by Catalyst) must return exactly what the reference
    predicate gives pair by pair."""
    import numpy as np

    from osm_addr_bot_spark.geo import hexgrid as hg

    rng = np.random.default_rng(9)
    pts = [offset(LAT, LON, north_m=float(n), east_m=float(e))
           for n, e in rng.uniform(-150, 150, size=(400, 2))]
    cells = hg.cell_of(np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), 9)
    ids, counts = np.unique(cells, return_counts=True)
    dense = ids[counts.argmax()]
    kept = []
    for p, c in zip(pts, cells):
        # fixture margin: no pair sits within 0.5 m of the radius
        if c == dense and all(
            abs(_haversine_m(*p, *q) - DUPLICATE_RADIUS_M) > 0.5 for q in kept
        ):
            kept.append(p)
    pts = kept[:60]
    assert len(pts) == 60
    rows = []
    for i, (la, lo) in enumerate(pts):
        tags = {"addr:city": "Warszawa", "addr:street": "Polna",
                "addr:housenumber": str(1 + (i // 4) % 3), "building": "yes"}
        if i % 5 == 0:
            tags["addr:unit"] = "A"      # absent on the rest: null-safe equality
        if i % 11 == 0:
            tags["shop"] = "bakery"      # not whitelist-clean
        rows.append(mk_issue(
            check_id="DUPLICATED", changeset_id=100 + (i * 7) % 60, element_id=i + 1,
            element_type="node" if i % 2 == 0 else "way", tags=tags, lat=la, lon=lo,
            timestamp=1_700_000_000 + (i * 13) % 60, bb_m=1500.0 if i % 17 == 3 else 0.0,
        ))
    issue_rows = [r for i, r in enumerate(rows) if i % 3 == 0]

    out = duplicates_stage(issues_df(spark, issue_rows), elements_df(spark, rows))
    got = {(r["check_id"], r["changeset_id"], r["uid"], r["timestamp"]) for r in out.collect()}
    expect = _duplicates_brute_force(issue_rows, rows)
    assert len(expect) > 10  # 33 issue and duplicate rows with this seed
    assert got == expect


def test_spatial_plans_have_no_python(spark):
    """Scale guard: the spatial joins must stay JVM-native — no
    row-at-a-time or Arrow Python eval in the plan (BENCH.md 'hot paths
    are native'). J1's join is keyed on the address quintuple besides
    the cell. J2 and J4 must match through a
    LEFT SEMI join that carries the distance refine in its condition,
    so the hash join stops at the first in-range match; J2 arm A does
    the same with the PIP fold. The polygon cover is a narrow projection:
    no J2/J3 exchange is keyed on polygon_id."""
    issue = mk_issue(check_id="DUPLICATED", changeset_id=1, element_id=1,
                     tags=dict(ADDR), lat=LAT, lon=LON)
    cand = mk_issue(changeset_id=2, element_id=2, element_type="way",
                    tags=dict(ADDR), lat=LAT, lon=LON)
    dup_plan = executed_plan(
        duplicates_stage(issues_df(spark, [issue]), elements_df(spark, [issue, cand]))
    )

    polys = _polygons(spark, [(1, "Wola", None, None, _poly_ring(LAT, LON, 1000))])
    place_nodes = spark.createDataFrame(
        [(1, "Wola", LAT, LON)], "node_id long, name string, lat double, lon double"
    )
    bcwp = mk_issue(check_id="BAD_CITY_WITH_PLACE", post_stage="place_not_in_area",
                    changeset_id=1, element_id=1, tags={"addr:place": "Wola"},
                    lat=LAT, lon=LON)
    place_plan = executed_plan(
        place_not_in_area_stage(issues_df(spark, [bcwp]), polys, place_nodes)
    )
    mistype = mk_issue(check_id="PLACE_MISTYPE", post_stage="place_mistype",
                       changeset_id=1, element_id=1, tags={"addr:place": "wola"},
                       lat=LAT, lon=LON)
    mistype_plan = executed_plan(place_mistype_stage(issues_df(spark, [mistype]), polys))
    street_plan = executed_plan(
        street_names_stage(
            issues_df(spark, [_usn(1, "Polna")]), _streets(spark, [_street_at(400, "Polna")])
        )
    )

    for plan in (dup_plan, place_plan, mistype_plan, street_plan):
        assert not [n for n in PYTHON_EVAL_NODES if n in plan], plan
    # J1 needs no salting: Catalyst keys its join on the null-safe
    # address quintuple as well as the cell, so a dense cell spreads
    # over partitions by address
    dup_joins = [ln for ln in dup_plan.splitlines() if "Join" in ln and "_cell" in ln]
    assert dup_joins and all("isnull(_eq0" in ln for ln in dup_joins), dup_plan
    assert "_salt" not in dup_plan and "_hot" not in dup_plan, dup_plan
    for plan, radius in ((place_plan, PLACE_PROXIMITY_M), (street_plan, max(STREET_TIERS_M))):
        semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
        assert any("ASIN" in ln and f"<= {float(radius)}" in ln for ln in semi), plan
    semi = [ln for ln in place_plan.splitlines() if "LeftSemi" in ln]
    assert any("aggregate(sequence" in ln for ln in semi), place_plan
    for plan in (place_plan, mistype_plan):
        assert "hashpartitioning(polygon_id" not in plan, plan

