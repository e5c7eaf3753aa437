"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship slice of the engine (span parse ->
check fan-out -> priority dedup -> tile assignment) over a spans-shaped
table synthesized deterministically from /root/testdata/sf0.001.

``queries()`` / ``oracle_sql()`` expose every operator class of
SURVEY.md §2 plus the training-data-pipeline suite over the driver's
parquet tables, each with a DuckDB-runnable ANSI-SQL oracle. Engine
internals that need the spans-shaped input (exact message goldens,
checkpoint/resume) are covered by pytest instead (tests/).

Determinism rules shared by both sides:
  * synthetic coordinates derive from integer keys by fixed formulas;
  * every hash is md5-based (Spark's hash() != DuckDB's hash());
  * double outputs are rounded so value-hash comparison is fp-safe.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_addr_bot_spark.checks import fan_out_checks
from osm_addr_bot_spark.checks.selectors import normalize_expr
from osm_addr_bot_spark.datapipe import analytics as olap
from osm_addr_bot_spark.datapipe import dedup as dd
from osm_addr_bot_spark.datapipe import recipes as rcp
from osm_addr_bot_spark.datapipe import sampling as smp
from osm_addr_bot_spark.datapipe import similarity as sim
from osm_addr_bot_spark.datapipe import text as tx
from osm_addr_bot_spark.geo.haversine import haversine_m, haversine_sql
from osm_addr_bot_spark.geo.tiles import xyz_tile_cols, xyz_tile_sql
from osm_addr_bot_spark.operators.dedup import filter_priority
from osm_addr_bot_spark.operators.parse import parse_elements
from osm_addr_bot_spark.operators.tiles import assign_tiles
from osm_addr_bot_spark.sources import table_files

# --------------------------------------------------------------------------
# deterministic synthetic coordinates from integer keys (dense grid for
# the 100 m radius join; ~44 m lat x ~41 m lon steps)
_LAT = "49.5 + (c_custkey % 37) * 0.0004"
_LON = "14.5 + (c_custkey % 53) * 0.0006"
# wider spread for tiling
_WLAT = "49.5 + (c_custkey % 491) * 0.01"
_WLON = "14.5 + (c_custkey % 877) * 0.01"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cust_points(spark, sf_dir, lat_expr=_LAT, lon_expr=_LON):
    return _read(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"cast({lat_expr} as double) as lat", f"cast({lon_expr} as double) as lon"
    )


# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spans-shaped docs synthesized from sf0.001 -> parse ->
    fan-out -> priority dedup -> tiles."""
    sf_dir = "/root/testdata/sf0.001"
    flat = _read(spark, sf_dir, "documents")
    payload = F.to_json(
        F.struct(
            (F.lit(1_700_000_000) + F.col("doc_id")).alias("timestamp"),
            (F.col("doc_id") % 50).alias("changeset_id"),
            F.element_at(
                F.array(F.lit("node"), F.lit("way"), F.lit("relation")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("element_type"),
            (F.col("doc_id") + 1).alias("element_id"),
            F.map_from_arrays(
                F.array(F.lit("addr:postcode"), F.lit("addr:city"), F.lit("addr:housenumber")),
                F.array(
                    F.format_string("%02d-%d", F.col("doc_id") % 99, F.col("n_chars")),
                    F.col("source"),
                    (F.col("doc_id") % 200).cast("string"),
                ),
            ).alias("tags"),
            (F.lit(49.5) + (F.col("doc_id") % 491) * 0.01).alias("lat"),
            (F.lit(14.5) + (F.col("doc_id") % 877) * 0.01).alias("lon"),
        )
    )
    docs = flat.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                payload.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    elements = parse_elements(docs)
    issues = fan_out_checks(elements)
    deduped = filter_priority(issues, consider_post_fn=False)
    return assign_tiles(deduped).select(
        "check_id", "changeset_id", "element_type", "element_id", "uid", "tile_ref"
    )


# --------------------------------------------------------------------------
# query catalog: name -> (spark builder, oracle sql)
_CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _q(name: str, sql: str | None):
    def reg(fn):
        _CATALOG[name] = (fn, sql)
        return fn

    return reg


# ---------------------------------------------------------- relational core
@_q(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice * (1 - l_discount), 4) AS net
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_quantity > 30
    """,
)
def q_scan_filter_project(spark, sf_dir):
    # S1/F1/F2/P1: pushed-down scan + projection (ReadSchema pruning)
    li = _read(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_quantity") > 30)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net"),
    )


@_q(
    "postcode_format_check",
    """
    SELECT c_custkey, pc AS postcode,
           NOT regexp_matches(pc, '^\\d{2}-\\d{3}([;,]\\d{2}-\\d{3})*$') AS flagged
    FROM (SELECT c_custkey,
                 CASE WHEN c_custkey % 7 = 0 THEN printf('%d-%03d', c_custkey % 999, c_custkey % 999)
                      ELSE printf('%02d-%03d', c_custkey % 99, c_custkey % 1000) END AS pc
          FROM customer)
    """,
)
def q_postcode_format_check(spark, sf_dir):
    # F8/X6: the BAD_POSTCODE_FORMAT regex over derived postcodes
    from osm_addr_bot_spark.checks.registry import POSTCODE_RE

    c = _read(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "CASE WHEN c_custkey % 7 = 0 THEN printf('%d-%03d', c_custkey % 999, c_custkey % 999)"
        " ELSE printf('%02d-%03d', c_custkey % 99, c_custkey % 1000) END AS pc",
    )
    return c.select(
        "c_custkey",
        F.col("pc").alias("postcode"),
        (~F.col("pc").rlike(POSTCODE_RE)).alias("flagged"),
    )


@_q(
    "normalize_mistype",
    """
    SELECT r_regionkey, regexp_replace(lower(trim(padded)), '\\s{2,}', ' ', 'g') AS norm,
           (padded <> r_name AND
            regexp_replace(lower(trim(padded)), '\\s{2,}', ' ', 'g') =
            regexp_replace(lower(trim(r_name)), '\\s{2,}', ' ', 'g')) AS mistype
    FROM (SELECT r_regionkey, r_name, '  ' || upper(r_name) || '   ' AS padded FROM region)
    """,
)
def q_normalize_mistype(spark, sf_dir):
    # X1 + F9: CITY_WITH_PLACE_MISTYPE core (raw != AND normalized ==)
    r = _read(spark, sf_dir, "region").selectExpr(
        "r_regionkey", "r_name", "'  ' || upper(r_name) || '   ' AS padded"
    )
    return r.select(
        "r_regionkey",
        normalize_expr(F.col("padded")).alias("norm"),
        (
            (F.col("padded") != F.col("r_name"))
            & (normalize_expr(F.col("padded")) == normalize_expr(F.col("r_name")))
        ).alias("mistype"),
    )


@_q(
    "glob_selector_like",
    """
    SELECT p_partkey, p_type FROM part
    WHERE p_type LIKE 'PROMO%' OR p_type LIKE '%BRASS%'
    """,
)
def q_glob_selector_like(spark, sf_dir):
    # X5/F3: glob -> LIKE translation semantics
    from osm_addr_bot_spark.checks.selectors import glob_to_like

    p = _read(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like(glob_to_like("PROMO*")) | F.col("p_type").like(glob_to_like("*BRASS*"))
    ).select("p_partkey", "p_type")


@_q(
    "priority_dedup_window",
    """
    SELECT l_orderkey, l_linenumber, l_linestatus
    FROM (SELECT l_orderkey, l_linenumber, l_linestatus,
                 coalesce(max(CASE WHEN l_returnflag <> 'R' THEN l_linenumber END)
                          OVER (PARTITION BY l_orderkey), 0) AS claim
          FROM lineitem)
    WHERE l_linenumber >= claim
    """,
)
def q_priority_dedup_window(spark, sf_dir):
    # W1: the closed-form priority dedup (eligible = returnflag != 'R'
    # standing in for "has no post_fn"; priority = linenumber)
    li = _read(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    claim = F.coalesce(
        F.max(F.when(F.col("l_returnflag") != "R", F.col("l_linenumber"))).over(w), F.lit(0)
    )
    return (
        li.withColumn("claim", claim)
        .filter(F.col("l_linenumber") >= F.col("claim"))
        .select("l_orderkey", "l_linenumber", "l_linestatus")
    )


@_q(
    "group_count_cap",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_custkey HAVING count(*) <= 12
    """,
)
def q_group_count_cap(spark, sf_dir):
    # A1/A3/O4: per-changeset grouping + issue cap (skip, not truncate)
    o = _read(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .filter(F.col("n_orders") <= 12)
    )


@_q(
    "distinct_changesets",
    "SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'",
)
def q_distinct_changesets(spark, sf_dir):
    # A2: distinct key collection
    return _read(spark, sf_dir, "orders").filter("o_orderstatus = 'O'").select("o_custkey").distinct()


@_q(
    "semi_anti_gates",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
)
def q_semi_anti_gates(spark, sf_dir):
    # T4 + gate pattern: left_semi + left_anti
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    big = o.filter("o_totalprice > 100000").select("o_custkey")
    fin = o.filter("o_orderstatus = 'F'").select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .join(fin, F.col("c_custkey") == fin.o_custkey, "left_anti")
        .select("c_custkey")
    )


@_q(
    "broadcast_dim_join",
    """
    SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_broadcast_dim_join(spark, sf_dir):
    # J6/J7/P8: broadcast dim joins (nation/region are tiny)
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
    )


@_q(
    "union_backlog_merge",
    """
    SELECT o_custkey, o_orderkey FROM
      (SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus = 'O'
       UNION
       SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 150000)
    """,
)
def q_union_backlog_merge(spark, sf_dir):
    # T2/T3/J8/W2: unionByName + identity dedup
    o = _read(spark, sf_dir, "orders")
    a = o.filter("o_orderstatus = 'O'").select("o_custkey", "o_orderkey")
    b = o.filter("o_totalprice > 150000").select("o_custkey", "o_orderkey")
    return a.unionByName(b).dropDuplicates(["o_custkey", "o_orderkey"])


@_q(
    "nullsafe_equal_tags",
    """
    SELECT a.c_custkey AS k_a, b.c_custkey AS k_b
    FROM (SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS seg,
                 c_nationkey FROM customer) a
    JOIN (SELECT c_custkey, CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS seg,
                 c_nationkey FROM customer) b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         AND a.seg IS NOT DISTINCT FROM b.seg
    WHERE a.c_custkey % 17 = 0
    """,
)
def q_nullsafe_equal_tags(spark, sf_dir):
    # X9: null-safe equality (absent == absent) as in EQUAL_TAGS
    c = _read(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS seg",
        "c_nationkey",
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & F.col("a.seg").eqNullSafe(F.col("b.seg")),
        )
        .filter(F.col("a.c_custkey") % 17 == 0)
        .select(F.col("a.c_custkey").alias("k_a"), F.col("b.c_custkey").alias("k_b"))
    )


# ------------------------------------------------------------- spatial class
@_q(
    "duplicate_radius_join",
    f"""
    SELECT a.c_custkey AS k_a, b.c_custkey AS k_b,
           round({haversine_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')}, 2) AS dist_m
    FROM (SELECT c_custkey, {_LAT} AS lat, {_LON} AS lon FROM customer) a
    JOIN (SELECT c_custkey, {_LAT} AS lat, {_LON} AS lon FROM customer) b
      ON a.c_custkey < b.c_custkey
    WHERE {haversine_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} <= 100.0
    """,
)
def q_duplicate_radius_join(spark, sf_dir):
    # J1 class: the engine runs its hex-cell k-ring join; the oracle
    # brute-forces the cross join — equality proves the cover guarantee.
    # No final distinct: a pair (a, b) can match in exactly one join key
    # — b's own cell — and the k-ring array has no duplicate cells, so
    # the join multiplicity is 1 by construction.
    from osm_addr_bot_spark.geo.hexgrid import cell_expr, with_cover
    from osm_addr_bot_spark.geo.join import radius_join

    pts = _cust_points(spark, sf_dir)
    probe = with_cover(pts, 100.0, 9)
    build = pts.select(
        cell_expr(F.col("lat"), F.col("lon"), 9).alias("_cell"),
        F.col("c_custkey").alias("k_b"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
    )
    d = haversine_m(F.col("lat"), F.col("lon"), F.col("b_lat"), F.col("b_lon"))
    return radius_join(
        probe, build, 100.0, ["_cell"], where=F.col("c_custkey") < F.col("k_b")
    ).select(F.col("c_custkey").alias("k_a"), "k_b", F.round(d, 2).alias("dist_m"))


@_q(
    "street_tier_anti_join",
    f"""
    SELECT a.c_custkey FROM
      (SELECT c_custkey, {_LAT} AS lat, {_LON} AS lon, c_mktsegment FROM customer) a
    WHERE NOT EXISTS (
      SELECT 1 FROM (SELECT s_suppkey, 49.5 + (s_suppkey % 37) * 0.0004 AS lat,
                            14.5 + (s_suppkey % 53) * 0.0006 AS lon,
                            CASE WHEN s_suppkey % 2 = 0 THEN 'BUILDING' ELSE 'MACHINERY' END AS seg
                     FROM supplier) s
      WHERE s.seg = a.c_mktsegment
        AND {haversine_sql('a.lat', 'a.lon', 's.lat', 's.lon')} <= 3000.0)
    """,
)
def q_street_tier_anti_join(spark, sf_dir):
    # J4 class. The reference's tier escalation (500/1000/3000) exists
    # to keep REMOTE queries cheap; its result equals "no match within
    # the largest tier" (matched@r ⊆ matched@R for r <= R by distance
    # monotonicity) — the exact equivalence streets.street_names_stage
    # adopts and this query's own oracle (one flat NOT EXISTS at 3000 m)
    # pins. ONE max-tier pass, matched as a radius_join LEFT SEMI with
    # seg in the equi-join key: the hash join early-exits on the first
    # in-range supplier per probe row. The anti join tolerates the
    # repeated keys of a probe matched in several cover cells, so no
    # distinct.
    from osm_addr_bot_spark.geo.hexgrid import cell_expr, pick_res, with_cover
    from osm_addr_bot_spark.geo.join import radius_join

    cust = _read(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{_LAT} AS lat", f"{_LON} AS lon", "c_mktsegment AS seg"
    )
    supp = _read(spark, sf_dir, "supplier").selectExpr(
        "49.5 + (s_suppkey % 37) * 0.0004 AS b_lat",
        "14.5 + (s_suppkey % 53) * 0.0006 AS b_lon",
        "CASE WHEN s_suppkey % 2 = 0 THEN 'BUILDING' ELSE 'MACHINERY' END AS seg",
    )
    radius = 3000.0
    res = pick_res(radius)
    idx = supp.withColumn("_cell", cell_expr(F.col("b_lat"), F.col("b_lon"), res))
    matched = radius_join(
        with_cover(cust, radius, res), idx, radius, ["_cell", "seg"], "left_semi"
    ).select("c_custkey")
    return cust.join(matched, "c_custkey", "left_anti").select("c_custkey")


@_q(
    "tile_assignment",
    f"""
    SELECT c_custkey,
           {xyz_tile_sql(_WLAT, _WLON, 14)[0]} AS tile_x,
           {xyz_tile_sql(_WLAT, _WLON, 14)[1]} AS tile_y
    FROM customer
    """,
)
def q_tile_assignment(spark, sf_dir):
    # tiles: native slippy-map assignment
    pts = _cust_points(spark, sf_dir, _WLAT, _WLON)
    x, y = xyz_tile_cols(F.col("lat"), F.col("lon"), 14)
    return pts.select("c_custkey", x.alias("tile_x"), y.alias("tile_y"))


@_q(
    "tile_overlap_report",
    f"""
    SELECT tile_x, tile_y, count(*) AS n_points, count(DISTINCT c_nationkey) AS n_groups
    FROM (SELECT c_nationkey,
                 {xyz_tile_sql(_WLAT, _WLON, 12)[0]} AS tile_x,
                 {xyz_tile_sql(_WLAT, _WLON, 12)[1]} AS tile_y
          FROM customer)
    GROUP BY tile_x, tile_y
    """,
)
def q_tile_overlap_report(spark, sf_dir):
    c = _read(spark, sf_dir, "customer").selectExpr(
        "c_nationkey", f"cast({_WLAT} as double) as lat", f"cast({_WLON} as double) as lon"
    )
    x, y = xyz_tile_cols(F.col("lat"), F.col("lon"), 12)
    return (
        c.select("c_nationkey", x.alias("tile_x"), y.alias("tile_y"))
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_points"), F.countDistinct("c_nationkey").alias("n_groups"))
    )


@_q(
    "watermark_window_filter",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    WHERE ts >= (SELECT min(ts) FROM events) AND ts < (SELECT min(ts) + INTERVAL 2 DAY FROM events)
    GROUP BY event_type
    """,
)
def q_watermark_window_filter(spark, sf_dir):
    # ST1/ST4/F2: incremental-window scan semantics
    e = _read(spark, sf_dir, "events")
    bounds = e.agg(F.min("ts").alias("lo")).select(
        "lo", (F.col("lo") + F.expr("INTERVAL 2 DAY")).alias("hi")
    )
    return (
        e.crossJoin(F.broadcast(bounds))
        .filter((F.col("ts") >= F.col("lo")) & (F.col("ts") < F.col("hi")))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# ----------------------------------------------------------- PIP (J2 class)
import math as _math

_POLY_CENTER = (49.507, 14.515)
_POLY = [
    (
        _POLY_CENTER[0] + 500.0 * _math.sin(2 * _math.pi * i / 6) / 111_194.9,
        _POLY_CENTER[1]
        + 500.0 * _math.cos(2 * _math.pi * i / 6) / (111_194.9 * _math.cos(_math.radians(49.507))),
    )
    for i in range(6)
]
_POLY_EDGES = [(a, _POLY[(i + 1) % len(_POLY)]) for i, a in enumerate(_POLY)]
_POLY_VALUES = ", ".join(
    f"({y1!r}, {x1!r}, {y2!r}, {x2!r})" for (y1, x1), (y2, x2) in _POLY_EDGES
)


@_q(
    "pip_containment",
    f"""
    WITH pts AS (SELECT c_custkey, cast({_LAT} as double) AS lat, cast({_LON} as double) AS lon FROM customer),
         poly(y1, x1, y2, x2) AS (VALUES {_POLY_VALUES})
    SELECT c_custkey,
           (sum(CASE WHEN ((y1 > lat) <> (y2 > lat))
                      AND lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
                     THEN 1 ELSE 0 END) % 2 = 1) AS inside
    FROM pts CROSS JOIN poly GROUP BY c_custkey
    """,
)
def q_pip_containment(spark, sf_dir):
    # J2/J3 class: native ray-cast fold vs SQL edge-table crossing count
    from osm_addr_bot_spark.geo.pip import point_in_ring

    ring = F.array(
        *[
            F.struct(F.lit(la).alias("lat"), F.lit(lo).alias("lon"))
            for la, lo in _POLY
        ]
    )
    pts = _cust_points(spark, sf_dir)
    return pts.select(
        "c_custkey", point_in_ring(F.col("lat"), F.col("lon"), ring).alias("inside")
    )


# ------------------------------------------------------------- datapipe: text
_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_W_SQL = f"string_split({_NORM_SQL}, ' ')"


def _shingle3_sql() -> str:
    # dd.shingle_sql carries the <3-words fallback ([normalized text]) that
    # word_shingles has on the Spark side — keep both sides identical for
    # short documents
    return dd.shingle_sql("text")


@_q(
    "dedup_exact",
    f"""
    WITH h AS (SELECT doc_id, {dd.md5_int_sql(_NORM_SQL)} AS content_hash FROM documents),
         c AS (SELECT content_hash, min(doc_id) AS canonical_doc_id FROM h GROUP BY content_hash)
    SELECT h.doc_id, h.content_hash, c.canonical_doc_id,
           h.doc_id <> c.canonical_doc_id AS is_duplicate
    FROM h JOIN c USING (content_hash)
    """,
)
def q_dedup_exact(spark, sf_dir):
    return dd.exact_duplicates(_read(spark, sf_dir, "documents"))


_MINHASHES = 8
# one md5 per shingle, k universal-hash slots (dedup.minhash_slot_sql) —
# mirrors minhash_signatures exactly
_MIN_EXPRS = [
    f"min({dd.minhash_slot_sql(dd.md5_int32_sql('sh'), i)})" for i in range(_MINHASHES)
]


@_q(
    "dedup_minhash_signatures",
    f"""
    WITH sh AS (SELECT doc_id, unnest({_shingle3_sql()}) AS sh FROM documents)
    SELECT doc_id,
           concat_ws(',', {", ".join(_MIN_EXPRS)}) AS sig
    FROM sh GROUP BY doc_id
    """,
)
def q_dedup_minhash_signatures(spark, sf_dir):
    sigs = dd.minhash_signatures(_read(spark, sf_dir, "documents"), num_hashes=_MINHASHES)
    return sigs.select(
        "doc_id", F.concat_ws(",", *[F.col("sig")[i].cast("string") for i in range(_MINHASHES)]).alias("sig")
    )


@_q(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH sh AS (SELECT doc_id, unnest({_shingle3_sql()}) AS sh FROM documents),
         sig AS (SELECT doc_id,
                        {", ".join(e + " AS h%d" % i for i, e in enumerate(_MIN_EXPRS))}
                 FROM sh GROUP BY doc_id),
         banded AS (
           SELECT doc_id, 0 AS band, md5(h0::varchar || ',' || h1::varchar || ',' || h2::varchar || ',' || h3::varchar) AS bucket FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band, md5(h4::varchar || ',' || h5::varchar || ',' || h6::varchar || ',' || h7::varchar) AS bucket FROM sig)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def q_dedup_minhash_lsh_pairs(spark, sf_dir):
    sigs = dd.minhash_signatures(_read(spark, sf_dir, "documents"), num_hashes=_MINHASHES)
    return dd.lsh_candidate_pairs(sigs, bands=2, rows_per_band=4)


# pairwise LSH output -> duplicate GROUPS (transitive closure): the
# Spark side iterates min-label propagation (dedup.connected_components,
# one shuffle per sweep); the oracle closes the same pair relation with
# a recursive CTE — component = min doc id reachable, is_rep marks the
# canonical keeper per group
@_q(
    "dedup_components",
    f"""
    WITH RECURSIVE sh AS (SELECT doc_id, unnest({_shingle3_sql()}) AS sh FROM documents),
         sig AS (SELECT doc_id,
                        {", ".join(e + " AS h%d" % i for i, e in enumerate(_MIN_EXPRS))}
                 FROM sh GROUP BY doc_id),
         banded AS (
           SELECT doc_id, 0 AS band, md5(h0::varchar || ',' || h1::varchar || ',' || h2::varchar || ',' || h3::varchar) AS bucket FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band, md5(h4::varchar || ',' || h5::varchar || ',' || h6::varchar || ',' || h7::varchar) AS bucket FROM sig),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         walk(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a)
    SELECT a AS doc_id,
           least(a, min(b)) AS component,
           a = least(a, min(b)) AS is_rep
    FROM walk GROUP BY a
    """,
)
def q_dedup_components(spark, sf_dir):
    sigs = dd.minhash_signatures(_read(spark, sf_dir, "documents"), num_hashes=_MINHASHES)
    pairs = dd.lsh_candidate_pairs(sigs, bands=2, rows_per_band=4)
    return dd.connected_components(pairs)


# the composed recipe users actually run (VERDICT r4 #7): pairs ->
# components -> keep one representative per group + all untouched docs
# -> deterministic 50% sample. Same pair CTE as dedup_components; the
# keep step is NOT IN (non-reps) and the sample is the salted-hash band.
@_q(
    "corpus_dedup_keep",
    f"""
    WITH RECURSIVE sh AS (SELECT doc_id, unnest({_shingle3_sql()}) AS sh FROM documents),
         sig AS (SELECT doc_id,
                        {", ".join(e + " AS h%d" % i for i, e in enumerate(_MIN_EXPRS))}
                 FROM sh GROUP BY doc_id),
         banded AS (
           SELECT doc_id, 0 AS band, md5(h0::varchar || ',' || h1::varchar || ',' || h2::varchar || ',' || h3::varchar) AS bucket FROM sig
           UNION ALL
           SELECT doc_id, 1 AS band, md5(h4::varchar || ',' || h5::varchar || ',' || h6::varchar || ',' || h7::varchar) AS bucket FROM sig),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         walk(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
         nonrep AS (
           SELECT a AS doc_id FROM walk GROUP BY a
           HAVING a <> least(a, min(b)))
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM nonrep)
      AND {smp.unit_hash_sql("doc_id", "sample")} < 0.5
    """,
)
def q_corpus_dedup_keep(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    kept = rcp.corpus_dedup_keep(
        docs, num_hashes=_MINHASHES, bands=2, rows_per_band=4, fraction=0.5
    )
    return kept.select("doc_id", "lang")


@_q(
    "dedup_ngram_jaccard",
    f"""
    WITH s AS (SELECT DISTINCT doc_id, unnest({_shingle3_sql()}) AS sh FROM documents),
         sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                   FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
    FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.2
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    # exact path (max_df=None): the driver corpus is non-Zipfian word
    # salad where a df cap costs more than it saves; the OPERATOR now
    # defaults to DEFAULT_MAX_DF for real Zipfian text (under-estimate
    # -only property pinned in tests/test_datapipe.py)
    out = dd.ngram_jaccard_pairs(_read(spark, sf_dir, "documents"), threshold=0.2, max_df=None)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# 64-bit fingerprints (band entropy at scale; see dedup.py). Token bits
# 0-59 come from md5 hex 1-15, 60-63 from hex 16-30; fingerprint bit 63
# is the bigint sign bit, added as -2^63 — exact in both engines'
# two's-complement bigints (probe-verified, incl. >>/&/xor/bit_count on
# negatives).
_SIMHASH_BITS = 64
_MIN_LONG_SQL = "(-9223372036854775807 - 1)"


def _simhash_sql() -> str:
    h1 = dd.md5_int_sql("t")
    h2 = "('0x' || substr(md5(t), 16, 15))::bigint"
    votes = ", ".join(
        f"sum(CASE WHEN ({'h1' if b < 60 else 'h2'} >> {b if b < 60 else b - 60}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN b{b} > 0 THEN "
        + (f"{_MIN_LONG_SQL}::bigint" if b == 63 else f"{1 << b}::bigint")
        + " ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS t FROM documents),
         hh AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM tok),
         votes AS (SELECT doc_id, {votes} FROM hh GROUP BY doc_id)
    SELECT doc_id, ({fp}) AS simhash FROM votes
    """


@_q("dedup_simhash", _simhash_sql())
def q_dedup_simhash(spark, sf_dir):
    return dd.simhash(_read(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)


@_q(
    "dedup_simhash_near_pairs",
    f"""
    WITH fp AS ({_simhash_sql()}),
         banded AS (
           SELECT doc_id, simhash, b.band, (simhash >> (b.band * 8)) & 255 AS v
           FROM fp CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS band) b)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
    """,
)
def q_dedup_simhash_near_pairs(spark, sf_dir):
    # bands=8 at 64 bits = 8-bit band values; max_hamming=10 > bands-1,
    # so this is the documented approximate path — but pigeonhole still
    # guarantees every pair up to 7 diffs, and measured recall at these
    # knobs is >= 0.9 (tests/test_recall.py; bands=4 measured 0.59 and
    # was rejected). Candidates verified by exact Hamming on both sides.
    fps = dd.simhash(_read(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)
    out = dd.simhash_near_pairs(fps, max_hamming=10, bits=_SIMHASH_BITS, bands=8)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


# ------------------------------------------------------ datapipe: similarity
_QUERY_VEC = [
    round(_math.sin(0.7 * i) * 0.5 + _math.cos(1.3 * i) * 0.3, 6) for i in range(64)
]
_QV_SQL = "[" + ", ".join(f"{v!r}" for v in _QUERY_VEC) + "]"
_COS_SQL = (
    f"list_dot_product(embedding::DOUBLE[], {_QV_SQL})"
    f" / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    f" * sqrt(list_dot_product({_QV_SQL}, {_QV_SQL})))"
)


@_q(
    "ann_cosine_topk",
    f"""
    SELECT vec_id, round({_COS_SQL}, 4) AS cosine
    FROM embeddings ORDER BY {_COS_SQL} DESC, vec_id LIMIT 10
    """,
)
def q_ann_cosine_topk(spark, sf_dir):
    out = sim.brute_force_topk(_read(spark, sf_dir, "embeddings"), _QUERY_VEC, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


_PLANES = sim.deterministic_planes(4, 64)
_PLANES_SQL = ["[" + ", ".join(f"{v!r}" for v in p) + "]" for p in _PLANES]
_BUCKET_SQL = " + ".join(
    f"CASE WHEN list_dot_product(embedding::DOUBLE[], {p}) >= 0 THEN {1 << i} ELSE 0 END"
    for i, p in enumerate(_PLANES_SQL)
)
_Q_BUCKET = sum(
    (1 << i)
    for i, p in enumerate(_PLANES)
    if sum(a * b for a, b in zip(_QUERY_VEC, p)) >= 0
)


@_q(
    "ann_lsh_topk",
    f"""
    SELECT vec_id, round({_COS_SQL}, 4) AS cosine
    FROM embeddings
    WHERE ({_BUCKET_SQL}) = {_Q_BUCKET}
    ORDER BY {_COS_SQL} DESC, vec_id LIMIT 10
    """,
)
def q_ann_lsh_topk(spark, sf_dir):
    out = sim.lsh_topk(_read(spark, sf_dir, "embeddings"), _QUERY_VEC, k=10, num_planes=4)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


# IVF scale path: md5-ranked deterministic centroids (k-means++ seeding,
# no iterations — see similarity.py module docstring), nearest-centroid
# cell assignment (argmax of round-4 cosine, ties to the larger cell on
# both sides), probe the query's 4 nearest of 32 cells, exact top-k
# inside. At scale the cell id is a stored cluster/partition key and the
# cell predicate prunes the scan; recall is tuned by n_probe.
_IVF_N, _IVF_PROBE = 32, 4
_IVF_CENTROIDS_SQL = f"""
  SELECT embedding::DOUBLE[] AS cv,
         row_number() OVER (ORDER BY md5(vec_id::varchar), vec_id) - 1 AS cell
  FROM embeddings ORDER BY md5(vec_id::varchar), vec_id LIMIT {_IVF_N}"""


@_q(
    "ann_ivf_topk",
    f"""
    WITH c AS ({_IVF_CENTROIDS_SQL}),
    scored AS (
      SELECT e.vec_id, c.cell,
             round(list_dot_product(e.embedding::DOUBLE[], c.cv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.cv, c.cv))), 4) AS s
      FROM embeddings e CROSS JOIN c),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC) AS rk
        FROM scored) WHERE rk = 1),
    qprobe AS (
      SELECT cell FROM (
        SELECT cell,
               round(list_dot_product(cv, {_QV_SQL})
                     / (sqrt(list_dot_product(cv, cv))
                        * sqrt(list_dot_product({_QV_SQL}, {_QV_SQL}))), 4) AS s
        FROM c)
      ORDER BY s DESC, cell DESC LIMIT {_IVF_PROBE})
    SELECT e.vec_id, round({_COS_SQL}, 4) AS cosine
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN qprobe p ON a.cell = p.cell
    ORDER BY {_COS_SQL} DESC, e.vec_id LIMIT 10
    """,
)
def q_ann_ivf_topk(spark, sf_dir):
    out = sim.ivf_topk(
        _read(spark, sf_dir, "embeddings"),
        _QUERY_VEC,
        k=10,
        n_centroids=_IVF_N,
        n_probe=_IVF_PROBE,
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


# Stored-bucket scale path (VERDICT r3 #1): the bucket/cell is written
# ONCE as a partition column and queries read only the probed
# partitions (partition pruning demonstrated in tests/test_ann_pruned).
# The store is cached under /tmp keyed on the DATASET IDENTITY — the
# source table's absolute path and its sources.table_files listing
# (names, sizes, mtimes): regenerating a world in place changes the
# files and so the key, invalidating the store (stale buckets /
# centroid-vs-cell mismatch impossible), and two distinct dirs never
# collide. The write is itself part of the contract (one pass, no
# shuffle), the reads are the hot path.
import hashlib as _hashlib  # noqa: E402
import json as _json  # noqa: E402
import os as _os  # noqa: E402

_LSH_PROBE_N = 2
_PROBE_BUCKETS = sim.lsh_probe_buckets(_QUERY_VEC, _PLANES, _LSH_PROBE_N)


def _ann_store_loc(sf_dir: str, kind: str) -> str:
    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    sig = _hashlib.md5(_json.dumps([_os.path.abspath(src), table_files(src)]).encode())
    return "/tmp/osm_ann_store/" + sig.hexdigest() + "/" + kind


@_q(
    "ann_lsh_topk_pruned",
    f"""
    SELECT vec_id, round({_COS_SQL}, 4) AS cosine
    FROM embeddings
    WHERE ({_BUCKET_SQL}) IN ({", ".join(str(b) for b in _PROBE_BUCKETS)})
    ORDER BY {_COS_SQL} DESC, vec_id LIMIT 10
    """,
)
def q_ann_lsh_topk_pruned(spark, sf_dir):
    # multi-probe (n_probe=2): the query's bucket plus the cheapest
    # plane flip — recall up at the cost of one extra partition read
    loc = _ann_store_loc(sf_dir, "lsh_bucketed")
    if not _os.path.exists(_os.path.join(loc, "_SUCCESS")):
        sim.write_bucketed(_read(spark, sf_dir, "embeddings"), loc, _PLANES)
    out = sim.lsh_topk_pruned(
        spark, loc, _QUERY_VEC, _PLANES, k=10, n_probe=_LSH_PROBE_N
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


# same oracle SQL as the inline IVF query — the stored-cell path must be
# output-identical at the same knobs; only the physical scan differs
@_q("ann_ivf_topk_pruned", _CATALOG["ann_ivf_topk"][1])
def q_ann_ivf_topk_pruned(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, _IVF_N)
    loc = _ann_store_loc(sf_dir, "ivf_celled")
    if not _os.path.exists(_os.path.join(loc, "_SUCCESS")):
        sim.write_celled(emb, loc, cents)
    out = sim.ivf_topk_pruned(
        spark, loc, _QUERY_VEC, cents, k=10, n_probe=_IVF_PROBE
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


# --------------------------------------------------- datapipe: sampling
# deterministic sampling (datapipe/sampling.py): the Bernoulli form is
# shuffle-free (the 100-TB path); the stratified quota pays one window
# shuffle for exactness; splits are hash bands so membership never
# moves with cluster size or re-runs
_SAMPLE_U = smp.unit_hash_sql("doc_id", "sample")
_SPLIT_U = smp.unit_hash_sql("doc_id", "split")


@_q(
    "sample_fraction_det",
    f"SELECT doc_id, lang FROM documents WHERE {_SAMPLE_U} < 0.25",
)
def q_sample_fraction_det(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return smp.sample_fraction(docs, 0.25).select("doc_id", "lang")


@_q(
    "split_assign_bands",
    f"""
    SELECT doc_id,
           CASE WHEN {_SPLIT_U} < 0.1 THEN 'test'
                WHEN {_SPLIT_U} < 0.9 THEN 'train'
                ELSE 'val' END AS split
    FROM documents
    """,
)
def q_split_assign_bands(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = smp.split_assign(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "split")


@_q(
    "stratified_sample_topn",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {_SAMPLE_U} ASC, doc_id ASC) AS rk
      FROM documents) WHERE rk <= 20
    """,
)
def q_stratified_sample_topn(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return smp.stratified_topn(docs, "lang", 20).select("doc_id", "lang")


# ------------------------------------------------------- datapipe: text ops
_LANG_HITS_SQL = {
    lang: (
        "len(list_filter(string_split(" + _NORM_SQL + ", ' '), t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + "], t)))"
    )
    for lang, words in tx.LANG_PROFILES.items()
}


@_q(
    "text_lang_id",
    f"""
    WITH s AS (SELECT doc_id,
                      {_LANG_HITS_SQL['en']} AS s_en, {_LANG_HITS_SQL['de']} AS s_de,
                      {_LANG_HITS_SQL['fr']} AS s_fr, {_LANG_HITS_SQL['pl']} AS s_pl
               FROM documents)
    SELECT doc_id,
           CASE WHEN s_en + s_de + s_fr + s_pl = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_pl) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_pl) THEN 'de'
                WHEN s_fr >= s_pl THEN 'fr'
                ELSE 'pl' END AS lang_pred,
           (s_en + s_de + s_fr + s_pl)::bigint AS lang_hits
    FROM s
    """,
)
def q_text_lang_id(spark, sf_dir):
    out = tx.lang_id(_read(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang_pred", F.col("lang_hits").cast("long").alias("lang_hits"))


@_q(
    "text_quality_features",
    f"""
    WITH t AS (SELECT doc_id, text, {_NORM_SQL} AS norm,
                      string_split({_NORM_SQL}, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text)::bigint AS n_chars,
           len(toks)::bigint AS n_tokens,
           round((length(norm) - (len(toks) - 1)) * 1.0 / len(toks), 4) AS mean_token_len,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                 / greatest(length(text), 1), 4) AS punct_ratio,
           round(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','that'], t)))
                 * 1.0 / greatest(len(toks), 1), 4) AS stopword_ratio,
           (CASE WHEN len(toks) >= 20 THEN 40 ELSE len(toks) * 2 END
                 + CASE WHEN (length(norm) - (len(toks) - 1)) * 1.0 / len(toks) BETWEEN 3 AND 9 THEN 30 ELSE 0 END
                 + CASE WHEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                             / greatest(length(text), 1) < 0.2 THEN 20 ELSE 0 END
                 + least(floor(len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','that'], t)))
                         * 200 / greatest(len(toks), 1)), 10))::bigint AS quality
    FROM t
    """,
)
def q_text_quality_features(spark, sf_dir):
    return tx.quality_features(_read(spark, sf_dir, "documents"))


@_q(
    "text_token_counts",
    f"""
    WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '') AS words
               FROM documents)
    SELECT doc_id, len(words)::bigint AS ws_tokens,
           list_sum(list_transform(words, w ->
             ceil(length(regexp_replace(w, '[^\\w]', '', 'g')) / 4.0)::bigint
             + length(regexp_replace(w, '[\\w]', '', 'g'))))::bigint AS bpe_ish_tokens
    FROM t
    """,
)
def q_text_token_counts(spark, sf_dir):
    out = tx.token_counts(_read(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_ish_tokens").cast("long").alias("bpe_ish_tokens"),
    )


@_q(
    "text_fingerprints",
    f"""
    SELECT doc_id, {dd.md5_int_sql(_NORM_SQL)} AS fingerprint,
           {dd.md5_int_sql(f"substr({_NORM_SQL}, 1, 64)")} AS head_fingerprint
    FROM documents
    """,
)
def q_text_fingerprints(spark, sf_dir):
    return tx.fingerprints(_read(spark, sf_dir, "documents"))


@_q(
    "text_repetition_stats",
    f"""
    WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS gram
          FROM t WHERE len(toks) >= 2),
    pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
    SELECT doc_id,
           sum(cnt)::bigint AS n_grams,
           count(*)::bigint AS distinct_grams,
           max(cnt)::bigint AS top_gram_cnt,
           round(max(cnt) * 1.0 / sum(cnt), 4) AS top_gram_frac,
           round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 4) AS dup_gram_frac,
           round(count(*) * 1.0 / sum(cnt), 4) AS gram_ttr
    FROM pg GROUP BY doc_id
    """,
)
def q_text_repetition_stats(spark, sf_dir):
    # Gopher-style repetition filters: explode -> (doc,gram) agg -> (doc) agg
    return tx.repetition_stats(_read(spark, sf_dir, "documents"))


_CONTACT_SQL = (
    "text || ' see https://ex.org/d/' || doc_id || ' or mail u' || doc_id || '@ex.org now'"
)


@_q(
    "text_scrub_pii",
    f"""
    WITH t AS (SELECT doc_id, {_CONTACT_SQL} AS text FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, 'https?://\\S+'))::bigint AS n_urls,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::bigint AS n_emails,
           regexp_replace(regexp_replace(text, 'https?://\\S+', '<URL>', 'g'),
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS scrubbed
    FROM t
    """,
)
def q_text_scrub_pii(spark, sf_dir):
    # the synthetic docs carry no links/emails, so the query grafts a
    # deterministic contact suffix onto each row (the SAME expression as
    # the oracle) so the scrub actually exercises both patterns
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://ex.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" or mail u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org now"),
        ).alias("text"),
    )
    return tx.scrub_pii(docs)


@_q(
    "text_tfidf_top_terms",
    f"""
    WITH t AS (SELECT doc_id, source, unnest(string_split({_NORM_SQL}, ' ')) AS term
               FROM documents),
    tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
    w AS (SELECT tf.source, tf.term, tf.tf, df.df,
                 round(tf.tf * ln((SELECT count(*) + 1.0 FROM documents) / (df.df + 1.0)), 4) AS weight
          FROM tf JOIN df USING (term)),
    r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY weight DESC, term ASC) AS trank
          FROM w)
    SELECT source, term, tf::bigint AS tf, df::bigint AS df, weight, trank::bigint AS trank
    FROM r WHERE trank <= 5
    """,
)
def q_text_tfidf_top_terms(spark, sf_dir):
    out = tx.tfidf_top_terms(_read(spark, sf_dir, "documents"), k=5)
    return out.withColumnRenamed("rank", "trank")


@_q(
    "text_winnow_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, length(norm) - 3),
                                i -> {dd.md5_int_sql("substr(norm, i, 5)")}) AS hs
          FROM t WHERE length(norm) >= 5)
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(hs) - 2),
                                               j -> list_min(list_slice(hs, j, j + 3))))) AS fp
    FROM h WHERE len(hs) >= 4
    """,
)
def q_text_winnow_fingerprints(spark, sf_dir):
    # MOSS winnowing (k=5 char-grams, window=4): rolling-hash fingerprints
    return tx.winnow_fingerprints(_read(spark, sf_dir, "documents"), k=5, window=4)


@_q(
    "text_winnow_overlap_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    h AS (SELECT doc_id,
                 list_transform(range(1, length(norm) - 3),
                                i -> {dd.md5_int_sql("substr(norm, i, 5)")}) AS hs
          FROM t WHERE length(norm) >= 5),
    f AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(range(1, len(hs) - 2),
                                                     j -> list_min(list_slice(hs, j, j + 3))))) AS fp
          FROM h WHERE len(hs) >= 4),
    rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 10),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM f a JOIN f b USING (fp) JOIN rare USING (fp)
          WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, count(*) AS shared_fps
    FROM p GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q_text_winnow_overlap_pairs(spark, sf_dir):
    # MOSS overlap report through the fingerprint inverted index; the
    # word-soup corpus is pathologically Zipfian at 5-char grams, so the
    # stop-fingerprint cap (df <= 10) is part of the pinned semantics on
    # BOTH sides
    return tx.winnow_overlap_pairs(
        _read(spark, sf_dir, "documents"), min_shared=2, k=5, window=4, max_df=10
    )


# ------------------------------------------------------------- OLAP surface
@_q(
    "olap_group_percentiles",
    """
    SELECT source AS grp,
           round(quantile_cont(n_chars, 0.5), 4) AS p50,
           round(quantile_cont(n_chars, 0.9), 4) AS p90,
           round(quantile_cont(n_chars, 0.99), 4) AS p99
    FROM documents GROUP BY source
    """,
)
def q_olap_group_percentiles(spark, sf_dir):
    # exact percentiles, linear interpolation (= ANSI quantile_cont)
    return olap.group_percentiles(
        _read(spark, sf_dir, "documents"), "source", "n_chars", (0.5, 0.9, 0.99)
    )


_LANGS = ("de", "en", "es", "fr", "zh")


@_q(
    "olap_pivot_lang_counts",
    "SELECT source AS grp, "
    + ", ".join(
        f"sum(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END)::bigint AS {lg}" for lg in _LANGS
    )
    + " FROM documents GROUP BY source",
)
def q_olap_pivot_lang_counts(spark, sf_dir):
    # pinned-values pivot: single aggregate, stable schema
    return olap.pivot_counts(_read(spark, sf_dir, "documents"), "source", "lang", _LANGS)


@_q(
    "olap_rollup_source_lang",
    """
    SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
           grouping(source, lang)::bigint AS lvl,
           count(*) AS n_rows, sum(n_chars)::bigint AS sum_n_chars
    FROM documents GROUP BY ROLLUP(source, lang)
    """,
)
def q_olap_rollup_source_lang(spark, sf_dir):
    return olap.rollup_counts(_read(spark, sf_dir, "documents"), ("source", "lang"), "n_chars")


_PAIR_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


# (label, LSH-bucket) blocking for near-dups: 3 planes -> 8 buckets per
# label; the same deterministic md5 planes on both sides
_ND_PLANES = sim.deterministic_planes(3, 64)
_ND_PLANES_SQL = ["[" + ", ".join(f"{v!r}" for v in p) + "]" for p in _ND_PLANES]


def _nd_bucket_sql(tbl: str) -> str:
    return " + ".join(
        f"CASE WHEN list_dot_product({tbl}.embedding::DOUBLE[], {p}) >= 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(_ND_PLANES_SQL)
    )


@_q(
    "ann_embedding_near_dups",
    f"""
    SELECT vec_a, vec_b, label, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             round({_PAIR_COS_SQL}, 4) AS cosine,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY round({_PAIR_COS_SQL}, 4) DESC, b.vec_id) AS rk
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
       AND ({_nd_bucket_sql('a')}) = ({_nd_bucket_sql('b')}))
    WHERE rk <= 3
    """,
)
def q_ann_embedding_near_dups(spark, sf_dir):
    # embedding-cosine near-dup, scale path: (label, LSH-bucket) blocked
    # pairs + top-k per row — no within-label cross join in the plan
    out = sim.embedding_near_dups(_read(spark, sf_dir, "embeddings"), k=3, num_planes=3, dim=64)
    return out.select("vec_a", "vec_b", "label", F.round("cosine", 4).alias("cosine"))


# ----------------------------------------------------- as-of / time travel
# J5/S2 class (reference overpass.py:384-421, 92-98) over driver tables:
# orders become an SCD2 history per customer (valid_from = order epoch,
# valid_to = next order's epoch via lead(), last version open-ended);
# events probe it as-of a timestamp folded into the history's range.
# Probe keys user_id*11 stretch past the custkey domain (missing key ->
# null payload, the reference's created-element case Q6) and early probe
# times predate a customer's first order (as-of miss -> null). The Spark
# side runs operators/asof.py, the same interval join the J5 guilt check
# uses, under the DuckDB hash check.
_ASOF_T0 = 788918400  # 1995-01-01 UTC
_ASOF_SPAN = 207705600  # just under the orders table's date span


@_q(
    "snapshot_asof_join",
    f"""
    WITH h AS (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
                      floor(epoch(o_orderdate))::bigint AS valid_from,
                      coalesce(lead(floor(epoch(o_orderdate))::bigint)
                                 OVER (PARTITION BY o_custkey
                                       ORDER BY floor(epoch(o_orderdate))::bigint, o_orderkey),
                               9223372036854775807) AS valid_to
               FROM orders),
         p AS (SELECT event_id, (user_id * 11)::bigint AS custkey,
                      (floor(epoch(ts))::bigint % {_ASOF_SPAN}) + {_ASOF_T0} AS ets
               FROM events)
    SELECT p.event_id, p.custkey, p.ets,
           (h.o_orderkey IS NOT NULL) AS asof_hit,
           coalesce(h.o_orderkey, -1) AS asof_orderkey,
           coalesce(h.price, -1.0) AS asof_price
    FROM p LEFT JOIN h
      ON p.custkey = h.o_custkey AND h.valid_from <= p.ets AND p.ets < h.valid_to
    """,
)
def q_snapshot_asof_join(spark, sf_dir):
    from osm_addr_bot_spark.operators.asof import asof_join

    o = _read(spark, sf_dir, "orders")
    hist = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("asof_orderkey"),
        F.round("o_totalprice", 2).alias("asof_price"),
        F.expr("cast(cast(o_orderdate as timestamp) as bigint)").alias("valid_from"),
    ).withColumn(
        "valid_to",
        F.coalesce(
            F.lead("valid_from").over(
                Window.partitionBy("custkey").orderBy("valid_from", "asof_orderkey")
            ),
            F.lit((1 << 63) - 1),
        ),
    )
    probe = _read(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") * 11).cast("long").alias("custkey"),
        (
            F.expr("cast(cast(ts as timestamp) as bigint)") % _ASOF_SPAN + _ASOF_T0
        ).alias("ets"),
    )
    out = asof_join(probe, hist, keys=["custkey"], probe_ts="ets")
    # null-free projection (the driver's row sort chokes on None): the
    # LEFT-miss cases stay visible through asof_hit + sentinels
    return out.select(
        "event_id",
        "custkey",
        "ets",
        F.col("asof_orderkey").isNotNull().alias("asof_hit"),
        F.coalesce("asof_orderkey", F.lit(-1)).alias("asof_orderkey"),
        F.coalesce("asof_price", F.lit(-1.0)).alias("asof_price"),
    )


# ------------------------------------------------- streaming-shaped / window
@_q(
    "events_sessionize",
    """
    WITH g AS (SELECT user_id, event_id, floor(epoch(ts))::bigint AS e FROM events),
         b AS (SELECT user_id, event_id, e,
                      CASE WHEN e - lag(e) OVER (PARTITION BY user_id ORDER BY e, event_id) > 3600
                           THEN 1 ELSE 0 END AS brk
               FROM g),
         s AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY e, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
               FROM b)
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM s GROUP BY user_id
    """,
)
def q_events_sessionize(spark, sf_dir):
    # sessionization: lag + gap cumsum (streaming session_window analog)
    e = _read(spark, sf_dir, "events").select(
        "user_id", F.expr("cast(cast(ts as timestamp) as bigint)").alias("e"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    brk = F.when(F.col("e") - F.lag("e").over(w) > 3600, 1).otherwise(0)
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    s = e.withColumn("brk", brk).withColumn("session_id", F.sum("brk").over(ws))
    return s.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@_q(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders)
    WHERE rk <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@_q(
    "json_props_extract",
    """
    -- ::bigint: DuckDB sum(CASE) yields HUGEINT, which fetches as float64
    -- and fails the driver's TYPED value-hash against Spark's bigint
    SELECT event_type, sum(CASE WHEN json_extract_string(props, '$.k')::bigint > 50 THEN 1 ELSE 0 END)::bigint AS n_big,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_props_extract(spark, sf_dir):
    # schemaless-payload predicate (the tags-map analog on driver data)
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(
            F.when(F.get_json_object("props", "$.k").cast("long") > 50, 1).otherwise(0)
        ).alias("n_big"),
        F.count("*").alias("n"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _CATALOG.items() if sql is not None}
