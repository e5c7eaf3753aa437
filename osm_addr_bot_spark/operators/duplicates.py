"""J1 — duplicate-address radius join (100 m), the reference's
``query_duplicates`` internalized as a hex-cell hash join.

Reference semantics (overpass.py:101-109 compile, 223-274 exec,
duplicate_search.py:21-56 predicate):

  * issues: DUPLICATED check hits (have addr:housenumber), excluding
    large elements (bbox >= 1000 m either dim, strict '<' keeps —
    overpass.py:58-70) and non-whitelist-clean tags (overpass.py:226)
  * candidate pool: the whole element universe with addr:housenumber,
    of the OPPOSITE geometry family — node issues search ways+relations,
    way/relation issues search nodes (overpass.py:103-104: ``wr[...]``
    vs ``node[...]``)
  * match: within 100 m AND whitelist-clean AND null-safe equal on the
    five EQUAL_TAGS AND a different element (uid !=)
  * any match -> keep issue AND emit the duplicates, which inherit the
    issue's timestamp/changeset_id and a zeroed bbox (overpass.py:250-259,
    quirk Q4); no match -> drop the issue
  * set semantics on uid across the check's result (overpass.py:239,
    270-272) — here deterministic: issue rows win over duplicate rows
    (the reference fills set(issues) first), then min (changeset_id,
    timestamp)

Physical plan: candidates keep their parse-time res-9 hex cell; issues
explode cell x k-ring-1 (7 cells — proven sufficient for 100 m in
tests/test_geo.py). Catalyst turns the five null-safe EQUAL_TAGS tests
into join keys, so the executed join is keyed on the address quintuple
(``coalesce``/``isnull`` of each tag) plus the cell: a dense cell
spreads over partitions by address, and only identical addresses in one
cell share a key — the rows J1 must emit anyway. The densest res-9
candidate cell holds 17 candidates in the 1,200-doc synthetic world and
128 in the 12,000-doc one; AQE skew-join (session.py) stays on as the
backstop. The join and its distance + tag equality refine are one
``geo.join.radius_join``, all native exprs.

Shuffle-width note (r3 event-log audit): the match predicates need only
(family, lat/lon, the five EQUAL_TAGS values, uid) — so BOTH sides of
the cell exchange ship that slim projection (the probe side is
replicated 7 ways, so every byte there is multiplied), the join
emits bare (issue-key, c_uid) links, and the full payloads (tags map,
bbox, provenance) are re-fetched AFTER matching by one issue-key join
plus one broadcast-sized uid join against the already-persisted
elements scan. Matches are bounded by the surviving issue count — a
broadcast-sized set by construction, never O(universe).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import (
    DUPLICATE_RADIUS_M,
    EQUAL_TAGS,
    LARGE_ELEMENT_MAX_SIZE,
    WHITELIST_TAGS,
)
from osm_addr_bot_spark.geo.hexgrid import cover_k, kring_expr
from osm_addr_bot_spark.geo.join import radius_join


def whitelist_expr(tags: Column) -> Column:
    """Every tag key starts with a whitelisted prefix
    (reference duplicate_search.py:30-37)."""

    def _ok(k: Column) -> Column:
        acc = F.lit(False)
        for w in WHITELIST_TAGS:
            acc = acc | k.startswith(w)
        return acc

    return F.forall(F.map_keys(tags), _ok)


def skip_large_expr() -> Column:
    """bbox strictly under 1000 m in both dims keeps
    (reference overpass.py:58-70, config.py:48)."""
    return (F.col("bb_width_m") < LARGE_ELEMENT_MAX_SIZE) & (
        F.col("bb_height_m") < LARGE_ELEMENT_MAX_SIZE
    )


_ISSUE_KEY = ["category", "check_id", "changeset_id", "uid"]

# columns of the dup output rows sourced from the CANDIDATE (everything
# else is issue provenance, quirk Q4: duplicates inherit the issue's
# timestamp/changeset and a zeroed bbox)
_CAND_SOURCED = frozenset(
    (
        "uid", "element_type", "element_id", "tags", "lat", "lon",
        "minlat", "minlon", "maxlat", "maxlon", "bb_width_m", "bb_height_m",
        "hex9", "s2_15", "doc_id", "span_offset",
    )
)


def duplicates_stage(issues: DataFrame, elements: DataFrame) -> DataFrame:
    """Run J1 for the DUPLICATED check's issue rows; returns the check's
    new issue set in the same long format."""
    issue_cols = issues.columns

    # single fused filters: every extra DataFrame op costs a full
    # driver-side analysis pass over the (large) upstream plan (~40 ms
    # each at the pipeline's tail, measured r6)
    iss = issues.filter(skip_large_expr() & whitelist_expr(F.col("tags")))

    k = cover_k(DUPLICATE_RADIUS_M, 9)

    cand_base = elements.filter(
        F.map_contains_key(F.col("tags"), F.lit("addr:housenumber"))
        & whitelist_expr(F.col("tags"))
    )

    def _eq_vals(tags: Column, prefix: str) -> list[Column]:
        # the EQUAL_TAGS quintuple, pre-extracted so the exchange ships
        # five scalars instead of the full tags map
        return [
            F.element_at(tags, F.lit(t)).alias(f"{prefix}{i}")
            for i, t in enumerate(EQUAL_TAGS)
        ]

    # ---- slim match phase: only what the predicates read crosses the
    # cell exchange — probe bytes are multiplied by the 7 ring cells, so
    # the slim projection is the direct attack on the widest shuffle
    # (r3 DRAM-inflation audit)
    iss_probe = iss.select(
        *_ISSUE_KEY, "element_type", "lat", "lon",
        *_eq_vals(F.col("tags"), "_eq"),
        F.explode(kring_expr(F.col("hex9"), k)).alias("_cell"),
    )

    cand = cand_base.select(
        F.col("hex9").alias("_cell"),
        F.col("uid").alias("c_uid"),
        # (doc_id, span_offset) ride along so the payload refetch
        # re-selects EXACTLY the matched candidate rows — uid alone
        # is not a row key when the same element appears in several
        # documents, and a repeated uid would otherwise attach rows
        # that never passed the match predicates (ADVICE r4). Two
        # ints on the build side, which is never replicated.
        F.col("doc_id").alias("c_doc_id"),
        F.col("span_offset").alias("c_span_offset"),
        F.col("element_type").alias("c_element_type"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        *_eq_vals(F.col("tags"), "_ceq"),
    )

    opposite_family = F.when(
        F.col("element_type") == "node", F.col("c_element_type") != "node"
    ).otherwise(F.col("c_element_type") == "node")

    # null-safe equality on the five address tags: absent == absent
    # (reference duplicate_search.py:21-27, 40-44)
    eq_quintuple = F.lit(True)
    for i in range(len(EQUAL_TAGS)):
        eq_quintuple = eq_quintuple & F.col(f"_eq{i}").eqNullSafe(F.col(f"_ceq{i}"))

    # cheap tests first; radius_join then runs the bbox prefilter and
    # only its survivors pay the haversine
    where = opposite_family & (F.col("c_uid") != F.col("uid")) & eq_quintuple
    links = radius_join(
        iss_probe, cand, DUPLICATE_RADIUS_M, ["_cell"], where=where
    ).select(*_ISSUE_KEY, "c_uid", "c_doc_id", "c_span_offset")

    # one row per surviving issue carrying its matched candidate row
    # keys — the only aggregate over the (small) link set
    hits = links.groupBy(*_ISSUE_KEY).agg(
        F.collect_set(F.struct("c_uid", "c_doc_id", "c_span_offset")).alias("_dup_keys")
    )

    # ---- refetch phase: issues that found >= 1 duplicate survive with
    # their FULL payload via one key join (hits is small -> AQE
    # broadcasts it; iss itself never re-shuffles then)
    iss_hit = iss.join(hits, _ISSUE_KEY, "inner")
    surviving = iss_hit.drop("_dup_keys")

    # duplicates inherit issue provenance + zeroed bbox (quirk Q4);
    # candidate payloads re-fetched from the persisted elements scan by
    # the full row key (uid, doc_id, span_offset) — link side broadcast,
    # so the wide candidate rows never cross an exchange
    prov_cols = [c for c in issue_cols if c not in _CAND_SOURCED]
    link_prov = iss_hit.select(
        *prov_cols, F.explode("_dup_keys").alias("_k")
    ).select(
        *prov_cols,
        F.col("_k.c_uid").alias("c_uid"),
        F.col("_k.c_doc_id").alias("c_doc_id"),
        F.col("_k.c_span_offset").alias("c_span_offset"),
    )
    cand_payload = cand_base.select(
        F.col("uid").alias("c_uid"),
        F.col("doc_id").alias("c_doc_id"),
        F.col("span_offset").alias("c_span_offset"),
        F.col("element_type").alias("c_element_type"),
        F.col("element_id").alias("c_element_id"),
        F.col("tags").alias("c_tags"),
        F.col("lat").alias("c_lat"),
        F.col("lon").alias("c_lon"),
        F.col("hex9").alias("c_hex9"),
        F.col("s2_15").alias("c_s2_15"),
    )
    dup_rows = cand_payload.join(
        F.broadcast(link_prov), ["c_uid", "c_doc_id", "c_span_offset"]
    ).select(
        *prov_cols,
        F.col("c_doc_id").alias("doc_id"),
        F.col("c_span_offset").alias("span_offset"),
        F.col("c_element_type").alias("element_type"),
        F.col("c_element_id").alias("element_id"),
        F.col("c_tags").alias("tags"),
        F.col("c_lat").alias("lat"),
        F.col("c_lon").alias("lon"),
        F.lit(0.0).alias("minlat"),
        F.lit(0.0).alias("minlon"),
        F.lit(0.0).alias("maxlat"),
        F.lit(0.0).alias("maxlon"),
        F.lit(0.0).alias("bb_width_m"),
        F.lit(0.0).alias("bb_height_m"),
        F.col("c_uid").alias("uid"),
        F.col("c_hex9").alias("hex9"),
        F.col("c_s2_15").alias("s2_15"),
    ).select(*issue_cols)

    out = surviving.select(*issue_cols).withColumn("_is_dup", F.lit(0)).unionByName(
        dup_rows.withColumn("_is_dup", F.lit(1))
    )

    # set semantics on uid within the check (reference result:set): the
    # reference builds set(issues) FIRST and then .update(duplicates)
    # (overpass.py:239-272) — an element that is both a surviving issue
    # and someone else's duplicate keeps its OWN provenance (first-in
    # wins). Order issue rows before dup rows, then deterministic
    # tie-break within each class.
    w = Window.partitionBy("category", "check_id", "uid").orderBy(
        "_is_dup", "changeset_id", "timestamp", "doc_id", "span_offset"
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_dup")
    )
