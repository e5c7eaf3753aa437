"""Deterministic synthetic world + interleaved-documents generator.

Produces the engine's primary input table (FIXTURES.md §1):

    documents(doc_id, spans: array<struct<kind,text,media_ref,offset>>)

plus the dimension tables of FIXTURES.md §2 (changesets, users, polygons,
streets, place_nodes, elements_history), written as parquet with pyarrow.

One document == one changeset; kind='text' spans carry JSON-encoded OSM
elements (mirroring reference overpass_entry.py:19-50), kind='media'
spans carry XYZ tile refs. Seeded (default 42): the world splits into
fixed 50k-doc chunks, each driven by rng([seed, chunk]) with a reserved
element-id range per document, so the output is a pure function of
(n_docs, seed) REGARDLESS of worker count — chunks generate in parallel
processes (~30x over the old sequential loop; 4M docs in ~1 min) and
each chunk writes its own parquet part file, which also gives big
worlds the multi-file layout a real 100 TB table would have (no
single-file scan bottleneck). ~30% of changesets concentrate in one
"hotspot" town; it skews towns, not hex cells (the densest res-9
candidate cell holds 17 candidates at 1,200 docs, 128 at 12,000 —
FIXTURES.md §1).

Scenario mix is chosen so every check and spatial stage has positive and
negative cases at safe distance margins (FIXTURES.md §3-4).
"""

from __future__ import annotations

import json
import math
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm_addr_bot_spark.config import DEFAULT_TILE_ZOOM, SEARCH_BBOX
from osm_addr_bot_spark.schemas import TABLE_SCHEMAS

M_PER_DEG_LAT = 111_194.9
T0 = 1_700_000_000  # scan-window start (epoch s)
WINDOW_S = 8 * 3600


def _m2deg_lat(m):
    return m / M_PER_DEG_LAT


def _m2deg_lon(m, lat):
    return m / (M_PER_DEG_LAT * np.cos(np.radians(lat)))


def _xyz_ref(lat: float, lon: float) -> str:
    n = 2**DEFAULT_TILE_ZOOM
    x = min(max(int(n * (lon + 180.0) / 360.0), 0), n - 1)
    lat_rad = math.radians(lat)
    y = min(
        max(int(n * (1.0 - math.log(math.tan(lat_rad) + 1 / math.cos(lat_rad)) / math.pi) / 2.0), 0),
        n - 1,
    )
    return f"{DEFAULT_TILE_ZOOM}/{x}/{y}"


# --------------------------------------------------------------------- world
TOWN_NAMES = [
    "Warszawa", "Kraków", "Zielona Góra", "Gdańsk", "Poznań", "Wrocław",
    "Łódź", "Lublin", "Katowice", "Białystok", "Szczecin", "Bydgoszcz",
    "Toruń", "Radom", "Kielce", "Rzeszów", "Olsztyn", "Opole",
    "Nowa Wieś", "Stara Wola",
]
STREET_BASE = [
    "Polna", "Leśna", "Słoneczna", "Krótka", "Szkolna", "Ogrodowa",
    "Lipowa", "Brzozowa", "Kwiatowa", "Kościelna", "Parkowa", "Zielona",
]


def _make_world(rng: np.random.Generator, n_towns: int = 20):
    """Town centers, polygons, streets, place nodes. Twin towns 6 km apart
    give the 10 km proximity arm positive cases.

    ``n_towns`` scales the world's AREA with document count (real data
    adds cities, it doesn't densify 20 towns forever) — without this,
    candidate density and the quadratic radius-join pair count blow up
    with n_docs and benchmarks measure a pathology, not the engine.
    """
    names = list(TOWN_NAMES) + [f"Miasto {i}" for i in range(len(TOWN_NAMES), n_towns)]
    n = len(names)
    lat = rng.uniform(SEARCH_BBOX["min_lat"] + 0.5, SEARCH_BBOX["max_lat"] - 0.5, n)
    lon = rng.uniform(SEARCH_BBOX["min_lon"] + 0.5, SEARCH_BBOX["max_lon"] - 0.5, n)
    # towns 18/19 are twins of towns 0/1, ~6 km east (inside 10 km arm)
    for twin, base in ((18, 0), (19, 1)):
        lat[twin] = lat[base]
        lon[twin] = lon[base] + _m2deg_lon(6000.0, lat[base])

    polygons, streets, place_nodes = [], [], []
    town_streets: list[list[str]] = []
    for i, name in enumerate(names):
        radius = rng.uniform(2500, 4000)
        n_vert = 18
        ang = np.linspace(0, 2 * math.pi, n_vert, endpoint=False)
        wobble = rng.uniform(0.85, 1.15, n_vert)
        ring = [
            {
                "lat": float(lat[i] + _m2deg_lat(radius * w * math.sin(a))),
                "lon": float(lon[i] + _m2deg_lon(radius * w * math.cos(a), lat[i])),
            }
            for a, w in zip(ang, wobble)
        ]
        polygons.append(
            {
                "polygon_id": 9000 + i,
                "name": name,
                "alt_name": f"{name} Alt" if i % 5 == 0 else None,
                "admin_level": None if i % 3 else "8",  # every 3rd is admin
                "ring": ring,
            }
        )
        # a non-admin duplicate polygon for admin towns, so PIP semantics
        # ([!admin_level], reference overpass.py:119-120) stay testable
        if i % 3 == 0 and i % 6 != 0:
            polygons.append(
                {
                    "polygon_id": 9500 + i,
                    "name": name,
                    "alt_name": None,
                    "admin_level": None,
                    "ring": ring,
                }
            )
        place_nodes.append(
            {"node_id": 8000 + i, "name": name, "lat": float(lat[i]), "lon": float(lon[i])}
        )
        snames = [f"{s}" for s in rng.permutation(STREET_BASE)[:8]]
        town_streets.append(snames)
        for j, sname in enumerate(snames):
            sx = lat[i] + _m2deg_lat(rng.uniform(-1500, 1500))
            sy = lon[i] + _m2deg_lon(rng.uniform(-1500, 1500), lat[i])
            heading = rng.uniform(0, 2 * math.pi)
            pts = []
            for kseg in range(10):
                pts.append(
                    {
                        "lat": float(sx + _m2deg_lat(100 * kseg * math.sin(heading))),
                        "lon": float(sy + _m2deg_lon(100 * kseg * math.cos(heading), lat[i])),
                    }
                )
            streets.append(
                {
                    "way_id": 7000 + i * 100 + j,
                    "name": sname,
                    "alt_name": f"Aleja {sname}" if j == 0 else None,
                    "points": pts,
                }
            )
    return names, lat, lon, polygons, streets, place_nodes, town_streets


# ------------------------------------------------------------- element build
def _element(ts, cs_id, etype, eid, tags, lat, lon, size_m=0.0):
    if etype == "node" or size_m <= 0:
        minlat = maxlat = lat
        minlon = maxlon = lon
    else:
        dlat = _m2deg_lat(size_m) / 2
        dlon = _m2deg_lon(size_m, lat) / 2
        minlat, maxlat = lat - dlat, lat + dlat
        minlon, maxlon = lon - dlon, lon + dlon
    return {
        "timestamp": int(ts),
        "changeset_id": int(cs_id),
        "element_type": etype,
        "element_id": int(eid),
        "tags": tags,
        "lat": float(lat),
        "lon": float(lon),
        "minlat": float(minlat),
        "minlon": float(minlon),
        "maxlat": float(maxlat),
        "maxlon": float(maxlon),
    }


# fixed chunking: the world is a pure function of (n_docs, seed); worker
# count only changes wall-clock. Each doc owns a reserved element-id
# range (max 6 scenario draws x 2 elements for dup pairs = 12, pad to 14)
CHUNK_DOCS = 50_000
EIDS_PER_DOC = 14
DELETED_UID = 9999

# Bump whenever the generated BYTES change for the same (n_docs, seed)
# — ensure_dataset keys its reuse marker on this, so a generator change
# forces regeneration instead of silently reusing a world produced by
# different code (v2 = the round-2 chunk-parallel generator).
GENERATOR_VERSION = 2


def _gen_chunk_rows(seed, chunk_idx, lo, hi, town_names, tlat, tlon, town_streets,
                    user_uids, n_towns, hotspot_frac):
    """Document/changeset/history rows for docs [lo, hi) — deterministic
    in (seed, chunk_idx) only."""
    rng = np.random.default_rng([seed, chunk_idx])
    changesets, documents, history = [], [], []
    pair_dist_pos = [60.0, 80.0, 90.0]   # ≤ 95 m  -> duplicate (radius 100)
    pair_dist_neg = [115.0, 200.0]       # ≥ 110 m -> not a duplicate

    for d in range(lo, hi):
        cs_id = 1000 + d
        eid_counter = 1 + d * EIDS_PER_DOC
        # 30% of changesets in the hotspot town 0 (urban skew)
        town = 0 if rng.random() < hotspot_frac else int(rng.integers(0, n_towns))
        town_name = town_names[town]
        near = town_names[{18: 0, 19: 1, 0: 18, 1: 19}.get(town, (town + 1) % n_towns)]
        far = town_names[(town + n_towns // 2) % n_towns]

        uid = DELETED_UID if rng.random() < 0.03 else int(rng.choice(user_uids))
        created_by = str(
            rng.choice(
                ["JOSM/1.5 (19000 en)", "iD 2.27.3", "Potlatch 3", "StreetComplete 50.0", "Every Door 4.1"],
                p=[0.45, 0.35, 0.1, 0.06, 0.04],
            )
        )
        discussion = []
        if rng.random() < 0.06:
            # prior bot/user comment containing the magic word -> gate F19
            discussion.append({"uid": 55555, "text": "Problem z adresami (adres nieprawidłowy)"})
        if rng.random() < 0.05:
            discussion.append({"uid": int(uid), "text": "self note adres"})  # author's own — ignored
        is_open = rng.random() < 0.05
        changesets.append(
            {
                "changeset_id": cs_id,
                "cs_uid": uid,
                "open": bool(is_open),
                "created_by": created_by,
                "discussion": discussion,
            }
        )

        guilty = rng.random() < 0.8
        n_elem = int(rng.integers(1, 7))
        elements = []

        def near_pt(sigma_m=1200.0):
            la = tlat[town] + _m2deg_lat(rng.normal(0, sigma_m))
            lo = tlon[town] + _m2deg_lon(rng.normal(0, sigma_m), tlat[town])
            return float(la), float(lo)

        for _ in range(n_elem):
            ts = T0 + int(rng.integers(0, WINDOW_S))
            la, lo = near_pt()
            scen = str(
                rng.choice(
                    [
                        "good", "bad_postcode", "mistype_city", "num_wo_street",
                        "place_with_street", "street_prefix", "unknown_street",
                        "dup_pair_pos", "dup_pair_neg", "bcwp_pip", "bcwp_near",
                        "bcwp_far", "place_mistype", "locker", "website", "large",
                        "construction",
                    ],
                    p=[0.24, 0.07, 0.05, 0.06, 0.06, 0.05, 0.06,
                       0.07, 0.04, 0.05, 0.04, 0.05, 0.05, 0.04, 0.04, 0.02, 0.01],
                )
            )
            sname = str(rng.choice(town_streets[town]))
            hn = str(int(rng.integers(1, 200)))
            etype = str(rng.choice(["node", "way", "relation"], p=[0.6, 0.35, 0.05]))
            size = 0.0 if etype == "node" else float(rng.uniform(15, 300))
            tags: dict[str, str] = {}
            if scen == "good":
                tags = {
                    "addr:city": town_name, "addr:street": sname,
                    "addr:housenumber": hn, "addr:postcode": f"{rng.integers(10,99)}-{rng.integers(100,999)}",
                    "building": "yes",
                }
            elif scen == "bad_postcode":
                bad = str(rng.choice(["12345", "12-3456", "12-345;", "ab-cde", "1-234"]))
                tags = {"addr:postcode": bad, "addr:city": town_name, "building": "yes"}
            elif scen == "mistype_city":
                variant = town_name.lower() if rng.random() < 0.5 else town_name + "  "
                tags = {"addr:city": town_name, "addr:place": variant, "addr:housenumber": hn}
            elif scen == "num_wo_street":
                tags = {"addr:housenumber": hn, "addr:city": town_name}
            elif scen == "place_with_street":
                tags = {"addr:place": town_name, "addr:street": sname, "addr:housenumber": hn}
            elif scen == "street_prefix":
                pref = str(rng.choice(["ul. ", "ulica ", "ul "]))
                tags = {"addr:street": pref + sname, "addr:housenumber": hn, "addr:city": town_name}
            elif scen == "unknown_street":
                tags = {"addr:street": f"Zmyślona {int(rng.integers(1000))}", "addr:housenumber": hn,
                        "addr:city": town_name}
            elif scen in ("dup_pair_pos", "dup_pair_neg"):
                dist = float(rng.choice(pair_dist_pos if scen == "dup_pair_pos" else pair_dist_neg))
                bearing = rng.uniform(0, 2 * math.pi)
                la2 = la + _m2deg_lat(dist * math.sin(bearing))
                lo2 = lo + _m2deg_lon(dist * math.cos(bearing), la)
                addr = {"addr:city": town_name, "addr:housenumber": hn, "addr:street": sname}
                if rng.random() < 0.3:
                    addr["addr:unit"] = "A"
                dirty = rng.random() < 0.25  # non-whitelisted key kills the match
                t1 = dict(addr, **{"building": "yes"})
                t2 = dict(addr, **({"shop": "bakery"} if dirty else {"name": "Dom"}))
                if scen == "dup_pair_neg" and rng.random() < 0.5:
                    t2["addr:unit"] = "B"  # differing unit -> not equal
                elements.append(_element(ts, cs_id, "node", eid_counter, t1, la, lo))
                eid_counter += 1
                elements.append(_element(ts, cs_id, "way", eid_counter, t2, la2, lo2, size_m=30))
                eid_counter += 1
                continue
            elif scen == "bcwp_pip":
                la, lo = near_pt(800.0)  # well inside the town polygon
                tags = {"addr:city": far, "addr:place": town_name, "addr:housenumber": hn}
            elif scen == "bcwp_near":
                tags = {"addr:city": town_name, "addr:place": near, "addr:housenumber": hn}
            elif scen == "bcwp_far":
                tags = {"addr:city": town_name, "addr:place": far, "addr:housenumber": hn}
            elif scen == "place_mistype":
                la, lo = near_pt(800.0)
                bad_name = town_name.lower() if rng.random() < 0.5 else town_name + "  x"[:0] + " "
                tags = {"addr:place": bad_name if rng.random() < 0.7 else town_name,
                        "addr:housenumber": hn}
            elif scen == "locker":
                q = str(rng.choice(["Q110970254", "Q110738715", "Q999999"]))
                tags = {"brand:wikidata": q, "name": "Paczkomat ABC01", "amenity": "parcel_locker"}
            elif scen == "website":
                url = str(
                    rng.choice(
                        ["https://https://example.pl", "https://bit.ly/abc",
                         "https://goo.gl/maps/xyz", "https://example.pl"]
                    )
                )
                key = str(rng.choice(["website", "url", "contact:website"]))
                tags = {key: url, "shop": "bakery"}
            elif scen == "large":
                etype, size = "way", float(rng.uniform(1200, 5000))
                tags = {"addr:housenumber": hn, "addr:city": town_name, "addr:street": sname,
                        "landuse": "farmland"}
            elif scen == "construction":
                v = str(rng.choice(["house", "residential"]))
                tags = {"construction": v, "building" if rng.random() < 0.5 else "landuse": v}
            elements.append(_element(ts, cs_id, etype, eid_counter, tags, la, lo, size))
            eid_counter += 1

        # history rows: guilty changesets edited addr tags (or created);
        # innocent ones only touched 'note' (diff misses every selector)
        for k, e in enumerate(elements):
            r = rng.random()
            if guilty and r < 0.25:
                continue  # absent from history => created => guilty (Q6)
            old = dict(e["tags"])
            if guilty and k == 0:
                if old:
                    old.pop(next(iter(old)))  # changed first tag
                old["note"] = "old"
            elif not guilty:
                old["note"] = "old"  # only irrelevant tag differs
            history.append(
                {
                    "element_type": e["element_type"],
                    "element_id": e["element_id"],
                    "valid_from": 0,
                    "valid_to": int(e["timestamp"]),
                    "tags": old,
                }
            )

        # assemble spans: elements in order + 0-2 interleaved media spans
        spans = []
        offset = 0
        for e in elements:
            if rng.random() < 0.15:
                mla, mlo = near_pt()
                spans.append(
                    {
                        "kind": "media",
                        "text": json.dumps({"lat": mla, "lon": mlo}),
                        "media_ref": _xyz_ref(mla, mlo),
                        "offset": offset,
                    }
                )
                offset += 1
            spans.append(
                {
                    "kind": "text",
                    "text": json.dumps(e, separators=(",", ":"), sort_keys=True),
                    "media_ref": "",
                    "offset": offset,
                }
            )
            offset += 1
        documents.append({"doc_id": f"doc-{cs_id}", "spans": spans})

    return documents, changesets, history


def _gen_and_write_chunk(args) -> int:
    """Worker: generate one chunk and write its three parquet part files."""
    (out_dir, seed, chunk_idx, lo, hi, town_names, tlat, tlon, town_streets,
     user_uids, n_towns, hotspot_frac) = args
    documents, changesets, history = _gen_chunk_rows(
        seed, chunk_idx, lo, hi, town_names, tlat, tlon, town_streets,
        user_uids, n_towns, hotspot_frac,
    )
    out = Path(out_dir)
    part = f"part-{chunk_idx:05d}.parquet"
    for name, rows in (
        ("documents", documents),
        ("changesets", changesets),
        ("elements_history", [dict(h, tags=list(h["tags"].items())) for h in history]),
    ):
        pq.write_table(pa.Table.from_pylist(rows, schema=TABLE_SCHEMAS[name]), out / f"{name}.parquet" / part)
    return hi - lo


def generate(out_dir: str | os.PathLike, n_docs: int = 500, seed: int = 42) -> dict[str, str]:
    """Write the full synthetic dataset under ``out_dir``; returns paths.

    Doc-scoped tables (documents, changesets, elements_history) are
    written as parquet DIRECTORIES of one part file per 50k-doc chunk —
    Spark reads files and directories the same way. Chunks generate in
    parallel processes, at most one per core; a chunk's rows depend only
    on the seed and its index, so the output does not depend on the
    process count.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    # uid headroom (ADVICE r2): way uids are element_id + UID_OFFSET
    # (config.py/parse.py), so reserved per-doc id ranges must stay below
    # the offset or way uids collide with relation uids
    from osm_addr_bot_spark.config import UID_OFFSET

    if EIDS_PER_DOC * n_docs >= UID_OFFSET:
        raise ValueError(
            f"n_docs={n_docs} would overflow the element-id space: "
            f"{EIDS_PER_DOC} ids/doc * n_docs must stay < UID_OFFSET={UID_OFFSET} "
            f"(max ~{UID_OFFSET // EIDS_PER_DOC} docs) or way/relation uids collide"
        )
    rng = np.random.default_rng(seed)
    # world area scales with document count (constant density ~3k docs
    # per town); the hotspot town keeps a strong skew but is capped so
    # its pair counts do not grow quadratically with the world
    n_towns = max(20, n_docs // 3000)
    hotspot_frac = min(0.30, 20_000 / max(n_docs, 1))
    town_names, tlat, tlon, polygons, streets, place_nodes, town_streets = _make_world(rng, n_towns)

    users = []
    for u in range(60):
        # counts straddle NEW(15)/PRO(800) thresholds; uid 9999 is "deleted"
        count = int(rng.choice([3, 10, 16, 50, 200, 799, 801, 2000]))
        users.append({"user_uid": 100 + u, "display_name": f"mapper_{u}", "changesets_count": count})
    user_uids = [u["user_uid"] for u in users]

    paths = {}
    for name, rows in (
        ("users", users),
        ("polygons", polygons),
        ("streets", streets),
        ("place_nodes", place_nodes),
    ):
        p = out / f"{name}.parquet"
        pq.write_table(pa.Table.from_pylist(rows, schema=TABLE_SCHEMAS[name]), p)
        paths[name] = str(p)

    chunks = []
    for c, lo in enumerate(range(0, n_docs, CHUNK_DOCS)):
        hi = min(lo + CHUNK_DOCS, n_docs)
        chunks.append((str(out), seed, c, lo, hi, town_names, tlat, tlon,
                       town_streets, user_uids, n_towns, hotspot_frac))
    for name in ("documents", "changesets", "elements_history"):
        d = out / f"{name}.parquet"
        if d.is_dir():
            import shutil

            shutil.rmtree(d)
        elif d.exists():
            d.unlink()  # single-file layout from an older generator
        d.mkdir(parents=True, exist_ok=True)
        paths[name] = str(d)

    if len(chunks) == 1:
        _gen_and_write_chunk(chunks[0])
    else:
        from concurrent.futures import ProcessPoolExecutor

        n_workers = min(os.cpu_count() or 8, len(chunks))
        with ProcessPoolExecutor(max_workers=n_workers) as ex:
            list(ex.map(_gen_and_write_chunk, chunks, chunksize=1))

    # table-stats sidecar: the source clock (S4, the reference's
    # timestamp_osm_base) as COMMIT METADATA, so the pipeline's
    # watermark probe never scans data to learn one number — the
    # generator's draw window bounds every element timestamp, the same
    # way an ingestion commit time bounds its events (Iceberg snapshot
    # timestamp analog; sources.table_stats reads it)
    import json as _json

    stats = {
        "generator_version": GENERATOR_VERSION,
        "n_docs": n_docs,
        "seed": seed,
        "max_timestamp": T0 + WINDOW_S - 1,
    }
    (out / "_table_stats.json").write_text(_json.dumps(stats))
    return paths


def ensure_dataset(out_dir: str | os.PathLike, n_docs: int = 500, seed: int = 42) -> Path:
    """Generate once, reuse across test/bench runs (marker file keyed on
    generator version + params). A params OR generator change regenerates
    and drops every other marker, an unversioned one included."""
    out = Path(out_dir)
    marker = out / f".done-v{GENERATOR_VERSION}-{n_docs}-{seed}"
    if not marker.exists():
        generate(out, n_docs=n_docs, seed=seed)
        for old in out.glob(".done-*"):
            old.unlink()
        marker.touch()
    return out
