"""End-to-end pipeline over the synthetic world + report golden +
checkpoint/resume semantics."""

import json
import re
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from osm_addr_bot_spark.datagen import T0, WINDOW_S
from osm_addr_bot_spark.operators.report import compose_message
from osm_addr_bot_spark.pipeline import _estimated_scan_partitions, load_tables, run_pipeline
from osm_addr_bot_spark.state.checkpoint import Checkpoint


def _digest(df):
    """(rows, sum of xxhash64 over every column): order-independent, and
    every column is computed. Map columns hash as their sorted entries."""
    cols = [
        F.to_json(F.array_sort(F.map_entries(f.name))) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
    return tuple(row)


def _scans_documents(df) -> bool:
    """Whether df's analyzed plan scans the documents table, the only
    table with a ``spans`` column."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return re.search(r"Relation \[[^\]]*\bspans#", plan) is not None


def test_pipeline_end_to_end(spark, synth_dir):
    out = run_pipeline(spark, synth_dir, start_ts=T0, end_ts=T0 + WINDOW_S)
    issues = out["issues"].cache()
    n = issues.count()
    assert n > 0

    # no open changesets in final issues
    cs = load_tables(spark, synth_dir)["changesets"]
    open_ids = {r["changeset_id"] for r in cs.filter("open").collect()}
    final_cs = {r["changeset_id"] for r in issues.select("changeset_id").distinct().collect()}
    assert not (final_cs & open_ids)

    # no blacklisted changesets
    black = {r["changeset_id"] for r in cs.filter(F.lower("created_by").contains("streetcomplete")).collect()}
    assert not (final_cs & black)

    # reports exist for every (category, changeset) pair with issues
    reports = out["reports"].cache()
    rep_keys = {(r["category"], r["changeset_id"]) for r in reports.collect()}
    iss_keys = {
        (r["category"], r["changeset_id"])
        for r in issues.select("category", "changeset_id").distinct().collect()
    }
    assert rep_keys == iss_keys

    # every message ends with the sign-off
    for r in reports.collect():
        assert r["message"].endswith("Pozdrawiam! 🦀")

    # overlap report covers docs
    assert out["overlap"].count() > 0
    issues.unpersist()
    reports.unpersist()


def test_reuse_points_cut_plan_and_keep_lineage(spark, synth_dir):
    """The persisted reuse points are cut from the logical plan: the final
    issues plan from one leaf, not from the documents scan. The cut keeps
    RDD lineage: clearCache() releases every block the run persisted, and
    the same returned frames recompute to the same rows. A
    (local)checkpoint cut leaves its blocks outside the CacheManager."""
    window = {"start_ts": T0, "end_ts": T0 + WINDOW_S}
    assert _scans_documents(run_pipeline(spark, synth_dir, persist=False, **window)["issues"])

    jsc = spark.sparkContext._jsc
    persisted_before = set(jsc.getPersistentRDDs().keys())
    out = run_pipeline(spark, synth_dir, **window)
    assert not _scans_documents(out["issues"])

    sinks = ("issues", "reports", "tiles", "overlap")
    first = {n: _digest(out[n]) for n in sinks}
    assert first["issues"][0] > 0
    spark.catalog.clearCache()
    assert set(jsc.getPersistentRDDs().keys()) <= persisted_before
    assert {n: _digest(out[n]) for n in sinks} == first


@pytest.mark.parametrize(
    "max_partition_bytes, mpb",
    [
        ("16m", 16 << 20), ("128mb", 128 << 20), ("1gb", 1 << 30), ("512kb", 512 << 10),
        ("64MB", 64 << 20), (" 2Kb ", 2 << 10), ("1048576", 1 << 20), ("4096b", 4096),
        ("1t", 1 << 40), ("1.5g", None), ("lots", None),
    ],
)
def test_estimated_scan_partitions_parses_byte_strings(tmp_path, max_partition_bytes, mpb):
    """Every byte string Spark accepts for maxPartitionBytes parses; one
    that doesn't gives None, so run_pipeline asks the scan instead."""
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default=None: max_partition_bytes))
    size = (1 << 20) + 1
    with open(tmp_path / "part-0.parquet", "wb") as f:
        f.truncate(size)  # sparse: apparent size only
    want = None if mpb is None else -(-size // mpb)
    assert _estimated_scan_partitions(spark, str(tmp_path)) == want


def test_priority_dedup_idempotent_in_pipeline(spark, synth_dir):
    from osm_addr_bot_spark.operators.dedup import filter_priority
    from osm_addr_bot_spark.checks import fan_out_checks
    from osm_addr_bot_spark.operators.parse import parse_elements

    docs = spark.read.parquet(f"{synth_dir}/documents.parquet")
    issues = fan_out_checks(parse_elements(docs))
    once = filter_priority(issues, consider_post_fn=False)
    twice = filter_priority(once, consider_post_fn=False)
    assert once.count() == twice.count()


def test_compose_message_goldens():
    """Byte-exact U5 goldens (FIXTURES.md §5) — derived from the cited
    template (reference main.py:108-162), not copied output."""
    issues = [
        {"check_id": "BAD_POSTCODE_FORMAT", "element_type": "way", "element_id": 9,
         "street": None, "doc_id": "d1", "span_offset": 1},
        {"check_id": "BAD_POSTCODE_FORMAT", "element_type": "node", "element_id": 3,
         "street": None, "doc_id": "d1", "span_offset": 0},
    ]
    # new user (count <= 15): greeting + extra + docs + help sign-off
    msg = compose_message("ADDRESS", issues, changesets_count=5)
    assert msg == (
        "🗺️ Witaj na OpenStreetMap!\n\n"
        "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
        "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:\n\n"
        "Nieprawidłowa wartość addr:postcode. "
        "Kod pocztowy powinien być formatu XX-XXX, gdzie X oznacza cyfrę.\n"
        "https://www.openstreetmap.org/node/3\n"
        "https://www.openstreetmap.org/way/9\n"
        "\n"
        "Dokumentacja adresów (po polsku):\n"
        "https://wiki.openstreetmap.org/wiki/Pl:Key:addr:*\n\n"
        "W razie problemów lub pytań, proszę pisać. Chętnie pomogę.\n"
        "Pozdrawiam! 🦀"
    )
    # pro user (count >= 800): no greeting, no extra, no docs, short sign-off
    msg_pro = compose_message("ADDRESS", issues, changesets_count=1000)
    assert msg_pro == (
        "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
        "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:\n\n"
        "Nieprawidłowa wartość addr:postcode.\n"
        "https://www.openstreetmap.org/node/3\n"
        "https://www.openstreetmap.org/way/9\n"
        "\n"
        "Pozdrawiam! 🦀"
    )


def test_compose_message_street_title_grouping():
    # >= 3 UNKNOWN_STREET_NAME entries group by street (reference check.py:25-37)
    issues = [
        {"check_id": "UNKNOWN_STREET_NAME", "element_type": "node", "element_id": i,
         "street": s, "doc_id": "d1", "span_offset": i}
        for i, s in enumerate(["Polna", "Polna", "Leśna"])
    ]
    msg = compose_message("ADDRESS", issues, changesets_count=100)
    assert '\n"Polna":\n' in msg and '\n"Leśna":\n' in msg
    assert msg.index('"Polna"') < msg.index('"Leśna"')  # first-occurrence order
    # non-critical check only -> non-critical header
    assert msg.startswith("Zauważyłem, że Twoja zmiana zawiera adresy wymagające")

    # 2 entries: no titles
    msg2 = compose_message("ADDRESS", issues[:2], changesets_count=100)
    assert '"Polna"' not in msg2


def test_checkpoint_resume(spark, synth_dir, tmp_path):
    """Kill-after-stage resume: run once with stage checkpoints, corrupt
    nothing, run again — stages replay from manifests and outputs agree
    (ST2/ST3; resume test of FIXTURES.md §5)."""
    ck = tmp_path / "ckpt"
    out1 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
        stage_checkpoints=True,
    )
    n1 = out1["issues"].count()
    rows1 = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in out1["issues"].collect()
    }

    # state writes LAST: watermark must not move until the caller commits
    ckpt = Checkpoint(str(ck))
    assert ckpt.read_watermark() is None
    out1["commit"]()
    assert ckpt.read_watermark() == T0 + WINDOW_S

    # lineage manifests exist with per-partition rows
    man = ck / "stages" / f"run-{T0 + WINDOW_S}" / "fanout" / "manifest.json"
    m = json.loads(man.read_text())
    assert m["rows"] == sum(p["rows"] for p in m["partitions"])

    # simulate restart: second run must reuse committed stages (same rows)
    out2 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
        stage_checkpoints=True,
    )
    rows2 = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in out2["issues"].collect()
    }
    assert rows1 == rows2 and n1 == len(rows1)

    # partial kill: drop a late-stage checkpoint, keep early ones -> rerun
    # recomputes only the missing tail and still agrees
    shutil.rmtree(ck / "stages" / f"run-{T0 + WINDOW_S}" / "final_issues")
    out3 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
        stage_checkpoints=True,
    )
    rows3 = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in out3["issues"].collect()
    }
    assert rows3 == rows1


def test_rescheduled_backlog_merges_next_run(spark, synth_dir, tmp_path):
    """Open changesets reschedule; the next run merges the backlog
    (reference state.py:54-77, main.py:215-217)."""
    ck = tmp_path / "ck2"
    out1 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
    )
    resched = out1["rescheduled"]
    n_resched = resched.count()
    if n_resched == 0:
        return  # generator produced no open changesets in this seed — covered elsewhere

    out1["commit"]()
    ckpt = Checkpoint(str(ck))
    backlog = ckpt.read_rescheduled(spark, start_ts=T0 + WINDOW_S + 10)
    assert backlog is not None and backlog.count() == n_resched
