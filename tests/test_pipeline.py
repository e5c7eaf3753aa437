"""End-to-end pipeline over the synthetic world + report golden +
checkpoint/resume semantics."""

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import MapType

from osm_addr_bot_spark.datagen import T0, WINDOW_S, ensure_dataset
from osm_addr_bot_spark.checks.registry import all_categories
from osm_addr_bot_spark.operators.report import compose_reports
from osm_addr_bot_spark.pipeline import _estimated_scan_partitions, load_tables, run_pipeline
from osm_addr_bot_spark.schemas import TABLE_SCHEMAS
from osm_addr_bot_spark.sources import table_files, table_fingerprint
from osm_addr_bot_spark.state.checkpoint import Checkpoint
from tests.helpers import PYTHON_EVAL_NODES, executed_plan

OTHER_SYNTH_DIR = "/tmp/osm_addr_bot_synth/test-seed7"


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
    cs = load_tables(spark, synth_dir, table_fingerprint(synth_dir))["changesets"]
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


def test_reuse_points_cut_plan_and_keep_lineage(spark, synth_dir, documents):
    """The persisted reuse points are cut from the logical plan: the final
    issues plan from one leaf, not from the documents scan. The cut keeps
    RDD lineage: clearCache() releases every block the run persisted, and
    the same returned frames recompute to the same rows. A
    (local)checkpoint cut leaves its blocks outside the CacheManager."""
    from osm_addr_bot_spark.operators.parse import parse_elements

    window = {"start_ts": T0, "end_ts": T0 + WINDOW_S}
    assert _scans_documents(parse_elements(documents))

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
def test_estimated_scan_partitions_parses_byte_strings(spark, max_partition_bytes, mpb):
    """run_pipeline sizes the documents scan with Spark's own parse of
    maxPartitionBytes: every byte string Spark accepts gives its byte
    count, and one it does not accept fails when it is set, so the
    estimate never sees an unparsed value."""
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    conf = spark._jsparkSession.sessionState().conf()
    try:
        if mpb is None:
            with pytest.raises(Exception, match="INVALID_CONF_VALUE"):
                spark.conf.set(key, max_partition_bytes)
        else:
            spark.conf.set(key, max_partition_bytes)
            assert conf.filesMaxPartitionBytes() == mpb
            size = (1 << 20) + 1
            assert _estimated_scan_partitions([size], conf.filesMaxPartitionBytes()) == -(-size // mpb)
    finally:
        spark.conf.set(key, before)


def test_estimated_scan_partitions_from_listing_sizes(tmp_path):
    """The estimate is Spark's split rule over the table listing's data
    files: each file splits into ceil(size / maxPartitionBytes) tasks,
    an empty file into one, and hidden and metadata files not at all."""
    table = tmp_path / "documents.parquet"
    table.mkdir()
    for name, size in (("part-0.parquet", 0), ("part-1.parquet", (1 << 20) + 1),
                       ("part-2.parquet", 3 << 20), ("_SUCCESS", 9 << 20), (".part-1.parquet.crc", 9 << 20)):
        with open(table / name, "wb") as f:
            f.truncate(size)  # sparse: apparent size only
    sizes = [size for _, size, _ in table_files(str(table))]
    assert sorted(sizes) == [0, (1 << 20) + 1, 3 << 20]
    assert _estimated_scan_partitions(sizes, 1 << 20) == 1 + 2 + 3
    assert _estimated_scan_partitions(sizes, 128 << 20) == 3


def test_file_uri_world_matches_plain_path(spark, synth_dir):
    """A ``file:`` URI world is listed through Hadoop and sized from that
    listing: its outputs equal the plain path's."""
    window = {"start_ts": T0, "end_ts": T0 + WINDOW_S}
    sinks = ("issues", "rescheduled", "reports", "tiles", "overlap")
    plain = run_pipeline(spark, synth_dir, **window)
    want = {n: _digest(plain[n]) for n in sinks}
    assert want["issues"][0] > 0
    uri = run_pipeline(spark, f"file://{synth_dir}", **window)
    assert {n: _digest(uri[n]) for n in sinks} == want


def test_missing_column_fails_loudly(spark, synth_dir, tmp_path):
    """A world table without one of its schema's columns would read that
    column as all-NULL (a changesets table without ``open`` reports every
    open changeset instead of rescheduling it). It fails at load, naming
    the table and the column."""
    world = tmp_path / "world"
    shutil.copytree(synth_dir, world)
    for part in (world / "changesets.parquet").glob("*.parquet"):
        pq.write_table(pq.read_table(part).drop_columns(["open"]), part)
    with pytest.raises(ValueError, match="'changesets' has no column open"):
        run_pipeline(spark, str(world), start_ts=T0, end_ts=T0 + WINDOW_S)


def test_priority_dedup_idempotent_in_pipeline(spark, synth_dir):
    from osm_addr_bot_spark.operators.dedup import filter_priority
    from osm_addr_bot_spark.checks import fan_out_checks
    from osm_addr_bot_spark.operators.parse import parse_elements

    docs = spark.read.parquet(f"{synth_dir}/documents.parquet")
    issues = fan_out_checks(parse_elements(docs))
    once = filter_priority(issues, consider_post_fn=False)
    twice = filter_priority(once, consider_post_fn=False)
    assert once.count() == twice.count()


_REPORT_ISSUES = (
    "category string, changeset_id long, cs_uid long, check_id string, critical boolean,"
    " element_type string, element_id long, street string, doc_id string, span_offset int"
)
_CRITICAL = {c.identifier: c.critical for cat in all_categories() for c in cat.checks}


def _issue(check_id, element_type, element_id, doc_id, span_offset, street=None):
    """One ADDRESS issue of changeset 1 by user 7, as a _REPORT_ISSUES row."""
    return ("ADDRESS", 1, 7, check_id, _CRITICAL[check_id], element_type, element_id, street, doc_id, span_offset)


def _message(spark, issues, changesets_count, fidelity):
    """compose_reports over one changeset's issues -> its message."""
    users = spark.createDataFrame([(7, "u", changesets_count)], from_arrow_schema(TABLE_SCHEMAS["users"]))
    [report] = compose_reports(spark.createDataFrame(issues, _REPORT_ISSUES), users, fidelity).collect()
    assert report["n_issues"] == len(issues)
    return report["message"]


FIDELITY = pytest.mark.parametrize("fidelity", [False, True], ids=["default", "fidelity"])


@FIDELITY
def test_compose_reports_goldens(spark, fidelity):
    """Byte-exact U5 goldens (FIXTURES.md §5) — derived from the cited
    template (reference main.py:108-162), not copied output. Messages do
    not depend on ``fidelity``."""
    issues = [
        _issue("BAD_POSTCODE_FORMAT", "way", 9, "d1", 1),
        _issue("BAD_POSTCODE_FORMAT", "node", 3, "d1", 0),
    ]
    # new user (count <= 15): greeting + extra + docs + help sign-off
    msg = _message(spark, issues, 5, fidelity)
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
    msg_pro = _message(spark, issues, 1000, fidelity)
    assert msg_pro == (
        "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
        "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:\n\n"
        "Nieprawidłowa wartość addr:postcode.\n"
        "https://www.openstreetmap.org/node/3\n"
        "https://www.openstreetmap.org/way/9\n"
        "\n"
        "Pozdrawiam! 🦀"
    )


@FIDELITY
def test_compose_reports_block_link_and_footer_order(spark, fidelity):
    """Two checks whose span order is the reverse of their registry
    order: blocks follow the registry (main.py:132-133), links within a
    block go node < way < relation and keep span order within a type
    (main.py:19-23, 140), and the footer lists the category docs, then
    each block's check docs (main.py:150-154)."""
    issues = [
        _issue("STREET_NAME_WITH_PREFIX", "relation", 5, "d1", 0),
        _issue("STREET_NAME_WITH_PREFIX", "node", 8, "d1", 1),
        _issue("STREET_NAME_WITH_PREFIX", "way", 2, "d2", 0),
        _issue("STREET_NAME_WITH_PREFIX", "node", 1, "d2", 1),
        _issue("BAD_POSTCODE_FORMAT", "way", 4, "d2", 2),
        _issue("BAD_POSTCODE_FORMAT", "relation", 3, "d2", 3),
        _issue("BAD_POSTCODE_FORMAT", "node", 6, "d3", 0),
    ]
    # a regular user (15 < count < 800): no greeting, extras, docs footer
    assert _message(spark, issues, 100, fidelity) == (
        "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
        "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:\n\n"
        "Nieprawidłowa wartość addr:postcode. "
        "Kod pocztowy powinien być formatu XX-XXX, gdzie X oznacza cyfrę.\n"
        "https://www.openstreetmap.org/node/6\n"
        "https://www.openstreetmap.org/way/4\n"
        "https://www.openstreetmap.org/relation/3\n"
        "\n"
        "Nazwa ulicy nie powinna zawierać przedrostka. "
        "Nazwa ulicy nie powinna zaczynać się od 'ul.', 'ulica' itp. "
        "Należy usunąć przedrostek i pozostawić samą nazwę ulicy.\n"
        "https://www.openstreetmap.org/node/8\n"
        "https://www.openstreetmap.org/node/1\n"
        "https://www.openstreetmap.org/way/2\n"
        "https://www.openstreetmap.org/relation/5\n"
        "\n"
        "Dokumentacja adresów (po polsku):\n"
        "https://wiki.openstreetmap.org/wiki/Pl:Key:addr:*\n\n"
        "Zasady nazewnictwa ulic w polsce:\n"
        "https://wiki.osm.org/Pl:Znakowanie_dróg_w_Polsce#Nazewnictwo_ulic\n\n"
        "W razie problemów lub pytań, proszę pisać. Chętnie pomogę.\n"
        "Pozdrawiam! 🦀"
    )


@FIDELITY
def test_compose_reports_street_title_grouping(spark, fidelity):
    # >= 3 UNKNOWN_STREET_NAME entries group by street (reference check.py:25-37)
    issues = [
        _issue("UNKNOWN_STREET_NAME", "node", i, "d1", i, street=s)
        for i, s in enumerate(["Polna", "Polna", "Leśna"])
    ]
    msg = _message(spark, issues, 100, fidelity)
    assert '\n"Polna":\n' in msg and '\n"Leśna":\n' in msg
    assert msg.index('"Polna"') < msg.index('"Leśna"')  # first-occurrence order
    # non-critical check only -> non-critical header
    assert msg.startswith("Zauważyłem, że Twoja zmiana zawiera adresy wymagające")

    # 2 entries: no titles
    msg2 = _message(spark, issues[:2], 100, fidelity)
    assert '"Polna"' not in msg2


def test_pipeline_plans_have_no_python(spark, synth_dir):
    """The pipeline starts no Python worker: none of the six outputs'
    executed plans, read untruncated, has a Python eval node."""
    out = run_pipeline(spark, synth_dir, start_ts=T0, end_ts=T0 + WINDOW_S)
    outputs = ("elements", "issues", "rescheduled", "reports", "tiles", "overlap")
    assert set(outputs) <= set(out)
    for name in outputs:
        plan = executed_plan(out[name])
        assert not [n for n in PYTHON_EVAL_NODES if n in plan], (name, plan)


def _issue_keys(df):
    return {(r["category"], r["check_id"], r["changeset_id"], r["uid"]) for r in df.collect()}


def _manifests(root):
    return {p: p.read_text() for p in root.rglob("manifest.json")}


def _assert_bounded_state(ck, run_id):
    """After a commit: no stage dir for the window, exactly one backlog
    version, and nothing staged or superseded left behind."""
    assert not (ck / "stages" / run_id).exists()
    assert len(list((ck / "rescheduled").iterdir())) == 1
    assert not [p for p in ck.rglob("*") if p.name.startswith(("_old-", "_staging-"))]


def test_checkpoint_resume(spark, synth_dir, tmp_path):
    """Kill-after-stage resume: run once with stage checkpoints and, before
    the commit (where a real kill-restart happens), run again — stages
    replay from manifests and outputs agree (ST2/ST3; resume test of
    FIXTURES.md §5). The commit then deletes the window's stages."""
    ck = tmp_path / "ckpt"
    window = {"checkpoint_dir": str(ck), "start_ts": T0, "end_ts": T0 + WINDOW_S, "stage_checkpoints": True}
    run_id = f"run-{T0 + WINDOW_S}"
    stage_dir = ck / "stages" / run_id
    out1 = run_pipeline(spark, synth_dir, **window)
    n1 = out1["issues"].count()
    rows1 = _issue_keys(out1["issues"])

    # lineage manifests exist with per-partition rows, read from the
    # written files' footers
    m = json.loads((stage_dir / "fanout" / "manifest.json").read_text())
    assert m["rows"] == sum(p["rows"] for p in m["partitions"])
    assert m["rows"] == spark.read.parquet(str(stage_dir / "fanout" / "data")).count() > 0
    manifests = _manifests(stage_dir)
    assert len(manifests) == 3

    # simulate restart: second run must reuse committed stages (same rows)
    out2 = run_pipeline(spark, synth_dir, **window)
    rows2 = _issue_keys(out2["issues"])
    assert rows1 == rows2 and n1 == len(rows1)
    assert _manifests(stage_dir) == manifests

    # partial kill: drop a late-stage checkpoint, keep early ones -> rerun
    # recomputes only the missing tail and still agrees
    shutil.rmtree(stage_dir / "final_issues")
    out3 = run_pipeline(spark, synth_dir, **window)
    assert _issue_keys(out3["issues"]) == rows1

    # state writes LAST: watermark must not move until the caller commits
    ckpt = Checkpoint(str(ck))
    assert ckpt.read_watermark() is None
    out3["commit"]()
    assert ckpt.read_watermark() == T0 + WINDOW_S
    _assert_bounded_state(ck, run_id)


def test_stage_checkpoints_never_replay_other_inputs(spark, synth_dir, tmp_path):
    """Two worlds, one checkpoint dir, one window: the second world's
    stages are not replayed from the first's, and rerunning the second
    world with the same inputs replays its own stages untouched."""
    other = str(ensure_dataset(OTHER_SYNTH_DIR, n_docs=300, seed=7))
    window = {"start_ts": T0, "end_ts": T0 + WINDOW_S}
    fresh = {d: _digest(run_pipeline(spark, d, **window)["issues"]) for d in (synth_dir, other)}
    assert fresh[synth_dir] != fresh[other]

    staged = {"checkpoint_dir": str(tmp_path / "ckpt"), "stage_checkpoints": True, **window}
    assert _digest(run_pipeline(spark, synth_dir, **staged)["issues"]) == fresh[synth_dir]
    assert _digest(run_pipeline(spark, other, **staged)["issues"]) == fresh[other]
    manifests = _manifests(tmp_path / "ckpt")
    assert len(manifests) == 3
    assert _digest(run_pipeline(spark, other, **staged)["issues"]) == fresh[other]
    assert _manifests(tmp_path / "ckpt") == manifests

    # same path, documents rewritten in place with half their rows (the
    # sidecar and its clock unchanged), rerun in this session: the stages
    # are not replayed, and the first run's persisted parse does not
    # serve the rewritten files. A copy of them at another path is the
    # expected answer.
    world = tmp_path / "world"
    shutil.copytree(synth_dir, world)
    assert _digest(run_pipeline(spark, str(world), **staged)["issues"]) == fresh[synth_dir]
    docs = next((world / "documents.parquet").glob("*.parquet"))
    rows = pq.read_table(docs)
    pq.write_table(rows.slice(0, rows.num_rows // 2), docs)
    rerun = _digest(run_pipeline(spark, str(world), **staged)["issues"])
    shutil.copytree(world, tmp_path / "copy")
    halved = _digest(run_pipeline(spark, str(tmp_path / "copy"), **window)["issues"])
    assert halved[0] < fresh[synth_dir][0]
    assert rerun == halved


class _Fault(Exception):
    pass


def _on_call(owner, name, action):
    """Replace owner.name by a wrapper that calls action(n) before the
    n-th call (counting from 1)."""
    orig, calls = getattr(owner, name), []

    def wrapper(*a, **kw):
        calls.append(None)
        action(len(calls))
        return orig(*a, **kw)

    return wrapper, calls


def test_commit_converges_after_a_fault_at_every_write_and_rename(spark, synth_dir, tmp_path, monkeypatch):
    """Commit w1, then make each parquet write and each rename inside
    w2's commit raise in turn. The backlog stays readable after every
    fault, and rerunning w2 (without stage checkpoints, so nothing
    replays) converges to the uninterrupted w1+w2 state:
    watermark, backlog rows and w2's committed reports. w2 reads a copy
    of the world in which w1's open changesets have closed, so w1's
    backlog rows report in w2 — a rerun that merged any other backlog
    would change those reports."""
    from pyspark.sql.readwriter import DataFrameWriter

    half = WINDOW_S // 2
    w1 = {"start_ts": T0, "end_ts": T0 + half}
    w2 = {"start_ts": T0 + half, "end_ts": T0 + WINDOW_S}
    run_id = f"run-{T0 + WINDOW_S}"

    def run(ck, world, window, stage_checkpoints=True):
        return run_pipeline(spark, str(world), checkpoint_dir=str(ck), stage_checkpoints=stage_checkpoints, **window)

    def state(ck):
        backlog = Checkpoint(ck).read_rescheduled(spark)
        return (
            Checkpoint(ck).read_watermark(),
            _digest(backlog) if backlog is not None else None,
            _digest(spark.read.parquet(str(ck / "reports" / run_id))),
        )

    entry = ("doc_id", "span_offset", "check_id")
    after_w1 = tmp_path / "after-w1"
    run(after_w1, synth_dir, w1)["commit"]()
    backlog = Checkpoint(after_w1).read_rescheduled(spark).select("changeset_id", *entry).collect()
    backlog_cs = {r[0] for r in backlog}

    world2 = tmp_path / "world2"
    shutil.copytree(synth_dir, world2)
    cs_path = next((world2 / "changesets.parquet").glob("*.parquet"))
    cs = pq.read_table(cs_path)
    still_open = pa.array([
        o and c not in backlog_cs
        for c, o in zip(cs.column("changeset_id").to_pylist(), cs.column("open").to_pylist())
    ])
    pq.write_table(cs.set_column(cs.schema.get_field_index("open"), "open", still_open), cs_path)

    # w2's stages, written once and replayed by the clean and each faulted attempt
    staged = tmp_path / "staged"
    shutil.copytree(after_w1, staged)
    run(staged, world2, w2)

    clean = tmp_path / "clean"
    shutil.copytree(staged, clean)
    out = run(clean, world2, w2)
    final = set(out["issues"].select(*entry).collect())
    assert final & {tuple(r[1:]) for r in backlog}, "no w1 backlog row closes and reports in w2"
    counts = {}
    with monkeypatch.context() as m:
        for owner, name in ((os, "rename"), (DataFrameWriter, "parquet")):
            wrapper, counts[name] = _on_call(owner, name, lambda n: None)
            m.setattr(owner, name, wrapper)
        out["commit"]()
    want = state(clean)
    _assert_bounded_state(clean, run_id)
    assert counts["rename"] and counts["parquet"]

    for name, calls in counts.items():
        owner = os if name == "rename" else DataFrameWriter
        for k in range(1, len(calls) + 1):
            ck = tmp_path / f"fault-{name}-{k}"
            shutil.copytree(staged, ck)
            out = run(ck, world2, w2)

            def fail(n, k=k):
                if n == k:
                    raise _Fault(f"{name} call {k}")

            with monkeypatch.context() as m:
                m.setattr(owner, name, _on_call(owner, name, fail)[0])
                with pytest.raises(_Fault):
                    out["commit"]()
            backlog = Checkpoint(ck).read_rescheduled(spark)  # never raises
            if backlog is not None:
                backlog.count()

            # a plain restart recomputes every stage from the backlog it reads
            run(ck, world2, w2, stage_checkpoints=False)["commit"]()
            assert state(ck) == want, (name, k)
            _assert_bounded_state(ck, run_id)


def test_stage_resumes_after_a_fault_before_its_manifest_rename(spark, synth_dir, tmp_path, monkeypatch):
    """Make the manifest rename after each stage's parquet write raise in
    turn, so the stage's data is written but not committed. A rerun over
    the same checkpoint dir replays the committed stages, rewrites the
    uncommitted one, and gives the uninterrupted run's outputs."""
    window = {"start_ts": T0, "end_ts": T0 + WINDOW_S, "stage_checkpoints": True}
    stage_dir = f"stages/run-{T0 + WINDOW_S}"
    sinks = ("issues", "reports")
    clean = run_pipeline(spark, synth_dir, checkpoint_dir=str(tmp_path / "clean"), **window)
    want = {n: _digest(clean[n]) for n in sinks}

    for k, stage in enumerate(("fanout", "post_stages", "final_issues"), 1):
        ck = tmp_path / f"fault-{k}"

        def fail(n, k=k):
            if n == k:
                raise _Fault(f"manifest rename {k}")

        with monkeypatch.context() as m:
            m.setattr(os, "rename", _on_call(os, "rename", fail)[0])
            with pytest.raises(_Fault):
                run_pipeline(spark, synth_dir, checkpoint_dir=str(ck), **window)
        assert (ck / stage_dir / stage / "data").is_dir()
        assert not (ck / stage_dir / stage / "manifest.json").exists()
        assert len(_manifests(ck)) == k - 1

        out = run_pipeline(spark, synth_dir, checkpoint_dir=str(ck), **window)
        assert {n: _digest(out[n]) for n in sinks} == want, stage
        assert len(_manifests(ck)) == 3


def test_stage_checkpoints_require_a_checkpoint_dir(spark, synth_dir):
    with pytest.raises(ValueError, match="checkpoint_dir"):
        run_pipeline(spark, synth_dir, start_ts=T0, end_ts=T0 + WINDOW_S, stage_checkpoints=True)


def test_old_backlog_layout_fails_loudly(spark, tmp_path):
    """A root whose backlog lives in rescheduled/data behind a
    _committed.json marker, with a watermark that names no backlog
    version, must not read as an empty backlog."""
    ck = tmp_path / "old"
    spark.range(3).write.parquet(str(ck / "rescheduled" / "data"))
    (ck / "rescheduled" / "_committed.json").write_text(json.dumps({"run_id": "run-1"}))
    (ck / "watermark.json").write_text(json.dumps({"state": 1, "committed_at": 0, "run_id": "run-1"}))
    with pytest.raises(ValueError, match="rescheduled/data"):
        Checkpoint(ck).read_rescheduled(spark)


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
