"""Generator guards added in r3 (ADVICE items): versioned reuse marker,
uid-headroom assert, table-stats sidecar + metadata-only watermark probe,
and the bare-table clock fallback.
"""

from __future__ import annotations

import shutil

import pytest

from osm_addr_bot_spark import datagen, sources


def test_generate_rejects_uid_overflow(tmp_path):
    # 14 ids/doc * n_docs must stay < UID_OFFSET (2^27) or way uids
    # collide with relation uids (parse.py uid derivation)
    with pytest.raises(ValueError, match="UID_OFFSET"):
        datagen.generate(tmp_path / "w", n_docs=10_000_000)
    assert not (tmp_path / "w" / "documents.parquet").exists()  # failed fast


def test_ensure_dataset_versioned_marker(tmp_path):
    out = datagen.ensure_dataset(tmp_path / "w", n_docs=20, seed=1)
    marker = out / f".done-v{datagen.GENERATOR_VERSION}-20-1"
    assert marker.exists()
    # a marker of another version (or none) does not satisfy the current
    # one: the world is regenerated and the old marker dropped
    old_world = tmp_path / "w2"
    old_world.mkdir()
    (old_world / ".done-20-1").touch()
    datagen.ensure_dataset(old_world, n_docs=20, seed=1)
    assert (old_world / f".done-v{datagen.GENERATOR_VERSION}-20-1").exists()
    assert not (old_world / ".done-20-1").exists()
    assert (old_world / "documents.parquet").exists()
    assert sources.source_clock(str(old_world)) == datagen.T0 + datagen.WINDOW_S - 1


def test_table_stats_sidecar_and_source_clock(tmp_path):
    out = datagen.generate(tmp_path / "w", n_docs=20, seed=1)
    stats = sources.table_stats(str(tmp_path / "w"))
    assert stats is not None
    assert stats["max_timestamp"] == datagen.T0 + datagen.WINDOW_S - 1
    assert stats["generator_version"] == datagen.GENERATOR_VERSION
    assert sources.source_clock(str(tmp_path / "w")) == stats["max_timestamp"]
    # bare directory: no metadata -> None (caller falls back to scanning)
    bare = tmp_path / "bare"
    bare.mkdir()
    assert sources.source_clock(str(bare)) is None


def test_watermark_probe_is_metadata_only(spark, tmp_path, monkeypatch):
    """With the sidecar present, run_pipeline's checkpoint-mode window
    probe must not run ANY driver-side action (VERDICT r2 item 4: the
    old probe get_json_object-scanned the full documents table to learn
    one number). Pinned by making every eager DataFrame action explode."""
    from pyspark.sql import DataFrame

    from osm_addr_bot_spark.pipeline import run_pipeline
    from osm_addr_bot_spark.state.checkpoint import Checkpoint

    world = tmp_path / "w"
    datagen.generate(world, n_docs=20, seed=1)

    def boom(self, *a, **k):  # noqa: ANN001
        raise AssertionError("watermark probe ran a full-table action")

    for action in ("first", "collect", "count", "take"):
        monkeypatch.setattr(DataFrame, action, boom)
    out = run_pipeline(spark, str(world), checkpoint_dir=str(tmp_path / "ckpt"))
    assert "commit" in out  # window was computed -> commit closure exists
    monkeypatch.undo()
    # and the computed window is the sidecar clock, capped by the
    # checkpoint's max-window rule
    clock = sources.table_stats(str(world))["max_timestamp"]
    want = Checkpoint(str(tmp_path / "fresh")).compute_window(now=clock, source_max_ts=clock + 1)
    assert out["commit"]()["end_ts"] == want[1]


def test_bare_table_watermark_fallback_warns(spark, tmp_path):
    """VERDICT r3 #4: the full-scan watermark fallback (bare table, no
    sidecar) must be loud; a datagen world must stay silent."""
    import warnings as _warnings

    from osm_addr_bot_spark.pipeline import run_pipeline

    world = tmp_path / "w"
    datagen.generate(world, n_docs=20, seed=1)

    # sidecar present -> no warning (and no scan; pinned by the
    # metadata-only test above)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        run_pipeline(spark, str(world), checkpoint_dir=str(tmp_path / "c1"))

    # sidecar removed -> the documented fallback, loudly
    (world / "_table_stats.json").unlink()
    with pytest.warns(RuntimeWarning, match="FULL SCAN"):
        out = run_pipeline(spark, str(world), checkpoint_dir=str(tmp_path / "c2"))
    assert "commit" in out  # fallback still computes a window


def test_bare_table_clock_is_newest_parsed_element(spark, synth_dir, tmp_path):
    """A bare table's clock is the newest timestamp over ALL parsed
    elements. A document carries several elements; reading only each
    document's first text span under-states the clock, and the last
    window of a drain then leaves the newest elements out."""
    from pyspark.sql import functions as F

    from osm_addr_bot_spark.operators.parse import parse_elements
    from osm_addr_bot_spark.pipeline import run_pipeline
    from osm_addr_bot_spark.state.checkpoint import Checkpoint

    world = tmp_path / "w"
    shutil.copytree(synth_dir, world)
    (world / "_table_stats.json").unlink()
    docs = spark.read.parquet(str(world / "documents.parquet"))
    newest = parse_elements(docs).agg(F.max("timestamp")).first()[0]

    with pytest.warns(RuntimeWarning, match="FULL SCAN"):
        out = run_pipeline(spark, str(world), checkpoint_dir=str(tmp_path / "ckpt"))
    want = Checkpoint(str(tmp_path / "fresh")).compute_window(now=newest, source_max_ts=newest + 1)
    assert out["commit"]()["end_ts"] == want[1]


def test_table_schemas_match_generated_files(spark, synth_dir):
    """load_tables reads with the Spark form of schemas.TABLE_SCHEMAS,
    the schemas datagen writes, instead of inferring it; this guard fails
    if that conversion drifts from what Spark infers from the files."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from osm_addr_bot_spark.schemas import TABLE_SCHEMAS

    for name, schema in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{synth_dir}/{name}.parquet").schema
        # nullability is writer-dependent; names/types/order must match
        strip = lambda s: [(f.name, f.dataType.simpleString()) for f in s.fields]  # noqa: E731
        assert strip(from_arrow_schema(schema)) == strip(inferred), name
