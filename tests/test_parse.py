"""Documents -> elements parsing + the span-sequence invariant."""

from pyspark.sql import functions as F

from osm_addr_bot_spark.operators.parse import (
    explode_spans,
    parse_elements,
    parse_media,
    reassemble_documents,
)


def test_span_roundtrip_invariant(spark, documents):
    """Output spans == input spans on (kind, text, media_ref, order) for
    every doc (BASELINE.json per-row invariant)."""
    rebuilt = reassemble_documents(documents)
    joined = documents.alias("a").join(rebuilt.alias("b"), "doc_id", "full")
    bad = joined.filter(
        F.col("a.spans").isNull()
        | F.col("b.spans").isNull()
        | (F.col("a.spans") != F.col("b.spans"))
    )
    assert bad.count() == 0
    assert rebuilt.count() == documents.count()


def test_parse_elements_schema_and_uid(spark, documents):
    e = parse_elements(documents).cache()
    rows = e.collect()
    assert rows, "no elements parsed"
    for r in rows:
        if r["element_type"] == "node":
            assert r["uid"] == -r["element_id"]
            assert r["minlat"] == r["lat"] and r["maxlon"] == r["lon"]
            assert r["bb_width_m"] == 0.0 and r["bb_height_m"] == 0.0
        elif r["element_type"] == "way":
            assert r["uid"] == r["element_id"] + (1 << 27)
        else:
            assert r["uid"] == r["element_id"]
        assert isinstance(r["tags"], dict) and len(r["tags"]) > 0
    e.unpersist()


def test_parse_window_filter(spark, synth_dir, documents):
    """The scan window run_pipeline applies to the parsed elements
    (reference overpass.py:218-219)."""
    from osm_addr_bot_spark.datagen import T0, WINDOW_S
    from osm_addr_bot_spark.pipeline import run_pipeline

    all_e = parse_elements(documents).count()
    windowed = run_pipeline(spark, synth_dir, start_ts=T0, end_ts=T0 + WINDOW_S)["elements"]
    assert windowed.count() == all_e  # generator stays in-window
    none = run_pipeline(spark, synth_dir, start_ts=0, end_ts=1)["elements"]
    assert none.count() == 0


def test_parse_media_tiles_match(spark, documents):
    """media_ref of every media span equals the tile computed from its
    anchor (FIXTURES.md §4 'Tiles')."""
    from osm_addr_bot_spark.config import DEFAULT_TILE_ZOOM
    from osm_addr_bot_spark.geo.tiles import xyz_tile_ref

    m = parse_media(documents)
    bad = m.filter(
        xyz_tile_ref(F.col("lat"), F.col("lon"), DEFAULT_TILE_ZOOM) != F.col("media_ref")
    )
    assert m.count() > 0
    assert bad.count() == 0


def test_offsets_strictly_increasing(spark, documents):
    s = explode_spans(documents)
    bad = s.filter(F.col("span_pos") != F.col("span_offset"))
    assert bad.count() == 0


def test_dual_index_present(spark, documents):
    e = parse_elements(documents).limit(20).collect()
    for r in e:
        assert r["hex9"] is not None and r["s2_15"] is not None
