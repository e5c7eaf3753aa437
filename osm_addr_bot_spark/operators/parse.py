"""Documents -> elements: span explode + JSON parse + derived columns.

Replaces the reference's scan + row materialization
(reference overpass.py:171-221): `posexplode(spans)` keeps the span
order as an explicit column, `from_json` parses element payloads with a
fixed schema (native, JVM-side), and the derived columns reproduce
OverpassEntry semantics:

  * degenerate bbox for nodes          (reference overpass.py:189-197)
  * bbox edge sizes in meters          (reference overpass.py:199-204,
    haversine instead of geodesic — see geo/haversine.py)
  * uid: node -> -id, way -> id + 2^27, relation -> id
                                       (reference overpass_entry.py:44-50)
  * untagged-element prune             (reference overpass.py:185-186)

plus the engine's dual spatial index (hex res-9 cell + S2 level-15 id).
The scan window (reference overpass.py:218-219) is not applied here:
``pipeline.run_pipeline`` parses once and filters the persisted elements,
so the same scan also serves the unwindowed J1 candidate pool.

The span-sequence invariant (kind, text, media_ref, order) is preserved
because parsing only *reads* spans; `reassemble_documents` proves
round-trip equality and is under test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import UID_OFFSET
from osm_addr_bot_spark.geo import haversine_m
from osm_addr_bot_spark.geo.s2 import with_s2_cell
from osm_addr_bot_spark.geo.hexgrid import cell_expr
from osm_addr_bot_spark.schemas import ELEMENT_JSON, MEDIA_JSON


def uid_expr(element_type: Column, element_id: Column) -> Column:
    """Synthetic 64-bit key unifying the three element-id namespaces
    (reference overpass_entry.py:44-50)."""
    return (
        F.when(element_type == "node", -element_id)
        .when(element_type == "way", element_id + F.lit(UID_OFFSET))
        .otherwise(element_id)
    )


def explode_spans(documents: DataFrame, keep_empty: bool = False) -> DataFrame:
    """documents -> one row per span, order kept in span_offset.

    ``keep_empty`` uses posexplode_outer so zero-span docs survive
    (needed by the round-trip re-emitter; filters drop the null row).
    """
    expl = F.posexplode_outer if keep_empty else F.posexplode
    return documents.select(
        "doc_id",
        expl("spans").alias("span_pos", "span"),
    ).select(
        "doc_id",
        F.col("span_pos").cast("int").alias("span_pos"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("span_offset"),
    )


def parse_elements(documents: DataFrame) -> DataFrame:
    """Parse kind='text' spans into the canonical elements DataFrame.

    All expressions are native, the hex cell id and the S2 cell id
    included — no Python workers. The S2 encode is an ``aggregate``
    fold, which Spark 4.1.2 evaluates interpreted (``CodegenFallback``);
    the rest runs in whole-stage codegen.
    """
    spans = explode_spans(documents).filter(F.col("kind") == "text")
    e = spans.select(
        "doc_id",
        "span_offset",
        F.from_json("text", ELEMENT_JSON).alias("e"),
    ).select(
        "doc_id",
        "span_offset",
        F.col("e.timestamp").alias("timestamp"),
        F.col("e.changeset_id").alias("changeset_id"),
        F.col("e.element_type").alias("element_type"),
        F.col("e.element_id").alias("element_id"),
        F.col("e.tags").alias("tags"),
        F.col("e.lat").alias("lat"),
        F.col("e.lon").alias("lon"),
        # nodes carry a degenerate bbox (reference overpass.py:189-197)
        F.coalesce("e.minlat", "e.lat").alias("minlat"),
        F.coalesce("e.minlon", "e.lon").alias("minlon"),
        F.coalesce("e.maxlat", "e.lat").alias("maxlat"),
        F.coalesce("e.maxlon", "e.lon").alias("maxlon"),
    )

    # untagged prune — early, before any wide column work
    # (reference overpass.py:185-186)
    e = e.filter(F.size("tags") > 0)

    # hex9 rides in the same projection as the bbox/uid columns (one
    # withColumns batch — every extra DataFrame op re-analyzes the whole
    # plan on the driver); s2_15 is the other native index column — r6
    # removed the last ArrowEvalPython from the parse path (the S2 pandas
    # UDF cost ~82 core-s of Python worker start/init per sf0.1 run
    # against <1 s of actual S2 math; with_s2_cell is property-tested
    # bit-equal to the numpy reference)
    e = e.withColumns(
        {
            "bb_width_m": haversine_m(
                F.col("minlat"), F.col("minlon"), F.col("minlat"), F.col("maxlon")
            ),
            "bb_height_m": haversine_m(
                F.col("minlat"), F.col("minlon"), F.col("maxlat"), F.col("minlon")
            ),
            "uid": uid_expr(F.col("element_type"), F.col("element_id")),
            "hex9": cell_expr(F.col("lat"), F.col("lon"), 9),
        }
    )
    return with_s2_cell(e, level=15, out="s2_15")


def parse_media(documents: DataFrame) -> DataFrame:
    """kind='media' spans -> (doc_id, span_offset, media_ref, lat, lon)."""
    spans = explode_spans(documents).filter(F.col("kind") == "media")
    return spans.select(
        "doc_id",
        "span_offset",
        "media_ref",
        F.from_json("text", MEDIA_JSON).alias("m"),
    ).select("doc_id", "span_offset", "media_ref", F.col("m.lat").alias("lat"), F.col("m.lon").alias("lon"))


def reassemble_documents(documents: DataFrame) -> DataFrame:
    """Round-trip: explode spans and rebuild each doc's span array in
    order. Output is schema- and value-equal to the input — the span-
    sequence invariant (BASELINE.json input_hint) under test."""
    spans = explode_spans(documents, keep_empty=True)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                # when() yields NULL for the posexplode_outer placeholder
                # row of an empty doc; collect_list skips NULLs -> []
                F.collect_list(
                    F.when(
                        F.col("span_pos").isNotNull(),
                        F.struct("span_pos", "kind", "text", "media_ref", "span_offset"),
                    )
                )
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["span_offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
