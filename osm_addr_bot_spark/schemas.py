"""Schemas of the engine's inputs: the JSON payloads of the document
spans, and the DDL of every world table.

The primary input is the interleaved-documents table (BASELINE.json
``input_hint``, FIXTURES.md §1): one document per changeset, whose spans
carry interleaved text (JSON-encoded OSM elements) and media (XYZ tile
refs); its schema is ``TABLE_DDL["documents"]``. The other world tables
are small dimensions.
"""

from pyspark.sql import types as T

# JSON payload of a kind='text' span — mirrors OverpassEntry
# (reference overpass_entry.py:19-50); bbox degenerate for nodes
# (reference overpass.py:189-197).
ELEMENT_JSON = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("changeset_id", T.LongType(), False),
        T.StructField("element_type", T.StringType(), False),
        T.StructField("element_id", T.LongType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("minlat", T.DoubleType(), True),
        T.StructField("minlon", T.DoubleType(), True),
        T.StructField("maxlat", T.DoubleType(), True),
        T.StructField("maxlon", T.DoubleType(), True),
    ]
)

# JSON payload of a kind='media' span — anchor point for raster overlap.
MEDIA_JSON = T.StructType(
    [
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)

# --------------------------------------------------------------------------
# World-table DDLs (datagen.py layout) so the pipeline can read with
# explicit schemas: parquet schema inference costs a footer read + JVM
# round trip PER TABLE per run (~0.9 s across the seven tables,
# measured r6) and contributes driver-serial time at any scale. Pinned
# against datagen output by tests/test_datagen_guards.py.
TABLE_DDL = {
    # kind 'text' | 'media'; media_ref 'z/x/y' or ''; offset 0-based in doc
    "documents": (
        "doc_id STRING, spans ARRAY<STRUCT<kind: STRING, text: STRING, "
        "media_ref: STRING, offset: INT>>"
    ),
    "changesets": (
        "changeset_id BIGINT, cs_uid BIGINT, open BOOLEAN, created_by STRING, "
        "discussion ARRAY<STRUCT<uid: BIGINT, text: STRING>>"
    ),
    "users": "user_uid BIGINT, display_name STRING, changesets_count BIGINT",
    "polygons": (
        "polygon_id BIGINT, name STRING, alt_name STRING, admin_level STRING, "
        "ring ARRAY<STRUCT<lat: DOUBLE, lon: DOUBLE>>"
    ),
    "streets": (
        "way_id BIGINT, name STRING, alt_name STRING, "
        "points ARRAY<STRUCT<lat: DOUBLE, lon: DOUBLE>>"
    ),
    "place_nodes": "node_id BIGINT, name STRING, lat DOUBLE, lon DOUBLE",
    "elements_history": (
        "element_type STRING, element_id BIGINT, valid_from BIGINT, "
        "valid_to BIGINT, tags MAP<STRING, STRING>"
    ),
}
