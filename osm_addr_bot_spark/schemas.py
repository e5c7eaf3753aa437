"""Schemas of the engine's inputs: the JSON payloads of the document
spans, and ``TABLE_SCHEMAS``, the pyarrow schema of every world table,
which is the only definition of the world's layout (datagen writes it,
``pipeline.load_tables`` reads it).

The primary input is the interleaved-documents table (BASELINE.json
``input_hint``, FIXTURES.md §1): one document per changeset, whose spans
carry interleaved text (JSON-encoded OSM elements) and media (XYZ tile
refs); its schema is ``TABLE_SCHEMAS["documents"]``. The other world
tables are small dimensions.
"""

import pyarrow as pa
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
# The world tables' layout, the one definition of it: datagen writes with
# these schemas, and load_tables reads with their Spark form
# (from_arrow_schema) instead of inferring it, which costs a footer read
# and a JVM round trip per table per run.
_SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
_RING = pa.list_(pa.struct([("lat", pa.float64()), ("lon", pa.float64())]))
TABLE_SCHEMAS = {
    # kind 'text' | 'media'; media_ref 'z/x/y' or ''; offset 0-based in doc
    "documents": pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))]),
    "changesets": pa.schema(
        [
            ("changeset_id", pa.int64()),
            ("cs_uid", pa.int64()),
            ("open", pa.bool_()),
            ("created_by", pa.string()),
            ("discussion", pa.list_(pa.struct([("uid", pa.int64()), ("text", pa.string())]))),
        ]
    ),
    "users": pa.schema(
        [("user_uid", pa.int64()), ("display_name", pa.string()), ("changesets_count", pa.int64())]
    ),
    "polygons": pa.schema(
        [
            ("polygon_id", pa.int64()),
            ("name", pa.string()),
            ("alt_name", pa.string()),
            ("admin_level", pa.string()),
            ("ring", _RING),
        ]
    ),
    "streets": pa.schema(
        [("way_id", pa.int64()), ("name", pa.string()), ("alt_name", pa.string()), ("points", _RING)]
    ),
    "place_nodes": pa.schema(
        [("node_id", pa.int64()), ("name", pa.string()), ("lat", pa.float64()), ("lon", pa.float64())]
    ),
    "elements_history": pa.schema(
        [
            ("element_type", pa.string()),
            ("element_id", pa.int64()),
            ("valid_from", pa.int64()),
            ("valid_to", pa.int64()),
            ("tags", pa.map_(pa.string(), pa.string())),
        ]
    ),
}
