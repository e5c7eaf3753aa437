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
from urllib.parse import urlparse

from osm_addr_bot_spark.schemas import TABLE_SCHEMAS


def _is_data_file(name: str) -> bool:
    # Spark's parquet read skips hidden and metadata names (_SUCCESS, .crc)
    return not name.startswith(("_", "."))


def _local_files(path: str, rel: str):
    """``table_files`` of a plain path."""
    if not os.path.isdir(path):
        st = os.stat(path)
        yield rel, st.st_size, st.st_mtime_ns
        return
    for e in os.scandir(path):
        if _is_data_file(e.name):
            yield from _local_files(e.path, f"{rel}/{e.name}")


def _hadoop_files(fs, status, rel: str):
    """``table_files`` of a Hadoop FileStatus (mtime in ms)."""
    if not status.isDirectory():
        yield rel, status.getLen(), status.getModificationTime() * 1_000_000
        return
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if _is_data_file(name):
            yield from _hadoop_files(fs, child, f"{rel}/{name}")


def table_files(path: str) -> list[tuple[str, int, int]]:
    """Sorted (file name, size, mtime_ns) of the data files of the table
    at ``path``: one parquet file, or every data file below a directory.
    Names are relative to the table's parent, so they start with the
    table's own name (``documents.parquet/part-00000.parquet``).

    Filesystem metadata only, no Spark job: a plain path is listed with
    ``os.scandir``; a URI (``file:`` included) through the active
    session's Hadoop ``FileSystem.listStatus``, whose mtimes are whole
    milliseconds."""
    path = path.rstrip("/")
    rel = path.rsplit("/", 1)[-1]
    if not urlparse(path).scheme:
        return sorted(_local_files(path, rel))
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001 — Hadoop has no Python API
    fs = hadoop_path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())  # noqa: SLF001
    return sorted(_hadoop_files(fs, fs.getFileStatus(hadoop_path), rel))


def table_fingerprint(data_dir: str) -> list[tuple[str, str, int, int]]:
    """Sorted (table, ``table_files`` entry) of every world table under
    ``data_dir``. It changes when any table's files are rewritten, and
    it is the same for an untouched copy of the world
    (``shutil.copytree`` keeps mtimes)."""
    return sorted((n, *f) for n in TABLE_SCHEMAS for f in table_files(f"{data_dir.rstrip('/')}/{n}.parquet"))


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
