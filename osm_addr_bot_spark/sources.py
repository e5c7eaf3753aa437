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

from osm_addr_bot_spark.schemas import TABLE_DDL


def _is_data_file(name: str) -> bool:
    # Spark's parquet read skips hidden and metadata names (_SUCCESS, .crc)
    return not name.startswith(("_", "."))


def _local_files(path: str, rel: str):
    """(rel name, size, mtime_ns) of the data files at ``path``: the
    file itself, or every data file below the directory."""
    if not os.path.isdir(path):
        st = os.stat(path)
        yield rel, st.st_size, st.st_mtime_ns
        return
    for e in os.scandir(path):
        if _is_data_file(e.name):
            yield from _local_files(e.path, f"{rel}/{e.name}")


def _hadoop_files(fs, status, rel: str):
    """``_local_files`` over a Hadoop FileStatus (mtime in ms)."""
    if not status.isDirectory():
        yield rel, status.getLen(), status.getModificationTime() * 1_000_000
        return
    for child in fs.listStatus(status.getPath()):
        name = child.getPath().getName()
        if _is_data_file(name):
            yield from _hadoop_files(fs, child, f"{rel}/{name}")


def table_fingerprint(data_dir: str) -> list[tuple[str, str, int, int]]:
    """Sorted (table, file name relative to the world, size, mtime_ns)
    of the data files of every ``TABLE_DDL`` table under ``data_dir``;
    a table is one parquet file or a directory of part files. It changes
    when any table's files are rewritten, and it is the same for an
    untouched copy of the world (``shutil.copytree`` keeps mtimes).

    Filesystem metadata only, no Spark job: a plain path is listed with
    ``os.scandir``; a URI (``file:`` included) through the active
    session's Hadoop ``FileSystem.listStatus``, whose mtimes are whole
    milliseconds."""
    if not urlparse(data_dir).scheme:
        listing = {n: _local_files(os.path.join(data_dir, f"{n}.parquet"), f"{n}.parquet") for n in TABLE_DDL}
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.active()
        hadoop_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001 — Hadoop has no Python API
        conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
        listing = {}
        for n in TABLE_DDL:
            path = hadoop_path(f"{data_dir.rstrip('/')}/{n}.parquet")
            fs = path.getFileSystem(conf)
            listing[n] = _hadoop_files(fs, fs.getFileStatus(path), f"{n}.parquet")
    return sorted((n, *f) for n, files in listing.items() for f in files)


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
