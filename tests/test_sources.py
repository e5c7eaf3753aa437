"""sources.table_fingerprint: the file listing that keys stage replay."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest

from osm_addr_bot_spark import datagen, sources
from osm_addr_bot_spark.schemas import TABLE_SCHEMAS


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    return datagen.ensure_dataset(tmp_path_factory.mktemp("fp") / "w", n_docs=20, seed=1)


@pytest.mark.parametrize("table", sorted(TABLE_SCHEMAS))
def test_fingerprint_changes_with_each_table_and_only_then(world, tmp_path, table):
    """An untouched copy keeps the fingerprint; rewriting one table's
    data file in place (half its rows) changes it."""
    fp = sources.table_fingerprint(str(world))
    assert {entry[0] for entry in fp} == set(TABLE_SCHEMAS)

    copy = tmp_path / "copy"
    shutil.copytree(world, copy)
    assert sources.table_fingerprint(str(copy)) == fp

    path = copy / f"{table}.parquet"
    data_file = next(path.glob("*.parquet")) if path.is_dir() else path
    rows = pq.read_table(data_file)
    pq.write_table(rows.slice(0, rows.num_rows // 2), data_file)
    changed = sources.table_fingerprint(str(copy))
    assert changed != fp
    assert [e for e in changed if e[0] != table] == [e for e in fp if e[0] != table]


def test_hadoop_listing_matches_local(spark, world):
    """A ``file:`` URI lists through Hadoop's FileSystem: the same files
    and sizes as the local listing, mtimes at millisecond precision."""
    local = [(t, f, size, mtime // 1_000_000) for t, f, size, mtime in sources.table_fingerprint(str(world))]
    hadoop = sources.table_fingerprint(f"file://{world}")
    assert [(t, f, size, mtime // 1_000_000) for t, f, size, mtime in hadoop] == local
