"""As-of join operator (operators/asof.py, J5/S2 class) on the awkward
cases — missing keys, probes before any version, boundary instants,
zero-width intervals, gaps."""

from __future__ import annotations

import pytest

from osm_addr_bot_spark.operators.asof import asof_join

INF = (1 << 63) - 1


@pytest.fixture(scope="module")
def history(spark):
    rows = [
        # key 1: three versions, contiguous
        (1, 10, 20, "v1a"),
        (1, 20, 30, "v1b"),
        (1, 30, INF, "v1c"),
        # key 2: gap [25, 40) with no live version
        (2, 10, 25, "v2a"),
        (2, 40, INF, "v2b"),
        # key 3: zero-width [15,15) plus the version covering 15;
        # the zero-width row must never match nor shadow
        (3, 10, 15, "v3a"),
        (3, 15, 15, "v3z"),
        (3, 15, INF, "v3b"),
        # key 4: a LATER zero-width version must not shadow the live one
        (4, 10, INF, "v4a"),
        (4, 50, 50, "v4z"),
    ]
    return spark.createDataFrame(
        rows, "key long, valid_from long, valid_to long, payload string"
    )


@pytest.fixture(scope="module")
def probes(spark):
    rows = [
        (100, 1, 5),    # before first version -> miss
        (101, 1, 10),   # exactly at valid_from -> v1a
        (102, 1, 20),   # boundary: [10,20) closes, [20,30) opens -> v1b
        (103, 1, 99),   # open-ended tail -> v1c
        (104, 2, 30),   # inside the gap -> miss
        (105, 2, 24),   # last instant of v2a -> v2a
        (106, 3, 15),   # zero-width start instant -> v3b, never v3z
        (107, 4, 60),   # after the later zero-width row -> still v4a
        (108, 9, 30),   # key absent from history -> miss
    ]
    return spark.createDataFrame(rows, "event_id long, key long, ts long")


EXPECT = {
    100: None,
    101: "v1a",
    102: "v1b",
    103: "v1c",
    104: None,
    105: "v2a",
    106: "v3b",
    107: "v4a",
    108: None,
}


def test_asof_semantics(spark, history, probes):
    out = asof_join(probes, history, keys=["key"], probe_ts="ts")
    rows = out.collect()
    assert len(rows) == probes.count()  # LEFT: every probe survives once
    got = {r["event_id"]: r["payload"] for r in rows}
    assert got == EXPECT


def test_asof_payload_subset(spark, history, probes):
    out = asof_join(
        probes, history, keys=["key"], probe_ts="ts", payload=["payload"]
    )
    assert out.columns == ["event_id", "key", "ts", "payload"]


def test_asof_multi_key(spark):
    hist = spark.createDataFrame(
        [(1, "a", 0, 50, "x"), (1, "b", 0, 50, "y")],
        "k1 long, k2 string, valid_from long, valid_to long, payload string",
    )
    probes = spark.createDataFrame(
        [(1, 1, "a", 10), (2, 1, "b", 10), (3, 1, "c", 10)],
        "event_id long, k1 long, k2 string, ts long",
    )
    got = {
        r["event_id"]: r["payload"]
        for r in asof_join(probes, hist, keys=["k1", "k2"], probe_ts="ts").collect()
    }
    assert got == {1: "x", 2: "y", 3: None}
