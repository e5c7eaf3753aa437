"""Builders for long-format issue rows and dims used by operator tests."""

import numpy as np

from osm_addr_bot_spark.geo import hexgrid as hg
from osm_addr_bot_spark.geo import s2

M_PER_DEG_LAT = 111_194.9

ISSUE_SCHEMA = (
    "category string, min_changesets int, check_id string, priority int, critical boolean,"
    " has_post boolean, post_stage string, doc_id string, span_offset int, timestamp long,"
    " changeset_id long, element_type string, element_id long, tags map<string,string>,"
    " lat double, lon double, minlat double, minlon double, maxlat double, maxlon double,"
    " bb_width_m double, bb_height_m double, uid long, hex9 long, s2_15 long"
)


def offset(lat, lon, north_m=0.0, east_m=0.0):
    """Shift a WGS84 point by meters (small-offset approximation)."""
    return (
        float(lat + north_m / M_PER_DEG_LAT),
        float(lon + east_m / (M_PER_DEG_LAT * np.cos(np.radians(lat)))),
    )


def mk_issue(
    check_id="DUPLICATED",
    category="ADDRESS",
    priority=0,
    critical=True,
    has_post=True,
    post_stage="duplicates",
    changeset_id=1,
    element_type="node",
    element_id=1,
    tags=None,
    lat=52.0,
    lon=21.0,
    timestamp=1_700_000_000,
    bb_m=0.0,
    min_changesets=0,
):
    tags = tags or {}
    uid = -element_id if element_type == "node" else (
        element_id + (1 << 27) if element_type == "way" else element_id
    )
    hex9 = int(hg.cell_of(np.array([lat]), np.array([lon]), 9)[0])
    s2_15 = int(s2.cell_id(np.array([lat]), np.array([lon]), 15)[0])
    dlat = bb_m / M_PER_DEG_LAT / 2
    return (
        category, min_changesets, check_id, priority, critical, has_post, post_stage,
        f"doc-{changeset_id}", 0, timestamp, changeset_id, element_type, element_id,
        tags, lat, lon, lat - dlat, lon - dlat, lat + dlat, lon + dlat,
        float(bb_m), float(bb_m), uid, hex9, s2_15,
    )


def mk_element(spark_tuple_args=None, **kw):
    """Element row == issue row minus the check columns; reuse mk_issue
    and strip via select in the caller when needed."""
    return mk_issue(**kw)


def issues_df(spark, rows):
    return spark.createDataFrame(rows, ISSUE_SCHEMA)


def elements_df(spark, rows):
    """Element universe with the same trailing columns as issues."""
    df = spark.createDataFrame(rows, ISSUE_SCHEMA)
    return df.select(
        "doc_id", "span_offset", "timestamp", "changeset_id", "element_type", "element_id",
        "tags", "lat", "lon", "minlat", "minlon", "maxlat", "maxlon",
        "bb_width_m", "bb_height_m", "uid", "hex9", "s2_15",
    )


PYTHON_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")


def executed_plan(df):
    """df's executed plan as text, untruncated. Spark elides the fields
    past ``spark.sql.debug.maxToStringFields`` (25), so a name can be
    missing from the default dump only because it was cut; the limit is
    raised for this one dump and restored after."""
    key = "spark.sql.debug.maxToStringFields"
    conf = df.sparkSession.conf
    prev = conf.get(key)
    conf.set(key, str(2**31 - 1))
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, prev)
    assert "more fields" not in plan
    return plan
