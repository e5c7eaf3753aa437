"""W1 priority dedup (two-pass masking, quirk Q5) and the changeset
gates (F18/F19/F22/F23) — FIXTURES.md §5."""

from pyspark.sql import functions as F

from osm_addr_bot_spark.operators.dedup import filter_priority
from osm_addr_bot_spark.operators.gates import (
    apply_user_gates,
    filter_should_not_discuss,
    should_discuss_flags,
    split_open_changesets,
)
from tests.helpers import issues_df, mk_issue


def _ids(df):
    return {(r["check_id"], r["uid"]) for r in df.select("check_id", "uid").collect()}


def test_priority_dedup_pass2_keeps_highest(spark):
    rows = [
        mk_issue(check_id="PLACE_WITH_STREET", priority=100, has_post=False, post_stage=None,
                 element_id=1, tags={"addr:place": "P", "addr:street": "S"}),
        mk_issue(check_id="UNKNOWN_STREET_NAME", priority=10, has_post=True,
                 post_stage="street_names", element_id=1, tags={"addr:street": "S"}),
    ]
    out = filter_priority(issues_df(spark, rows), consider_post_fn=False)
    assert _ids(out) == {("PLACE_WITH_STREET", -1)}


def test_priority_dedup_ties_keep_both(spark):
    # quirk Q5: '<=' at reference main.py:95
    rows = [
        mk_issue(check_id="PLACE_WITH_STREET", priority=100, has_post=False, element_id=1),
        mk_issue(check_id="BAD_POSTCODE_FORMAT", priority=100, has_post=False, element_id=1),
    ]
    out = filter_priority(issues_df(spark, rows), consider_post_fn=False)
    assert _ids(out) == {("PLACE_WITH_STREET", -1), ("BAD_POSTCODE_FORMAT", -1)}


def test_priority_dedup_pass1_post_fn_does_not_claim(spark):
    # a post_fn check must not suppress in pass 1 (reference main.py:97-98)
    rows = [
        mk_issue(check_id="UNKNOWN_STREET_NAME", priority=10, has_post=True, element_id=1),
        mk_issue(check_id="DUPLICATED", priority=0, has_post=True, element_id=1),
    ]
    out1 = filter_priority(issues_df(spark, rows), consider_post_fn=True)
    assert _ids(out1) == {("UNKNOWN_STREET_NAME", -1), ("DUPLICATED", -1)}
    out2 = filter_priority(issues_df(spark, rows), consider_post_fn=False)
    assert _ids(out2) == {("UNKNOWN_STREET_NAME", -1)}


def test_priority_dedup_pre_check_still_suppresses_in_pass1(spark):
    rows = [
        mk_issue(check_id="STREET_NAME_WITH_PREFIX", priority=15, has_post=False, element_id=1),
        mk_issue(check_id="UNKNOWN_STREET_NAME", priority=10, has_post=True, element_id=1),
        mk_issue(check_id="DUPLICATED", priority=0, has_post=True, element_id=1),
    ]
    out1 = filter_priority(issues_df(spark, rows), consider_post_fn=True)
    assert _ids(out1) == {("STREET_NAME_WITH_PREFIX", -1)}


def _changesets(spark, rows):
    return spark.createDataFrame(
        rows,
        "changeset_id long, cs_uid long, open boolean, created_by string,"
        " discussion array<struct<uid:long, text:string>>",
    )


def test_should_discuss_blacklist_and_discussion(spark):
    cs = _changesets(
        spark,
        [
            (1, 10, False, "StreetComplete 50.0", []),            # F18 blacklist
            (2, 10, False, "JOSM/1.5", [(99, "zly adres tu")]),   # F19 discussed by other
            (3, 10, False, "JOSM/1.5", [(10, "moj adres")]),      # author's own comment
            (4, 10, False, "JOSM/1.5", [(99, "nice work")]),      # unrelated comment
            (5, 10, False, "every door 4.0", []),                 # case-insensitive blacklist
            (6, 10, False, None, []),                             # null created_by
        ],
    )
    got = {r["changeset_id"]: r["should_discuss"] for r in should_discuss_flags(cs).collect()}
    assert got == {1: False, 2: False, 3: True, 4: True, 5: False, 6: True}

    # IGNORE_ALREADY_DISCUSSED keeps 2
    got2 = {r["changeset_id"]: r["should_discuss"] for r in should_discuss_flags(cs, True).collect()}
    assert got2[2] is True and got2[1] is False


def test_filter_should_not_discuss_semi_join(spark):
    cs = _changesets(spark, [(1, 10, False, "StreetComplete", []), (2, 10, False, "JOSM", [])])
    rows = [mk_issue(changeset_id=1, element_id=1), mk_issue(changeset_id=2, element_id=2)]
    out = filter_should_not_discuss(issues_df(spark, rows), cs)
    assert {r["changeset_id"] for r in out.collect()} == {2}


def test_split_open_changesets(spark):
    cs = _changesets(spark, [(1, 10, True, "JOSM", []), (2, 10, False, "JOSM", [])])
    rows = [mk_issue(changeset_id=1, element_id=1), mk_issue(changeset_id=2, element_id=2)]
    closed, resched = split_open_changesets(issues_df(spark, rows), cs)
    assert {r["changeset_id"] for r in closed.collect()} == {2}
    assert {r["changeset_id"] for r in resched.collect()} == {1}


def test_user_gates(spark):
    cs = _changesets(
        spark,
        [(1, 100, False, "JOSM", []), (2, 101, False, "JOSM", []), (3, 999, False, "JOSM", []),
         (4, 102, False, "JOSM", [])],
    )
    users = spark.createDataFrame(
        [(100, "a", 5), (101, "b", 50), (102, "c", 2000)],
        "user_uid long, display_name string, changesets_count long",
    )
    rows = [
        # cs 1: user below TAGS_COMBINATION min_changesets=10 -> dropped
        mk_issue(changeset_id=1, element_id=1, category="TAGS_COMBINATION", min_changesets=10),
        # cs 1 but ADDRESS (min 0) -> kept
        mk_issue(changeset_id=1, element_id=2, category="ADDRESS", min_changesets=0),
        # cs 2: fine
        mk_issue(changeset_id=2, element_id=3, category="TAGS_COMBINATION", min_changesets=10),
        # cs 3: deleted user (no dim row) -> dropped
        mk_issue(changeset_id=3, element_id=4),
    ] + [
        # cs 4: 101 issues -> whole changeset dropped (F23 cap)
        mk_issue(changeset_id=4, element_id=100 + i) for i in range(101)
    ]
    closed, _ = split_open_changesets(issues_df(spark, rows), cs)
    out = apply_user_gates(closed, users)
    got = {(r["changeset_id"], r["category"]) for r in out.select("changeset_id", "category").collect()}
    assert got == {(1, "ADDRESS"), (2, "TAGS_COMBINATION")}
