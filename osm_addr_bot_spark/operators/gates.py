"""Changeset / user gates — the reference's driver-side skips as joins.

Every REST lookup + memo in the reference (osmapi.py:21-45, main.py's
``should_discuss`` / threshold blocks) becomes a broadcast dim join +
filter; the per-changeset @cache memos (main.py:26) are subsumed by the
dims being joined once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import APP_BLACKLIST, DISCUSSED_WORDS, MAX_ISSUES_PER_CHANGESET


def should_discuss_flags(changesets: DataFrame, ignore_already_discussed: bool = False) -> DataFrame:
    """(changeset_id, should_discuss) per the reference's should_discuss
    (main.py:27-48):

      * created_by contains any blacklist entry, case-insensitive
        (main.py:31-33, config.py:12-28) -> False
      * any discussion comment NOT by the changeset author containing
        'addr' or 'adres' (substring, case-SENSITIVE like the reference's
        ``in``) -> False unless IGNORE_ALREADY_DISCUSSED (main.py:36-46)
    """
    created = F.coalesce(F.col("created_by"), F.lit(""))
    blacklisted = F.lit(False)
    for b in APP_BLACKLIST:
        blacklisted = blacklisted | F.contains(F.lower(created), F.lit(b.lower()))

    def _discussed(d):
        word_hit = F.lit(False)
        for w in DISCUSSED_WORDS:
            word_hit = word_hit | F.contains(d["text"], F.lit(w))
        return (d["uid"] != F.col("cs_uid")) & word_hit

    discussed = F.exists(F.coalesce(F.col("discussion"), F.array()), _discussed)
    if ignore_already_discussed:
        discussed = F.lit(False)

    return changesets.select(
        "changeset_id",
        (~blacklisted & ~discussed).alias("should_discuss"),
    )


def filter_should_not_discuss(issues: DataFrame, changesets: DataFrame) -> DataFrame:
    """Drop issues whose changeset fails should_discuss
    (reference main.py:51-66) — a broadcast semi join."""
    ok = should_discuss_flags(changesets).filter("should_discuss")
    # NO broadcast hint: the changesets dim is one row per changeset —
    # it scales with the data (broadcasting it serializes O(data) through
    # the driver). AQE picks broadcast automatically when it IS small.
    return issues.join(ok.select("changeset_id"), "changeset_id", "left_semi")


def split_open_changesets(issues: DataFrame, changesets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(closed_issues, rescheduled_issues) — open changesets are deferred
    to the next run, not processed (reference main.py:215-217).

    The closed side keeps the author uid (cs_uid): downstream consumers
    (user gates, report composer) would otherwise each re-join the
    data-sized changesets dim — carrying one long column through the
    already-paid join removes two 1-row-per-changeset shuffles from the
    tail of the pipeline. The rescheduled side drops it so the backlog
    schema stays the issue schema."""
    flags = changesets.select("changeset_id", "open", "cs_uid")  # data-sized: no hint
    joined = issues.join(flags, "changeset_id", "left")
    closed = joined.filter(~F.coalesce(F.col("open"), F.lit(False))).drop("open")
    rescheduled = joined.filter(F.coalesce(F.col("open"), F.lit(False))).drop("open", "cs_uid")
    return closed, rescheduled


def apply_user_gates(issues: DataFrame, users: DataFrame) -> DataFrame:
    """Per-changeset user gates (reference main.py:227-243):

      * author missing from users dim (deleted) -> skip changeset
      * changesets_count < category.min_changesets -> skip
      * > MAX_ISSUES_PER_CHANGESET issues (per category) -> skip whole
        changeset, not truncate (main.py:240-243)

    Input issues must carry `category`, `min_changesets` and the
    author's `cs_uid`, which the closed side of `split_open_changesets`
    provides — no second data-sized changesets join here.
    """
    authored = issues.join(
        F.broadcast(users.withColumnRenamed("user_uid", "cs_uid")),  # users dim: tiny
        "cs_uid",
        "left",
    )
    gated = authored.filter(
        F.col("changesets_count").isNotNull()
        & (F.col("changesets_count") >= F.col("min_changesets"))
    )
    # issue cap as one window count — half the shuffles of groupBy+join
    from pyspark.sql import Window

    w = Window.partitionBy("category", "changeset_id")
    return (
        gated.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= MAX_ISSUES_PER_CHANGESET)
        # cs_uid stays: the report composer consumes it next
        .drop("_n", "display_name", "changesets_count")
    )
