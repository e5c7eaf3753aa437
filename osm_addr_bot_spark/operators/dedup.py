"""Priority dedup (W1) and identity dedup (W2) as window operations.

The reference's ``filter_priority`` (reference main.py:85-105) iterates
checks in priority-desc order keeping an element under a check iff no
strictly-higher-priority check already claimed it (ties keep: ``<=`` at
main.py:95). In pass 1 (``consider_post_fn=True``) checks *with* a
``post_fn`` never record claims (main.py:97-98) — a spatial stage may
later drop their issues, so they must not suppress lower-priority
checks yet. Pass 2 (main.py:225) re-runs without the exemption, scoped
per changeset.

Closed form (derivation: claims are recorded in priority-desc order, so
the binding claim is simply the max priority among *eligible* checks
holding the element):

    keep  <=>  priority >= coalesce(max(priority) FILTER eligible, 0)

which is one window aggregate per pass — no iteration, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def filter_priority(
    issues: DataFrame,
    consider_post_fn: bool,
    scope: tuple[str, ...] = ("category", "uid"),
) -> DataFrame:
    """One dedup pass over the long-format issues DataFrame.

    ``scope`` partitions the claim table: pass 1 runs category-wide
    (reference main.py:200 operates on the whole category subset),
    pass 2 per changeset (main.py:225) ->
    scope=("category", "changeset_id", "uid").
    """
    eligible = F.lit(True) if not consider_post_fn else ~F.col("has_post")
    w = Window.partitionBy(*[F.col(c) for c in scope])
    claim = F.max(F.when(eligible, F.col("priority"))).over(w)
    return issues.withColumn("_claim", F.coalesce(claim, F.lit(0))).filter(
        F.col("priority") >= F.col("_claim")
    ).drop("_claim")

