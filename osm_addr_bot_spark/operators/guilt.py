"""J5 — historical guilt check: did this changeset actually edit the
offending tags?

Internalizes the reference's ``is_editing_tags`` (overpass.py:384-421):
for every issue element, compare its tags against the pre-changeset
snapshot (as of timestamp-1):

  * element absent from the snapshot  => it was created => the WHOLE
    changeset is guilty (quirk Q6, overpass.py:402-404)
  * tags_diff = set(new.items()) - set(old.items()) — i.e. keys whose
    value is new or changed (overpass.py:411)
  * the diff matches the category's selectors (partial) when the
    category has selectors, else the issue's check's selectors
    (overpass.py:414-419)
  * guilt is per (category, changeset): any guilty element convicts it

Divergence note (documented): the reference picks ONE check per element
via a dict that later inserts overwrite (overpass.py:387-392) when the
category has no selectors; this engine evaluates each (check, element)
row — a deterministic superset. Same verdicts whenever an element is
claimed by a single check per category (always true in the fixtures).

Spark mapping: snapshot scan S2 as the interval as-of join
(operators/asof.py) on (element_type, element_id) against the
`elements_history` table (Iceberg time travel at scale), the map diff as
a native `map_filter`, selectors as compiled exprs, the per-changeset
verdict as a window max over (category, changeset_id) — no Python
anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.checks.registry import all_categories
from osm_addr_bot_spark.checks.selectors import selector_expr
from osm_addr_bot_spark.operators.asof import asof_join


def _diff_selector_expr(diff: Column, fidelity: bool = False) -> Column:
    """Partial selector match on the diff map, per the reference's
    category-else-check rule."""
    cats = all_categories(fidelity)
    cat_expr = F.lit(False)
    for cat in cats:
        if cat.selectors:
            cat_expr = F.when(
                F.col("category") == cat.identifier,
                selector_expr(diff, cat.selectors, partial=True),
            ).otherwise(cat_expr)
    check_expr = F.lit(False)
    for cat in cats:
        if cat.selectors:
            continue
        for c in cat.checks:
            check_expr = F.when(
                F.col("check_id") == c.identifier,
                selector_expr(diff, c.selectors, partial=True),
            ).otherwise(check_expr)
    has_cat_selectors = F.col("category").isin(
        *[cat.identifier for cat in cats if cat.selectors]
    )
    return F.when(has_cat_selectors, cat_expr).otherwise(check_expr)


def filter_guilty(
    issues: DataFrame, elements_history: DataFrame, fidelity: bool = False
) -> DataFrame:
    """Keep only issues of guilty changesets (reference main.py:221-223:
    'Not guilty' changesets are skipped entirely).

    Each issue gets the ``old_tags`` of the history version live at
    timestamp-1 through the as-of LEFT join (operators/asof.py): an
    issue whose history rows all miss the interval keeps null old_tags
    (=> created => guilty), the reference's missing-snapshot semantics,
    rather than silently vanishing. Per-row verdicts are then
    window-aggregated over (category, changeset_id) on the joined rows —
    one shuffle instead of aggregate + semi join."""
    from pyspark.sql import Window

    hist = elements_history.select(
        "element_type",
        "element_id",
        "valid_from",
        "valid_to",
        F.col("tags").alias("old_tags"),
    )
    joined = asof_join(
        issues.withColumn("_asof_ts", F.col("timestamp") - 1),
        hist,
        keys=["element_type", "element_id"],
        probe_ts="_asof_ts",
        payload=["old_tags"],
    ).drop("_asof_ts")
    created = F.col("old_tags").isNull()
    diff = F.map_filter(
        F.col("tags"), lambda k, v: ~v.eqNullSafe(F.element_at(F.col("old_tags"), k))
    )
    row_guilty = F.when(created, F.lit(True)).otherwise(_diff_selector_expr(diff, fidelity))
    w = Window.partitionBy("category", "changeset_id")
    return (
        joined.withColumn("_g", row_guilty)
        .withColumn("_guilty", F.max("_g").over(w))
        .filter(F.col("_guilty"))
        .drop("_g", "_guilty", "old_tags")
    )
