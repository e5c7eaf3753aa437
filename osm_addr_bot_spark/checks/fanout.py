"""Check fan-out: elements -> long-format issues in ONE codegen'd pass.

The reference loops checks × entries in Python per category (reference
category.py:20-31). Here the ENTIRE rule set — all categories — compiles
to a single projected array-of-structs literal [(category, check_id,
priority, ..., hit)] that is filtered and exploded: one scan over the
elements regardless of rule count, no Python, no union, no shuffle.
Category selectors (reference category.py:22-23) fold into each member
check's condition. Output is the long-format issues DataFrame
(SURVEY.md §1.2 "never a Python dict"):

    issues(category, min_changesets, check_id, priority, critical,
           has_post, post_stage, <element cols>)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_addr_bot_spark.checks.model import CategorySpec
from osm_addr_bot_spark.checks.registry import all_categories
from osm_addr_bot_spark.checks.selectors import selector_expr


def _all_hits(categories: tuple[CategorySpec, ...]):
    """One array<struct> spanning every (category, check)."""
    tags = F.col("tags")
    entries = []
    for cat in categories:
        cat_cond = (
            selector_expr(tags, cat.selectors, cat.partial_selectors)
            if cat.selectors
            else F.lit(True)
        )
        for c in cat.checks:
            cond = cat_cond & selector_expr(tags, c.selectors, c.partial_selectors)
            if c.pre_expr is not None:
                cond = cond & F.coalesce(c.pre_expr(tags), F.lit(False))
            entries.append(
                F.struct(
                    F.lit(cat.identifier).alias("category"),
                    F.lit(cat.min_changesets).alias("min_changesets"),
                    F.lit(c.identifier).alias("check_id"),
                    F.lit(c.priority).alias("priority"),
                    F.lit(c.critical).alias("critical"),
                    F.lit(c.post_stage is not None).alias("has_post"),
                    F.lit(c.post_stage).alias("post_stage"),
                    cond.alias("hit"),
                )
            )
    return F.array(*entries)


def fan_out_checks(elements: DataFrame, fidelity: bool = False) -> DataFrame:
    hits = _all_hits(all_categories(fidelity))
    return elements.withColumn("c", F.explode(F.filter(hits, lambda x: x["hit"]))).select(
        F.col("c.category").alias("category"),
        F.col("c.min_changesets").alias("min_changesets"),
        F.col("c.check_id").alias("check_id"),
        F.col("c.priority").alias("priority"),
        F.col("c.critical").alias("critical"),
        F.col("c.has_post").alias("has_post"),
        F.col("c.post_stage").alias("post_stage"),
        *[f for f in elements.columns],
    )
