from osm_addr_bot_spark.checks.model import CategorySpec, CheckSpec
from osm_addr_bot_spark.checks.registry import all_categories
from osm_addr_bot_spark.checks.selectors import glob_to_like, normalize_expr, selector_expr
from osm_addr_bot_spark.checks.fanout import fan_out_checks

__all__ = [
    "CategorySpec",
    "CheckSpec",
    "all_categories",
    "glob_to_like",
    "normalize_expr",
    "selector_expr",
    "fan_out_checks",
]
