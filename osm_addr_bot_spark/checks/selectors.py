"""Selector engine: tag-key matching compiled to native Column exprs.

The reference matches selectors per element in Python with fnmatch
(reference check_base.py:28-45, static/glob split at :8-19). Here every
selector set compiles once to a Column expression over the MapType tags
column — evaluated JVM-side for all rows, no Python in the loop.

Semantics preserved exactly:
  * empty selector set -> False in BOTH modes: the reference early-returns
    when static and dynamic are both empty (check_base.py:29-30); its
    later vacuous branch (check_base.py:41) is unreachable
  * full match: ALL static keys present AND each glob matches >=1 key
  * partial match: ANY static key present OR any glob matches
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def glob_to_like(pattern: str) -> str:
    """fnmatch glob -> SQL LIKE pattern (`*`->`%`, `?`->`_`, escape both).

    Character classes (`[...]`) are unused by every reference selector;
    reject them loudly rather than silently mis-matching.
    """
    if "[" in pattern or "]" in pattern:
        raise NotImplementedError(f"glob character classes unsupported: {pattern}")
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _split(selectors: tuple[str, ...]) -> tuple[list[str], list[str]]:
    """Static vs glob selectors (reference check_base.py:8-19)."""
    static = [s for s in selectors if "*" not in s]
    dynamic = [s for s in selectors if "*" in s]
    return static, dynamic


def selector_expr(tags: Column, selectors: tuple[str, ...], partial: bool) -> Column:
    static, dynamic = _split(selectors)

    def _glob_expr(selector: str) -> Column:
        pattern = glob_to_like(selector)
        return F.exists(F.map_keys(tags), lambda k: k.like(pattern))

    static_exprs = [F.map_contains_key(tags, F.lit(s)) for s in static]
    dynamic_exprs = [_glob_expr(s) for s in dynamic]

    if not selectors:
        return F.lit(False)  # reference check_base.py:29-30 (both modes)

    if partial:
        acc = F.lit(False)
        for e in static_exprs + dynamic_exprs:
            acc = acc | e
        return acc

    acc = F.lit(True)
    for e in static_exprs + dynamic_exprs:
        acc = acc & e
    return acc


def normalize_expr(x: Column) -> Column:
    """strip -> lower -> collapse runs of whitespace to one space
    (reference utils.py:43-47)."""
    return F.regexp_replace(F.lower(F.trim(x)), r"\s{2,}", " ")

