"""Deterministic sampling for training-data pipelines.

Two forms, chosen by what must be bounded:

- ``sample_fraction``: keep each row iff a salted md5 hash of its key
  falls below the fraction. A pure map — NO shuffle, no state, no
  driver round-trip — so it is the only form that is free at 100 TB:
  the predicate rides the scan, composes with column pruning, and two
  runs with the same salt pick the same rows on any cluster size.
  Changing the salt draws an independent sample (held-out splits are
  just disjoint salt+fraction bands of the same hash, see
  ``split_assign``).

- ``stratified_topn``: an exact per-group quota (at most n rows per
  language/source/label), needed when group sizes are wildly skewed
  and a global fraction would starve small groups. Costs one shuffle
  (window over the group key); the md5 order makes the quota a
  uniform random subset, reproducible across engines. At web scale
  the group count is small (languages, sources) while groups are
  huge, so the window shuffle is the unavoidable minimum for an
  exact quota; when an approximate quota suffices, compose
  ``sample_fraction`` with per-group fractions instead (no shuffle).

Hashes are md5-derived like the dedup family (dedup.md5_int) so the
DuckDB oracle replays bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_int, md5_int_sql

# md5_int yields 60 bits (15 hex chars); uniform u = h / 2^60 in [0, 1)
_DENOM = float(1 << 60)


def _unit_hash(salt: str):
    """The salted doc_id hash as a uniform u in [0, 1)."""
    return md5_int(F.concat_ws(":", F.lit(salt), F.col("doc_id").cast("string"))) / F.lit(_DENOM)


def unit_hash_sql(key_sql: str, salt: str) -> str:
    """The oracle-side mirror of the [0,1) salted key hash."""
    h = md5_int_sql(f"'{salt}:' || ({key_sql})::varchar")
    return f"({h} / {_DENOM!r})"


def sample_fraction(df: DataFrame, fraction: float, salt: str = "sample") -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose salted key hash
    < ``fraction``. Shuffle-free; same salt → same rows, any engine,
    any cluster size."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_unit_hash(salt) < F.lit(float(fraction)))


def split_assign(df: DataFrame, splits: dict[str, float]) -> DataFrame:
    """Assign every row to exactly one named split (train/val/test …),
    in a ``split`` column, by cutting the [0,1) doc_id hash into
    consecutive bands — the standard leakage-safe split: membership
    depends only on the doc_id, so re-runs, backfills, and different
    cluster sizes never move a document across the boundary. Weights
    must sum to 1 (±1e-9).
    Split names are assigned in sorted-name order for determinism."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = _unit_hash("split")
    expr = None
    hi = 0.0
    names = sorted(splits)
    for name in names[:-1]:
        hi += splits[name]
        branch = F.when(u < F.lit(hi), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(hi), F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def stratified_topn(df: DataFrame, group_col: str, n: int) -> DataFrame:
    """Exact per-group quota: the ``n`` rows of each group ranking
    first by salted key hash (a uniform random subset per group,
    reproducible). One shuffle on ``group_col``; doc_id breaks hash ties
    so the quota boundary is total-ordered in both engines."""
    if n < 0:
        raise ValueError(f"n must be >= 0, got {n}")
    w = Window.partitionBy(group_col).orderBy(_unit_hash("sample").asc(), F.col("doc_id").asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )
