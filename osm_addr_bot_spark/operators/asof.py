"""As-of (time-travel interval) join — the J5/S2 join class as a
reusable operator.

The reference resolves "state of element E as of timestamp T" by
compiling a dated Overpass query per timestamp group (reference
overpass.py:92-98, consumed by is_editing_tags at 384-421); the engine's
`elements_history` table carries the same information as SCD2 rows with
[valid_from, valid_to) validity intervals (sources.py module docs).
Probe rows pick the single history version whose interval contains the
probe timestamp, LEFT semantics (a probe with no live version keeps a
null payload — the reference's created-element case, quirk Q6). The J5
guilt check (`operators/guilt.py`) and the ``snapshot_asof_join`` bench
query both call it.

Physical plan: an equi-join on the keys with the interval predicate in
the join condition. Catalyst executes the key equality as a hash join
and the range as a post-filter; with bounded versions per key (SCD2
tables) the intermediate is |probe| x versions_per_key — linear in
practice, and the hash join broadcasts/shuffles on the key exactly like
any dimension join.

History intervals must be non-overlapping per key (SCD2 invariant);
zero-width intervals [t, t) never match.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    probe: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    probe_ts: str = "ts",
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """probe LEFT-asof-join history: probe columns + the ``payload``
    columns of the history version live at ``probe_ts`` (null if none),
    the version whose [valid_from, valid_to) contains it.

    ``payload`` defaults to every history column that is neither a key
    nor an interval bound.
    """
    keys = list(keys)
    if payload is None:
        payload = [
            c for c in history.columns if c not in (*keys, "valid_from", "valid_to")
        ]
    h = history.select(*keys, "valid_from", "valid_to", *payload).alias("h")
    p = probe.alias("p")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"p.{k}") == F.col(f"h.{k}"))
    cond = (
        cond
        & (F.col("h.valid_from") <= F.col(f"p.{probe_ts}"))
        & (F.col(f"p.{probe_ts}") < F.col("h.valid_to"))
    )
    return p.join(h, cond, "left").select(
        "p.*", *[F.col(f"h.{c}").alias(c) for c in payload]
    )
