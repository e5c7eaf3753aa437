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
guilt check (`operators/guilt.py`) calls it with the default
``interval`` strategy; the ``snapshot_asof_join`` bench query uses
``union``.

Two physical strategies, output-equivalent (pinned by test):

* ``interval`` (default): equi-join on the keys with the interval
  predicate in the join condition. Catalyst executes the key equality
  as a hash join and the range as a post-filter; with bounded versions
  per key (SCD2 tables) the intermediate is |probe| x versions_per_key
  — linear in practice, and the hash join broadcasts/shuffles on the
  key exactly like any dimension join.
* ``union``: the sort-based scale path for version-heavy keys — union
  probes and versions into one stream, one window sort per key, carry
  the last-seen version forward. Cost is one shuffle + sort of
  |probe| + |history| rows regardless of versions per key; no
  probe x version intermediate ever exists.

History intervals must be non-overlapping per key (SCD2 invariant);
zero-width intervals [t, t) never match (they lose the in-stream
ordering to the version that actually covers t).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MAX_TS = (1 << 63) - 1

# internal columns of the union strategy (ADVICE r3): a probe/history/
# payload column with one of these names would silently corrupt the
# carry-forward or fail analysis, and the interval strategy would have
# accepted the same input — so BOTH strategies reject them up front
_RESERVED = frozenset({"_t", "_is_probe", "_ver", "_probe", "_live", "_hit"})


def asof_join(
    probe: DataFrame,
    history: DataFrame,
    keys: Sequence[str],
    probe_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    payload: Sequence[str] | None = None,
    strategy: str = "interval",
) -> DataFrame:
    """probe LEFT-asof-join history: probe columns + the ``payload``
    columns of the history version live at ``probe_ts`` (null if none).

    ``payload`` defaults to every history column that is neither a key
    nor an interval bound.
    """
    if strategy not in ("interval", "union"):
        raise ValueError(f"strategy must be interval|union, got {strategy!r}")
    keys = list(keys)
    if payload is None:
        payload = [
            c for c in history.columns if c not in (*keys, valid_from, valid_to)
        ]
    payload = list(payload)
    clash = _RESERVED.intersection((*probe.columns, *keys, *payload))
    if clash:
        raise ValueError(
            f"column(s) {sorted(clash)} collide with asof_join internals "
            f"({sorted(_RESERVED)}); rename them before the join"
        )
    if strategy == "interval":
        h = history.select(*keys, valid_from, valid_to, *payload).alias("h")
        p = probe.alias("p")
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(f"p.{k}") == F.col(f"h.{k}"))
        cond = (
            cond
            & (F.col(f"h.{valid_from}") <= F.col(f"p.{probe_ts}"))
            & (F.col(f"p.{probe_ts}") < F.col(f"h.{valid_to}"))
        )
        return p.join(h, cond, "left").select(
            "p.*", *[F.col(f"h.{c}").alias(c) for c in payload]
        )

    # union strategy: one event stream per key, ordered by time with
    # version rows before probe rows at equal instants (valid_from <= ts
    # inclusive) and wider valid_to last among same-instant versions (a
    # zero-width [t, t) version must lose to the version covering t).
    probe_cols = probe.columns
    # empty intervals can never match; dropping them up front also stops
    # a later zero-width version from shadowing the live one in-stream
    history = history.filter(F.col(valid_from) < F.col(valid_to))
    ver = history.select(
        *keys,
        F.col(valid_from).alias("_t"),
        F.lit(0).alias("_is_probe"),
        F.struct(
            F.col(valid_to).alias("_valid_to"), *[F.col(c) for c in payload]
        ).alias("_ver"),
    )
    prb = probe.select(
        *keys,
        F.col(probe_ts).alias("_t"),
        F.lit(1).alias("_is_probe"),
        F.lit(None).cast(ver.schema["_ver"].dataType).alias("_ver"),
        F.struct(*[F.col(c) for c in probe_cols]).alias("_probe"),
    )
    ver = ver.withColumn("_probe", F.lit(None).cast(prb.schema["_probe"].dataType))
    stream = ver.select(*keys, "_t", "_is_probe", "_ver", "_probe").unionByName(
        prb.select(*keys, "_t", "_is_probe", "_ver", "_probe")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t"), F.col("_is_probe"), F.col("_ver._valid_to"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = stream.withColumn("_live", F.last("_ver", ignorenulls=True).over(w))
    out = carried.filter(F.col("_is_probe") == 1).select(
        *[F.col(f"_probe.{c}").alias(c) for c in probe_cols],
        F.when(F.col("_live._valid_to") > F.col("_t"), F.col("_live")).alias("_hit"),
    )
    return out.select(
        *probe_cols, *[F.col(f"_hit.{c}").alias(c) for c in payload]
    )
