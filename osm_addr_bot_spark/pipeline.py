"""The full batch pipeline — the reference's ``main()`` (main.py:165-259)
as one declarative DataFrame program.

Stage order preserves the reference's semantics exactly:

  scan+parse -> check fan-out -> should-discuss gate -> priority pass 1
  -> spatial post stages (J1-J4) -> backlog merge (J8) -> open-changeset
  split (ST3) -> guilt check (J5) -> priority pass 2 (per changeset)
  -> user gates -> report composition (U5) -> tiles + overlap
  -> atomic checkpoint commit (ST2)

Shuffle topology (the part the reference outsources to Overpass):
  * fan-out, gates, dedup pass 1: narrow after one scan
  * J1-J4: cell-keyed equi-joins (J1 also keyed on the address tags)
  * grouping: one hash-partition by (category, changeset_id)
  * dims: broadcast
Reuse points (the parsed elements, the pre-spatial issues, the spatial
output, the final issues) materialize once: downstream operators and
every sink plan from one leaf over them, so the upstream plan is
analysed once and its exchanges run once. The parsed elements are
persisted DISK_ONLY and cut from the logical plan (``_persist_cut``);
the three stage outputs go through StageRunner, which does the same
cut, or with stage checkpoints writes parquet keyed by the run's inputs
for kill-restart resume with per-partition lineage.
"""

from __future__ import annotations

import hashlib
import json
import operator
import os
from functools import reduce
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from osm_addr_bot_spark.checks import fan_out_checks
from osm_addr_bot_spark.operators.dedup import filter_priority
from osm_addr_bot_spark.operators.duplicates import duplicates_stage
from osm_addr_bot_spark.operators.gates import (
    apply_user_gates,
    filter_should_not_discuss,
    split_open_changesets,
)
from osm_addr_bot_spark.operators.guilt import filter_guilty
from osm_addr_bot_spark.operators.parse import parse_elements, parse_media
from osm_addr_bot_spark.operators.place import place_mistype_stage, place_not_in_area_stage
from osm_addr_bot_spark.operators.report import compose_reports
from osm_addr_bot_spark.operators.streets import street_names_stage
from osm_addr_bot_spark.operators.tiles import assign_tiles, raster_vector_overlap
from osm_addr_bot_spark.schemas import TABLE_SCHEMAS
from osm_addr_bot_spark.sources import source_clock, table_fingerprint
from osm_addr_bot_spark.state.checkpoint import Checkpoint, StageRunner, _persist_cut


def load_tables(spark: SparkSession, data_dir: str, files: list) -> dict[str, DataFrame]:
    """Read the seven world tables with the Spark form of their one
    schema (schemas.TABLE_SCHEMAS); skipping parquet schema inference
    saves a footer read and a JVM round trip per table of driver-serial
    time. ``files`` is the world's ``table_fingerprint``.

    Parquet is read by column NAME, so a world with reordered or extra
    columns still reads correctly. A column missing from the files would
    read as all-NULL, so for a plain path the footer of each table's
    first listed file is checked first (pyarrow, no Spark job): a
    missing column raises ValueError. A column of an incompatible type
    fails at scan time."""
    if not urlparse(data_dir).scheme:
        first = {}
        for table, name, *_ in files:
            first.setdefault(table, name)
        for table, name in first.items():
            have = set(pq.read_schema(os.path.join(data_dir, name)).names)
            missing = [c for c in TABLE_SCHEMAS[table].names if c not in have]
            if missing:
                raise ValueError(f"world table {table!r} has no column {', '.join(missing)} (read from {name})")
    return {
        n: spark.read.schema(from_arrow_schema(schema)).parquet(f"{data_dir}/{n}.parquet")
        for n, schema in TABLE_SCHEMAS.items()
    }


def _estimated_scan_partitions(sizes, max_partition_bytes: int) -> int:
    """Scan-task estimate of a table from its files' sizes and
    spark.sql.files.maxPartitionBytes: Spark's split rule, ignoring the
    4 MB open-cost packing, which is fine for a bigger/smaller than
    parallelism decision."""
    return sum(max(1, -(-s // max_partition_bytes)) for s in sizes)


def apply_post_stages(
    issues: DataFrame,
    elements_universe: DataFrame,
    polygons: DataFrame,
    streets: DataFrame,
    place_nodes: DataFrame,
) -> DataFrame:
    """The reference's filter_post_fn loop (main.py:69-82): each check
    with a spatial stage gets its issue rows replaced by the stage
    output; pre-only checks pass through untouched."""
    passthrough = issues.filter(~F.col("has_post"))
    parts = [passthrough]
    parts.append(duplicates_stage(issues.filter(F.col("post_stage") == "duplicates"), elements_universe))
    parts.append(
        place_not_in_area_stage(
            issues.filter(F.col("post_stage") == "place_not_in_area"), polygons, place_nodes
        )
    )
    parts.append(place_mistype_stage(issues.filter(F.col("post_stage") == "place_mistype"), polygons))
    parts.append(street_names_stage(issues.filter(F.col("post_stage") == "street_names"), streets))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    checkpoint_dir: str | None = None,
    start_ts: int | None = None,
    end_ts: int | None = None,
    fidelity: bool = False,
    stage_checkpoints: bool = False,
) -> dict[str, DataFrame]:
    """Run everything; returns the output DataFrames. Sinks stay lazy,
    but the call itself runs jobs: each reuse point materializes here
    (under AQE a persisted cut runs its upstream; a stage checkpoint
    writes parquet under ``checkpoint_dir``, which it requires)."""
    if stage_checkpoints and not checkpoint_dir:
        raise ValueError("stage_checkpoints=True needs a checkpoint_dir to write its stages under")
    # the world's files, listed once: they key stage replay, size the
    # documents scan and locate the footers load_tables checks
    files = table_fingerprint(data_dir)
    # an earlier run in this session left its persisted parse in the
    # CacheManager, which would serve this run's identical plan from the
    # old files: re-list the world's files and rebuild that cache lazily
    spark.catalog.refreshByPath(data_dir)
    t = load_tables(spark, data_dir, files)
    ckpt = Checkpoint(checkpoint_dir) if checkpoint_dir else None

    # A documents table of few large files scans on few tasks: fan its
    # rows out across the cluster BEFORE the expensive JSON parse and
    # cell index. A table of many files (what a real 100 TB table looks
    # like, and what datagen writes) already scans wide, so it skips the
    # round-robin shuffle of the raw span data. The scan's task count is
    # estimated from the listing above and Spark's parsed
    # maxPartitionBytes, for plain paths and URIs alike, with no
    # plan-to-RDD conversion on the driver.
    documents = t["documents"]
    mpb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()  # noqa: SLF001 — no Python API
    est = _estimated_scan_partitions((size for n, _, size, _ in files if n == "documents"), mpb)
    par = spark.sparkContext.defaultParallelism
    if est < par:
        documents = documents.repartition(par)

    # parse ONCE; the scan window (reference overpass.py:218-219) is one
    # fused filter over the persisted elements, so the same scan serves
    # both the issue path and the unwindowed J1 candidate pool
    elements_all = _persist_cut(parse_elements(documents))

    if ckpt and (start_ts is None or end_ts is None):
        # source clock (S4, reference timestamp_osm_base): METADATA ONLY
        # when the world carries the stats sidecar — at 100 TB a full
        # scan to learn one number is the first thing a cluster bill
        # notices. A bare table takes it from the parsed elements.
        src_max = source_clock(data_dir)
        if src_max is None:
            # loud by design (VERDICT r3 #4): at 100 TB this is a full
            # pass over the elements to learn ONE number; datagen worlds
            # always carry the sidecar, so reaching here means a bare table
            import warnings

            warnings.warn(
                f"world at {data_dir} has no _table_stats.json sidecar; "
                f"falling back to a FULL SCAN of the parsed elements to "
                f"compute the source watermark — write the sidecar (as "
                f"datagen does) to avoid this at scale",
                RuntimeWarning,
                stacklevel=2,
            )
            src_max = elements_all.agg(F.max("timestamp")).first()[0]
            src_max = int(src_max) if src_max is not None else 0
        start_ts, end_ts = ckpt.compute_window(now=src_max, source_max_ts=src_max + 1)

    run_id = f"run-{end_ts if end_ts is not None else 'full'}"
    # a stage replays only for the inputs it was written from: the
    # tables' files (a digest of their names, sizes and mtimes), the
    # window, the flags, and the backlog version the final issues merge
    tables = json.dumps(files).encode()
    stage_key = {
        "data_dir": os.path.realpath(data_dir),
        "tables": hashlib.sha256(tables).hexdigest(),
        "start_ts": start_ts,
        "end_ts": end_ts,
        "fidelity": fidelity,
        "backlog": ckpt.backlog_version() if ckpt else None,
    }
    stages = StageRunner(spark, ckpt.stage_dir(run_id) if stage_checkpoints else None, stage_key)

    elements = elements_all
    bounds = []
    if start_ts is not None:
        bounds.append(F.col("timestamp") >= F.lit(start_ts))
    if end_ts is not None:
        bounds.append(F.col("timestamp") <= F.lit(end_ts))
    if bounds:
        elements = elements.filter(reduce(operator.and_, bounds))

    issues2 = stages.run(  # feeds four spatial stages
        "fanout",
        lambda: filter_priority(
            filter_should_not_discuss(fan_out_checks(elements, fidelity=fidelity), t["changesets"]),
            consider_post_fn=True,
        ),
    )
    issues3 = stages.run(  # feeds the closed-changeset chain and the backlog
        "post_stages",
        lambda: apply_post_stages(
            issues2, elements_all, t["polygons"], t["streets"], t["place_nodes"]
        ),
    )

    # J8/T3: merge prior-run backlog before the per-changeset phase
    merged = issues3
    if ckpt:
        backlog = ckpt.read_rescheduled(spark, start_ts)
        if backlog is not None:
            merged = merged.unionByName(backlog.select(*issues3.columns))

    closed, rescheduled = split_open_changesets(merged, t["changesets"])
    guilty = filter_guilty(closed, t["elements_history"], fidelity)

    # Slim the per-changeset phase payload: everything after the guilt
    # check needs only entry identity + report fields — carrying the
    # tags map and the 6 bbox doubles through the remaining shuffles
    # (dedup window, user-gate join+window, report grouping) measurably
    # inflates allocation rate and GC stop-the-world time, which is an
    # ADDITIVE serial cost at high parallelism (each STW second pauses
    # every task thread). street is the one tag the composer needs.
    guilty = guilty.select(
        "category", "min_changesets", "check_id", "priority", "critical",
        "doc_id", "span_offset", "timestamp", "changeset_id", "cs_uid",
        "element_type", "element_id", "uid", "lat", "lon",
        F.element_at(F.col("tags"), F.lit("addr:street")).alias("street"),
    )
    deduped = filter_priority(
        guilty, consider_post_fn=False, scope=("category", "changeset_id", "uid")
    )
    final_issues = stages.run(  # feeds reports + tiles + counts
        "final_issues", lambda: apply_user_gates(deduped, t["users"])
    )

    reports = compose_reports(final_issues, t["users"], fidelity)

    media = parse_media(documents)
    tiles = assign_tiles(final_issues)
    overlap = raster_vector_overlap(elements_all, media)

    out = {
        "elements": elements,
        "issues": final_issues,
        "rescheduled": rescheduled,
        "reports": reports,
        "tiles": tiles,
        "overlap": overlap,
    }
    # State is written LAST, like the reference (main.py:256-257): the
    # caller materializes its sinks first, then calls out["commit"]() to
    # write reports/backlog and advance the watermark in one atomic
    # rename. Committing here would let a post-commit sink failure skip
    # the window permanently. The commit deletes the window's stage
    # checkpoints: read the outputs before it.
    if ckpt:
        out["commit"] = lambda: ckpt.commit(
            end_ts, rescheduled, reports, metrics=stages.metrics or None
        )
    return out
