"""ST1-ST5 — watermark, rescheduled backlog, stage checkpoints, lineage.

The reference hand-rolls the incremental control plane over a locked JSON
file (reference state.py:20-96): a watermark (``start_ts`` capped to a
3-day backlog, window capped to 8 h — state.py:39-52, config.py:39-40),
a rescheduled-issue backlog for open changesets (state.py:54-77), an
exclusive flock (state.py:27), and commit-only-on-success
(main.py:256-257).

Engine equivalents:

  * the backlog is written as a fresh parquet version per commit
    (``rescheduled/<run_id>-<uuid>``) and the watermark file names the
    current one; the atomic rename of that file is the run's single
    commit point — the single-writer guard (ST5) and exactly-once-ish
    commit (ST2) in one primitive (stand-in for an Iceberg
    transactional commit). A crash at any step before the rename leaves
    the previous state whole; superseded versions are deleted after it.
  * ``StageRunner`` is the pipeline's one materialization primitive:
    each reuse point is persisted and cut from the plan, or, with stage
    checkpoints, written as parquet with a manifest of per-partition
    lineage and the run's input key — a restart of the same inputs
    skips committed stages and replays the rest (north rule:
    checkpoint-resumable with per-partition lineage + metrics).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from osm_addr_bot_spark.config import STATE_MAX_BACKLOG, STATE_MAX_DIFF

# Storage of the reuse points: deserialized MEMORY_AND_DISK rows of
# map-typed tags create heavy GC pressure at millions of rows; DISK_ONLY
# against a fast local dir (tmpfs/NVMe) is GC-free and measured faster.
# Blocks live in the CacheManager (spark.catalog.clearCache() releases
# them) and recompute from lineage when lost.
PERSIST_LEVEL = StorageLevel.DISK_ONLY


def _persist_cut(df: DataFrame) -> DataFrame:
    """Persist ``df`` at PERSIST_LEVEL and return the same rows as a
    frame whose logical plan is a single leaf over the persisted frame's
    executed RDD — the LogicalRDD that Dataset.checkpoint builds, carrying
    the origin's statistics. Every later operator and sink then analyses
    and plans from that leaf instead of the whole upstream plan, and the
    upstream exchanges run once, shared through the RDD.

    Unlike (local)checkpoint, nothing is copied out of the CacheManager:
    the RDD reads the persisted blocks and keeps its lineage, so a lost
    or released block recomputes. Under AQE, building the RDD runs the
    upstream query stages, so the reuse point materializes here."""
    df = df.persist(PERSIST_LEVEL)
    jdf, jvm = df._jdf, df.sparkSession._jvm  # noqa: SLF001 — no public API builds this leaf
    logical_rdd = getattr(getattr(jvm.org.apache.spark.sql.execution, "LogicalRDD$"), "MODULE$")
    leaf = logical_rdd.fromDataset(jdf.queryExecution().toRdd(), jdf, False)
    return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(jdf.sparkSession(), leaf), df.sparkSession)


def _atomic_write_json(path: Path, payload: dict) -> None:
    tmp = path.with_suffix(f".tmp-{uuid.uuid4().hex}")
    tmp.write_text(json.dumps(payload, indent=2, sort_keys=True))
    os.rename(tmp, path)  # atomic on POSIX — the commit point


def partition_lineage(path: str | os.PathLike) -> list[dict]:
    """Rows per written partition of the parquet dir at ``path``, read
    from the part files' footers — Spark names each file
    ``part-<partition>-…``, so no Spark job runs."""
    rows: Counter[int] = Counter()
    for f in Path(path).glob("part-*"):
        rows[int(f.name.split("-")[1])] += pq.read_metadata(f).num_rows
    return [{"partition": p, "rows": n} for p, n in sorted(rows.items())]


class Checkpoint:
    """Run-level state: watermark + rescheduled backlog + reports sink."""

    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ watermark
    @property
    def _watermark_file(self) -> Path:
        return self.root / "watermark.json"

    def _state(self) -> dict:
        if self._watermark_file.exists():
            return json.loads(self._watermark_file.read_text())
        return {}

    def read_watermark(self) -> int | None:
        state = self._state()
        return int(state["state"]) if state else None

    def backlog_version(self) -> str | None:
        """The committed backlog's dir name under ``rescheduled/``."""
        return self._state().get("backlog")

    def compute_window(self, now: int, source_max_ts: int) -> tuple[int, int]:
        """(start_ts, end_ts) with the reference's caps
        (state.py:39, 48-52): backlog <= 3 d, window <= 8 h,
        end = source clock - 1 (main.py:178)."""
        persisted = self.read_watermark() or 0
        start_ts = max(now - STATE_MAX_BACKLOG, persisted)
        end_ts = source_max_ts - 1
        if end_ts - start_ts > STATE_MAX_DIFF:
            end_ts = start_ts + STATE_MAX_DIFF
        return start_ts, end_ts

    def stage_dir(self, run_id: str) -> Path:
        """Where a window's StageRunner writes; deleted by its commit."""
        return self.root / "stages" / run_id

    # ---------------------------------------------------------- rescheduled
    @property
    def _resched_dir(self) -> Path:
        return self.root / "rescheduled"

    def read_rescheduled(self, spark: SparkSession, start_ts: int | None = None) -> DataFrame | None:
        """Backlog from prior runs, to be unionByName'd into fresh issues
        (J8/T3, reference state.py:54-67): the version the watermark
        names. Asserts backlog predates the window (state.py:63) by
        filtering — late rows would double-count."""
        name = self.backlog_version()
        if name is None:
            if (self._resched_dir / "data").exists():
                raise ValueError(
                    f"checkpoint root {self.root} holds a backlog in rescheduled/data that its "
                    f"watermark does not name (a layout older than versioned backlogs); "
                    f"move it aside or start from a fresh checkpoint root"
                )
            return None
        df = spark.read.parquet(str(self._resched_dir / name))
        if start_ts is not None:
            df = df.filter(F.col("timestamp") <= start_ts)
        return df

    # --------------------------------------------------------------- commit
    def commit(
        self,
        end_ts: int,
        rescheduled: DataFrame,
        reports: DataFrame,
        metrics: dict | None = None,
    ) -> dict:
        """Write the reports and a fresh backlog version, then rename the
        watermark file naming that version: the rename is the one commit
        point. A crash before it leaves the previous watermark and
        backlog in force, so the next run redoes the same window from
        the same inputs and overwrites its reports (sinks are keyed by
        changeset, ST2). After the rename, superseded backlog versions
        and the window's stage checkpoints are deleted — frames read
        from them are gone with them."""
        run_id = f"run-{end_ts}"
        # relative to the root, so a copied root still resolves
        backlog = f"{run_id}-{uuid.uuid4().hex}"
        state = {"state": end_ts, "committed_at": int(time.time()), "run_id": run_id, "backlog": backlog}
        rp = self.root / "reports" / run_id
        reports.write.mode("overwrite").parquet(str(rp))
        rescheduled.write.parquet(str(self._resched_dir / backlog))

        if metrics:
            _atomic_write_json(self.root / f"metrics-{run_id}.json", metrics)

        _atomic_write_json(self._watermark_file, state)

        for version in self._resched_dir.iterdir():
            if version.name != backlog:
                shutil.rmtree(version, ignore_errors=True)
        shutil.rmtree(self.stage_dir(run_id), ignore_errors=True)
        return {"run_id": run_id, "end_ts": end_ts, "reports_path": str(rp)}


class StageRunner:
    """The pipeline's one materialization primitive: ``run(name, fn)``
    materializes ``fn()`` at a reuse point.

    With ``root`` None it persists and cuts the frame (``_persist_cut``).
    With a ``root`` it writes the frame as parquet under ``root/name``
    with a manifest of per-partition lineage (rows per partition, total,
    schema) and ``key``, the run's inputs; a manifest rename commits the
    stage. A later run replays the stage from parquet only when its key
    matches, so a kill at any stage boundary resumes without recomputing
    committed stages (tests/test_pipeline.py::test_checkpoint_resume),
    and different inputs never replay a stale stage."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike | None, key: dict):
        self.spark = spark
        self.root = Path(root) if root is not None else None
        self.key = key
        self.metrics: dict[str, dict] = {}

    def run(self, name: str, fn) -> DataFrame:
        if self.root is None:
            return _persist_cut(fn())
        data = self.root / name / "data"
        manifest = self.root / name / "manifest.json"
        if manifest.exists():
            m = json.loads(manifest.read_text())
            if m.get("key") == self.key:
                self.metrics[name] = m
                return self.spark.read.parquet(str(data))
            manifest.unlink()  # stale: uncommit before overwriting its data
        fn().write.mode("overwrite").parquet(str(data))
        lineage = partition_lineage(data)
        persisted = self.spark.read.parquet(str(data))
        m = {
            "stage": name,
            "key": self.key,
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
            "schema": persisted.schema.simpleString(),
            "committed_at": int(time.time()),
        }
        _atomic_write_json(manifest, m)  # manifest rename = stage commit
        self.metrics[name] = m
        return persisted
