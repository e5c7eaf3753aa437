"""ST1-ST5 — watermark, rescheduled backlog, stage checkpoints, lineage.

The reference hand-rolls the streaming control plane over a locked JSON
file (reference state.py:20-96): a watermark (``start_ts`` capped to a
3-day backlog, window capped to 8 h — state.py:39-52, config.py:39-40),
a rescheduled-issue backlog for open changesets (state.py:54-77), an
exclusive flock (state.py:27), and commit-only-on-success
(main.py:256-257).

Engine equivalents:

  * watermark + backlog live as parquet tables under the checkpoint dir;
    a run commits by atomically renaming a manifest file — the
    single-writer guard (ST5) and exactly-once-ish commit (ST2) in one
    primitive (stand-in for an Iceberg transactional commit).
  * every pipeline stage can materialize to a stage checkpoint with a
    per-partition lineage manifest (rows per partition, total, schema
    fingerprint) — restart skips committed stages and replays the rest
    (north rule: checkpoint-resumable with per-partition lineage +
    metrics).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_addr_bot_spark.config import STATE_MAX_BACKLOG, STATE_MAX_DIFF


def _atomic_write_json(path: Path, payload: dict) -> None:
    tmp = path.with_suffix(f".tmp-{uuid.uuid4().hex}")
    tmp.write_text(json.dumps(payload, indent=2, sort_keys=True))
    os.rename(tmp, path)  # atomic on POSIX — the commit point


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition row counts — one lightweight aggregate job."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition"))
        .count()
        .orderBy("partition")
        .collect()
    )
    return [{"partition": int(r["partition"]), "rows": int(r["count"])} for r in rows]


class Checkpoint:
    """Run-level state: watermark + rescheduled backlog + reports sink."""

    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ watermark
    @property
    def _watermark_file(self) -> Path:
        return self.root / "watermark.json"

    def read_watermark(self) -> int | None:
        if self._watermark_file.exists():
            return int(json.loads(self._watermark_file.read_text())["state"])
        return None

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

    # ---------------------------------------------------------- rescheduled
    @property
    def _resched_dir(self) -> Path:
        return self.root / "rescheduled"

    def read_rescheduled(self, spark: SparkSession, start_ts: int | None = None) -> DataFrame | None:
        """Backlog from prior runs, to be unionByName'd into fresh issues
        (J8/T3, reference state.py:54-67). Asserts backlog predates the
        window (state.py:63) by filtering — late rows would double-count."""
        marker = self._resched_dir / "_committed.json"
        if not marker.exists():
            return None
        df = spark.read.parquet(str(self._resched_dir / "data"))
        if start_ts is not None:
            df = df.filter(F.col("timestamp") <= start_ts)
        return df

    # --------------------------------------------------------------- commit
    def commit(
        self,
        end_ts: int,
        rescheduled: DataFrame | None,
        reports: DataFrame | None,
        metrics: dict | None = None,
    ) -> dict:
        """Write outputs + advance the watermark; the watermark rename is
        the commit point (crash before it => next run redoes the same
        window idempotently; sinks are keyed by changeset so replays
        overwrite, ST2)."""
        run_id = f"run-{end_ts}"
        out: dict = {"run_id": run_id, "end_ts": end_ts}

        if reports is not None:
            rp = self.root / "reports" / run_id
            reports.write.mode("overwrite").parquet(str(rp))
            out["reports_path"] = str(rp)

        if rescheduled is not None:
            rd = self._resched_dir / "data"
            # stage under a temp dir then swap: readers always see a
            # complete backlog (old or new), never a partial write
            tmp = self._resched_dir / f"_staging-{uuid.uuid4().hex}"
            rescheduled.write.mode("overwrite").parquet(str(tmp))
            old = self._resched_dir / f"_old-{uuid.uuid4().hex}"
            if rd.exists():
                os.rename(rd, old)
            os.rename(tmp, rd)
            _atomic_write_json(self._resched_dir / "_committed.json", {"run_id": run_id})

        if metrics:
            _atomic_write_json(self.root / f"metrics-{run_id}.json", metrics)

        _atomic_write_json(
            self._watermark_file,
            {"state": end_ts, "committed_at": int(time.time()), "run_id": run_id},
        )
        return out


class StageRunner:
    """Stage-granular checkpointing: ``run(name, fn)`` materializes a
    stage once, records per-partition lineage, and replays from parquet
    on restart — kill the job at any stage boundary and the rerun skips
    everything committed (resume test:
    tests/test_pipeline.py::test_checkpoint_resume)."""

    def __init__(self, spark: SparkSession, root: str | os.PathLike, run_id: str, enabled: bool = True):
        self.spark = spark
        self.root = Path(root) / "stages" / run_id
        self.enabled = enabled
        self.metrics: dict[str, dict] = {}
        if enabled:
            self.root.mkdir(parents=True, exist_ok=True)

    def run(self, name: str, fn) -> DataFrame:
        if not self.enabled:
            return fn()
        data = self.root / name / "data"
        manifest = self.root / name / "manifest.json"
        if manifest.exists():
            m = json.loads(manifest.read_text())
            self.metrics[name] = m
            return self.spark.read.parquet(str(data))
        df = fn()
        (self.root / name).mkdir(parents=True, exist_ok=True)
        df.write.mode("overwrite").parquet(str(data))
        persisted = self.spark.read.parquet(str(data))
        lineage = partition_lineage(persisted)
        m = {
            "stage": name,
            "rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
            "schema": persisted.schema.simpleString(),
            "committed_at": int(time.time()),
        }
        _atomic_write_json(manifest, m)  # manifest rename = stage commit
        self.metrics[name] = m
        return persisted
