"""spark-submit smoke test: scripts/submit.sh packages the engine as a
--py-files zip and runs jobs/run_pipeline.py; its sink counts must equal
an in-process run_pipeline over the same window, and its commit must
advance the checkpoint watermark to the window end. A --dry-run of the
job commits nothing."""

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

from osm_addr_bot_spark.datagen import T0, WINDOW_S
from osm_addr_bot_spark.pipeline import run_pipeline
from osm_addr_bot_spark.state.checkpoint import Checkpoint

REPO = Path(__file__).resolve().parents[1]


def test_submit_counts_match_in_process(spark, synth_dir, tmp_path):
    end_ts = T0 + WINDOW_S
    env = dict(
        os.environ,
        SPARK_MASTER="local[2]",
        SPARK_GRAFT_CPUS="2",
        PYSPARK_PYTHON=sys.executable,
    )
    env.pop("PYTHONPATH", None)  # the engine must come from the --py-files zip
    proc = subprocess.run(
        [
            "bash", str(REPO / "scripts" / "submit.sh"),
            "--data-dir", synth_dir,
            "--start-ts", str(T0),
            "--end-ts", str(end_ts),
            "--output-dir", str(tmp_path / "out"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])

    out = run_pipeline(spark, synth_dir, start_ts=T0, end_ts=end_ts)
    want = {n: out[n].count() for n in ("issues", "reports", "overlap")}
    assert want["issues"] > 0
    assert {n: stats[n] for n in want} == want
    assert Checkpoint(tmp_path / "ckpt").read_watermark() == end_ts


def test_dry_run_writes_no_state(spark, synth_dir, tmp_path, monkeypatch, capsys):
    """jobs/run_pipeline.py --dry-run prints the messages and writes no
    state (reference main.py:256-257): a fresh checkpoint root gets no
    watermark, no reports and no backlog. The job's main() runs in this
    process on the test session, which spares a second JVM."""
    spec = importlib.util.spec_from_file_location("run_pipeline_job", REPO / "jobs" / "run_pipeline.py")
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setenv("SPARK_SUBMIT_MODE", "1")
    monkeypatch.setattr("osm_addr_bot_spark.session.get_spark", lambda **_: spark)
    ck = tmp_path / "ckpt"
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--data-dir", synth_dir, "--start-ts", str(T0),
        "--end-ts", str(T0 + WINDOW_S), "--checkpoint-dir", str(ck), "--dry-run",
    ])
    assert job.main() == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["reports"] > 0
    assert not (ck / "watermark.json").exists()
    assert not (ck / "reports").exists()
    assert not (ck / "rescheduled").exists()


def test_job_rejects_stage_checkpoints_without_checkpoint_dir():
    proc = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "run_pipeline.py"), "--data-dir", "unused", "--stage-checkpoints"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 2
    assert "--stage-checkpoints requires --checkpoint-dir" in proc.stderr
