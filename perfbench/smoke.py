"""Smoke test of the benchmark harness, on a 300-doc world.

    python3 perfbench/smoke.py

1. Runs every workload of BENCHMARK.json once untraced and once traced,
   and asserts that each run is correct and prints exactly the metrics
   BENCHMARK.json names, each with its unit.
2. Alters one output row in a second run of a window and asserts that
   the digest check fails that run (and only that one).

Exits 0 when everything holds. Takes five to seven minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DOCS = 300
SEED = 7


def check_runs(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", w["name"], "--seed", str(SEED),
                   "--seconds", "1", "--trace", str(trace), "--docs", str(DOCS)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            if proc.returncode != 0:
                raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            want = {m["name"]: m["unit"] for m in names}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {sorted(set(got) ^ set(want))} differ"
            print(f"ok: {w['name']} trace={trace}: {len(got)} metrics, {result['attempted']} attempted")


def check_digest_catches_altered_row() -> None:
    import run  # noqa: PLC0415 — after prepare_process() put the engine on sys.path

    from osm_addr_bot_spark import pipeline
    from osm_addr_bot_spark.datagen import ensure_dataset
    from pyspark.sql import functions as F

    world = str(ensure_dataset(run.DATA / f"world-{DOCS}-{SEED}", n_docs=DOCS, seed=SEED))
    spark, _ = run.start_session(len(os.sched_getaffinity(0)), trace=False)
    try:
        st = run.RunState("batch_small", world, pinned={}, bad_changesets=run.bad_changesets(world))
        first = run.run_window(spark, st, "full")
        assert not first.failed, st.problems

        original = pipeline.run_pipeline

        def one_row_altered(*a, **kw):
            out = original(*a, **kw)
            victim = out["issues"].agg(F.min("element_id")).first()[0]
            eid = F.col("element_id")
            out["issues"] = out["issues"].withColumn(
                "element_id", F.when(eid == victim, eid + 1).otherwise(eid)
            )
            return out

        pipeline.run_pipeline = one_row_altered
        try:
            second = run.run_window(spark, st, "full")
        finally:
            pipeline.run_pipeline = original
        assert second.failed, "an altered issue row passed the digest check"
        assert second.digests["issues"]["rows"] == first.digests["issues"]["rows"]
        print(f"ok: altered row caught: {st.problems[-1][:120]}")
    finally:
        spark.stop()


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_runs(spec)
    sys.path.insert(0, str(BENCH))
    import run

    run.prepare_process()
    check_digest_catches_altered_row()
    return 0


if __name__ == "__main__":
    sys.exit(main())
