"""spark-submit entrypoint: the full validation pipeline as a job.

Launch (north rule: spark-submit --py-files):

    bash scripts/submit.sh --data-dir /path/to/world \
        --checkpoint-dir /path/to/ckpt --output-dir /path/to/out

The engine package ships as a zip via --py-files; the SparkSession is
created WITHOUT a master override (SPARK_SUBMIT_MODE=1) so the
launcher's --master (yarn/k8s/local[N]) governs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--output-dir", default=None)
    ap.add_argument("--start-ts", type=int, default=None)
    ap.add_argument("--end-ts", type=int, default=None)
    ap.add_argument("--stage-checkpoints", action="store_true")
    ap.add_argument("--fidelity", action="store_true")
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="print composed messages instead of writing the reports sink "
        "(the reference's DRY_RUN console sink, main.py:247-252)",
    )
    args = ap.parse_args()

    os.environ.setdefault("SPARK_SUBMIT_MODE", "1")
    from osm_addr_bot_spark.pipeline import run_pipeline
    from osm_addr_bot_spark.session import get_spark

    spark = get_spark(app_name="osm-addr-bot-pipeline")
    t0 = time.time()
    out = run_pipeline(
        spark,
        args.data_dir,
        checkpoint_dir=args.checkpoint_dir,
        start_ts=args.start_ts,
        end_ts=args.end_ts,
        fidelity=args.fidelity,
        stage_checkpoints=args.stage_checkpoints,
    )
    stats = {}
    if args.dry_run:
        for r in out["reports"].limit(20).collect():
            print(f"--- changeset {r['changeset_id']} [{r['category']}] ---")
            print(r["message"])
        stats["reports"] = out["reports"].count()
    else:
        # Two-phase materialization (r3 serial-floor cut, BENCH.md).
        # run_pipeline has already filled the persisted reuse points
        # (pipeline._persist_cut: under AQE, cutting each one runs its
        # upstream), so every sink starts from completed blocks. Phase 1
        # computes `issues` from the final-issues blocks. Phase 2 then
        # runs `reports` and `overlap` as CONCURRENT jobs from driver
        # threads — they read those blocks and the parsed elements plus
        # disjoint fresh work (report composition vs the media re-parse
        # + tile join), so their stages interleave and each fills the
        # other's barrier tails instead of idling cores between
        # sequential jobs.
        from concurrent.futures import ThreadPoolExecutor

        def materialize(name: str) -> int:
            if args.output_dir:
                path = os.path.join(args.output_dir, name)
                out[name].write.mode("overwrite").parquet(path)
                return spark.read.parquet(path).count()
            return out[name].count()

        stats["issues"] = materialize("issues")
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = {n: ex.submit(materialize, n) for n in ("reports", "overlap")}
            for n, f in futs.items():
                stats[n] = f.result()
    if "commit" in out:
        # watermark advances only after every sink above materialized
        out["commit"]()
    stats["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
