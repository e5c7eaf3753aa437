"""Benchmark harness.

Default: run the headline workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line:

    {"metric": "validated-changesets/sec", "value": N, "unit": "...",
     "queries": {...}, "sf": ...}

The headline metric is the full engine pipeline (parse -> checks ->
spatial joins -> guilt -> reports -> tiles) over the seeded synthetic
interleaved-documents world sized to the sf (BASELINE.md); per-query
timings cover the driver-table operator suite.

``--scaling`` reruns the pipeline at local[N] and local[4N] in separate
JVMs (subprocesses) on identical input and reports throughput at both
plus efficiency = (thr_4N/thr_N)/4. The CANONICAL north-rule evidence
is `scripts/scaling_repeats.sh` (>=3 back-to-back N-vs-4N executor
pairs on a standalone cluster, spark-submit --py-files, MEDIAN
efficiency: 0.704 at 4M docs, r3 — scaling_repeats_r3.json; the
event-log audit in BENCH.md shows 95-99% occupancy and attributes the
gap to per-core DRAM inflation on this single box, not the plan).
Thread mode shares one JVM heap and under-reports cluster scaling
further; `--scaling-smoke` keeps the executor path honest in minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default 16, not 32: local[32] measured SLOWER than local[16] on a
# 32-core box (32.5 vs 22.9 s at sf0.1; 470.8 vs 444.0 s at 4M docs —
# BENCH.md), explained then by a pandas-UDF worker process per task
# thread. The pipeline now starts no Python worker (parse and report
# composition are native), and the 16-vs-32 numbers predate both and
# have not been re-measured. Override via SPARK_GRAFT_CPUS.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))

# documents in the synthetic world per sf unit (sf0.1 -> 12k docs)
DOCS_PER_SF = 120_000

HEADLINE_QUERIES = [
    "duplicate_radius_join",
    "street_tier_anti_join",
    "pip_containment",
    "tile_overlap_report",
    "priority_dedup_window",
    "broadcast_dim_join",
    "dedup_minhash_lsh_pairs",
    "dedup_components",
    "dedup_ngram_jaccard",
    "dedup_simhash_near_pairs",
    "ann_cosine_topk",
    "text_quality_features",
    "text_repetition_stats",
    "text_winnow_fingerprints",
    "events_sessionize",
]


def foreign_spark_pids() -> list[int]:
    """Pids of Spark/pytest processes that are not this run — a live
    standalone cluster, executors, spark-submit, or a test session
    competing for the box's cores and DRAM bandwidth. BENCH_r04 was
    captured while a scaling cluster was running and every query read
    ~40-50% slow (VERDICT r4 #2); the preflight makes that class of
    artifact self-describing instead of silent."""
    pat = (
        r"deploy.master.Maste[r]|deploy.worker.Worke[r]|"
        r"CoarseGrainedExecutorBacken[d]|SparkSubmi[t]|pytes[t]"
    )
    out = subprocess.run(["pgrep", "-f", pat], capture_output=True, text=True)
    me, parent = os.getpid(), os.getppid()
    return [
        int(p) for p in out.stdout.split() if int(p) not in (me, parent)
    ]


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_bench(cpus: int = CPUS, sf_dir: str = SF_DIR, pipeline_only: bool = False) -> dict:
    from osm_addr_bot_spark.datagen import T0, WINDOW_S, ensure_dataset
    from osm_addr_bot_spark.pipeline import run_pipeline
    from osm_addr_bot_spark.session import get_spark

    import __spark_entry__ as entrymod

    contaminating = foreign_spark_pids()
    if contaminating:
        print(
            f"bench preflight: live Spark/pytest pids {contaminating} — "
            "this measurement is CONTAMINATED (stamped in the JSON)",
            file=sys.stderr,
        )

    sf = _sf_from_dir(sf_dir)
    world = os.environ.get("SPARK_GRAFT_WORLD")
    if not world:
        n_docs = max(300, int(DOCS_PER_SF * sf))
        world = str(ensure_dataset(f"/tmp/osm_addr_bot_synth/bench_sf{sf}", n_docs=n_docs, seed=42))

    # scaling runs pin shuffle partitions EQUAL at both parallelism
    # levels (env) so the comparison measures parallelism, not plan shape
    sp_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS")
    spark = get_spark(app_name=f"bench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=int(sp_env) if sp_env else max(cpus, 8))

    # warm the JVM/Arrow path once so the measurement isn't startup-bound
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    t0 = time.time()
    out = run_pipeline(spark, world, start_ts=T0, end_ts=T0 + WINDOW_S)
    n_reports = out["reports"].count()
    n_issues = out["issues"].count()
    n_overlap = out["overlap"].count()
    pipeline_sec = time.time() - t0

    # validated changesets = changesets that completed validation =
    # all non-open changesets scanned in the window (docs == changesets)
    n_changesets = out["elements"].select("changeset_id").distinct().count()
    value = n_changesets / pipeline_sec

    queries: dict[str, float] = {"pipeline": round(pipeline_sec, 3)}
    if not pipeline_only:
        qs = entrymod.queries()
        for name in HEADLINE_QUERIES:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            queries[name] = round(time.time() - t0, 3)

    return {
        "metric": "validated-changesets/sec (full pipeline over synthetic interleaved docs)",
        "value": round(value, 2),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "contaminated": bool(contaminating),
        "contaminating_pids": contaminating,
        "pipeline": {
            "changesets": n_changesets,
            "issues": n_issues,
            "reports": n_reports,
            "overlap_tiles": n_overlap,
            "seconds": round(pipeline_sec, 3),
        },
    }


def run_scaling(n_docs: int | None = None, cpus_pair: tuple[int, int] | None = None) -> dict:
    """Same job, same input, fresh JVMs at N and 4N cores -> efficiency
    (the north rule's two-cluster-size criterion, single-box stand-in).

    Pair defaults to SPARK_GRAFT_SCALING_PAIR (default "4,16"; the
    BASELINE.md-named "8,32" pair is also measured and reported in
    BENCH.md; it was measured when each local[32] task thread paired
    with a pandas-UDF worker process, ~64 busy processes on 32 cores.
    The pipeline now starts no Python worker, and that pair has not been
    re-measured since). World defaults to 4M docs
    (SPARK_GRAFT_SCALING_DOCS) so parallel work dominates the per-box
    serial floor. Shuffle partitions are pinned EQUAL at both levels
    (= hi cpus: identical physical plans, so the pair measures
    parallelism only; 64 was measured +27% slower than 16 at this data
    size). Driver memory is pinned to 16g at both levels — 8g OOMs the
    4M-doc parse and 48g is 6x SLOWER than 8g on this box (GC pathology
    on one giant heap).
    """
    n_docs = n_docs or int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "4000000"))
    if cpus_pair is None:
        pair = os.environ.get("SPARK_GRAFT_SCALING_PAIR", "4,16")
        lo, hi = (int(x) for x in pair.split(","))
    else:
        lo, hi = cpus_pair
    from osm_addr_bot_spark.datagen import ensure_dataset

    world = str(ensure_dataset("/tmp/osm_addr_bot_synth/bench_scaling", n_docs=n_docs, seed=42))

    results = {}
    for cpus in (lo, hi):
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_WORLD=world,
            SPARK_GRAFT_SHUFFLE_PARTS=os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", str(hi)),
            SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--json-only", "--pipeline-only"],
            env=env, capture_output=True, text=True, timeout=7200,
        )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)
    t_lo = results[lo]["pipeline"]["seconds"]
    t_hi = results[hi]["pipeline"]["seconds"]
    thr_lo = results[lo]["value"]
    thr_hi = results[hi]["value"]
    efficiency = (thr_hi / thr_lo) / (hi / lo)
    return {
        f"local{lo}": {"seconds": t_lo, "changesets_per_sec": thr_lo},
        f"local{hi}": {"seconds": t_hi, "changesets_per_sec": thr_hi},
        "n_docs": n_docs,
        "speedup": round(thr_hi / thr_lo, 3),
        "efficiency_n_to_4n": round(efficiency, 3),
    }


def run_scaling_cluster(n_docs: int | None = None, world_dir: str | None = None) -> dict:
    """Canonical north-rule evidence: N vs 4N real executors on a
    standalone cluster (scripts/scaling_cluster.sh). ~45 min at the
    default 4M-doc world. Always asserts output equality across
    executor counts (the correctness half of the north rule)."""
    n_docs = n_docs or int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "4000000"))
    from osm_addr_bot_spark.datagen import ensure_dataset

    world = str(
        ensure_dataset(world_dir or "/tmp/osm_addr_bot_synth/bench_scaling", n_docs=n_docs, seed=42)
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    out = "/tmp/scaling_cluster_bench.json"
    env = dict(os.environ, SHUFFLE_PARTS=os.environ.get("SHUFFLE_PARTS", "32"))
    subprocess.run(
        ["bash", os.path.join(repo, "scripts", "scaling_cluster.sh"), world, out],
        env=env, check=True, capture_output=True, text=True, timeout=7200,
    )
    with open(out) as f:
        res = json.load(f)
    s1, s4 = res["executors_1"]["stats"], res["executors_4"]["stats"]
    mism = {k: (s1[k], s4[k]) for k in ("issues", "reports", "overlap") if s1[k] != s4[k]}
    if mism:
        raise AssertionError(f"outputs differ across executor counts: {mism}")
    res["outputs_match"] = True
    return res


def run_scaling_smoke() -> dict:
    """CI-style smoke of the executor-mode harness (VERDICT r2 item 6):
    the SAME spark-submit path as the canonical 4M evidence, on a small
    world, one command, a few minutes — so the standalone-cluster path
    cannot rot between big runs. The efficiency number it prints is NOT
    scaling evidence (at this size the cluster-mode serial floor ~85 s
    dominates T1); the assertions are that the harness runs end-to-end
    and outputs are identical across executor counts."""
    n_docs = int(os.environ.get("SPARK_GRAFT_SMOKE_DOCS", "120000"))
    return run_scaling_cluster(n_docs=n_docs, world_dir="/tmp/osm_addr_bot_synth/bench_smoke")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-cluster", action="store_true")
    ap.add_argument("--scaling-smoke", action="store_true")
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--json-only", action="store_true")
    args = ap.parse_args()
    if args.scaling_smoke:
        print(json.dumps(run_scaling_smoke()))
    elif args.scaling_cluster:
        print(json.dumps(run_scaling_cluster()))
    elif args.scaling:
        print(json.dumps(run_scaling()))
    else:
        print(json.dumps(run_bench(pipeline_only=args.pipeline_only)))
