"""Extra measurement harness for the optimization rounds.

`bench.py` is frozen (the driver times rounds with its round-start
copy); everything exploratory lives here instead (guide §1):

  * ``--plans DIR --suffix S [names...]`` — write
    ``DIR/<name>_<S>.txt`` with ``.explain("formatted")`` for each
    declared query (default: the bench's headline set), so plan-shape
    claims in OPTIMIZATION_r*.md are checkable without running Spark.
  * ``--noop [names...]`` — time each query with the noop sink
    (computes every column, discards output; guide §1.4) instead of the
    frozen bench's ``.count()``, N repeats (``--repeats``), min +
    per-sample list. Jobs are labelled via setJobDescription.
  * ``--canary`` — a pinned single-thread CPU microbenchmark (fixed
    iteration count, pure Python hashing) printed before/after, so any
    host-speed drift between A and B runs is quantifiable (VERDICT r5
    #4; lives here because bench.py is frozen this round).

Usage examples:
    python bench_extra.py --canary --noop text_repetition_stats
    python bench_extra.py --plans plans/r06 --suffix before
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE_QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def host_canary(iters: int = 2_000_000) -> float:
    """Seconds for a fixed single-thread hash loop — a host-speed probe
    comparable across sessions (lower = faster host)."""
    t0 = time.perf_counter()
    h = b"canary"
    for _ in range(iters):
        h = hashlib.md5(h).digest()
    return round(time.perf_counter() - t0, 3)


def _spark():
    from osm_addr_bot_spark.session import get_spark

    return get_spark(app_name=f"bench-extra-{CPUS}", master=f"local[{CPUS}]",
                     shuffle_partitions=max(CPUS, 8))


def write_plans(out_dir: str, suffix: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


def run_noop(names: list[str], repeats: int) -> dict:
    import __spark_entry__ as entrymod

    spark = _spark()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    qs = entrymod.queries()
    out: dict[str, dict] = {}
    for name in names:
        samples = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"noop:{name}:{i}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(f"{name:32s} min={min(samples):7.3f}  samples={samples}")
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--canary", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or HEADLINE_QUERIES
    result: dict = {}
    if args.canary:
        result["host_canary_before"] = host_canary()
        print(f"host_canary_before: {result['host_canary_before']} s")
    if args.plans:
        write_plans(args.plans, args.suffix, names)
    if args.noop:
        result["noop"] = run_noop(names, args.repeats)
    if args.canary:
        result["host_canary_after"] = host_canary()
        print(f"host_canary_after: {result['host_canary_after']} s")
    if result:
        print(json.dumps(result))
