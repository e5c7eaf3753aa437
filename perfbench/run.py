"""Engine benchmark: seeded pipeline workloads run in a closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload batch_small --seed 42 --seconds 1 --trace 0

One process, one Spark session on ``local[<cores>]``, one client: each
iteration starts when the previous one has finished. A run

  1. generates the seeded synthetic world (``datagen.ensure_dataset``;
     cached under ``perfbench/.data``, not timed);
  2. sets the session up seven times (``get_spark`` plus a warm-up query;
     the first one launches the JVM) and reports the median as ``setup_s``;
  3. runs iterations until ``--seconds`` have passed, at least one, and
     reports their median as ``run_s``; the first runs with a cold JIT;
  4. checks every window's outputs: an order-independent digest of
     every output must repeat across iterations, seed 42 must reproduce
     the pinned counts and digests, and any seed must hold the
     end-to-end invariants of ``tests/test_pipeline.py``.

With ``--trace 1`` three more runs of the workload's last window follow
(untraced, spans, materialized) and the run prints the per-layer metrics
of ``perfbench/tracing.py`` instead.
Every line before the last is for people (environment, a metric table);
the last line of stdout is the JSON result. Workloads, metrics and the
reasons for them are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".out"  # Spark scratch, checkpoints and event logs
CKPT = OUT / "checkpoint"
CKPT_W1 = OUT / "checkpoint-w1"  # the state a first half committed
DATA = BENCH / ".data"  # cached seeded worlds

DOCS = 1200  # bench.py's sf0.01 world (120k docs per sf unit)
SETUPS = 7
CANARY_ITERS = 250_000
SIGN_OFF = "Pozdrawiam! 🦀"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "changesets_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# A batch_small iteration is one 8-h window; an incremental iteration is
# its two halves on a fresh checkpoint root, the second merging the
# backlog the first committed.
WORKLOAD_WINDOWS = {"batch_small": ("full",), "incremental": ("w1", "w2")}

# (workload, docs, seed) -> window -> output -> [rows, digest]; a window
# is "full" (batch) or "w1"/"w2" (incremental, whose "backlog" and
# "committed" entries digest the checkpoint after the commit). The 12k-doc
# counts are the ROADMAP sf0.1 figures.
PINNED_PATH = BENCH / "pinned.json"


@dataclass
class Window:
    name: str
    build_s: float  # the run_pipeline() call
    sink_s: float  # materializing every output
    commit_s: float  # out["commit"](), incremental only
    digests: dict[str, dict]
    changesets: int = 0  # validated: distinct changesets in the window
    failed: bool = False

    @property
    def seconds(self) -> float:
        return self.build_s + self.sink_s + self.commit_s


@dataclass
class Iteration:
    windows: list[Window]

    @property
    def seconds(self) -> float:
        return sum(w.seconds for w in self.windows)

    @property
    def changesets(self) -> int:
        return sum(w.changesets for w in self.windows)

    @property
    def failed(self) -> bool:
        return any(w.failed for w in self.windows)


@dataclass
class RunState:
    workload: str
    world: str
    pinned: dict
    bad_changesets: list[int]
    iterations: list[Iteration] = field(default_factory=list)
    traced: list[Window] = field(default_factory=list)  # the --trace 1 windows
    reference: dict[str, dict] = field(default_factory=dict)  # window -> digests
    changesets: dict[str, int] = field(default_factory=dict)  # window -> validated changesets
    problems: list[str] = field(default_factory=list)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- session
def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(OUT / "spark-local"),
        "spark.sql.warehouse.dir": str(OUT / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={OUT / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(OUT / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def start_session(cpus: int, trace: bool):
    from osm_addr_bot_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=spark_conf(trace))
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def rss_high_water_mb(pids: list[int]) -> float:
    """Sum of VmHWM over ``pids`` and every descendant (the JVM's Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    total_kb, todo, seen = 0, list(pids), set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


# --------------------------------------------------------------- outputs
def digest(df, group: str | None = None, **checks) -> dict[str, int | str]:
    """Rows and the sum of xxhash64 over every column: order-independent,
    and it computes every column, so ``compose_reports``' message UDF
    runs. Map columns hash as their sorted entries. ``checks`` are more
    aggregate Columns, evaluated in the same job."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    if group is not None:
        df.sparkSession.sparkContext.setJobGroup(group, group)
    cols = [
        F.to_json(F.array_sort(F.map_entries(F.col(f.name)))) if isinstance(f.dataType, MapType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
        *(c.alias(k) for k, c in checks.items()),
    ).first()
    return {"rows": int(row["rows"]), **{k: str(row[k] or 0) for k in ("hash", *checks)}}


def materialize(out: dict, bad_changesets: list[int], group: str | None = None) -> dict[str, dict]:
    """The sinks, in jobs/run_pipeline.py's order: issues first (it fills
    the persisted intermediates), then reports and overlap as concurrent
    jobs, with tiles alongside. The digests also carry what
    ``invariant_problems`` checks."""
    from pyspark.sql import functions as F

    def key():
        return F.xxhash64("category", "changeset_id").cast("decimal(38,0)")

    d = {"issues": digest(
        out["issues"], group,
        keys=F.sum_distinct(key()),
        bad_changesets=F.count_if(F.col("changeset_id").isin(bad_changesets)),
    )}
    sinks = {
        "reports": lambda: digest(
            out["reports"], group,
            keys=F.sum(key()),
            unsigned=F.count_if(~F.col("message").endswith(SIGN_OFF)),
        ),
        "overlap": lambda: digest(out["overlap"], group),
        "tiles": lambda: digest(out["tiles"], group),
    }
    with ThreadPoolExecutor(max_workers=len(sinks)) as ex:
        futs = {n: ex.submit(f) for n, f in sinks.items()}
        d |= {n: f.result() for n, f in futs.items()}
    return d


def invariant_problems(d: dict[str, dict]) -> list[str]:
    """The invariants of tests/test_pipeline.py::test_pipeline_end_to_end,
    which hold on any seed."""
    checks = {
        "report keys differ from issue keys": d["issues"]["keys"] != d["reports"]["keys"],
        "issues of open or blacklisted changesets": d["issues"]["bad_changesets"] != "0",
        "messages without the sign-off": d["reports"]["unsigned"] != "0",
        "empty overlap": d["overlap"]["rows"] == 0,
    }
    return [k for k, failed in checks.items() if failed]


def bad_changesets(world: str) -> list[int]:
    """Open or StreetComplete changesets: none may have a final issue."""
    import pyarrow.parquet as pq

    cs = pq.read_table(f"{world}/changesets.parquet", columns=["changeset_id", "open", "created_by"])
    return [
        r["changeset_id"] for r in cs.to_pylist()
        if r["open"] or "streetcomplete" in (r["created_by"] or "").lower()
    ]


def checkpoint_digests(spark, root: Path, end_ts: int) -> dict[str, dict]:
    from osm_addr_bot_spark.state.checkpoint import Checkpoint

    backlog = Checkpoint(root).read_rescheduled(spark)
    return {
        "backlog": digest(backlog) if backlog is not None else {"rows": 0, "hash": "0"},
        "committed": digest(spark.read.parquet(str(root / "reports" / f"run-{end_ts}"))),
    }


# ------------------------------------------------------------- workloads
def windows():
    from osm_addr_bot_spark.datagen import T0, WINDOW_S

    half = WINDOW_S // 2
    return {"full": (T0, T0 + WINDOW_S), "w1": (T0, T0 + half), "w2": (T0 + half, T0 + WINDOW_S)}


def run_window(spark, st: RunState, window: str, group: str | None = None) -> Window:
    from osm_addr_bot_spark import pipeline

    start_ts, end_ts = windows()[window]
    kw: dict = {"start_ts": start_ts, "end_ts": end_ts}
    if window != "full":
        kw |= {"checkpoint_dir": str(CKPT), "stage_checkpoints": True}

    t0 = time.perf_counter()
    out = pipeline.run_pipeline(spark, st.world, **kw)  # looked up at call time: traceable
    t1 = time.perf_counter()
    digests = materialize(out, st.bad_changesets, group)
    t2 = time.perf_counter()
    if "commit" in out:
        out["commit"]()
    t3 = time.perf_counter()
    w = Window(window, t1 - t0, t2 - t1, t3 - t2, digests)

    # checks: not timed
    log(f"window {window}: {w.seconds:.3f} s")
    if "commit" in out:
        w.digests |= checkpoint_digests(spark, CKPT, end_ts)
    if window == "w1":
        shutil.rmtree(CKPT_W1, ignore_errors=True)
        shutil.copytree(CKPT, CKPT_W1)
    if window not in st.changesets:
        st.changesets[window] = out["elements"].select("changeset_id").distinct().count()
    w.changesets = st.changesets[window]
    problems = invariant_problems(w.digests)
    ref = st.reference.setdefault(window, w.digests)
    if w.digests != ref:
        problems.append(f"digests {w.digests} differ from the first iteration's {ref}")
    for name, want in st.pinned.get(window, {}).items():
        got = w.digests.get(name, {})
        # a pinned entry is [rows] or [rows, hash]
        if [got.get("rows"), got.get("hash")][: len(want)] != want:
            problems.append(f"{name} = {got}, pinned {want}")
    st.problems += [f"{window}: {p}" for p in problems]
    w.failed = bool(problems)
    spark.catalog.clearCache()
    return w


def run_iteration(spark, st: RunState) -> Iteration:
    if st.workload == "incremental":
        shutil.rmtree(CKPT, ignore_errors=True)
    return Iteration([run_window(spark, st, w) for w in WORKLOAD_WINDOWS[st.workload]])


def measure(spark, st: RunState, seconds: float) -> None:
    """Iterations in a closed loop until ``seconds`` have passed."""
    t_end = time.perf_counter() + seconds
    st.iterations.append(run_iteration(spark, st))
    while time.perf_counter() < t_end:
        st.iterations.append(run_iteration(spark, st))


def traced_windows(spark, st: RunState) -> tuple[dict[str, float], dict[bool, tuple]]:
    """The workload's last window three more times: untraced (the
    baseline for the tracing overhead), traced with spans only, and
    traced with every operator's output materialized. A second half
    starts from the state the last first half committed. Returns the
    layer metrics and each traced pass's epoch interval, for the event
    log."""
    from tracing import LAYER_METRICS, Tracer

    target = WORKLOAD_WINDOWS[st.workload][-1]
    m = {k: 0.0 for k in LAYER_METRICS}
    intervals = {}
    for materialize_ in (None, False, True):
        if target == "w2":
            shutil.rmtree(CKPT, ignore_errors=True)
            shutil.copytree(CKPT_W1, CKPT)
        if materialize_ is None:
            st.traced.append(run_window(spark, st, target))
            continue
        mb_before = dir_mb(CKPT)
        tracer = Tracer(materialize_)
        tracer.install(spark)
        t0 = time.time()
        try:
            w = run_window(spark, st, target, group="pipeline.sink")
        finally:
            intervals[materialize_] = (t0, time.time())
            tracer.uninstall()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        st.traced.append(w)
        got = tracer.layer_metrics()
        if materialize_:
            m |= {k: v for k, v in got.items() if k.endswith((".exec_s", ".rows_out", ".backlog_rows"))}
            continue
        m |= got
        m["pipeline.exec_s"] = w.sink_s
        if target != "full":
            m["state.checkpoint.state_mb"] = dir_mb(CKPT)
            m["state.checkpoint.written_mb"] = m["state.checkpoint.state_mb"] - mb_before
        m["trace.overhead_s"] = w.seconds - st.traced[0].seconds
        m["trace.remainder_s"] = w.seconds - tracer.accounted_s() - w.sink_s
    return m, intervals


def dir_mb(path: Path) -> float:
    if not path.exists():
        return 0.0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / (1 << 20)


# -------------------------------------------------------------------- main
def prepare_process() -> None:
    """Make the engine importable here and in the Python workers
    (compose_reports is a pandas UDF), whatever the working directory,
    and keep Spark's scratch inside perfbench/.out."""
    sys.path[:0] = [str(ROOT), str(BENCH)]
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    shutil.rmtree(OUT / "eventlog", ignore_errors=True)
    for d in ("tmp", "eventlog", "spark-local"):
        (OUT / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(OUT / "tmp")
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))


def environment(args, cpus: int, spark, canary_before: float, foreign: list[int]) -> dict:
    import platform

    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "docs": args.docs,
        "master": f"local[{cpus}]",
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "python": platform.python_version(),
        "host_canary_iters": CANARY_ITERS,
        "host_canary_before_s": canary_before,
        "foreign_spark_pids": foreign,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_WINDOWS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DOCS, help="world size (default %(default)s)")
    args = ap.parse_args()

    prepare_process()
    try:
        from bench import foreign_spark_pids
        from bench_extra import host_canary
        from osm_addr_bot_spark.datagen import ensure_dataset
    except ImportError as e:
        log(f"perfbench: the engine is not importable from {ROOT}: {e}")
        return 2

    foreign = foreign_spark_pids()
    if foreign:
        log(f"perfbench: other Spark/pytest processes are running ({foreign}); timings are contaminated")
    canary_before = host_canary(CANARY_ITERS)
    cpus = len(os.sched_getaffinity(0))

    world = str(ensure_dataset(DATA / f"world-{args.docs}-{args.seed}", n_docs=args.docs, seed=args.seed))
    pinned = json.loads(PINNED_PATH.read_text()).get(f"{args.workload}/{args.docs}/{args.seed}", {})
    st = RunState(args.workload, world, pinned, bad_changesets=bad_changesets(world))

    setups = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s = start_session(cpus, bool(args.trace))
        setups.append(s)
    jvm = spark.sparkContext._gateway.proc  # noqa: SLF001 — the JVM this process launched
    env = environment(args, cpus, spark, canary_before, foreign)

    layers: dict = {}
    intervals: dict = {}
    crashed = False
    try:
        measure(spark, st, args.seconds)
        if args.trace:
            layers, intervals = traced_windows(spark, st)
    except Exception:  # noqa: BLE001 — a failed iteration is a result, not a crash
        log(traceback.format_exc())
        crashed = True
    peak_rss = rss_high_water_mb([os.getpid(), jvm.pid])
    app_id = spark.sparkContext.applicationId
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()  # later Python GC sends no more commands to a JVM that is gone
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()

    env["host_canary_after_s"] = host_canary(CANARY_ITERS)
    print(json.dumps({"env": env}))
    print(json.dumps({"digests": st.reference}))

    its = st.iterations
    failed = sum(it.failed for it in its) + sum(w.failed for w in st.traced) + crashed
    attempted = len(its) + len(st.traced) + crashed
    if args.trace:
        from tracing import LAYER_METRICS, read_eventlog

        metrics = {}
        if layers:
            log_path = OUT / "eventlog" / app_id
            spans = read_eventlog(log_path, *intervals[False])
            layers |= {k: v for k, v in spans.items() if k.startswith("spark.")}
            execs = read_eventlog(log_path, *intervals[True])
            layers |= {k: v for k, v in execs.items() if not k.startswith("spark.")}
            layers["session.start_s"] = setups[0]
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
    elif its:
        metrics = {
            "setup_s": statistics.median(setups),
            "run_s": statistics.median(it.seconds for it in its),
            "changesets_per_s": statistics.median(it.changesets / it.seconds for it in its),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    else:
        metrics = {}

    for p in st.problems:
        log(f"perfbench: CHECK FAILED {p}")
    print(f"{'iteration':>9} {'window':>6} {'build_s':>9} {'sink_s':>9} {'commit_s':>9} {'total_s':>9}  ok")
    rows = [(str(i), w) for i, it in enumerate(its) for w in it.windows]
    rows += [(("untraced", "spans", "exec")[i], w) for i, w in enumerate(st.traced)]
    for i, w in rows:
        print(f"{i:>9} {w.name:>6} {w.build_s:9.3f} {w.sink_s:9.3f} {w.commit_s:9.3f} "
              f"{w.seconds:9.3f}  {not w.failed}")
    print(f"{len(its)} iteration(s), the first with a cold JIT; error rate {failed}/{max(attempted, 1)}")
    for k, v in metrics.items():
        print(f"{k:40s} {v['value']:14.4f} {v['unit']}")
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
