"""Per-layer tracing for the engine benchmark.

A ``Tracer`` replaces the names that ``osm_addr_bot_spark.pipeline``
(and the operator modules, for the geo helpers) look up at call time
with wrappers. Each wrapper records a span (layer, start, end, parent),
counts the Py4J commands sent while the call runs and labels the Spark
jobs it starts with a job group named after the layer. Spans stay in
memory; ``layer_metrics`` turns them into metrics once the traced
iteration ends, and ``read_eventlog`` sums task metrics per job group
from the Spark event log.

A tracer built with ``materialize=True`` also materializes the frame
each operator returns (``localCheckpoint``), which gives the layer's
execution time and output rows. That cuts the lineage, so the layers
downstream build smaller plans: build times come from a tracer without
materialization, execution from one with it, in two iterations.

Nothing here runs unless the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# layer -> names that osm_addr_bot_spark.pipeline looks up at call time
OPERATOR_LAYERS = {
    "operators.parse": ("parse_elements", "parse_media"),
    "checks.fanout": ("fan_out_checks",),
    "operators.gates": ("filter_should_not_discuss", "split_open_changesets", "apply_user_gates"),
    "operators.dedup": ("filter_priority",),
    "operators.duplicates": ("duplicates_stage",),
    "operators.place": ("place_not_in_area_stage", "place_mistype_stage"),
    "operators.streets": ("street_names_stage",),
    "operators.guilt": ("filter_guilty",),
    "operators.report": ("compose_reports",),
    "operators.tiles": ("assign_tiles", "raster_vector_overlap"),
}
OPERATOR_METRICS = (
    ("build_s", "s"),
    ("py4j_calls", "count"),
    ("exec_s", "s"),
    ("task_core_s", "s"),
    ("rows_out", "count"),
    ("shuffle_mb", "MB"),
)

# geo layer -> {operator module: names it imported from that geo module}
GEO_LAYERS = {
    "geo.hexgrid": {
        "parse": ("cell_expr",),
        "place": ("cell_expr", "with_cover"),
        "streets": ("cell_expr", "with_cover"),
        "duplicates": ("kring_expr",),
    },
    "geo.s2": {"parse": ("with_s2_cell",)},
    "geo.pip": {"place": ("point_in_ring", "polygons_with_cells")},
}

# every per-layer metric the traced run prints, with its unit
LAYER_METRICS = {
    **{f"{layer}.{m}": unit for layer in OPERATOR_LAYERS for m, unit in OPERATOR_METRICS},
    "pipeline.build_s": "s",
    "pipeline.exec_s": "s",
    "pipeline.py4j_calls": "count",
    "pipeline.dataframes": "count",
    "pipeline.post_stages.build_s": "s",
    "state.checkpoint.self_s": "s",
    "state.checkpoint.written_mb": "MB",
    "state.checkpoint.state_mb": "MB",
    "state.checkpoint.lineage_jobs": "count",
    "state.checkpoint.backlog_rows": "count",
    "geo.hexgrid.calls": "count",
    "geo.hexgrid.build_s": "s",
    "geo.s2.build_s": "s",
    "geo.pip.build_s": "s",
    "spark.jobs": "count",
    "spark.driver_gap_s": "s",
    "spark.gc_core_s": "s",
    "spark.spill_mb": "MB",
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "trace.remainder_s": "s",
}

MB = 1 << 20


@dataclass
class Span:
    layer: str
    name: str
    parent: int | None
    start: float
    ret: float = 0.0  # the wrapped call returned; materialization follows
    end: float = 0.0
    outer_s: float = 0.0  # the span plus the tracer's job-group calls around it
    py4j: int = 0  # commands sent during the call, children included
    dataframes: int = 0  # DataFrames created during the call, children included
    rows: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def exec_s(self) -> float:
        return self.end - self.ret


class Tracer:
    """Install with ``install(spark)``, run one iteration, ``uninstall()``."""

    def __init__(self, materialize: bool = False) -> None:
        self.materialize = materialize
        self.spans: list[Span] = []
        self.lineage_jobs = 0
        self._stack: list[int] = []
        self._py4j = 0
        self._dataframes = 0
        self._own = 0  # >0 while the tracer itself talks to the JVM
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._sc = None

    # ------------------------------------------------------------ install
    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self, spark) -> None:
        import importlib

        from pyspark.sql.classic.dataframe import DataFrame

        from osm_addr_bot_spark import pipeline
        from osm_addr_bot_spark.state import checkpoint

        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client  # noqa: SLF001

        def send_command(command, *a, _send=client.send_command, **kw):
            # py4j memory-management ("m") commands follow Python GC
            # timing; every other command is a deterministic round trip
            if not self._own and not command.startswith("m\n"):
                with self._lock:
                    self._py4j += 1
            return _send(command, *a, **kw)

        self._patch(client, "send_command", send_command)

        def df_init(df, *a, _init=DataFrame.__init__, **kw):
            if not self._own:
                with self._lock:
                    self._dataframes += 1
            _init(df, *a, **kw)

        self._patch(DataFrame, "__init__", df_init)

        for layer, names in OPERATOR_LAYERS.items():
            for name in names:
                self._patch(pipeline, name, self._wrap(layer, name, getattr(pipeline, name), True))
        self._patch(pipeline, "apply_post_stages",
                    self._wrap("pipeline.post_stages", "apply_post_stages", pipeline.apply_post_stages, False))
        self._patch(pipeline, "run_pipeline",
                    self._wrap("pipeline", "run_pipeline", pipeline.run_pipeline, False))
        for layer, modules in GEO_LAYERS.items():
            for mod_name, names in modules.items():
                mod = importlib.import_module(f"osm_addr_bot_spark.operators.{mod_name}")
                for name in names:
                    self._patch(mod, name, self._wrap(layer, name, getattr(mod, name), False))
        cls = checkpoint.StageRunner
        self._patch(cls, "run", self._wrap("state.checkpoint", "StageRunner.run", cls.run, False))
        cls = checkpoint.Checkpoint
        self._patch(cls, "commit", self._wrap("state.checkpoint", "Checkpoint.commit", cls.commit, False))
        self._patch(cls, "read_rescheduled",
                    self._wrap("state.checkpoint", "Checkpoint.read_rescheduled", cls.read_rescheduled, True))

        def partition_lineage(df, _orig=checkpoint.partition_lineage):
            self.lineage_jobs += 1
            return _orig(df)

        self._patch(checkpoint, "partition_lineage", partition_lineage)

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._undo):
            setattr(owner, name, old)
        self._undo.clear()

    # --------------------------------------------------------------- spans
    def _set_group(self, layer: str | None) -> None:
        self._own += 1
        try:
            if layer is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(layer, layer)
        finally:
            self._own -= 1

    def _materialize(self, result):
        """(result with each frame materialized, rows)."""
        from pyspark.sql import DataFrame

        frames = result if isinstance(result, tuple) else (result,)
        rows = 0
        self._own += 1
        try:
            done = []
            for df in frames:
                if isinstance(df, DataFrame):
                    df = df.localCheckpoint(eager=True)
                    rows += df.count()
                done.append(df)
        finally:
            self._own -= 1
        return (tuple(done) if isinstance(result, tuple) else done[0]), rows

    def _wrap(self, layer: str, name: str, fn, materialize: bool):
        # geo helpers only build Columns and plans: no jobs to label
        grouped = not layer.startswith("geo.")

        def traced(*a, **kw):
            t_outer = time.perf_counter()
            parent = self._stack[-1] if self._stack else None
            if grouped:
                self._set_group(layer)
            idx = len(self.spans)
            span = Span(layer, name, parent, time.perf_counter())
            self.spans.append(span)
            if parent is not None:
                self.spans[parent].children.append(idx)
            self._stack.append(idx)
            p0, d0 = self._py4j, self._dataframes
            try:
                result = fn(*a, **kw)
            finally:
                self._stack.pop()
                span.py4j = self._py4j - p0
                span.dataframes = self._dataframes - d0
                span.ret = time.perf_counter()
            if materialize and self.materialize and result is not None:
                result, span.rows = self._materialize(result)
            span.end = time.perf_counter()
            if grouped:
                self._set_group(self.spans[parent].layer if parent is not None else None)
            span.outer_s = time.perf_counter() - t_outer
            return result

        return traced

    # ------------------------------------------------------------- metrics
    def self_build_s(self, span: Span) -> float:
        """Driver time in the call that no child span (nor the tracer's
        own bookkeeping around it) covers."""
        return (span.ret - span.start) - sum(self.spans[c].outer_s for c in span.children)

    def self_py4j(self, span: Span) -> int:
        return span.py4j - sum(self.spans[c].py4j for c in span.children)

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.layer in OPERATOR_LAYERS:
                out[f"{s.layer}.build_s"] += self.self_build_s(s)
                out[f"{s.layer}.py4j_calls"] += self.self_py4j(s)
                out[f"{s.layer}.exec_s"] += s.exec_s
                out[f"{s.layer}.rows_out"] += s.rows
            elif s.layer == "pipeline":
                # the whole call minus the tracer's materializations
                out["pipeline.build_s"] += (s.ret - s.start) - self.traced_within(s)
                out["pipeline.py4j_calls"] += s.py4j
                out["pipeline.dataframes"] += s.dataframes
            elif s.layer == "pipeline.post_stages":
                out["pipeline.post_stages.build_s"] += self.self_build_s(s)
            elif s.layer == "state.checkpoint":
                out["state.checkpoint.self_s"] += self.self_build_s(s)
                if s.name == "Checkpoint.read_rescheduled":
                    out["state.checkpoint.backlog_rows"] += s.rows
            elif s.layer.startswith("geo."):
                out[f"{s.layer}.build_s"] += self.self_build_s(s)
                if s.layer == "geo.hexgrid":
                    out["geo.hexgrid.calls"] += 1
        out["state.checkpoint.lineage_jobs"] = self.lineage_jobs
        return dict(out)

    def traced_within(self, span: Span) -> float:
        """Time the tracer added inside ``span``'s call: materializations
        and job-group bookkeeping of every descendant."""
        total = 0.0
        for c in span.children:
            ch = self.spans[c]
            total += ch.exec_s + (ch.outer_s - (ch.end - ch.start)) + self.traced_within(ch)
        return total

    def accounted_s(self) -> float:
        """Self build plus execution over every span: the traced share
        of the iteration's wall time."""
        return sum(self.self_build_s(s) + s.exec_s for s in self.spans)


def read_eventlog(path, t0: float, t1: float) -> dict:
    """Sum task metrics per job group over the jobs submitted between
    epoch seconds ``t0`` and ``t1``; also the iteration's job count, GC
    and spill totals, and the wall time no job covered (driver gap)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"] / 1000,
                    "end": None,
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                acc = stage_tasks[e["Stage ID"]]
                acc["run_s"] += m.get("Executor Run Time", 0) / 1000
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000
                acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
                acc["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)

    ours = {j: v for j, v in jobs.items() if t0 <= v["submit"] <= t1}
    by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    totals = defaultdict(float)
    for sid, acc in stage_tasks.items():
        job = stage_job.get(sid)
        if job not in ours:
            continue
        g = by_group[ours[job]["group"]]
        for k, v in acc.items():
            g[k] += v
            totals[k] += v

    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((v["submit"], v["end"] or t1) for v in ours.values()):
        if cur_hi is None or lo > cur_hi:
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0

    out = {
        "spark.jobs": len(ours),
        "spark.driver_gap_s": max(0.0, (t1 - t0) - covered),
        "spark.gc_core_s": totals["gc_s"],
        "spark.spill_mb": totals["spill_b"] / MB,
    }
    for layer in OPERATOR_LAYERS:
        g = by_group.get(layer, {})
        out[f"{layer}.task_core_s"] = g.get("run_s", 0.0)
        out[f"{layer}.shuffle_mb"] = g.get("shuffle_b", 0.0) / MB
    return out
