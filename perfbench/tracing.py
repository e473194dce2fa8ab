"""Outside-in tracing for the traced run.

Spans are recorded around calls into the engine's public functions,
which ``install`` wraps before the query registry is imported (so names
the registry modules bind at import time are the wrapped ones). Jobs,
stages and tasks come from Spark's uncompressed event log; each job is
assigned to the deepest span open at its submission time. Job groups are
not used: ``concurrency.checkpoint_all`` submits from pool threads, which
do not inherit the client thread's group.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import math
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "sql_engine_triangle_spark"
OPERATOR_MODULES = ("dedup", "similarity", "tokenize", "multimodal", "graph", "merge")
PHASES = ("build", "plan", "exec")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. A span opened on a thread with no open span
    of its own (a pool thread) takes the client thread's innermost open
    span as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._client = threading.get_ident()

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks[tid] or self._stacks[self._client]
            parent = stack[-1] if stack else None
            s = Span(len(self.spans), name, layer, time.time(), math.nan, parent, self.op, attrs)
            self.spans.append(s)
            self._stacks[tid].append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stacks[tid].pop()

    def wrap(self, fn, name: str, layer: str, attrs=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer, **(attrs(args) if attrs else {})):
                return fn(*args, **kwargs)

        return traced


def _public_functions(mod) -> list[str]:
    return [
        k
        for k, v in vars(mod).items()
        if inspect.isfunction(v) and v.__module__ == mod.__name__ and not k.startswith("_")
    ]


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points and DataFrame materialization."""
    if f"{PKG}.queries.registry" in sys.modules:
        raise RuntimeError("install tracing before the query registry is imported")
    targets = [
        (f"{PKG}.catalog", "catalog", ["load_table"]),
        (f"{PKG}.concurrency", "concurrency", ["checkpoint_all", "scale_checkpoint"]),
    ]
    targets += [(f"{PKG}.operators.{m}", f"operators.{m}", None) for m in OPERATOR_MODULES]
    targets += [(f"{PKG}.sources.{m}", f"sources.{m}", None) for m in ("ingest", "maintenance")]
    swapped: dict[int, tuple] = {}
    for modname, layer, names in targets:
        mod = importlib.import_module(modname)
        for name in names or _public_functions(mod):
            fn = getattr(mod, name)
            attrs = (lambda args: {"frames": len(args)}) if name == "checkpoint_all" else None
            wrapped = tracer.wrap(fn, f"{layer}.{name}", layer, attrs)
            setattr(mod, name, wrapped)
            swapped[id(fn)] = (fn, wrapped)
    # Rebind names that modules imported so far bound with `from x import f`.
    for modname, mod in list(sys.modules.items()):
        if modname.startswith(PKG) and mod is not None:
            for k, v in list(vars(mod).items()):
                hit = swapped.get(id(v))
                if hit is not None and hit[0] is v:
                    setattr(mod, k, hit[1])
    from pyspark.sql.classic.dataframe import DataFrame

    for meth in ("localCheckpoint", "checkpoint"):
        setattr(DataFrame, meth, tracer.wrap(getattr(DataFrame, meth), f"DataFrame.{meth}", "materialize"))


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PY_SENT, PY_RECV = "data sent to Python workers", "data returned from Python workers"
TASK_FIELDS = ("task_s", "cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "rows_written", "bytes_to_python",
               "bytes_from_python", "rows_from_python")


@dataclass
class Job:
    id: int
    submit_ms: int
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    submitted: set[int] = field(default_factory=set)  # stage ids that ran
    stage_tasks: dict[int, int] = field(default_factory=lambda: defaultdict(int))
    stage_sums: dict[int, dict] = field(default_factory=lambda: defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0)))


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row metric of Python-evaluating nodes."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_SENT in metrics and "number of output rows" in metrics:
        out.add(metrics["number of output rows"])
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def event_log_files(path: str) -> list[str]:
    """The event files of one application, in order (rolling or single)."""
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    py_rows: set[int] = set()
    tasks: list[dict] = []
    for fname in event_log_files(path):
        with open(fname) as f:
            for line in f:
                head = line[:80]
                if "SparkListenerJobStart" in head:
                    e = json.loads(line)
                    log.jobs.append(Job(e["Job ID"], e["Submission Time"], e["Stage IDs"]))
                elif "SparkListenerStageSubmitted" in head:
                    log.submitted.add(json.loads(line)["Stage Info"]["Stage ID"])
                elif "SparkListenerTaskEnd" in head:
                    tasks.append(json.loads(line))
                elif ("SQLExecutionStart" in head or "SQLAdaptiveExecutionUpdate" in head) and PY_SENT in line:
                    _python_row_accumulators(json.loads(line)["sparkPlanInfo"], py_rows)
    for e in tasks:
        sid, info, m = e["Stage ID"], e["Task Info"], e.get("Task Metrics") or {}
        sums = log.stage_sums[sid]
        log.stage_tasks[sid] += 1
        sums["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1e3
        sums["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sums["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sums["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics", {})
        sums["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sums["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sums["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sums["rows_written"] += m.get("Output Metrics", {}).get("Records Written", 0)
        for acc in info.get("Accumulables", []):
            try:  # SQL metrics carry their update as a string
                upd = float(acc["Update"])
            except (KeyError, TypeError, ValueError):
                continue
            name = acc.get("Name")
            if name == PY_SENT:
                sums["bytes_to_python"] += upd
            elif name == PY_RECV:
                sums["bytes_from_python"] += upd
            elif acc.get("ID") in py_rows:
                sums["rows_from_python"] += upd
    return log


# ---------------------------------------------------------------------------
# Span arithmetic and attribution
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of it that child spans (possibly concurrent) cover."""
    clipped = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.dur - union_length([(a, b) for a, b in clipped if b > a])


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, int]:
    """job id -> id of the deepest span open at the job's submission
    (the later-started one on ties); jobs outside every span are left out."""
    depth: dict[int, int] = {}
    for s in spans:  # parents precede children in the list
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    out: dict[int, int] = {}
    for j in jobs:
        best = None
        for s in spans:
            if math.floor(s.start * 1e3) <= j.submit_ms <= math.ceil(s.end * 1e3):
                key = (depth[s.id], s.start)
                if best is None or key > best[0]:
                    best = (key, s.id)
        if best is not None:
            out[j.id] = best[1]
    return out


def chain_layers(spans: list[Span]) -> list[set[str]]:
    """For each span, the layers of itself and all its ancestors."""
    out: list[set[str]] = []
    for s in spans:
        layers = {s.layer} | (out[s.parent] if s.parent is not None else set())
        out.append(layers)
    return out


def reconcile_gap(op: Span, children: list[Span]) -> float:
    """|op wall - (build + plan + exec)| as a share of the op wall."""
    phases = sum(c.dur for c in children if c.layer in PHASES)
    return abs(op.dur - phases) / op.dur if op.dur > 0 else 0.0


def layer_metrics(spans: list[Span], log: EventLog, cores: int, passes: int) -> dict[str, float]:
    """Per-pass layer metrics from the traced passes' spans and the event log."""
    kids = children_of(spans)
    layers = chain_layers(spans)
    owner = attribute_jobs(spans, log.jobs)

    def jobs_in(layer: str) -> list[Job]:
        return [j for j in log.jobs if j.id in owner and layer in layers[owner[j.id]]]

    def job_sums(jobs: list[Job]) -> dict[str, float]:
        tot = dict.fromkeys(TASK_FIELDS, 0.0)
        tot.update(jobs=len(jobs), stages=0, stages_skipped=0, tasks=0)
        for j in jobs:
            for sid in j.stages:
                if sid in log.submitted:
                    tot["stages"] += 1
                    tot["tasks"] += log.stage_tasks.get(sid, 0)
                    for k, v in log.stage_sums.get(sid, {}).items():
                        tot[k] += v
                else:
                    tot["stages_skipped"] += 1
        return tot

    def of(layer: str) -> list[Span]:
        return [s for s in spans if s.layer == layer]

    def per_pass(x: float) -> float:
        return x / passes

    op_wall = sum(s.dur for s in of("op"))
    m: dict[str, float] = {}

    build_s = sum(s.dur for s in of("build"))
    b = job_sums(jobs_in("build"))
    m["build.s"] = per_pass(build_s)
    m["build.share"] = build_s / op_wall if op_wall else 0.0
    for k in ("jobs", "stages", "tasks"):
        m[f"build.{k}"] = per_pass(b[k])
    m["build.busy_frac"] = b["task_s"] / (build_s * cores) if build_s else 0.0

    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_ms"] = per_pass(sum(s.attrs.get(f"{phase}_ms", 0) for s in of("plan")))

    exec_s = sum(s.dur for s in of("exec"))
    x = job_sums(jobs_in("exec"))
    m["exec.s"] = per_pass(exec_s)
    for k in ("jobs", "stages", "stages_skipped", "tasks"):
        m[f"exec.{k}"] = per_pass(x[k])
    m["exec.busy_frac"] = x["task_s"] / (exec_s * cores) if exec_s else 0.0
    for k in ("cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = per_pass(x[k])

    loads = [s for s in spans if s.name == "catalog.load_table"]
    m["catalog.load_table_calls"] = per_pass(len(loads))
    m["catalog.load_table_s"] = per_pass(sum(s.dur for s in loads))
    m["catalog.jobs"] = per_pass(len(jobs_in("catalog")))

    ck_all = [s for s in spans if s.name == "concurrency.checkpoint_all"]
    outer = [s for s in of("concurrency") if s.parent is None or "concurrency" not in layers[s.parent]]
    ck_wall = sum(s.dur for s in ck_all)
    m["concurrency.checkpoint_all_calls"] = per_pass(len(ck_all))
    m["concurrency.frames"] = per_pass(sum(s.attrs.get("frames", 0) for s in ck_all))
    m["concurrency.disk_only_frames"] = per_pass(
        sum(1 for s in spans if s.name == "concurrency.scale_checkpoint")
    )
    m["concurrency.checkpoint_s"] = per_pass(sum(s.dur for s in outer))
    m["concurrency.overlap"] = (
        sum(c.dur for s in ck_all for c in kids[s.id]) / ck_wall if ck_wall else 0.0
    )

    ops = job_sums(jobs_in("op"))
    m["arrow.bytes_to_python"] = per_pass(ops["bytes_to_python"])
    m["arrow.bytes_from_python"] = per_pass(ops["bytes_from_python"])
    m["arrow.rows_from_python"] = per_pass(ops["rows_from_python"])

    for mod in OPERATOR_MODULES:
        mine = of(f"operators.{mod}")
        m[f"operators.{mod}.calls"] = per_pass(len(mine))
        m[f"operators.{mod}.s"] = per_pass(sum(self_time(s, kids[s.id]) for s in mine))
    for mod in ("ingest", "maintenance"):
        m[f"sources.{mod}.s"] = per_pass(sum(self_time(s, kids[s.id]) for s in of(f"sources.{mod}")))
    m["sources.rows_written"] = per_pass(ops["rows_written"])

    m["trace.reconcile_gap_frac"] = max(
        (reconcile_gap(s, kids[s.id]) for s in of("op")), default=0.0
    )
    return m
