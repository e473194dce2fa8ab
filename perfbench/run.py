"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 20 --trace 0

Run it from the repository root. Spark starts its Python workers in the
driver JVM's working directory, and the Arrow-UDF entries need the
engine package importable from there, so a run from any other directory
is refused rather than patched over with PYTHONPATH.

One run: start a JVM on local[<cores>] (one per run), generate the
workload's inputs from the seed, set up the session and catalog several
times (``setup_s`` is the median), run one untimed warm-up pass, then
passes of checked operations from one closed-loop client until
``--seconds`` have gone by. ``--trace 1`` alternates untraced and traced
passes and prints the per-layer metrics instead of the end-to-end ones.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import stats
import tracing

STARTED = time.perf_counter()

E2E_METRICS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
}
LAYER_METRICS = {
    "session.start_s": "s",
    "jvm_peak_rss_mb": "MB",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.jobs": "count",
    "build.s": "s",
    "build.share": "fraction",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.busy_frac": "fraction",
    "concurrency.checkpoint_all_calls": "count",
    "concurrency.frames": "count",
    "concurrency.disk_only_frames": "count",
    "concurrency.checkpoint_s": "s",
    "concurrency.overlap": "ratio",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.busy_frac": "fraction",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.rows_from_python": "count",
    **{
        f"operators.{m}.{k}": u
        for m in ("dedup", "similarity", "tokenize", "multimodal", "graph", "merge")
        for k, u in (("calls", "count"), ("s", "s"))
    },
    "sources.ingest.s": "s",
    "sources.maintenance.s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.rows_written": "count",
    "sources.bad_rows": "count",
    "sources.ingest_rows_per_s": "1/s",
    "sources.write_amp": "ratio",
    "tracing.overhead_frac": "fraction",
    "trace.reconcile_gap_frac": "fraction",
}
SETUPS = 3
WORK = ".perfbench_work"
OUT = ".perfbench_out"


@dataclass
class Sample:
    name: str
    seconds: float
    error: str | None
    traced: bool
    check_seconds: float = 0.0


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A heap well below physical RAM (the session's default is 16g)."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(4096, phys_mb // 3)}m"


def descendants(pid: int) -> list[int]:
    """Live descendant process ids of ``pid``, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class Engine:
    """The run's Spark driver: one JVM, in which sessions start and stop."""

    def __init__(self, work: str, event_dir: str | None):
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
        }
        if event_dir:
            os.makedirs(event_dir)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self):
        from sql_engine_triangle_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def release_persisted(self) -> None:
        """Blocking unpersist of every persisted RDD (no Python gc poke)."""
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)

    def reset_peak_rss(self) -> None:
        with open(f"/proc/{self.jvm_pid}/clear_refs", "w") as f:
            f.write("5")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the driver JVM")

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        run started (JVM, Python workers) has ended."""
        from pyspark import SparkContext

        procs = descendants(os.getpid())
        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            if getattr(gateway, "proc", None) is not None:
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
            time.sleep(0.1)
        for p in procs:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def plan_phases(df) -> dict:
    """Force Catalyst planning of ``df`` and read its phase durations."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            out[f"{p}_ms"] = opt.get().durationMs()
    return out


def run_op(engine: Engine, op, tracer=None, op_id: int = 0, check: bool = True) -> Sample:
    engine.release_persisted()
    out, err = None, None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = op.execute(op.build())
        else:
            tracer.op, tracer.enabled = op_id, True
            try:
                with tracer.span(op.name, "op"):
                    with tracer.span("build", "build"):
                        obj = op.build()
                    if op.plannable:
                        with tracer.span("plan", "plan") as s:
                            s.attrs.update(plan_phases(obj))
                    with tracer.span("exec", "exec"):
                        out = op.execute(obj)
            finally:
                tracer.enabled = False
    except Exception as e:  # one failed op must not end the run
        err = f"{type(e).__name__}: {e}"
        traceback.print_exc()
    dt = time.perf_counter() - t0
    if err is None and check:
        try:
            err = op.check(out)
        except Exception as e:
            err = f"check raised {type(e).__name__}: {e}"
            traceback.print_exc()
    return Sample(op.name, dt, err, tracer is not None, time.perf_counter() - t0 - dt)


def run(args, tracer) -> dict:
    import workloads

    cores = host_cores()
    work = os.path.abspath(WORK)
    engine = Engine(work, os.path.join(work, "eventlog") if tracer else None)
    wl = workloads.make(args.workload, work, args.seed)
    phase = {"start": time.perf_counter()}
    try:
        engine.start()
        wl.prepare(engine.spark)
        phase["prepare"] = time.perf_counter()

        from sql_engine_triangle_spark.catalog import load_table

        setups, starts = [], []
        for _ in range(SETUPS):
            engine.stop()
            t0 = time.perf_counter()
            engine.start()
            t1 = time.perf_counter()
            for t in wl.tables:
                load_table(engine.spark, wl.sf_dir, t).count()
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)

        phase["setup"] = time.perf_counter()
        for op in wl.pass_ops(engine.spark, 0):  # untimed warm-up, one op per entry
            run_op(engine, op, check=False)
        wl.end_pass(0)
        wl.ready()  # nothing of the set-up may still run while ops are timed
        phase["warmup"] = time.perf_counter()

        engine.reset_peak_rss()
        samples, pass_stats, k = [], [], 1
        t_start = time.perf_counter()
        while True:
            # Traced passes come first, so later warming can only inflate
            # tracing.overhead_frac, never hide overhead.
            traced = tracer is not None and k % 2 == 1
            for i, op in enumerate(wl.pass_ops(engine.spark, k)):
                samples.append(run_op(engine, op, tracer if traced else None, op_id=k * 1000 + i))
            pass_stats.append((traced, wl.end_pass(k)))
            elapsed = time.perf_counter() - t_start
            enough = elapsed + 0.5 * elapsed / k >= args.seconds
            if enough and (tracer is None or k % 2 == 0):
                break
            k += 1
        peak_rss = engine.peak_rss_mb()
        app_id = engine.spark.sparkContext.applicationId
        phase["measure"] = time.perf_counter()
    finally:
        engine.close()
        wl.ready()
    phase["close"] = time.perf_counter()
    names = list(phase)
    print("# phases_s " + " ".join(
        f"{b}={phase[b] - phase[a]:.1f}" for a, b in zip(names, names[1:])
    ))

    for s in samples:
        if s.error:
            print(f"FAILED workload={args.workload} seed={args.seed} op={s.name}: {s.error}",
                  file=sys.stderr)
    failed = sum(1 for s in samples if s.error)
    result = {"correct": failed == 0, "attempted": len(samples), "failed": failed}
    if tracer is None:
        metrics = end_to_end(samples, setups)
        extra = {"jvm_peak_rss_mb": peak_rss, **ingest_figures(wl, samples, pass_stats)}
        print("# " + " ".join(f"{k}={v:.6g}" for k, v in extra.items()))
    else:
        metrics = per_layer(args, wl, tracer, samples, pass_stats, starts, cores, work, app_id)
        metrics["jvm_peak_rss_mb"] = peak_rss
    stats.check_metric_names(metrics)
    units = E2E_METRICS if tracer is None else LAYER_METRICS
    result["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    return result


def end_to_end(samples: list[Sample], setups: list[float]) -> dict:
    times = [s.seconds for s in samples]
    ok = sum(1 for s in samples if not s.error)
    print(
        f"# samples={len(times)} beyond_p90={stats.beyond(times, 0.9)} "
        f"p90_supported={stats.tail_supported(times, 0.9)} setups={len(setups)} "
        f"check_s={sum(s.check_seconds for s in samples):.1f}"
    )
    print("# op_s " + " ".join(f"{s.name}={s.seconds:.3f}" for s in samples))
    return {
        "setup_s": stats.median(setups),
        "op_p50_s": stats.harrell_davis(times, 0.5),
        "op_p90_s": stats.harrell_davis(times, 0.9),
        "ops_per_s": ok / sum(times),
    }


def ingest_figures(wl, samples: list[Sample], pass_stats) -> dict:
    """Rows ingested per second (median ingest step) and bytes written per
    input CSV byte, for the ingest workload; empty for the others."""
    ingest = [s.seconds for s in samples if s.name == "ingest" and not s.traced]
    if not ingest:
        return {}
    written = [st["bytes_written"] for _, st in pass_stats]
    return {
        "ingest_rows_per_s": wl.rows_read / statistics.median(ingest),
        "write_amp": statistics.median(written) / wl.csv_bytes,
    }


def per_layer(args, wl, tracer, samples, pass_stats, starts, cores, work, app_id) -> dict:
    traced_passes = sum(1 for t, _ in pass_stats if t)
    log_path = next(
        os.path.join(work, "eventlog", n)
        for n in os.listdir(os.path.join(work, "eventlog"))
        if app_id in n
    )
    log = tracing.read_event_log(log_path)
    spans = tracer.spans
    m = tracing.layer_metrics(spans, log, cores, traced_passes)
    m["session.start_s"] = statistics.median(starts)
    untraced = sum(s.seconds for s in samples if not s.traced)
    traced = sum(s.seconds for s in samples if s.traced)
    m["tracing.overhead_frac"] = traced / untraced - 1
    figures = ingest_figures(wl, samples, pass_stats)
    traced_stats = [st for t, st in pass_stats if t]
    m["sources.bytes_written"] = statistics.mean(st.get("bytes_written", 0) for st in traced_stats)
    m["sources.files_written"] = statistics.mean(st.get("files_written", 0) for st in traced_stats)
    m["sources.bad_rows"] = getattr(wl, "bad_rows", 0)
    m["sources.ingest_rows_per_s"] = figures.get("ingest_rows_per_s", 0.0)
    m["sources.write_amp"] = figures.get("write_amp", 0.0)
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
        json.dump(
            {
                "spans": [s.__dict__ for s in spans],
                "job_span": tracing.attribute_jobs(spans, log.jobs),
            },
            f,
        )
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "sql_engine_triangle_spark")):
        print(
            "perfbench: the engine package is not in the working directory; run from the "
            "repository root (Spark's Python workers import it from the JVM's cwd)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    os.makedirs(OUT, exist_ok=True)
    lock = open(os.path.join(OUT, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run is using this checkout's work directory", file=sys.stderr)
        return 3
    work = os.path.abspath(WORK)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = host_cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    try:
        result = run(args, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        lock.close()
    print(f"# total_s={time.perf_counter() - STARTED:.1f}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
