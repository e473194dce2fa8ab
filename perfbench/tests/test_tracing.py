"""Span self time, job-to-span attribution, event-log sums and the
build + plan + exec reconciliation."""

import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import tracing
from tracing import Job, Span


def span(i, start, end, parent=None, layer="x", name="s"):
    return Span(i, name, layer, start, end, parent, None)


def test_self_time_subtracts_the_union_of_children():
    parent = span(0, 0.0, 10.0)
    kids = [span(1, 1.0, 4.0, 0), span(2, 3.0, 6.0, 0), span(3, 8.0, 12.0, 0)]
    # children cover [1, 6] and [8, 10]
    assert tracing.self_time(parent, kids) == 10.0 - 5.0 - 2.0
    assert tracing.self_time(parent, []) == 10.0


def test_pool_thread_spans_hang_under_the_client_span():
    t = tracing.Tracer()
    with t.span("checkpoint_all", "concurrency"):
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(lambda _: t.span("ckpt", "materialize").__enter__(), range(3)))
    outer = t.spans[0]
    assert [s.parent for s in t.spans[1:]] == [outer.id] * 3


def test_jobs_go_to_the_deepest_open_span_by_submission_time():
    spans = [
        span(0, 100.0, 110.0, layer="op"),
        span(1, 100.0, 108.0, 0, layer="build"),
        span(2, 101.0, 105.0, 1, layer="concurrency"),
        # two concurrent pool-thread checkpoints under checkpoint_all
        span(3, 101.5, 103.0, 2, layer="materialize"),
        span(4, 101.6, 104.5, 2, layer="materialize"),
        span(5, 108.0, 110.0, 0, layer="exec"),
    ]
    jobs = [
        Job(0, 100_500, [0]),  # build, before the checkpoints
        Job(1, 102_000, [1]),  # inside both pool spans: the later-started one
        Job(2, 104_000, [2]),  # inside span 4 only
        Job(3, 109_000, [3]),  # exec
        Job(4, 120_000, [4]),  # outside every span
    ]
    owner = tracing.attribute_jobs(spans, jobs)
    assert owner == {0: 1, 1: 4, 2: 4, 3: 5}
    layers = tracing.chain_layers(spans)
    assert {"op", "build", "concurrency", "materialize"} <= layers[owner[2]]


def test_build_plan_exec_reconcile_with_op_wall():
    t = tracing.Tracer()
    with t.span("q", "op"):
        for phase, secs in (("build", 0.03), ("plan", 0.01), ("exec", 0.02)):
            with t.span(phase, phase):
                time.sleep(secs)
    op = t.spans[0]
    kids = tracing.children_of(t.spans)[op.id]
    assert tracing.reconcile_gap(op, kids) < 0.10
    # a missing phase shows as a gap
    assert tracing.reconcile_gap(op, kids[:1]) > 0.10


def _event(name, **kw):
    return json.dumps({"Event": name, **kw}) + "\n"


def test_event_log_sums_per_stage(tmp_path):
    plan = {
        "nodeName": "Project", "metrics": [],
        "children": [{
            "nodeName": "ArrowEvalPython", "children": [],
            "metrics": [
                {"name": "data sent to Python workers", "accumulatorId": 7},
                {"name": "number of output rows", "accumulatorId": 8},
            ],
        }],
    }
    task = {
        "Stage ID": 1,
        "Task Info": {
            "Launch Time": 1000, "Finish Time": 1500,
            "Accumulables": [
                {"ID": 7, "Name": "data sent to Python workers", "Update": "100"},
                {"ID": 9, "Name": "data returned from Python workers", "Update": "40"},
                {"ID": 8, "Name": "number of output rows", "Update": "5"},
                {"ID": 10, "Name": "number of output rows", "Update": "999"},
                {"ID": 11, "Name": "data sent to Python workers", "Value": "7"},
            ],
        },
        "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
            "Input Metrics": {"Bytes Read": 64},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
            "Disk Bytes Spilled": 4, "Output Metrics": {"Records Written": 6},
        },
    }
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text(
        _event("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", sparkPlanInfo=plan)
        + _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 900, "Stage IDs": [1, 2]})
        + _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}})
    )
    (d / "events_2_app").write_text(_event("SparkListenerTaskEnd", **task) * 2)
    log = tracing.read_event_log(str(d))
    assert [j.id for j in log.jobs] == [0] and log.submitted == {1}
    assert log.stage_tasks[1] == 2
    s = log.stage_sums[1]
    assert s["task_s"] == 1.0 and s["cpu_s"] == 4.0 and s["gc_s"] == 0.2
    assert s["shuffle_read_bytes"] == 6 and s["rows_written"] == 12
    assert (s["bytes_to_python"], s["bytes_from_python"], s["rows_from_python"]) == (200, 80, 10)

    spans = [span(0, 0.5, 2.0, layer="op"), span(1, 0.5, 2.0, 0, layer="exec")]
    m = tracing.layer_metrics(spans, log, cores=1, passes=1)
    assert m["exec.jobs"] == 1 and m["exec.stages"] == 1 and m["exec.stages_skipped"] == 1
    assert m["exec.tasks"] == 2 and m["arrow.rows_from_python"] == 10


def test_wrapped_functions_record_only_when_enabled():
    t = tracing.Tracer()
    f = t.wrap(lambda *a: len(a), "mod.f", "operators.dedup", lambda args: {"frames": len(args)})
    assert f(1, 2) == 2 and t.spans == []
    t.enabled = True
    assert f(1, 2, 3) == 3
    assert [(s.name, s.attrs) for s in t.spans] == [("mod.f", {"frames": 3})]
    assert threading.get_ident() in t._stacks
