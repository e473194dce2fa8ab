"""The tail-percentile rule and the metric-name rules."""

import json
import math
import os

import pytest

import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_p90_needs_ten_samples_beyond_it():
    assert stats.beyond(list(range(100)), 0.9) == 10
    assert stats.tail_supported(list(range(100)), 0.9)
    assert stats.beyond(list(range(99)), 0.9) == 9
    assert not stats.tail_supported(list(range(99)), 0.9)
    assert not stats.tail_supported([], 0.9)


def test_incomplete_beta_matches_the_binomial_tail():
    # For whole a, b: I_x(a, b) = P(Binomial(a + b - 1, x) >= a).
    for a, b, x in ((4, 4, 0.3), (2, 9, 0.1), (12, 12, 0.7), (1, 1, 0.25), (21, 3, 0.95)):
        n = a + b - 1
        tail = sum(math.comb(n, j) * x**j * (1 - x) ** (n - j) for j in range(a, n + 1))
        assert stats.betainc(a, b, x) == pytest.approx(tail, rel=1e-9, abs=1e-12)
    assert stats.betainc(0.5, 0.5, 0.5) == pytest.approx(0.5)


def test_harrell_davis_quantiles():
    assert stats.harrell_davis([5.0] * 4, 0.5) == pytest.approx(5.0)
    assert stats.harrell_davis([float(x) for x in range(101)], 0.5) == pytest.approx(50.0)
    xs = [0.1, 0.7, 0.85, 1.1, 1.3, 3.0, 3.0]
    assert 1.1 < stats.harrell_davis(xs, 0.5) < 1.3
    assert stats.harrell_davis(xs, 0.5) < stats.harrell_davis(xs, 0.9) <= 3.0
    # two ops near the median trading places move it little
    ys = [0.1, 0.7, 0.85, 1.0, 1.4, 3.0, 3.0]
    assert abs(stats.harrell_davis(xs, 0.5) - stats.harrell_davis(ys, 0.5)) < 0.02
    with pytest.raises(ValueError):
        stats.harrell_davis([], 0.5)


def test_every_metric_name_matches_the_regex():
    stats.check_metric_names({**run.E2E_METRICS, **run.LAYER_METRICS})
    for bad in ("op p50", "op/p50", "", "x" * 65, "build:s"):
        with pytest.raises(ValueError):
            stats.check_metric_names({bad: 1})


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
