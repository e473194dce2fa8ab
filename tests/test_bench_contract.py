"""Bench-harness contract guards (no Spark session needed): every
benched name resolves to exactly one cohort, and every benched name
is a registry entry — a renamed registry entry must fail here, not
silently drop out of the battery.
"""

from __future__ import annotations

import importlib.util
import sys

from sql_engine_triangle_spark.queries import registry


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def test_bench_names_partition_into_cohorts():
    bench = _load_bench()
    names = bench._bench_names()
    assert names, "empty bench battery"
    for n in names:
        assert bench._cohort_of(n) in bench.COHORT_ORDER, n


def test_every_benched_name_is_registered_or_bare():
    bench = _load_bench()
    known = set(registry.names())
    missing = [n for n in bench.HEADLINE + bench.EXTRA if n not in known]
    assert not missing, missing


def test_headline_and_extra_have_no_duplicates():
    bench = _load_bench()
    names = bench.HEADLINE + bench.EXTRA
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, dupes


def test_drift_flagging_requires_both_bounds():
    """Solo reconciliation (VERDICT r7 #2) fires only past BOTH the
    ±30% relative and 0.5 s absolute bounds: sub-second noise and
    slow-entry percentage variance must not trigger JVM spins."""
    bench = _load_bench()
    prev = {"fast": 0.2, "slow": 10.0, "real": 4.85, "gone": 1.0}
    cur = {"fast": 0.45, "slow": 11.0, "real": 9.46, "new": 2.0}
    # fast: +0.25 s = +125% but under the absolute bound -> no flag.
    # slow: +1.0 s but +10% relative -> no flag.
    # real: +4.61 s, +95% -> flag (the r7 dedup_cluster_size_hist case).
    # gone/new: not common -> never flagged.
    assert bench._drift_flagged(prev, cur) == ["real"]
