"""Tests of the benchmark's own code; no Spark session needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import core, run  # noqa: E402
from perfbench.ticks import BATCHES_PER_DAY, HISTORY_DAYS, TickGen  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        core.percentile(range(99), 90)
    assert core.percentile(range(100), 90) == 89
    with pytest.raises(ValueError):
        core.percentile(range(19), 50)
    assert core.percentile(range(20), 50) == 9
    with pytest.raises(ValueError):
        core.percentile(range(1000), 100)


def test_median_takes_any_sample_count():
    assert core.median([3.0]) == 3.0
    assert core.median([1.0, 4.0]) == 2.5
    with pytest.raises(ValueError):
        core.median([])


def test_geomean_weighs_each_value_alike():
    assert core.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert core.geomean([0.5]) == pytest.approx(0.5)
    for bad in ([], [1.0, 0.0]):
        with pytest.raises(ValueError):
            core.geomean(bad)


def _span(i, name, start, end, parent=None):
    return core.Span(i, name, start, end, parent, "r", {})


def test_self_time_merges_and_clips_children():
    parent = _span(0, "bench.pass", 0.0, 10.0)
    kids = [
        _span(1, "plans.construct", 1.0, 3.0, 0),
        _span(2, "plans.construct", 2.0, 5.0, 0),  # overlaps the first
        _span(3, "exec.execute", 8.0, 12.0, 0),  # runs past the parent
    ]
    assert core.self_time(parent, kids) == pytest.approx(4.0)
    assert core.self_time(parent, []) == pytest.approx(10.0)


def test_layer_self_times_sum_to_root_duration():
    tracer = core.Tracer("r", True)
    tracer.spans = [
        _span(0, "bench.pass", 0.0, 10.0),
        _span(1, "plans.construct", 1.0, 4.0, 0),
        _span(2, "exec.execute", 4.0, 9.0, 0),
        _span(3, "exec.collect", 5.0, 6.0, 2),
    ]
    layers = core.layer_self_times(tracer)
    assert layers == pytest.approx({"bench": 2.0, "plans": 3.0, "exec": 5.0})
    assert sum(layers.values()) == pytest.approx(10.0)


def test_tracer_disabled_records_nothing():
    tracer = core.Tracer("r", False)
    with tracer.span("bench.pass") as s:
        assert s is None
    assert tracer.spans == []


@pytest.mark.parametrize("name", ["setup_s", "exec.task_cpu_s", "plans.construct_s.graph_kcore", "a-b.c_9"])
def test_metric_name_valid(name):
    assert core.check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", ".lead", "x/y", "é", "a" * 65])
def test_metric_name_invalid(name):
    with pytest.raises(ValueError):
        core.check_metric_name(name)


def test_declared_metrics_valid_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == run.per_layer()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    for name in [*e2e, *layers, *run.WORKLOADS]:
        core.check_metric_name(name)


def test_tick_generator_is_deterministic_per_seed():
    a, b, c = TickGen(7), TickGen(7), TickGen(8)
    for x, y in zip(a.day(3), b.day(3)):
        np.testing.assert_array_equal(x, y)
    assert not np.array_equal(a.day(3)[0], c.day(3)[0])
    ts = a.days(0, 3)[0]
    assert (np.diff(ts) >= 0).all()
    assert ts[0] >= 0 and ts[-1] < 3 * 86_400_000_000


def test_tick_batches_tile_the_day_after_history():
    gen = TickGen(5)
    parts = [gen.batch(k)[0] for k in range(BATCHES_PER_DAY)]
    np.testing.assert_array_equal(np.concatenate(parts), gen.day(HISTORY_DAYS)[0])


@pytest.mark.parametrize(
    "value, want",
    [
        ("10,000", 10_000),
        ("1.8 s", 1.8),
        ("288 ms", 0.288),
        ("215.9 KiB", 215.9 * 1024),
        ("total (min, med, max (stageId: taskId))\n2.0 s (0.1 s, 0.5 s, 1.0 s (stage 3.0: task 7))", 2.0),
    ],
)
def test_parse_sql_metric(value, want):
    assert core.parse_sql_metric(value) == pytest.approx(want)
