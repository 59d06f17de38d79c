"""Self-tests for the benchmark: seeded generators, the percentile rule,
span self time, and the metric names the runner emits against
BENCHMARK.json.  Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from measure import CpuMeter, Span, Tracer, tail_percentile  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_deterministic_per_seed():
    for make in (
        lambda s: gen.lineitem(s, 5_000),
        lambda s: gen.accounts(s, 5_000),
        lambda s: gen.update_batch(s, 3, 5_000, 0.05),
    ):
        assert make(7).equals(make(7))
        assert not make(7).equals(make(8))


def test_update_batch_is_a_fixed_fraction_of_distinct_keys():
    b = gen.update_batch(1, 0, 10_000, 0.05)
    keys = b["k"].to_pylist()
    assert len(keys) == len(set(keys)) == 500
    assert set(b["version"].to_pylist()) == {1}


def test_tail_percentile_rule():
    # >= 100 samples: nearest-rank p90, with exactly ten beyond at n=100.
    assert tail_percentile(list(range(100))) == (89, 0.9)
    assert tail_percentile(list(range(200))) == (179, 0.9)
    # 21..99 samples: the 11th largest, so ten samples lie beyond it.
    value, level = tail_percentile(list(range(50)))
    assert value == 39 and math.isclose(level, 40 / 50)
    for n in range(21, 300):
        value, level = tail_percentile(list(range(n)))
        assert n - 1 - value >= 10
        assert value == (n - 11 if n < 100 else math.ceil(0.9 * n) - 1)
    # Fewer than 21: nothing above the median has ten beyond it.
    assert tail_percentile([3.0, 1.0, 2.0]) == (2.0, 0.5)
    assert tail_percentile(list(range(20))) == (9.5, 0.5)


def test_self_time_subtracts_child_coverage():
    t = Tracer()
    t.spans = [
        Span("op", 0, None, 0.0, 10.0),
        Span("a", 0, 0, 1.0, 4.0),
        Span("b", 0, 0, 3.0, 6.0),  # overlaps a: covered once
        Span("c", 0, 1, 1.5, 2.0),  # grandchild: not op's direct child
    ]
    assert t.self_time(0) == 5.0
    assert t.self_time(1) == 2.5


def test_cpu_meter_counts_this_process():
    meter = CpuMeter([os.getpid()])
    start = meter.read()
    deadline = time.process_time() + 0.2
    while time.process_time() < deadline:
        pass
    assert 0.1 <= meter.since(start) <= 1.0


def _fake_loop() -> SimpleNamespace:
    t = Tracer()
    ops = []
    for i, traced in enumerate((True, False)):
        t.op = i
        if traced:
            with t.span("io.export") as s:
                s.counts = {"bytes": 100, "batches": 2}
        ops.append({"id": i, "shape": "full", "wall": 0.5, "cpu": 1.0, "ok": True,
                    "rows": 10, "traced": traced, "jobs": 2, "tasks": 4})
    return SimpleNamespace(ops=ops, tracer=t, rounds=lambda: [[o] for o in ops])


def test_emitted_metric_names_match_benchmark_json():
    spec = _spec()
    loop = _fake_loop()
    for mode, metrics, units in (
        ("end_to_end", run.end_to_end(loop, 1.0, 100.0), run.END_TO_END),
        ("per_layer", run.per_layer(loop, 1.0), run.PER_LAYER),
    ):
        out = run.result(metrics, units, loop.ops)["metrics"]
        want = {m["name"]: m["unit"] for m in spec[mode]}
        assert {k: v["unit"] for k, v in out.items()} == want


def test_workload_names_match_benchmark_json():
    import workloads

    names = [w["name"] for w in _spec()["workloads"]]
    assert names == list(workloads.WORKLOADS)
