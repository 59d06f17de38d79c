"""Budget guard for bench.py's driver-facing JSON line.

The driver keeps only the LAST ~2000 chars of bench stdout and parses the
JSON line out of it; at 134 registry entries the 4dp line measured 1.86 KB
-- one growth round from truncating (BENCH_r01..r03 shipped parsed:null
exactly this way).  Render the line at synthetic registry sizes past
today's and assert every tier of the degradation ladder stays inside the
window and parses.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

import bench
from conecta_spark.queries import REGISTRY, _load_extensions

_load_extensions()


def _synthetic(n: int) -> dict:
    # worst-case realistic shapes: 4-digit-second heavies, long tails
    return {
        f"x{i:02d}_some_operator_name_{i}": 1000.1234 if i % 7 == 0 else 12.3456
        for i in range(n)
    }


@pytest.mark.parametrize("n", [50, 135, 150, 200, 400])
def test_line_fits_and_parses(n):
    timings = _synthetic(n)
    line = bench.render_json_line(
        timings, 9999.1234, 9999.1234, "0.1", load=[12.3, 4.5]
    )
    assert len(line) <= 1900, (n, len(line))
    parsed = json.loads(line)
    assert parsed["metric"] == "total_query_wall_seconds"
    assert parsed["value"] == 9999.1234
    # host-load context must survive every degradation tier: it is the
    # field that tells a reader whether the medians were taken under the
    # documented 2-3x external-load band
    assert parsed["load"] == [12.3, 4.5]
    # per-query coverage only degrades, never vanishes, until the map
    # genuinely cannot fit
    assert len(parsed["queries"]) + parsed.get("omitted", 0) == n


def test_current_registry_fits_at_full_precision_or_2dp():
    """Today's real registry must fit without the omission fallback.
    timed_pass skips BENCH_EXCLUDE (correctness-only baselines), so the
    real line carries exactly the non-excluded entries."""
    timings = {
        name: 123.4567
        for name in REGISTRY
        if name not in bench.BENCH_EXCLUDE
    }
    line = bench.render_json_line(
        timings, 9999.1234, 9999.1234, "0.1", load=[12.3, 4.5]
    )
    parsed = json.loads(line)
    assert len(line) <= 1900
    assert "omitted" not in parsed
    assert len(parsed["queries"]) == len(timings)
    assert parsed["load"] == [12.3, 4.5]


def test_failed_query_is_counted_not_summed():
    """A failed query is stored as -1.0; it must show up as a failure in
    the line, not as 1 s shaved off the total."""
    timings = _synthetic(135)
    timings["x00_some_operator_name_0"] = -1.0
    total = bench.total_of(timings)
    assert total is None
    line = bench.render_json_line(
        timings, total, total, "0.1", load=[12.3, 4.5]
    )
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["failed"] == 1
    assert parsed["value"] is None
    assert bench.total_of({"a": 1.5, "b": 2.25}) == 3.75


def test_line_without_load_stays_backward_compatible():
    line = bench.render_json_line(_synthetic(10), 1.0, 1.0, "0.1")
    assert "load" not in json.loads(line)


def test_samples_field_survives_every_degradation_tier():
    """When the load-aware policy re-rolls the pass, the artifact must
    say so ({"samples": 2}) at every budget tier -- it is the reader's
    only signal that this line is the lower-load of two rolls."""
    for n in (50, 135, 400):
        line = bench.render_json_line(
            _synthetic(n), 9999.1234, 9999.1234, "0.1",
            load=[12.3, 4.5], extra_fields={"samples": 2},
        )
        assert len(line) <= 1900, (n, len(line))
        assert json.loads(line)["samples"] == 2


def test_load_resample_policy():
    """Pin the sampling policy (r8 verdict task 2): re-roll exactly when
    the END load exceeds the threshold; keep the sample with the lowest
    max(start, end); ties keep the earliest."""
    thr = bench.LOAD_RERUN_THRESHOLD
    assert bench.should_resample([20.0, thr + 0.1])
    assert not bench.should_resample([20.0, thr])  # start load alone: no
    assert not bench.should_resample([1.0, 2.0])
    # keep the quieter roll, whichever position it lands in
    assert bench.choose_sample([[2.0, 9.0], [3.0, 4.0]]) == 1
    assert bench.choose_sample([[1.0, 3.0], [9.0, 9.5]]) == 0
    # tie -> earliest
    assert bench.choose_sample([[4.0, 9.0], [9.0, 2.0]]) == 0
    # single sample (no resample happened) is always kept
    assert bench.choose_sample([[5.0, 5.0]]) == 0


def test_registry_prefixes_unique():
    """The compact line keys queries by prefix; a collision would drop
    a timing silently."""
    prefixes = [n.split("_", 1)[0] for n in REGISTRY]
    assert len(set(prefixes)) == len(prefixes)
