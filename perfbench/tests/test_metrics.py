"""BENCHMARK.json names exactly the metrics the runs print."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.metrics import E2E_UNITS, PER_LAYER_UNITS  # noqa: E402


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_hd_median():
    from perfbench.harness import hd_median

    assert hd_median([4.0]) == 4.0
    assert abs(hd_median([3.0, 1.0, 2.0]) - 2.0) < 1e-9
    assert abs(hd_median(list(range(15))) - 7.0) < 1e-9
    # one slow outlier pulls the estimate a little, not to the outlier
    assert 1.0 < hd_median([1.0, 1.0, 1.0, 1.0, 100.0]) < 10.0


def test_hd_quantile_and_tail():
    from perfbench.harness import hd_quantile, tail_latency

    xs = [float(x) for x in range(15)]
    assert hd_quantile(xs, 0.5) == hd_quantile(list(reversed(xs)), 0.5)
    assert 11.0 < hd_quantile(xs, 0.9) < 14.0
    # below twenty samples: the 90th percentile, not the maximum
    value, pct = tail_latency(xs + [100.0])
    assert pct == 90.0 and value < 100.0
    # from twenty on: the highest percentile with ten samples beyond it
    value, pct = tail_latency([float(x) for x in range(40)])
    assert pct == 75.0 and 28.0 < value < 31.0
