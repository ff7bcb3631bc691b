"""The seeded generators: determinism and the documented input shape."""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.gen import (  # noqa: E402
    DailySpec,
    generate_daily,
    generate_mix,
    write_daily,
)

SPEC = DailySpec(max_days=12)
BLOCK = ["a", "pruned_read", "b", "bloom_lookup", "time_travel", "c", "change_feed"]


def test_daily_same_seed_same_inputs(tmp_path):
    a, b = generate_daily(7, SPEC), generate_daily(7, SPEC)
    assert [d.line_items for d in a] == [d.line_items for d in b]
    assert [d.advertisers for d in a] == [d.advertisers for d in b]
    write_daily(str(tmp_path / "a"), a)
    write_daily(str(tmp_path / "b"), b)
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    for sub in ("line_item", "advertiser", "ad_unit"):
        for day in os.listdir(tmp_path / "a" / sub):
            left, right = (tmp_path / x / sub / day / os.listdir(tmp_path / x / sub / day)[0] for x in "ab")
            assert filecmp.cmp(left, right, shallow=False)
    assert not cmp.left_only and not cmp.right_only


def test_daily_other_seed_other_inputs():
    a, b = generate_daily(7, SPEC), generate_daily(8, SPEC)
    assert [d.line_items for d in a] != [d.line_items for d in b]


def test_daily_recency_skew_and_new_keys():
    days = generate_daily(3, SPEC)
    n_keys = len(days[0].line_items)
    assert n_keys == SPEC.initial_keys
    newer_half = []
    for d in days[1:]:
        ids = [r["_id"] for r in d.line_items]
        assert len(ids) == len(set(ids)) == SPEC.updates_per_day
        new = [k for k in ids if k >= n_keys]
        assert len(new) == d.new_keys == round(SPEC.new_key_share * SPEC.updates_per_day)
        old = [k for k in ids if k < n_keys]
        window = int(SPEC.update_window * n_keys)
        # every update falls in the window of newest keys
        assert min(old) >= n_keys - window
        newer_half.append(np.mean([k >= n_keys - window / 2 for k in old]))
        n_keys += len(new)
    # exp(-rank / (0.5 window)) puts 73% of the weight on the newer
    # half; drawing 60% of the window without replacement flattens it
    assert np.mean(newer_half) > 0.6


def test_daily_drift_days_and_cumulative_counters():
    days = generate_daily(5, SPEC)
    drift = [d.day for d in days if d.drift]
    assert 0 not in drift
    assert drift and all(b - a == SPEC.drift_every for a, b in zip(drift, drift[1:]))
    for d in days:
        assert all(("deliveryRateType" in r) == d.drift for r in d.line_items)
    last: dict[int, int] = {}
    for d in days:
        for r in d.line_items:
            imp = r["stats"]["impressionsDelivered"]
            assert imp >= last.get(r["_id"], 0)
            last[r["_id"]] = imp


def test_mix_blocks_make_every_call_whatever_the_seed():
    a, b, c = generate_mix(4, BLOCK), generate_mix(4, BLOCK), generate_mix(5, BLOCK)
    assert a.ops == b.ops and a.appends == b.appends
    assert c.ops != a.ops and c.appends != a.appends
    for i in range(0, 10 * len(BLOCK), len(BLOCK)):
        # the same calls in the same order for every seed; read-path
        # parameters differ
        assert [op.name for op in a.ops[i:i + len(BLOCK)]] == BLOCK
        assert [op.name for op in c.ops[i:i + len(BLOCK)]] == BLOCK
