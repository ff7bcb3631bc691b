"""Seeded input generators for the lake benchmark.

Every generator takes the workload seed and returns plain data: files
written under a landing directory plus in-memory records the
correctness checks recompute from. The program under test only ever
sees the files and the DataFrames built from these records.

Documented input properties (pinned by ``perfbench/tests``):

* ``daily_batch`` — day 0 is a full snapshot of ``initial_keys``
  line items; every later day re-delivers ``updates_per_day`` of
  them. Updated keys are drawn from the newest ``update_window``
  share of keys (older line items have finished delivering and no
  longer change), with probability proportional to
  ``exp(-age_rank / (recency * window))``, so about two thirds of
  them fall in the newer half of the window. ``new_key_share`` of
  each day's rows are keys never seen before. One day in ``drift_every`` (phase from
  the seed, never day 0) carries the drifted ``deliveryRateType``
  column; the other days omit it. Counters are cumulative and never
  decrease.
* ``query_mix`` — blocks that each make every listed call once, in
  the listed order; the seed sets the read-path parameters and the
  fixture table's changes (see :func:`generate_mix`).
"""

from __future__ import annotations

import base64
import csv
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

import numpy as np

BASE_DATE = dt.date(2024, 1, 1)
STATUSES = ("DELIVERING", "READY", "PAUSED", "COMPLETED")
CREDIT = ("ACTIVE", "ON_HOLD", "INACTIVE")


def fernet_key(seed: int) -> bytes:
    """Deterministic Fernet key for the run (the PII encryption key)."""
    return base64.urlsafe_b64encode(random.Random(seed).randbytes(32))


def day_date(day: int) -> dt.date:
    return BASE_DATE + dt.timedelta(days=day)


def close_ts(day: int) -> str:
    """Close-out timestamp pinned for ``day``'s SCD2 loads."""
    return f"{day_date(day).isoformat()} 00:00:00"


# ------------------------------------------------------------ daily_batch


@dataclass(frozen=True)
class DailySpec:
    initial_keys: int = 1500
    updates_per_day: int = 300
    new_key_share: float = 0.1
    update_window: float = 0.3
    recency: float = 0.5
    drift_every: int = 4
    advertisers: int = 150
    ad_units: int = 300
    dim_updates_per_day: int = 15
    max_days: int = 40


@dataclass
class DayInput:
    day: int
    drift: bool
    line_items: list[dict]
    advertisers: list[dict]
    ad_units: list[dict]
    line_item_path: str = ""
    advertiser_path: str = ""
    ad_unit_path: str = ""
    n_bytes: int = 0
    new_keys: int = 0

    @property
    def n_rows(self) -> int:
        return len(self.line_items) + len(self.advertisers) + len(self.ad_units)


def _recent_choice(rng, n_keys: int, k: int, window: float, recency: float) -> np.ndarray:
    """``k`` distinct keys among the newest ``window`` share of the
    ``n_keys`` existing ones, favouring the most recently created."""
    n_win = max(k, int(window * n_keys))
    age_rank = np.arange(n_win)[::-1]  # newest key has rank 0
    w = np.exp(-age_rank / (recency * n_win))
    return n_keys - n_win + rng.choice(n_win, size=k, replace=False, p=w / w.sum())


def generate_daily(seed: int, spec: DailySpec = DailySpec()) -> list[DayInput]:
    """All days' entity snapshots, in memory (see :func:`write_daily`)."""
    rng = np.random.default_rng([seed, 1])
    drift_phase = int(rng.integers(spec.drift_every))
    imp = np.zeros(0, dtype=np.int64)
    clk = np.zeros(0, dtype=np.int64)
    version = np.zeros(0, dtype=np.int64)
    days: list[DayInput] = []
    for day in range(spec.max_days):
        if day == 0:
            n_new, picked = spec.initial_keys, np.zeros(0, dtype=np.int64)
        else:
            n_new = int(round(spec.new_key_share * spec.updates_per_day))
            picked = _recent_choice(
                rng, len(imp), spec.updates_per_day - n_new, spec.update_window, spec.recency
            )
        first_new = len(imp)
        imp = np.concatenate([imp, np.zeros(n_new, dtype=np.int64)])
        clk = np.concatenate([clk, np.zeros(n_new, dtype=np.int64)])
        version = np.concatenate([version, np.zeros(n_new, dtype=np.int64)])
        keys = np.sort(np.concatenate([picked, np.arange(first_new, len(imp))]))
        inc = rng.integers(0, 5000, size=len(keys))
        imp[keys] += inc
        clk[keys] += rng.integers(0, 100, size=len(keys))
        version[keys] += 1
        drift = day > 0 and (day + drift_phase) % spec.drift_every == 0
        n_units = rng.integers(0, 4, size=len(keys))
        statuses = rng.integers(0, len(STATUSES), size=len(keys))
        date = day_date(day)
        rows = []
        for i, key in enumerate(keys.tolist()):
            doc = {
                "_id": key,
                "reference_id": f"LI-{key:07d}",
                "name": f"line item {key} v{int(version[key])}",
                "status": STATUSES[statuses[i]],
                "advertiserId": key % spec.advertisers,
                "startDateTime": {
                    "date": {"year": date.year, "month": date.month, "day": date.day},
                    "hour": key % 24,
                },
                "stats": {
                    "impressionsDelivered": int(imp[key]),
                    "clicksDelivered": int(clk[key]),
                },
                "targeting": {
                    "adUnits": [
                        {"adUnitId": (key * 7 + j) % spec.ad_units,
                         "includeDescendants": bool((key + j) % 2)}
                        for j in range(int(n_units[i]))
                    ]
                },
                "contactEmail": f"owner{key}@example.com",
                "traffickerId": 100000 + key,
            }
            if drift:
                doc["deliveryRateType"] = "EVENLY" if key % 3 else "FRONTLOADED"
            rows.append(doc)
        if day == 0:
            adv_ids = np.arange(spec.advertisers)
            unit_ids = np.arange(spec.ad_units)
        else:
            adv_ids = np.sort(rng.choice(spec.advertisers, spec.dim_updates_per_day, replace=False))
            unit_ids = np.sort(rng.choice(spec.ad_units, spec.dim_updates_per_day, replace=False))
        ts = f"{date.isoformat()} 00:00:01"
        advertisers = [
            {"advertiser_id": int(a), "advertiser_name": f"adv {a} d{day}",
             "credit_status": CREDIT[(int(a) + day) % len(CREDIT)], "insrt_ts": ts}
            for a in adv_ids
        ]
        ad_units = [
            {"ad_unit_id": int(u), "ad_unit_name": f"unit {u} d{day}",
             "parent_id": int(u) // 10, "insrt_ts": ts}
            for u in unit_ids
        ]
        days.append(DayInput(day, drift, rows, advertisers, ad_units, new_keys=n_new))
    return days


def _write_pipe_csv(path: str, rows: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]), delimiter="|")
        w.writeheader()
        w.writerows(rows)
    return os.path.getsize(path)


def write_daily(landing: str, days: list[DayInput]) -> None:
    """Land each day as JSONL (line items) and pipe CSV (dimensions)."""
    for d in days:
        d.line_item_path = os.path.join(landing, "line_item", f"day={d.day:03d}")
        os.makedirs(d.line_item_path)
        body = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in d.line_items)
        with open(os.path.join(d.line_item_path, "part-0.json"), "w") as f:
            f.write(body)
        d.advertiser_path = os.path.join(landing, "advertiser", f"day={d.day:03d}")
        d.ad_unit_path = os.path.join(landing, "ad_unit", f"day={d.day:03d}")
        d.n_bytes = len(body.encode()) + _write_pipe_csv(
            os.path.join(d.advertiser_path, "part-0.csv"), d.advertisers
        ) + _write_pipe_csv(os.path.join(d.ad_unit_path, "part-0.csv"), d.ad_units)


# ---------------------------------------------------------------- query_mix


@dataclass(frozen=True)
class Op:
    kind: str  # query | read | bloom | time_travel | change_feed
    name: str
    params: tuple = ()


@dataclass(frozen=True)
class MixSpec:
    blocks: int = 10
    n_orders: int = 20_000      # rows of the fixture tables (an orders slice)
    n_customers: int = 15_000
    read_width: int = 400       # orderkeys per pruned read
    updates: int = 300          # orders repriced by the fixture overwrite
    appends: int = 500          # orders appended by the fixture append


@dataclass
class MixInputs:
    warmup: list[Op]
    ops: list[Op]
    update_keys: list[int]
    update_prices: list[float]
    appends: list[tuple]  # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)


def generate_mix(
    seed: int, block: list[str], warmup: list[str] = (), spec: MixSpec = MixSpec()
) -> MixInputs:
    """The op order plus the fixture-table changes.

    The order is a run of blocks, each making the calls in ``block``
    in that order; ``pruned_read``, ``time_travel``, ``bloom_lookup``
    and ``change_feed`` are read-path calls, every other name a
    registry query. The seed sets the read-path parameters and the
    fixture changes, not the order: in a cold JVM a call's latency
    depends on what ran before it, so a seeded order would add its own
    spread to every latency figure. Fixture order keys are
    ``0..n_orders-1``; appended orders take the keys above."""
    rng = np.random.default_rng([seed, 3])

    def make(name: str) -> Op:
        if name == "pruned_read":
            lo = int(rng.integers(0, spec.n_orders - spec.read_width))
            return Op("read", name, (lo, lo + spec.read_width - 1))
        if name == "bloom_lookup":
            return Op("bloom", name, (int(rng.integers(0, spec.n_customers)),))
        if name == "time_travel":
            return Op("time_travel", name, (int(rng.integers(1, 4)),))
        if name == "change_feed":
            return Op("change_feed", name, (1, 3))
        return Op("query", name)

    ops = [make(name) for _ in range(spec.blocks) for name in block]
    warm = [make("time_travel"), make("pruned_read")] + [make(q) for q in warmup]
    keys = np.sort(rng.choice(spec.n_orders, spec.updates, replace=False))
    prices = np.round(rng.uniform(1000.0, 500000.0, spec.updates), 2)
    n = spec.appends
    cust = rng.integers(0, spec.n_customers, n)
    aprice = np.round(rng.uniform(1000.0, 500000.0, n), 2)
    day = rng.integers(0, 365, n)
    appends = [
        (spec.n_orders + i, int(cust[i]), "O", float(aprice[i]),
         dt.datetime(1998, 1, 1) + dt.timedelta(days=int(day[i])), "3-MEDIUM")
        for i in range(n)
    ]
    return MixInputs(warm, ops, keys.tolist(), prices.tolist(), appends)
