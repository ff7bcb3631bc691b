"""The correctness checks count a corrupted result as a failed operation.

Each test builds the right answer in plain Python from the generated
inputs, confirms the check passes it, then corrupts one value and
confirms the check names the operation that produced it, which makes
the run's ``fail_rate`` non-zero.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sys
from collections import defaultdict

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks  # noqa: E402
from perfbench.gen import (  # noqa: E402
    DailySpec,
    day_date,
    fernet_key,
    generate_daily,
    write_daily,
)


def _ts(day: int, seconds: int = 0) -> dt.datetime:
    return dt.datetime.combine(day_date(day), dt.time()) + dt.timedelta(seconds=seconds)


def _daily_actual(days, key):
    from cryptography.fernet import Fernet

    fernet = Fernet(key)
    versions = defaultdict(list)
    for d in days:
        for r in d.line_items:
            versions[r["_id"]].append((d.day, r))
    rows, deltas = [], []
    for k, vs in versions.items():
        prev = (0, 0)
        for i, (day, r) in enumerate(vs):
            nxt = vs[i + 1][0] if i + 1 < len(vs) else None
            cum = (r["stats"]["impressionsDelivered"], r["stats"]["clicksDelivered"])
            imp, clk = cum[0] - prev[0], cum[1] - prev[1]
            prev = cum
            rows.append({
                "_id": k, "line_item_name": r["name"], "status": r["status"],
                "advertiser_id": r["advertiserId"], "start_year": r["startDateTime"]["date"]["year"],
                "start_month": r["startDateTime"]["date"]["month"], "impressions": imp, "clicks": clk,
                "contact_email": fernet.encrypt(r["contactEmail"].encode()).decode(),
                "trafficker_id": hashlib.sha224(str(r["traffickerId"]).encode()).hexdigest(),
                "delivery_rate_type": r.get("deliveryRateType"),
                "insrt_ts": _ts(day, 1), "actv_flg": "Y" if nxt is None else "N",
                "record_to": None if nxt is None else _ts(nxt),
            })
            deltas.append({"_id": str(k), "impressions": str(imp), "clicks": str(clk), "day": day})
    out = {"line_item": pa.Table.from_pylist(rows), "deltas": pa.Table.from_pylist(deltas)}
    for name, key_col in (("advertiser", "advertiser_id"), ("ad_unit", "ad_unit_id")):
        by_key = defaultdict(list)
        for d in days:
            for r in getattr(d, f"{name}s"):
                by_key[r[key_col]].append((d.day, r))
        dim = []
        for vs in by_key.values():
            for i, (day, r) in enumerate(vs):
                nxt = vs[i + 1][0] if i + 1 < len(vs) else None
                dim.append({**r, "insrt_ts": _ts(day, 1), "actv_flg": "Y" if nxt is None else "N",
                            "record_to": None if nxt is None else _ts(nxt)})
        out[name] = pa.Table.from_pylist(dim)
    audits = {
        d.day: [
            {"file_identifier": "line_item", "success": True, "element_count": len(d.line_items)},
            {"file_identifier": "line_item_ad_unit", "success": True,
             "element_count": sum(len(r["targeting"]["adUnits"]) for r in d.line_items)},
        ]
        for d in days
    }
    return out, audits


def _replace(table: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = table.column(col).to_pylist()
    vals[row] = value
    return table.set_column(table.schema.get_field_index(col), col, pa.array(vals, table.schema.field(col).type))


def test_daily_check_passes_right_answer_and_flags_corruption(tmp_path):
    days = generate_daily(11, DailySpec(initial_keys=200, updates_per_day=50, max_days=5))
    write_daily(str(tmp_path), days)
    key = fernet_key(11)
    actual, audits = _daily_actual(days, key)
    assert checks.check_daily(days, actual, audits, key).ops == set()

    # a wrong delta on a day-3 row of the SCD2 table
    li = actual["line_item"]
    row = next(i for i, t in enumerate(li.column("insrt_ts").to_pylist()) if t == _ts(3, 1))
    bad = dict(actual, line_item=_replace(li, "impressions", row, li.column("impressions")[row].as_py() + 1))
    failed = checks.check_daily(days, bad, audits, key)
    assert 3 in failed.ops and failed.reasons

    # a failed data-quality expectation on day 2
    bad_audits = {**audits, 2: [dict(audits[2][0], success=False), audits[2][1]]}
    assert checks.check_daily(days, actual, bad_audits, key).ops == {2}


def test_query_result_comparison():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, None), (3, 1e-12)]
    assert checks.same_rows(cols, rows, ["v", "k"], [(None, 2), (1e-12, 3), (0.5, 1)])
    assert not checks.same_rows(cols, rows, cols, [(1, 0.5), (2, None), (3, 2e-9)])
    assert not checks.same_rows(cols, rows, cols, rows[:2])
