"""Correctness checks, run after the timed phase.

Each check recomputes the expected result with DuckDB from the
generated inputs alone and returns the ids of the operations whose
output disagrees (a day or a query-mix position). The
checks take Arrow tables, so tests can corrupt a result and watch it
being counted without starting Spark.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pyarrow as pa

from perfbench.gen import BASE_DATE


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


class Failures:
    """Failed operation ids, with the name of each check that failed."""

    def __init__(self):
        self.ops: set[int] = set()
        self.reasons: list[str] = []

    def add(self, why: str, ops) -> None:
        ops = set(ops)
        if ops:
            self.ops |= ops
            self.reasons.append(f"{why}: ops {sorted(ops)[:8]}")

    def query(self, con, why: str, sql: str) -> None:
        """Add the ids in the first column of ``sql``'s result."""
        self.add(why, {int(r[0]) for r in con.execute(sql).fetchall() if r[0] is not None})


def _decrypt_column(table: pa.Table, col: str, key: bytes) -> pa.Table:
    from cryptography.fernet import Fernet, InvalidToken

    f = Fernet(key)

    def dec(v):
        if v is None:
            return None
        try:
            return f.decrypt(v.encode("ascii")).decode("utf-8")
        except InvalidToken:
            return "<undecryptable>"

    vals = [dec(v) for v in table.column(col).to_pylist()]
    return table.set_column(table.schema.get_field_index(col), col, pa.array(vals, pa.string()))


# ------------------------------------------------------------ daily_batch

_DAY_OF = f"date_diff('day', DATE '{BASE_DATE.isoformat()}', CAST({{}} AS DATE))"
_TS_OF_DAY = f"(TIMESTAMP '{BASE_DATE.isoformat()} 00:00:00' + to_days(CAST({{}} AS INTEGER)))"


def check_daily(days, actual: dict[str, pa.Table], audits: dict[int, list], key: bytes) -> Failures:
    """``days``: the processed :class:`~perfbench.gen.DayInput` list.
    ``actual``: ``line_item`` (the SCD2 txn table), ``deltas`` (every
    emitted transformation zone file, read as text with its ``day``
    partition), ``advertiser`` and ``ad_unit`` (published dimensions).
    ``audits``: day -> data-quality audit rows."""
    con = _con()
    con.create_function(
        "sha224", lambda s: hashlib.sha224(s.encode()).hexdigest(), ["VARCHAR"], "VARCHAR"
    )
    files = [os.path.join(d.line_item_path, "part-0.json") for d in days]
    con.execute(
        f"CREATE TABLE raw AS SELECT *, CAST(regexp_extract(filename, 'day=(\\d+)', 1) AS INTEGER) AS day "
        f"FROM read_json({files!r}, format='newline_delimited', union_by_name=true, filename=true, hive_partitioning=false)"
    )
    raw_cols = {r[0] for r in con.execute("DESCRIBE raw").fetchall()}
    drift = "deliveryRateType" if "deliveryRateType" in raw_cols else "CAST(NULL AS VARCHAR)"
    con.execute(f"""
        CREATE TABLE exp AS
        SELECT _id, day,
               name AS line_item_name, status, advertiserId AS advertiser_id,
               startDateTime.date.year AS start_year, startDateTime.date.month AS start_month,
               stats.impressionsDelivered AS cum_imp, stats.clicksDelivered AS cum_clk,
               stats.impressionsDelivered - coalesce(lag(stats.impressionsDelivered) OVER w, 0) AS impressions,
               stats.clicksDelivered - coalesce(lag(stats.clicksDelivered) OVER w, 0) AS clicks,
               contactEmail AS contact_email, sha224(CAST(traffickerId AS VARCHAR)) AS trafficker_id,
               {drift} AS delivery_rate_type,
               lead(day) OVER w AS next_day
        FROM raw WINDOW w AS (PARTITION BY _id ORDER BY day)
    """)
    li = _decrypt_column(actual["line_item"], "contact_email", key)
    con.register("act_li", li)
    cols = ("_id, line_item_name, status, advertiser_id, start_year, start_month, impressions, "
            "clicks, contact_email, trafficker_id, delivery_rate_type, insrt_ts, actv_flg, record_to")
    con.execute(f"""
        CREATE TABLE exp_rows AS
        SELECT _id, line_item_name, status, advertiser_id, start_year, start_month, impressions,
               clicks, contact_email, trafficker_id, delivery_rate_type,
               {_TS_OF_DAY.format('day')} + INTERVAL 1 SECOND AS insrt_ts,
               CASE WHEN next_day IS NULL THEN 'Y' ELSE 'N' END AS actv_flg,
               CASE WHEN next_day IS NULL THEN NULL ELSE {_TS_OF_DAY.format('next_day')} END AS record_to
        FROM exp
    """)
    con.execute(f"""
        CREATE TABLE act_rows AS
        SELECT _id, line_item_name, status, advertiser_id, start_year, start_month, impressions,
               clicks, contact_email, trafficker_id, delivery_rate_type,
               CAST(insrt_ts AS TIMESTAMP) AS insrt_ts, actv_flg, CAST(record_to AS TIMESTAMP) AS record_to
        FROM act_li
    """)
    failed = Failures()
    failed.query(con, "line_item SCD2 rows", f"""
        SELECT {_DAY_OF.format('insrt_ts')} FROM (
            (SELECT {cols} FROM exp_rows EXCEPT ALL SELECT {cols} FROM act_rows)
            UNION ALL
            (SELECT {cols} FROM act_rows EXCEPT ALL SELECT {cols} FROM exp_rows))
    """)
    last_day = "(SELECT _id, max(day) AS day FROM exp GROUP BY _id)"
    failed.query(con, "one active row per key", f"""
        SELECT l.day FROM {last_day} l LEFT JOIN
            (SELECT _id, count(*) FILTER (WHERE actv_flg = 'Y') AS n FROM act_rows GROUP BY _id) a
            USING (_id)
        WHERE coalesce(a.n, 0) <> 1
    """)
    failed.query(con, "closed rows carry record_to", f"""
        SELECT {_DAY_OF.format('insrt_ts')} FROM act_rows WHERE actv_flg = 'N' AND record_to IS NULL
    """)
    failed.query(con, "deltas sum to the final cumulative counters", f"""
        SELECT l.day FROM {last_day} l
        JOIN (SELECT _id, cum_imp, cum_clk FROM exp e WHERE next_day IS NULL) c USING (_id)
        LEFT JOIN (SELECT _id, sum(impressions) AS s_imp, sum(clicks) AS s_clk FROM act_rows GROUP BY _id) s
            USING (_id)
        WHERE s.s_imp IS DISTINCT FROM c.cum_imp OR s.s_clk IS DISTINCT FROM c.cum_clk
    """)
    con.register("act_deltas", actual["deltas"])
    dcols = "_id, day, impressions, clicks"
    failed.query(con, "emitted deltas", f"""
        SELECT day FROM (
            (SELECT {dcols} FROM exp
             EXCEPT ALL
             SELECT CAST(_id AS BIGINT), CAST(day AS INTEGER), CAST(impressions AS BIGINT),
                    CAST(clicks AS BIGINT) FROM act_deltas)
            UNION ALL
            (SELECT CAST(_id AS BIGINT), CAST(day AS INTEGER), CAST(impressions AS BIGINT),
                    CAST(clicks AS BIGINT) FROM act_deltas
             EXCEPT ALL
             SELECT {dcols} FROM exp))
    """)
    # the published dimensions
    for name, key_col in (("advertiser", "advertiser_id"), ("ad_unit", "ad_unit_id")):
        paths = [os.path.join(getattr(d, f"{name}_path"), "part-0.csv") for d in days]
        con.execute(f"""
            CREATE TABLE exp_{name} AS
            SELECT *, CASE WHEN nxt IS NULL THEN 'Y' ELSE 'N' END AS actv_flg,
                   nxt - INTERVAL 1 SECOND AS record_to
            FROM (SELECT *, lead(insrt_ts) OVER (PARTITION BY {key_col} ORDER BY insrt_ts) AS nxt
                  FROM read_csv({paths!r}, delim='|', header=true, hive_partitioning=false,
                                timestampformat='%Y-%m-%d %H:%M:%S'))
        """)
        dim_cols = [c for c in actual[name].column_names]
        con.register(f"act_{name}", actual[name])
        sel = ", ".join(
            f"CAST({c} AS TIMESTAMP) AS {c}" if c in ("insrt_ts", "record_to") else c for c in dim_cols
        )
        failed.query(con, f"published {name}", f"""
            SELECT {_DAY_OF.format('insrt_ts')} FROM (
                (SELECT {sel} FROM exp_{name} EXCEPT ALL SELECT {sel} FROM act_{name})
                UNION ALL
                (SELECT {sel} FROM act_{name} EXCEPT ALL SELECT {sel} FROM exp_{name}))
        """)
    bad = set()
    for d in days:
        rows = audits.get(d.day)
        n_units = sum(len(r["targeting"]["adUnits"]) for r in d.line_items)
        want = {"line_item": len(d.line_items), "line_item_ad_unit": n_units}
        if not rows or {r["file_identifier"] for r in rows} != set(want) or any(
            not r["success"] or r["element_count"] != want[r["file_identifier"]] for r in rows
        ):
            bad.add(d.day)
    failed.add("data-quality audit", bad)
    return failed


# ---------------------------------------------------------------- query_mix


def _norm(v):
    if v is None or isinstance(v, float):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def _cell_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(cols_a: list[str], rows_a: list, cols_b: list[str], rows_b: list) -> bool:
    """Equal as multisets of rows, columns matched by name, floats to
    a relative 1e-9."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False

    def canon(cols, rows):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(_norm(r[i]) for i in idx) for r in rows]
        out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
        return out

    return all(
        len(x) == len(y) and all(_cell_eq(a, b) for a, b in zip(x, y))
        for x, y in zip(canon(cols_a, rows_a), canon(cols_b, rows_b))
    )
