"""``daily_batch``: the reference's daily ELT day, closed loop.

One operation is one whole day: raw line-item JSON through
``pipelines.run_transformation`` (rules, child explode, cumulative →
delta state), PII columns through ``functions.crypto`` (SHA-224 and a
Fernet UDF) into a masked zone, the line items SCD2-merged with
``txn_table.scd2_merge_txn``, the small dimensions published with
``pipelines.run_batch_load`` in one commit, and the day's data
quality suites: the line items through the foreachBatch body
``streaming.microbatch.dq_foreach_batch`` (audit rows appended to a
results table, as the reference's notebook does per batch) and the
exploded child table through ``dq.evaluate``. Day 0, the full initial
snapshot, is the warm-up; the timed loop runs days in blocks of
three, so a run averages over a longer stretch of a noisy host.
"""

from __future__ import annotations

import os

from perfbench import checks
from perfbench.gen import DailySpec, close_ts, day_date, fernet_key, generate_daily, write_daily
from perfbench.harness import dir_files, fresh_dir

RULES = [
    ("_id", "_id", "plain"),
    ("reference_id", "reference_id", "plain"),
    ("name", "line_item_name", "plain"),
    ("status", "status", "plain"),
    ("advertiserId", "advertiser_id", "plain"),
    ("startDateTime.date.year", "start_year", "nested"),
    ("startDateTime.date.month", "start_month", "nested"),
    ("stats.impressionsDelivered", "impressions", "nested"),
    ("stats.clicksDelivered", "clicks", "nested"),
    ("contactEmail", "contact_email", "plain"),
    ("traffickerId", "trafficker_id", "plain"),
    # the drifted column: absent from most days' JSON, so a nested
    # rule that yields NULL when the field is missing
    ("deliveryRateType", "delivery_rate_type", "nested"),
]
FINAL = [r[1] for r in RULES] + ["generic1", "generic2", "insrt_ts"]
ADVERTISER_SCHEMA = "advertiser_id long, advertiser_name string, credit_status string, insrt_ts timestamp"
AD_UNIT_SCHEMA = "ad_unit_id long, ad_unit_name string, parent_id long, insrt_ts timestamp"
ROWS_PER_FILE = 500


class DailyBatch:
    name = "daily_batch"
    n_warmup = 1
    block = 3

    def __init__(self, seed: int, tracer, spec: DailySpec = DailySpec()):
        self.seed = seed
        self.tracer = tracer
        self.spec = spec

    # ------------------------------------------------------------ setup

    def setup(self, spark, root: str) -> None:
        from aws_datalake_spark.functions.crypto import make_crypto_udfs
        from aws_datalake_spark.operators.dq import Expectation
        from aws_datalake_spark.streaming.microbatch import dq_foreach_batch

        self.spark = spark
        self.days = generate_daily(self.seed, self.spec)
        write_daily(os.path.join(root, "landing"), self.days)
        self.tables = os.path.join(root, "tables")
        self.line_item = os.path.join(self.tables, "line_item")
        self.dims = os.path.join(self.tables, "dims")
        self.state = os.path.join(self.tables, "state_line_item")
        self.audit = os.path.join(self.tables, "dq_audit")
        self.zone = fresh_dir(os.path.join(root, "zone"))
        self.key = fernet_key(self.seed)
        with self.tracer.span("functions.crypto.make_udfs", "functions"):
            self.encrypt, _ = make_crypto_udfs(spark, self.key)
        self.expectations = [
            Expectation("_id", "not_null"),
            Expectation("_id", "unique"),
            Expectation("impressions", "between", {"min": 0, "max": 10**12}),
            Expectation("clicks", "between", {"min": 0, "max": 10**12}),
            Expectation("status", "in_set", {"values": ["DELIVERING", "READY", "PAUSED", "COMPLETED"]}),
        ]
        self.child_expectations = [Expectation("adUnitId", "not_null")]
        self.dq_sink = dq_foreach_batch(self.expectations, self.audit, "line_item")
        self.done: list[int] = []
        self.audits: dict[int, list] = {}
        self.counts = {"rewritten": 0, "untouched": 0, "commits": 0, "bytes_written": 0, "input_bytes": 0}

    def table_roots(self) -> list[str]:
        return [self.line_item, self.dims, self.state, self.audit]

    # ------------------------------------------------------------ ops

    def warmup(self) -> None:
        for day in range(self.n_warmup):
            self.run_day(day, None)

    def op(self, i: int) -> int:
        day = i + self.n_warmup
        if day >= len(self.days):
            raise RuntimeError(f"generator ran out of days (raise DailySpec.max_days above {day})")
        return self.run_day(day, i)

    def run_day(self, day: int, op) -> int:
        from pyspark.sql import functions as F

        from aws_datalake_spark.functions.crypto import sha224_hash
        from aws_datalake_spark.operators.dq import evaluate
        from aws_datalake_spark.operators.rules import Rule
        from aws_datalake_spark.pipelines import EntityLoad, TransformationJob, run_batch_load, run_transformation
        from aws_datalake_spark.sources import txn_table

        d = self.days[day]
        tr, spark = self.tracer, self.spark
        self.done.append(day)
        before = dir_files(*self.table_roots()) if tr.enabled else None
        log0 = self.log_versions() if tr.enabled else 0
        job = TransformationJob(
            rules=[Rule(old, final, kind=kind) for old, final, kind in RULES],
            final_columns=FINAL,
            metric_cols=["impressions", "clicks"],
            child_arrays={"line_item_ad_unit": "targeting.adUnits"},
            generic_padding=2,
            historical_date=day_date(day).isoformat(),
        )
        main_zone = os.path.join(self.zone, "line_item", f"day={day:03d}")
        with tr.span("pipelines.transform", "pipelines", op):
            out = run_transformation(
                spark, d.line_item_path, main_zone, job, state_path=self.state, multi_line=False
            )
        masked = os.path.join(self.zone, "masked", f"day={day:03d}")
        with tr.span("functions.crypto", "functions", op):
            main = out["main"]
            # the masked zone is clustered on the key, ROWS_PER_FILE rows
            # a file, so the merged table's files cover disjoint key
            # ranges and the merge can skip those the day does not touch
            main.select(
                *[
                    sha224_hash(c).alias(c) if c == "trafficker_id"
                    else self.encrypt(F.col(c)).alias(c) if c == "contact_email"
                    else F.col(c)
                    for c in main.columns
                ]
            ).repartitionByRange(max(1, len(d.line_items) // ROWS_PER_FILE), "_id").write.parquet(masked)
        with tr.span("sources.scd2_merge", "sources", op):
            res = txn_table.scd2_merge_txn(
                spark, self.line_item, spark.read.parquet(masked), ["_id"],
                close_ts=F.lit(close_ts(day)).cast("timestamp"),
            )
        with tr.span("pipelines.batch_load", "pipelines", op):
            run_batch_load(spark, self.dims, f"d{day:03d}", {
                "advertiser": EntityLoad(d.advertiser_path, ["advertiser_id"], ADVERTISER_SCHEMA,
                                         close_ts=close_ts(day)),
                "ad_unit": EntityLoad(d.ad_unit_path, ["ad_unit_id"], AD_UNIT_SCHEMA,
                                      close_ts=close_ts(day)),
            })
        with tr.span("streaming.dq_sink", "streaming", op):
            self.dq_sink(main, day)
        with tr.span("operators.dq", "operators", op):
            audit = evaluate(
                out["line_item_ad_unit"].select("_id", "elem.adUnitId"),
                self.child_expectations, "line_item_ad_unit", day,
            ).collect()
        self.audits[day] = [r.asDict() for r in audit]
        if op is not None:
            self.counts["rewritten"] += res["rewritten"]
            self.counts["untouched"] += res["untouched"]
            self.counts["input_bytes"] += d.n_bytes
            if before is not None:
                self.counts["commits"] += self.log_versions() - log0
                after = dir_files(*self.table_roots())
                self.counts["bytes_written"] += sum(
                    n for p, n in after.items() if p not in before
                )
        return d.n_rows

    def log_versions(self) -> int:
        """Commits in the line-item log plus dimension publishes."""
        from aws_datalake_spark.sources import txn_table
        from aws_datalake_spark.sources.publish import current_manifest

        if not txn_table.is_txn_table(self.line_item):
            return 0
        return len(txn_table.history(self.line_item)) + current_manifest(self.dims)["version"]

    # ------------------------------------------------------------ check

    def input_bytes(self) -> int:
        return sum(self.days[d].n_bytes for d in self.done)

    def check(self) -> checks.Failures:
        """Days whose outputs disagree with the DuckDB recomputation."""
        from aws_datalake_spark.sources import txn_table
        from aws_datalake_spark.sources.publish import read_published

        spark = self.spark
        actual = {
            "line_item": txn_table.read(spark, self.line_item).toArrow(),
            "deltas": spark.read.option("sep", "|").option("header", True)
            .csv(os.path.join(self.zone, "line_item"))
            .select("_id", "impressions", "clicks", "day")
            .toArrow(),
            "advertiser": read_published(spark, self.dims, "advertiser").toArrow(),
            "ad_unit": read_published(spark, self.dims, "ad_unit").toArrow(),
        }
        audits = {d: list(rows) for d, rows in self.audits.items()}
        for r in spark.read.parquet(self.audit).collect():
            audits.setdefault(r["batchID"], []).append(r.asDict())
        return checks.check_daily([self.days[d] for d in self.done], actual, audits, self.key)
