"""``query_mix``: read-only, closed loop.

Fixed registry queries at sf0.1 that have DuckDB oracles (a TPC-H
shape, a window, as-of and range joins, and the LLM curation
operators), interleaved with read-path calls on a transaction table
built during setup: a stats-pruned ``read``, ``bloom_lookup``, time
travel and ``read_changes_typed``. The loop runs whole blocks, and
every block makes each of these calls once in a fixed order, so every
run of the same length makes the same calls; the seed sets the
read-path parameters and the fixture table's changes. The warm-up is
two read-path calls and two cheap registry queries outside the mix,
so the mix's first call does not pay alone for the JVM's first joins
and aggregations.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from perfbench import checks
from perfbench.gen import MixSpec, generate_mix

# one block: every call once, heavy and light, relational, LLM and
# read path interleaved. First-run times at sf0.1 on 4 cores range
# from 0.3 s (bloom lookup) to 5.7 s (minhash).
BLOCK = [
    "q03_shipping_priority", "pruned_read", "llm_minhash_lsh_pairs", "q_window_topk_per_group",
    "bloom_lookup", "llm_cosine_topk", "q_asof_join", "llm_simhash", "time_travel",
    "llm_exact_dedup", "q_range_join", "llm_ann_ivf_topk", "change_feed", "llm_tfidf_top_terms",
    "llm_sequence_packing",
]
WARMUP = ["q_join_broadcast_dim", "q_set_union_all"]
ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


class QueryMix:
    name = "query_mix"
    n_warmup = 2 + len(WARMUP)
    block = len(BLOCK)

    def __init__(self, seed: int, tracer, lake: str, spec: MixSpec = MixSpec()):
        self.seed = seed
        self.tracer = tracer
        self.lake = lake
        self.spec = spec

    def setup(self, spark, root: str) -> None:
        from pyspark.sql import functions as F

        from aws_datalake_spark import catalog
        from aws_datalake_spark.queries import all_queries
        from aws_datalake_spark.sources import txn_table

        self.spark = spark
        with self.tracer.span("catalog.load"):
            catalog.register_views(spark, self.lake)
        self.queries = all_queries()
        orders = spark.table("orders")
        self.mix = generate_mix(self.seed, BLOCK, WARMUP, self.spec)
        orders = orders.filter(F.col("o_orderkey") < self.spec.n_orders)
        self.table = os.path.join(root, "tables", "orders")
        with self.tracer.span("sources.fixture_tables", "sources"):
            # v1: range-clustered on the key; v2: rewritten with seeded
            # price changes; v3: appended new orders; v4: a per-file bloom
            # index on the customer (a customer's orders sit in one or two
            # files)
            txn_table.write(orders.repartitionByRange(4, "o_orderkey"), self.table)
            upd = spark.createDataFrame(
                list(zip(self.mix.update_keys, self.mix.update_prices)),
                "o_orderkey long, new_price double",
            )
            repriced = orders.join(F.broadcast(upd), "o_orderkey", "left").select(
                *[F.coalesce("new_price", "o_totalprice").alias(c) if c == "o_totalprice" else F.col(c)
                  for c in orders.columns]
            )
            txn_table.write(repriced.repartitionByRange(4, "o_orderkey"), self.table, mode="overwrite")
            txn_table.write(spark.createDataFrame(self.mix.appends, orders.schema), self.table)
            txn_table.build_bloom_index(spark, self.table, "o_custkey", m_bits=1 << 16)
        self.results: dict[int, tuple] = {}
        self.counts: dict[str, int] = {}

    def table_roots(self) -> list[str]:
        return [self.table]

    def warmup(self) -> None:
        for k, spec in enumerate(self.mix.warmup):
            self.run_op(k, spec, None)

    def op(self, i: int) -> int:
        return self.run_op(i + self.n_warmup, self.mix.ops[i % len(self.mix.ops)], i)

    def run_op(self, pos: int, spec, op) -> int:
        from pyspark.sql import functions as F

        from aws_datalake_spark.sources import txn_table

        tr, spark = self.tracer, self.spark
        if spec.kind == "query":
            with tr.span("queries.build", "queries", op):
                df = self.queries[spec.name](spark, self.lake)
            kind = "llm" if spec.name.startswith("llm_") else "relational"
            with tr.span(f"queries.{kind}.exec", "queries", op):
                rows = df.collect()
            cols = df.columns
        elif spec.kind == "read":
            lo, hi = spec.params
            with tr.span("sources.read", "sources", op):
                df = txn_table.read(spark, self.table, prune={"o_orderkey": (lo, hi)})
                rows = df.filter(F.col("o_orderkey").between(lo, hi)).collect()
            cols = df.columns
        elif spec.kind == "bloom":
            (cust,) = spec.params
            with tr.span("sources.bloom_lookup", "sources", op):
                df = txn_table.bloom_lookup(spark, self.table, "o_custkey", cust)
                rows = df.filter(F.col("o_custkey") == cust).collect()
            cols = df.columns
        elif spec.kind == "time_travel":
            (version,) = spec.params
            with tr.span("sources.read", "sources", op):
                rows = (
                    txn_table.read(spark, self.table, version=version)
                    .agg(*_order_summary(F))
                    .collect()
                )
            cols = ["n", "keys", "cents"]
        else:
            since, to = spec.params
            with tr.span("sources.change_feed", "sources", op):
                rows = (
                    txn_table.read_changes_typed(spark, self.table, since, to)
                    .groupBy("_change_type", "_commit_version")
                    .agg(*_order_summary(F))
                    .collect()
                )
            cols = ["_change_type", "_commit_version", "n", "keys", "cents"]
        self.results[pos] = (spec, cols, [tuple(r) for r in rows])
        return len(rows)

    # ------------------------------------------------------------ check

    def input_bytes(self) -> int:
        """Bytes of the fixture tables' rows as the lake stores them."""
        return self.fixture_bytes

    def check(self) -> checks.Failures:
        from aws_datalake_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for t in os.listdir(self.lake):
            if t.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(self.lake, t)}')"
                )
        con.register("upd", pa.table({"o_orderkey": self.mix.update_keys, "new_price": self.mix.update_prices}))
        con.execute(f"CREATE TABLE base AS SELECT {ORDER_COLS} FROM orders WHERE o_orderkey < {self.spec.n_orders}")
        con.register("app_rows", pa.Table.from_pylist(
            [dict(zip(ORDER_COLS.split(", "), r)) for r in self.mix.appends]
        ))
        con.execute(f"CREATE TABLE app AS SELECT {ORDER_COLS} FROM app_rows")
        con.execute(f"""
            CREATE TABLE v2 AS SELECT o_orderkey, o_custkey, o_orderstatus,
                coalesce(u.new_price, o_totalprice) AS o_totalprice, o_orderdate, o_orderpriority
            FROM base LEFT JOIN upd u USING (o_orderkey)
        """)
        con.execute(f"CREATE TABLE v3 AS SELECT {ORDER_COLS} FROM v2 UNION ALL SELECT * FROM app")
        # the generated input: every row version written to the fixtures
        written = os.path.join(os.environ["TMPDIR"], "query_mix_input.parquet")
        con.execute(f"""COPY (SELECT * FROM base UNION ALL SELECT * FROM v2 WHERE o_orderkey IN
            (SELECT o_orderkey FROM upd) UNION ALL SELECT * FROM app) TO '{written}' (FORMAT parquet)""")
        self.fixture_bytes = os.path.getsize(written)
        summary = "count(*) AS n, sum(o_orderkey) AS keys, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents"
        expected_sql = {
            "time_travel": lambda p: f"SELECT {summary} FROM {['base', 'v2', 'v3'][p[0] - 1]}",
            "read": lambda p: f"SELECT {ORDER_COLS} FROM v3 WHERE o_orderkey BETWEEN {p[0]} AND {p[1]}",
            "bloom": lambda p: f"SELECT {ORDER_COLS} FROM v3 WHERE o_custkey = {p[0]}",
            "change_feed": lambda p: f"""
                SELECT * FROM (
                    SELECT 'delete' AS _change_type, 2 AS _commit_version, {summary}
                        FROM base WHERE o_orderkey IN (SELECT o_orderkey FROM upd)
                    UNION ALL SELECT 'insert', 2, {summary}
                        FROM v2 WHERE o_orderkey IN (SELECT o_orderkey FROM upd)
                    UNION ALL SELECT 'insert', 3, {summary} FROM app)
                WHERE _commit_version > {p[0]} AND _commit_version <= {p[1]}
            """,
        }
        expected: dict[tuple, tuple] = {}
        failed = checks.Failures()
        for pos, (spec, cols, rows) in self.results.items():
            key = (spec.kind, spec.name, spec.params)
            if key not in expected:
                sql = oracles[spec.name] if spec.kind == "query" else expected_sql[spec.kind](spec.params)
                tbl = con.execute(sql).fetch_arrow_table()
                expected[key] = (
                    tbl.column_names,
                    list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_rows else [],
                )
            if not checks.same_rows(cols, rows, *expected[key]):
                failed.add(f"{spec.name}{spec.params or ''}", {pos})
        return failed


def _order_summary(F):
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("keys"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    ]
