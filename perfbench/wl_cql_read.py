"""cql_read: seeded CQL SELECTs over Parquet-backed tables, closed loop,
one client.

Reads go through ``cql.parser.execute_cql`` (partition point, clustering
slice, multi-key IN, missing key, ``token()`` range); analytics are a
GROUP BY on the partition key, a PER PARTITION LIMIT scan, and the
registry's TPC-H queries. Time goes to Catalyst, the Parquet scan and
shuffles: no write buffer, no iterative loops. Every result is checked
against a DuckDB twin over the same Parquet files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import datagen
from perfbench.check import same_rows
from perfbench.harness import Op

NAME = "cql_read"
# sf0.05 (300k lineitem rows): one cycle of every template fits the
# benchmark's time budget; at sf0.1 a run took 48 s
SF = 0.05
N_USER = int(15_000 * SF)
N_CUST = int(150_000 * SF)
N_ORDER = int(1_500_000 * SF)
TOKEN_SPAN = 2**58  # 1/64 of the ring
ZIPF_A = 1.2

ANALYTIC = [
    "group_by_pk", "per_partition_limit", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue", "tpch_q9_product_profit",
    "tpch_q18_large_volume_customer", "tpch_q21_waiting_supplier",
]
# Reads per analytic block; "in" and "missing" alternate between blocks.
# Token reads, the slowest, are two in five: the median stays among the
# other reads and the tail percentile (ten samples beyond it, 45 reads a
# cycle) among the token reads.
READS = ["point", "token", "slice", "in|missing", "token"]
CYCLE_OPS = len(ANALYTIC) * (len(READS) + 1)
# cold start is paid by the first few plans: these warm every code path
# the cycle uses (measured: after them, a cold cycle runs within 10% of
# a warm one)
WARMUP = ["point", "token", "slice", "in", "missing", "group_by_pk", "tpch_q1_pricing_summary"]


def _zipf_key(rng, perm: np.ndarray) -> int:
    return int(perm[(int(rng.zipf(ZIPF_A)) - 1) % len(perm)])


def op_stream(seed: int, n: int) -> list[dict]:
    """The first ``n`` op specs for ``seed``: plain data, no Spark."""
    rng = np.random.default_rng([seed, 1])
    users = rng.permutation(N_USER)
    custs = rng.permutation(N_CUST)
    orders = rng.permutation(N_ORDER)
    specs: list[dict] = []
    while len(specs) < n:
        for b, a in enumerate(ANALYTIC):
            for t in READS:
                t = t.split("|")[b % 2] if "|" in t else t
                specs.append(_read_spec(t, rng, users, custs, orders))
            specs.append(_analytic_spec(a))
    return specs[:n]


def _read_spec(t: str, rng, users, custs, orders) -> dict:
    if t == "point":
        k = _zipf_key(rng, users)
        return {"type": "read", "template": t, "cql": f"SELECT * FROM events WHERE user_id = {k}",
                "sql": f"SELECT * FROM events WHERE user_id = {k}"}
    if t == "slice":
        k = _zipf_key(rng, orders)
        lo = int(rng.integers(1, 4))
        hi = lo + int(rng.integers(1, 4))
        where = f"l_orderkey = {k} AND l_linenumber >= {lo} AND l_linenumber <= {hi}"
        return {"type": "read", "template": t, "cql": f"SELECT * FROM lineitem WHERE {where}",
                "sql": f"SELECT * FROM lineitem WHERE {where}"}
    if t == "in":
        ks = sorted({_zipf_key(rng, custs) for _ in range(3)})
        keys = ", ".join(map(str, ks))
        return {"type": "read", "template": t,
                "cql": f"SELECT * FROM orders WHERE o_custkey IN ({keys})",
                "sql": f"SELECT * FROM orders WHERE o_custkey IN ({keys})"}
    if t == "missing":
        k = N_USER + int(rng.integers(0, 1_000_000))
        return {"type": "read", "template": t, "cql": f"SELECT * FROM events WHERE user_id = {k}",
                "sql": f"SELECT * FROM events WHERE user_id = {k}"}
    lo = int(rng.integers(-(2**63), 2**63 - TOKEN_SPAN))
    hi = lo + TOKEN_SPAN
    return {
        "type": "read", "template": t,
        "cql": f"SELECT user_id, ts, event_id, value FROM events "
               f"WHERE token(user_id) > {lo} AND token(user_id) <= {hi}",
        "sql": f"SELECT e.user_id, e.ts, e.event_id, e.value FROM events e "
               f"JOIN tok t ON e.user_id = t.user_id WHERE t.token > {lo} AND t.token <= {hi}",
    }


def _analytic_spec(a: str) -> dict:
    if a == "group_by_pk":
        q = "SELECT user_id, count(*) AS n, max(value) AS mx FROM events GROUP BY user_id"
        return {"type": "analytic", "template": a, "cql": q, "sql": q}
    if a == "per_partition_limit":
        return {
            "type": "analytic", "template": a,
            "cql": "SELECT o_custkey, o_orderkey, o_totalprice FROM orders PER PARTITION LIMIT 2",
            "sql": "SELECT o_custkey, o_orderkey, o_totalprice FROM orders QUALIFY row_number() "
                   "OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) <= 2",
        }
    return {"type": "analytic", "template": a, "registry": a}


class Workload:
    name = NAME
    loop = "closed, 1 client"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.data_dir = os.path.join(work_dir, f"{NAME}-{seed}")
        self.duck = None

    def generate_inputs(self) -> None:
        datagen.generate(self.data_dir, self.seed, SF, docs=500, vecs=500)
        import duckdb
        import pandas as pd

        from cassandra_pmem_spark.catalog import TABLE_NAMES
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        self.duck = duckdb.connect()
        for t in TABLE_NAMES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
            )
        tok = pd.DataFrame({"user_id": np.arange(N_USER, dtype=np.int64)})
        tok["token"] = [murmur3_token_py(int(u)) for u in tok["user_id"]]
        self.duck.register("tok", tok)

    def prepare(self, spark) -> None:
        """Program-side preparation: resolve the registry and the CQL
        tables once, as a client would before its first request."""
        from cassandra_pmem_spark.cql.table import cql_table
        from cassandra_pmem_spark.queries import all_queries

        self.registry = all_queries()
        for t in ("events", "orders", "lineitem"):
            cql_table(spark, t, self.data_dir, strict=True)

    def warmup(self, spark) -> None:
        """Run the warm-up templates once, on keys outside the measured stream."""
        todo = list(WARMUP)
        for spec in op_stream(self.seed + 10_000, CYCLE_OPS):
            if spec["template"] in todo:
                todo.remove(spec["template"])
                op = self.bind(spark, spec)
                op.act(op.build())

    def ops(self, spark):
        # one run times one cycle; four leave room for a slower host
        for spec in op_stream(self.seed, 4 * CYCLE_OPS):
            yield self.bind(spark, spec)

    def may_stop(self, records: list[dict]) -> bool:
        # whole cycles only, so every run times the same template mix
        return len(records) % CYCLE_OPS == 0

    def layer(self, op: Op) -> str:
        return "queries" if op.template.startswith("tpch") else "cql"

    def bind(self, spark, spec: dict) -> Op:
        from cassandra_pmem_spark.cql.parser import execute_cql

        if "registry" in spec:
            fn, sql = self.registry[spec["registry"]]

            def build():
                return fn(spark, self.data_dir)
        else:
            sql = spec["sql"]

            def build():
                return execute_cql(spark, spec["cql"], self.data_dir, strict=True)

        cols: list[str] = []

        def act(df):
            cols[:] = df.columns
            return [tuple(r) for r in df.collect()]

        def check(rows):
            res = self.duck.execute(sql)
            want_cols = [d[0] for d in res.description]
            return same_rows(rows, cols, res.fetchall(), want_cols)

        return Op(spec["type"], spec["template"], build, act, check)

    def known_defects(self, spark) -> list[dict]:
        """Run, untimed, the read shape that fails at HEAD: a ``token()``
        range with LIMIT must return the first rows in token order."""
        spec = next(s for s in op_stream(self.seed, CYCLE_OPS) if s["template"] == "token")
        op = self.bind(spark, {**spec, "cql": spec["cql"] + " LIMIT 50",
                               "sql": spec["sql"] + " ORDER BY t.token, e.ts, e.event_id LIMIT 50"})
        return [{"name": "token_range_limit_in_token_order", "ok": op.check(op.act(op.build())),
                 "cql": spec["cql"] + " LIMIT 50"}]

    def cleanup(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)

    def end_to_end(self, records: list[dict]) -> dict:
        from perfbench.harness import timing_stat

        ana = [r["ms"] for r in records if r["type"] == "analytic"]
        return {"analytic_p50_ms": timing_stat(ana, "p50", "ms")} if ana else {}

    def per_layer(self, records: list[dict]) -> dict:
        return {}
