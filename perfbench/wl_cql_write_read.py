"""cql_write_read: seeded CQL statements against a buffer-backed table,
closed loop, one client.

Statements go through ``CqlDatabase.execute`` and
``CqlDatabase.pager(...).fetch_page``. Every row comes from the
driver-held write buffer (the memtable analog): a read that follows a
write re-merges the whole buffer, a page resumed from a serialized
``PagingState`` reuses the persisted frame. Expected results come from
this module's in-memory model: last write wins by statement order, row
deletes, LWT compare-and-set, and atomic batches.

Tombstone sizing. Each buffered row DELETE adds one chained
``CASE WHEN`` column set to the merge plan (``cql/writes.py``), and
plan cost grows exponentially with their number: measured on 4 cores
after 40 buffered INSERTs, one partition SELECT took 0.3 s + 0.7 s with
0 deletes, 1.4 s + 1.2 s with 4, and 21 s + 39 s with 8. The workload
never flushes or swaps tables; it issues exactly ``TOMBSTONES`` = 4 row
deletes: 3 in the preload, after the 40 inserts, and the first timed
write. So every timed read runs with 4 buffered tombstones, however many
cycles the host's speed lets a run time, and a run still ends inside the
benchmark's time limit.
"""

from __future__ import annotations

import numpy as np

from perfbench.check import same_rows
from perfbench.harness import Op

NAME = "cql_write_read"
TABLE = "kv"
PRELOAD = 40
PARTITIONS = 8
TOMBSTONES = 4
PRELOAD_DELETES = TOMBSTONES - 1
PAGE_SIZE = 10
PAGES = 3
DDL = "CREATE TABLE {t} (k bigint, c int, v text, n int, PRIMARY KEY (k, c))"
SELECT_ALL = "SELECT k, c, v, n FROM {t}"
# One cycle. Every read follows a write, so each read re-merges the
# buffer (one op type, one latency mode); the 3-page fetch follows a read
# and resumes twice from serialized state. Four reads make a cycle last
# about 7 s, well over half of a 12 s run, so every run times two cycles.
CYCLE = ["write", "read", "write", "lwt", "write", "read", "page", "write", "read",
         "batch", "read"]
CYCLE_OPS = len(CYCLE) + PAGES - 1


def cql_of(st: dict, table: str = TABLE) -> str:
    """CQL text of one write statement spec."""
    k, c = st["k"], st["c"]
    if st["kind"] == "insert":
        return f"INSERT INTO {table} (k, c, v, n) VALUES ({k}, {c}, '{st['v']}', {st['n']})"
    if st["kind"] == "update":
        return f"UPDATE {table} SET v = '{st['v']}', n = {st['n']} WHERE k = {k} AND c = {c}"
    if st["kind"] == "delete":
        return f"DELETE FROM {table} WHERE k = {k} AND c = {c}"
    if st["kind"] == "lwt":
        return (f"UPDATE {table} SET n = {st['n']} WHERE k = {k} AND c = {c} "
                f"IF n = {st['expect']}")
    raise ValueError(st["kind"])


class Model:
    """The expected visible state: (k, c) -> [v, n]."""

    def __init__(self):
        self.rows: dict[tuple[int, int], list] = {}
        self.mutations = 0
        self.tombstones = 0

    def apply(self, st: dict) -> bool | None:
        if st["kind"] == "batch":
            for inner in st["stmts"]:
                self.apply(inner)
            return None
        key = (st["k"], st["c"])
        if st["kind"] == "lwt":
            row = self.rows.get(key)
            if row is None or row[1] != st["expect"]:
                return False
            row[1] = st["n"]
            self.mutations += 1
            return True
        self.mutations += 1
        if st["kind"] == "delete":
            self.tombstones += 1
            self.rows.pop(key, None)
        else:  # insert and update both upsert every column
            self.rows[key] = [st["v"], st["n"]]
        return None

    def partition(self, k: int) -> list[tuple]:
        return [(k, c, *vn) for (kk, c), vn in sorted(self.rows.items()) if kk == k]

    def token_order(self) -> list[tuple]:
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        return [
            (k, c, *vn)
            for (k, c), vn in sorted(self.rows.items(), key=lambda kv: (murmur3_token_py(kv[0][0]), kv[0][1]))
        ]


def preload(rng) -> list[dict]:
    inserts = [
        {"kind": "insert", "k": i % PARTITIONS, "c": i, "v": f"p{i}", "n": int(rng.integers(0, 100))}
        for i in range(PRELOAD)
    ]
    gone = rng.choice(PRELOAD, PRELOAD_DELETES, replace=False)
    return inserts + [{"kind": "delete", "k": int(i) % PARTITIONS, "c": int(i)} for i in gone]


def op_stream(seed: int, n: int) -> list[dict]:
    """The first ``n`` op specs for ``seed``, each with its expected
    result from the model (plain data, no Spark)."""
    rng = np.random.default_rng([seed, 2])
    model = Model()
    for st in preload(rng):
        model.apply(st)
    specs: list[dict] = []
    seq = 0
    deletes_left = TOMBSTONES - PRELOAD_DELETES

    def key():
        return int(rng.integers(0, PARTITIONS)), int(rng.integers(0, PRELOAD + 20))

    def upsert(kind: str) -> dict:
        nonlocal seq
        seq += 1
        k, c = key()
        return {"kind": kind, "k": k, "c": c, "v": f"s{seed}-{seq}", "n": int(rng.integers(0, 100))}

    def live_key():
        return sorted(model.rows)[int(rng.integers(0, len(model.rows)))]

    while len(specs) < n:
        for step in CYCLE:
            info = {"mutations_at_read": model.mutations, "tombstones_at_read": model.tombstones}
            if step == "write":
                if deletes_left:
                    k, c = live_key()
                    st = {"kind": "delete", "k": k, "c": c}
                    deletes_left -= 1
                else:
                    st = upsert("insert" if rng.integers(0, 2) else "update")
                model.apply(st)
                specs.append({"type": "write", "template": st["kind"], "stmt": st})
            elif step == "batch":
                stmts = [upsert("insert"), upsert("update"), upsert("insert")]
                if deletes_left:
                    k, c = live_key()
                    stmts[0] = {"kind": "delete", "k": k, "c": c}
                    deletes_left -= 1
                # one statement per row: Cassandra batches share a timestamp
                uniq: dict = {}
                for st in stmts:
                    uniq.setdefault((st["k"], st["c"]), st)
                st = {"kind": "batch", "stmts": list(uniq.values())}
                model.apply(st)
                specs.append({"type": "write", "template": "batch", "stmt": st})
            elif step == "lwt":
                k, c = live_key()
                current = model.rows[(k, c)][1]
                expect = current if rng.integers(0, 2) else current + 1000
                st = {"kind": "lwt", "k": k, "c": c, "n": int(rng.integers(0, 100)), "expect": expect}
                applied = model.apply(st)
                specs.append({"type": "lwt", "template": "lwt", "stmt": st, "expect": applied})
            elif step == "read":
                k = int(rng.integers(0, PARTITIONS))
                specs.append({"type": "read", "template": "partition", "k": k,
                              "expect": model.partition(k), "info": info})
            else:
                rows = model.token_order()
                for p in range(PAGES):
                    specs.append({"type": "page", "template": "first" if p == 0 else "resume",
                                  "page": p, "expect": rows[p * PAGE_SIZE:(p + 1) * PAGE_SIZE],
                                  "info": info})
    return specs[:n]


class Workload:
    name = NAME
    loop = "closed, 1 client"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.db = None
        self._state = None

    def generate_inputs(self) -> None:
        self.specs = op_stream(self.seed, 400)

    def _fresh_db(self, spark, table: str):
        from cassandra_pmem_spark.cql.ddl import CqlDatabase

        db = CqlDatabase(spark)
        db.execute(DDL.format(t=table))
        for st in preload(np.random.default_rng([self.seed, 2])):
            db.execute(cql_of(st, table))
        return db

    def prepare(self, spark) -> None:
        """A new database with the table created, 40 rows and 3 row
        deletes buffered."""
        self.db = self._fresh_db(spark, TABLE)

    def warmup(self, spark) -> None:
        """One pass over every statement shape, with 4 tombstones, on a
        throwaway database."""
        import gc

        db = self._fresh_db(spark, "warm")
        for c in range(TOMBSTONES - PRELOAD_DELETES):
            db.execute(f"DELETE FROM warm WHERE k = {c} AND c = {c}")
        db.execute("SELECT k, c, v, n FROM warm WHERE k = 1").collect()
        db.execute("UPDATE warm SET n = 1 WHERE k = 1 AND c = 9 IF n = 1")
        pager = db.pager(SELECT_ALL.format(t="warm"), page_size=PAGE_SIZE)
        pager.fetch_page()
        db.pager(SELECT_ALL.format(t="warm"), page_size=PAGE_SIZE, state=pager.state()).fetch_page()
        del db, pager
        gc.collect()

    def ops(self, spark):
        for spec in self.specs:
            yield self.bind(spec)

    def may_stop(self, records: list[dict]) -> bool:
        # whole cycles only, so every run times the same statement mix
        return len(records) % CYCLE_OPS == 0

    def layer(self, op: Op) -> str:
        return "cql"

    def bind(self, spec: dict) -> Op:
        db = self.db
        info = dict(spec.get("info", {}))
        if spec["type"] == "write":
            st = spec["stmt"]
            if st["kind"] == "batch":
                cql = "BEGIN BATCH " + " ".join(cql_of(s) + ";" for s in st["stmts"]) + " APPLY BATCH"
            else:
                cql = cql_of(st)
            # a write is checked by the reads that follow it
            return Op("write", spec["template"], lambda: db.execute(cql), check=lambda r: r is not False)
        if spec["type"] == "lwt":
            cql = cql_of(spec["stmt"])
            return Op("lwt", "lwt", lambda: db.execute(cql),
                      check=lambda r: isinstance(r, bool) and r == spec["expect"])
        if spec["type"] == "read":
            cql = f"SELECT k, c, v, n FROM {TABLE} WHERE k = {spec['k']}"
            cols = ["k", "c", "v", "n"]

            def act(df):
                return [tuple(r) for r in df.collect()]

            return Op("read", "partition", lambda: db.execute(cql), act,
                      lambda rows: same_rows(rows, cols, spec["expect"], cols), info)
        info["page"] = spec["page"]

        def fetch():
            if spec["page"] == 0:
                pager = db.pager(SELECT_ALL.format(t=TABLE), page_size=PAGE_SIZE)
            else:
                pager = db.pager(SELECT_ALL.format(t=TABLE), page_size=PAGE_SIZE, state=self._state)
            rows = pager.fetch_page()
            self._state = pager.state()
            return [(r["k"], r["c"], r["v"], r["n"]) for r in rows]

        cols = ["k", "c", "v", "n"]
        return Op("page", spec["template"], fetch,
                  check=lambda rows: same_rows(rows, cols, spec["expect"], cols, ordered=True),
                  info=info)

    def known_defects(self, spark) -> list[dict]:
        return []

    def cleanup(self) -> None:
        pass

    def end_to_end(self, records: list[dict]) -> dict:
        from perfbench.harness import timing_stat

        out = {}
        for t, name in (("write", "write_p50_ms"), ("lwt", "lwt_p50_ms"), ("page", "page_p50_ms")):
            xs = [r["ms"] for r in records if r["type"] == t]
            if xs:
                out[name] = timing_stat(xs, "p50", "ms")
        return out

    def per_layer(self, records: list[dict]) -> dict:
        from perfbench.harness import median

        reads = [r for r in records if r["type"] == "read"]
        pages = [r for r in records if r["type"] == "page"]
        return {
            "cql.frame_reuse_ratio": sum(1 for r in reads if r.get("exec.jobs", 0) <= 1) / len(reads),
            "cql.mutations_at_read": median([r["mutations_at_read"] for r in reads]),
            "cql.tombstones_at_read": median([r["tombstones_at_read"] for r in reads]),
            "cql.page_jobs": median([r.get("exec.jobs", 0) for r in pages]) if pages else 0.0,
        }
