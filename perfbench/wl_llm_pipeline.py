"""llm_pipeline: one batch pass over the LLM-data pipeline stages.

Stage groups: ingest (``sources.sstable`` bulk write of ``events`` and
distributed read-back, then seeded token-range reads and single-partition
point reads spread over the pass), dedup, text, search and media
(registry queries). The iterative stages
launch many Spark jobs while their DataFrame is still being built, and
the codec stages spend most executor time in Python workers; the two CQL
workloads do almost none of either. Each stage's output is collected
whole (every column reaches the client) and compared with the registry's
DuckDB ``oracle_sql()``, computed before any timed region.
"""

from __future__ import annotations

import itertools
import os
import shutil

import numpy as np

from perfbench import datagen
from perfbench.check import same_rows
from perfbench.harness import Op, median

NAME = "llm_pipeline"
SF = 0.005  # events: 5k rows for the sstable ingest
DOCS = 500
VECS = 500
SSTABLES = 4
TOKEN_SPAN = 2**61  # a range read covers 1/8 of the ring
# Point reads are pure Python on the driver: one seed's median moved
# between 8.5 and 15 ms from one second to the next with Spark idle, so
# the gated read type is the range read, which runs on the executors.
# Three range reads per stage make 39 a pass, so the tail is a percentile
# with ten reads beyond it: the maximum of 13 spread 0.39 over ten seeds.
RANGE_READS_PER_STAGE = 3
POINTS_PER_RANGE_READ = 2
GROUPS = {
    "dedup": ["dedup_exact_docs", "dedup_minhash_jaccard", "dedup_components_star",
              "dedup_connected_components"],
    "text": ["text_quality", "text_langid", "text_dsir_weights", "text_ngram_lm_ppl",
             "text_bpe_train"],
    "search": ["sim_ivf_topk", "sim_pq_adc_topk"],
    "media": ["multimodal_audio_flac", "multimodal_image_dedup"],
}
N_USER = int(15_000 * SF)


def op_stream(seed: int) -> list[dict]:
    """One pass of op specs for ``seed`` (plain data, no Spark). After the
    sstables are written and read back, every stage is followed by
    ``RANGE_READS_PER_STAGE`` seeded token-range reads (the ``read`` op
    type), each followed by ``POINTS_PER_RANGE_READ`` single-partition
    point reads."""
    rng = np.random.default_rng([seed, 3])
    specs = [{"type": "ingest", "template": "sstable_write"},
             {"type": "ingest", "template": "sstable_read"}]
    i = 0
    for group, names in GROUPS.items():
        for n in names:
            specs.append({"type": group, "template": n})
            for _ in range(RANGE_READS_PER_STAGE):
                lo = int(rng.integers(-(2**63), 2**63 - TOKEN_SPAN))
                specs.append({"type": "read", "template": "sstable_range_read",
                              "lo": lo, "hi": lo + TOKEN_SPAN - 1})
                for _ in range(POINTS_PER_RANGE_READ):
                    # one read in six asks for a partition that was never written
                    k = N_USER + int(rng.integers(0, 10**6)) if i % 6 == 5 else \
                        int(rng.integers(0, N_USER))
                    specs.append({"type": "point", "template": "sstable_point_read", "key": k})
                    i += 1
    return specs


class Workload:
    name = NAME
    loop = "batch, one pass"

    def __init__(self, work_dir: str, seed: int):
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, f"{NAME}-{seed}")

    def generate_inputs(self) -> None:
        import duckdb
        import pyarrow.parquet as pq

        from cassandra_pmem_spark.catalog import TABLE_NAMES
        from cassandra_pmem_spark.queries import all_queries

        datagen.generate(self.data_dir, self.seed, SF, docs=DOCS, vecs=VECS)
        self.specs = op_stream(self.seed)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        registry = all_queries()
        self.expected: dict[str, tuple[list, list]] = {}
        for names in GROUPS.values():
            for n in names:
                res = con.execute(registry[n][1])
                self.expected[n] = ([d[0] for d in res.description], res.fetchall())
        con.close()
        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        self.event_cols = events.column_names
        self.events = [tuple(r.values()) for r in events.to_pylist()]
        from cassandra_pmem_spark.functions.murmur3 import murmur3_token_py

        ui = self.event_cols.index("user_id")
        self.by_user: dict[int, list] = {}
        for r in self.events:
            self.by_user.setdefault(r[ui], []).append(r)
        self.token_of = {u: murmur3_token_py(u) for u in self.by_user}

    def prepare(self, spark) -> None:
        from cassandra_pmem_spark.catalog import TABLES, load_table
        from cassandra_pmem_spark.queries import all_queries

        self.registry = all_queries()
        self.meta = TABLES["events"]
        for t in ("documents", "embeddings", "events"):
            load_table(spark, t, self.data_dir)

    def warmup(self, spark) -> None:
        """Start the executors' Python workers; the pass itself runs cold,
        as a batch job does."""
        spark.range(0, 64, numPartitions=4).rdd.map(lambda x: x).count()

    def ops(self, spark):
        for p in itertools.count():
            self.sst_dir = os.path.join(self.work_dir, f"sstables-{self.seed}-{p}")
            shutil.rmtree(self.sst_dir, ignore_errors=True)
            for spec in self.specs:
                yield self.bind(spark, spec)

    def may_stop(self, records: list[dict]) -> bool:
        return len(records) % len(self.specs) == 0

    def layer(self, op: Op) -> str:
        if op.type in ("ingest", "read", "point"):
            return "sources"
        return "pipeline"

    def bind(self, spark, spec: dict) -> Op:
        from cassandra_pmem_spark.catalog import load_table
        from cassandra_pmem_spark.sources.sstable import (
            bulk_write_sstables,
            read_sstables,
            sstable_point_read,
        )

        t = spec["template"]
        # sstables name key columns by position (key0, ck0, ...), not by name
        renames = {f"key{i}": c for i, c in enumerate(self.meta.partition_key)}
        renames.update({f"ck{i}": c.name for i, c in enumerate(self.meta.clustering)})
        if t == "sstable_write":
            def build():
                df = load_table(spark, "events", self.data_dir)
                return bulk_write_sstables(df, self.meta, self.sst_dir, sstables=SSTABLES)

            return Op("ingest", t, build, check=lambda manifest: len(manifest) >= 1)
        if t == "sstable_read":
            cols: list[str] = []

            def act(df):
                cols[:] = [renames.get(c, c) for c in df.columns]
                return [tuple(r) for r in df.collect()]

            return Op("ingest", t, lambda: read_sstables(spark, self.sst_dir), act,
                      lambda rows: same_rows(rows, cols, self.events, self.event_cols))
        if t == "sstable_range_read":
            lo, hi = spec["lo"], spec["hi"]
            want = [r for u, rows in self.by_user.items() if lo <= self.token_of[u] <= hi
                    for r in rows]
            cols = []

            def act(df):
                cols[:] = [renames.get(c, c) for c in df.columns]
                return [tuple(r) for r in df.collect()]

            return Op("read", t, lambda: read_sstables(spark, self.sst_dir, token_range=(lo, hi)),
                      act, lambda rows: same_rows(rows, cols, want, self.event_cols))
        if t == "sstable_point_read":
            k = spec["key"]
            names = self.event_cols

            def act(rows):
                return [tuple(r[c] for c in names) for r in
                        ({renames.get(c, c): v for c, v in row.items()} for row in rows)]

            return Op("point", t, lambda: sstable_point_read(self.sst_dir, [k]), act,
                      lambda rows: same_rows(rows, names, self.by_user.get(k, []), names),
                      {"key": k})
        fn = self.registry[t][0]
        want_cols, want = self.expected[t]
        cols = []

        def act(df):
            cols[:] = df.columns
            return [tuple(r) for r in df.collect()]

        return Op(spec["type"], t, lambda: fn(spark, self.data_dir), act,
                  lambda rows: same_rows(rows, cols, want, want_cols))

    def known_defects(self, spark) -> list[dict]:
        """Run, untimed, the stage input that fails at HEAD: FLAC items
        whose document is a multiple of 400 bytes long."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        probe = os.path.join(self.work_dir, f"flac-probe-{self.seed}")
        os.makedirs(probe, exist_ok=True)
        texts = ["x" * n for n in (399, datagen.FLAC_DEFECT_LENGTH, 2 * datagen.FLAC_DEFECT_LENGTH)]
        pq.write_table(pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts,
            "lang": ["en"] * len(texts), "source": ["src0"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(probe, "documents.parquet"))
        fn, sql = self.registry["multimodal_audio_flac"]
        df = fn(spark, probe)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{probe}/documents.parquet'")
        res = con.execute(sql)
        ok = same_rows([tuple(r) for r in df.collect()], df.columns, res.fetchall(),
                       [d[0] for d in res.description])
        con.close()
        shutil.rmtree(probe, ignore_errors=True)
        return [{"name": "flac_item_of_400_bytes_matches_oracle", "ok": ok,
                 "lengths": [len(t) for t in texts]}]

    def cleanup(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)
        for d in os.listdir(self.work_dir):
            if d.startswith(f"sstables-{self.seed}-"):
                shutil.rmtree(os.path.join(self.work_dir, d), ignore_errors=True)

    def _group_s(self, records: list[dict], types: tuple) -> float:
        n = len(self.specs)
        per_pass = [
            sum(r["ms"] for r in records[p * n:(p + 1) * n] if r["type"] in types) / 1000.0
            for p in range(max(len(records) // n, 1))
        ]
        return median(per_pass)

    def end_to_end(self, records: list[dict]) -> dict:
        from perfbench.harness import timing_stat

        passes = len(records) // len(self.specs)
        groups = {"ingest": ("ingest", "read", "point"), **{g: (g,) for g in GROUPS}}
        out = {
            f"{g}_s": {"value": self._group_s(records, types), "unit": "s",
                       "stat": "p50 over passes", "n": passes}
            for g, types in groups.items()
        }
        points = [r["ms"] for r in records if r["type"] == "point"]
        out["point_p50_ms"] = timing_stat(points, "p50", "ms")
        return out

    def per_layer(self, records: list[dict]) -> dict:
        def ms(template):
            return [r["ms"] for r in records if r["template"] == template]

        first_pass = os.path.join(self.work_dir, f"sstables-{self.seed}-0")
        size = sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(first_pass) for f in fs
        )
        return {
            "sstable.write_ms": median(ms("sstable_write")),
            "sstable.read_ms": median(ms("sstable_read")),
            "sstable.point_read_ms": median(ms("sstable_point_read")),
            "sstable.bytes_per_row": size / len(self.events),
        }
