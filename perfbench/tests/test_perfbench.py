"""Tests of the benchmark's own code (not of the engine).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, wl_cql_read, wl_cql_write_read, wl_llm_pipeline  # noqa: E402
from perfbench.check import same_rows  # noqa: E402
from perfbench.harness import tail  # noqa: E402


@pytest.mark.parametrize("stream", [
    lambda s: wl_cql_read.op_stream(s, 200),
    lambda s: wl_cql_write_read.op_stream(s, 200),
    wl_llm_pipeline.op_stream,
])
def test_same_seed_same_op_stream(stream):
    assert stream(7) == stream(7)
    assert stream(7) != stream(8)


def test_datagen_is_seeded(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d, seed in ((a, 1), (b, 1), (c, 2)):
        datagen.generate(str(d), seed, sf=0.001, docs=50, vecs=50)
    for name in ("lineitem", "events", "documents", "embeddings"):
        f = f"{name}.parquet"
        assert (a / f).read_bytes() == (b / f).read_bytes()
        assert (a / f).read_bytes() != (c / f).read_bytes()


def test_write_stream_reaches_reads_with_all_tombstones():
    W = wl_cql_write_read
    specs = W.op_stream(3, 10 * W.CYCLE_OPS)
    tombs = [s["info"]["tombstones_at_read"] for s in specs if s["type"] == "read"]
    assert set(tombs) == {W.TOMBSTONES}
    assert {s["expect"] for s in specs if s["type"] == "lwt"} == {True, False}


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 41))
    v, pct, n = tail(xs)
    assert (v, n) == (30, 40) and sum(1 for x in xs if x > v) == 10 and pct == 75.0
    assert tail([3.0, 1.0])[:2] == (3.0, 100.0)


def test_same_rows_tolerates_float_order_only():
    assert same_rows([(1, 0.1 + 0.2)], ["a", "b"], [(0.3, 1)], ["b", "a"])
    assert not same_rows([(1, 0.31)], ["a", "b"], [(0.3, 1)], ["b", "a"])
    assert not same_rows([(1, 2)], ["a", "b"], [(1, 2), (1, 2)], ["a", "b"])


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from cassandra_pmem_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_write_model_agrees_with_engine(spark):
    """A DELETE, a BATCH, a failed and an applied LWT, then reads and a
    resumed page: the model and CqlDatabase give the same answers."""
    from cassandra_pmem_spark.cql.ddl import CqlDatabase

    W = wl_cql_write_read
    db = CqlDatabase(spark)
    db.execute(W.DDL.format(t="kv"))
    model = W.Model()
    lwt = []
    stmts = [
        {"kind": "insert", "k": k % 3, "c": k, "v": f"v{k}", "n": k} for k in range(12)
    ] + [
        {"kind": "delete", "k": 1, "c": 4},
        {"kind": "batch", "stmts": [
            {"kind": "insert", "k": 0, "c": 20, "v": "b1", "n": 5},
            {"kind": "update", "k": 2, "c": 5, "v": "b2", "n": 6},
            {"kind": "delete", "k": 0, "c": 3},
        ]},
        {"kind": "lwt", "k": 2, "c": 5, "n": 99, "expect": 1234},
        {"kind": "lwt", "k": 2, "c": 8, "n": 77, "expect": 8},
        {"kind": "update", "k": 1, "c": 4, "v": "back", "n": 1},
    ]
    for st in stmts:
        want = model.apply(st)
        if st["kind"] == "batch":
            got = db.execute("BEGIN BATCH " + " ".join(W.cql_of(s) + ";" for s in st["stmts"])
                             + " APPLY BATCH")
        else:
            got = db.execute(W.cql_of(st))
        if st["kind"] == "lwt":
            lwt.append((got, want))
    assert lwt == [(False, False), (True, True)]
    cols = ["k", "c", "v", "n"]
    for k in range(3):
        rows = [tuple(r) for r in db.execute(f"SELECT k, c, v, n FROM kv WHERE k = {k}").collect()]
        assert same_rows(rows, cols, model.partition(k), cols)
    order = model.token_order()
    pager = db.pager("SELECT k, c, v, n FROM kv", page_size=5)
    first = [tuple(r[c] for c in cols) for r in pager.fetch_page()]
    resumed = db.pager("SELECT k, c, v, n FROM kv", page_size=5, state=pager.state())
    second = [tuple(r[c] for c in cols) for r in resumed.fetch_page()]
    assert first == order[:5] and second == order[5:10]


def _spark_processes() -> list[int]:
    pids = []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"SparkSubmit" in cmd or b"pyspark.daemon" in cmd:
            pids.append(int(d))
    return pids


def test_output_carries_every_benchmark_metric(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.GATED_E2E and layers == run.PER_LAYER
    before = set(_spark_processes())
    # to files, not pipes: a pipe's reader also waits for children that hold it
    out_path, err_path = tmp_path / "out", tmp_path / "err"
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "cql_write_read", "--seed", "5",
             "--seconds", "1", "--trace", "1"],
            cwd=ROOT, stdout=out, stderr=err, timeout=600,
        ).returncode
    # the run's JVM, Python daemon and workers have all ended when it exits
    assert set(_spark_processes()) <= before
    assert code == 0, err_path.read_text()[-2000:]
    record_line, final_line = out_path.read_text().strip().splitlines()[-2:]
    final = json.loads(final_line)
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] and final["failed"] == 0 and final["attempted"] >= 1
    assert {k: v["unit"] for k, v in final["metrics"].items()} == layers
    record = json.loads(record_line)["record"]
    assert {k: record["end_to_end"][k]["unit"] for k in e2e} == e2e
    reads = [r for r in record["ops"] if r["type"] == "read"]
    assert reads and all("tombstones_at_read" in r for r in reads)
    # the build splits into parts that fit inside it, Catalyst rules included
    for r in record["ops"]:
        parts = r["catalyst.build_ms"] + r["jvm.build_ms"] + r["exec.build_ms"]
        assert parts <= r["build_ms"] + 1e-6
    assert all(r["catalyst.build_ms"] > 0 for r in reads)
    # the first op is a buffered DELETE: no set-up execution is charged to it
    assert record["ops"][0]["template"] == "delete"
    assert record["ops"][0]["python.bytes_sent"] == 0


def test_exits_without_result_when_package_is_missing(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    (bench / "run.py").write_bytes(open(os.path.join(ROOT, "perfbench", "run.py"), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cql_read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
